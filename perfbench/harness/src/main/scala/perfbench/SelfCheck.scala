package perfbench

import java.nio.file.{Files, Paths}

/** Entry points for the benchmark's own tests (perfbench/tests).
  *
  * {{{
  * perfbench.SelfCheck spool-digest <events dir> <work dir> <seed>
  *   builds the spool_service spool from <events dir> and prints its digest
  * perfbench.SelfCheck dropper <work dir>
  *   drops files on an open-loop schedule while every core is held by a
  *   stalled Spark job, and prints how late each drop ran
  * }}}
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder().master("local[2]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "spool-digest" =>
        val work = Paths.get(args(2))
        val rows = Spool.flowRows(spark, args(1), Int.MaxValue)
        val (backlog, live) = rows.splitAt(rows.length / 2)
        Spool.write(backlog, 16, args(3).toLong, "nfcapd.b", work.resolve("tmp"), Some(work.resolve("spool")))
        Spool.write(live, 8, args(3).toLong, "nfcapd.l", work.resolve("spool"), None)
        println("DIGEST " + Spool.digest(work.resolve("spool")))
      case "dropper" =>
        val work = Paths.get(args(1))
        val src = Files.createDirectories(work.resolve("staged"))
        val dst = Files.createDirectories(work.resolve("watch"))
        val files = (0 until 60).map { i =>
          val f = src.resolve(f"f$i%03d.csv"); Files.writeString(f, "x\n"); (f, dst)
        }
        // the sink stalls: a job holds both cores for the whole schedule
        val stall = new Thread(() => spark.range(0, 2, 1, 2).foreach(_ => Thread.sleep(4000)))
        stall.start()
        Thread.sleep(500)
        val d = new Dropper(files, 20.0, System.nanoTime() + 100000000L)
        d.start(); d.join()
        stall.join()
        println("LATE_MS " + Json(d.lateMs) + " MOVED " + Files.list(dst).count())
    } finally spark.stop()
  }
}
