package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{Row, SparkSession}
import graft.flow.{FlowAnalytics, FlowSchema}

/** An nfdump `-o csv` spool built from `FlowAnalytics.asFlows` rows.
  *
  * Files hold consecutive `event_id` ranges, so a file's content is a
  * pure function of (events, seed, file index). Each file carries the
  * 48-column header, its rows, 0–2 planted malformed lines and the
  * three-line `Summary` footer nfdump appends; all of those must be
  * dropped by the parser. A file is written into a temp dir and renamed
  * into place, the way nfcapd closes a capture file.
  */
object Spool {
  final case class SpoolFile(name: String, lo: Long, hi: Long, rows: Long,
      planted: Int, bytes: Long)

  val FooterLines = 3
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  /** The first `n` asFlows rows by event_id, with the fields the CSV needs. */
  def flowRows(spark: SparkSession, eventsDir: String, n: Int): Array[Row] =
    FlowAnalytics.asFlows(spark, eventsDir)
      .select("event_id", "ts", "sa", "da", "sp", "dp", "pr", "flg", "ipkt", "ibyt", "flowsrc")
      .orderBy("event_id")
      .limit(n)
      .collect()

  private def csvLine(r: Row): String = {
    val id = r.getLong(0)
    val ts = r.getAs[LocalDateTime](1)
    val te = ts.plusNanos(((id * 7919L) % 5000L) * 1000000L)
    val tdMs = java.time.Duration.between(ts.withNano(ts.getNano / 1000000 * 1000000),
      te.withNano(te.getNano / 1000000 * 1000000)).toMillis
    val f = Array.fill[String](48)("0")
    f(0) = tsFmt.format(ts); f(1) = tsFmt.format(te)
    f(2) = s"${tdMs / 1000}.${(tdMs % 1000 + 1000).toString.substring(1)}"
    f(3) = r.getString(2); f(4) = r.getString(3)
    f(5) = r.getInt(4).toString; f(6) = r.getInt(5).toString
    f(7) = r.getString(6); f(8) = r.getString(7)
    f(11) = r.getLong(8).toString; f(12) = r.getLong(9).toString
    f(23) = "0.0.0.0"; f(24) = "0.0.0.0"
    for (i <- 27 to 30) f(i) = "00:00:00:00:00:00"
    for (i <- 31 to 40) f(i) = "0-0-0"
    for (i <- 41 to 43) f(i) = "0.000"
    f(44) = "10.255.0." + (r.getString(10).last - '0' + 1)
    f(45) = "0/0"; f(46) = "1"; f(47) = f(1)
    f.mkString(",")
  }

  /** A line the typed parse must reject: a bad start or end time, or a
    * line cut off inside its second field.
    */
  private def badLine(good: String, kind: Int): String = {
    val f = good.split(",", -1)
    kind match {
      case 0 => f(0) = "2024-13-45 25:61:00.000"; f.mkString(",")
      case 1 => f(1) = "not-a-time"; f.mkString(",")
      case _ => good.substring(0, 31)
    }
  }

  /** Write `rows` as `files` spool files named `<prefix>NNNNN.csv` into
    * `tmpDir`, renaming each into `dir` unless `dir` is None (then the
    * file stays in `tmpDir` for a later drop).
    */
  def write(rows: Array[Row], files: Int, seed: Long, prefix: String,
      tmpDir: Path, dir: Option[Path]): Seq[SpoolFile] = {
    Files.createDirectories(tmpDir)
    dir.foreach(Files.createDirectories(_))
    val header = FlowSchema.nfdumpCsvColumns.mkString(",")
    val per = (rows.length + files - 1) / files
    (0 until files).map { j =>
      val chunk = rows.slice(j * per, math.min(rows.length, (j + 1) * per))
      val rnd = new java.util.Random((seed * 1000003L + prefix.hashCode) * 7919L + j)
      val nBad = rnd.nextInt(3)
      val lines = new java.util.ArrayList[String](chunk.length + 8)
      lines.add(header)
      chunk.foreach(r => lines.add(csvLine(r)))
      for (_ <- 0 until nBad if chunk.nonEmpty) {
        val at = 1 + rnd.nextInt(lines.size)
        lines.add(math.min(at, lines.size), badLine(lines.get(1), rnd.nextInt(3)))
      }
      val flows = chunk.length
      val bytes = chunk.map(_.getLong(9)).sum
      val pkts = chunk.map(_.getLong(8)).sum
      lines.add("Summary")
      lines.add("flows,bytes,packets,avg_bps,avg_pps,avg_bpp")
      lines.add(s"$flows,$bytes,$pkts,0,0,0")
      val name = f"$prefix$j%05d.csv"
      val tmp = tmpDir.resolve(name)
      Files.write(tmp, (String.join("\n", lines) + "\n").getBytes(UTF_8))
      val size = Files.size(tmp)
      dir.foreach(d => Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE))
      val lo = if (chunk.isEmpty) 0L else chunk.head.getLong(0)
      val hi = if (chunk.isEmpty) 0L else chunk.last.getLong(0) + 1
      SpoolFile(name, lo, hi, flows.toLong, if (chunk.isEmpty) 0 else nBad, size)
    }
  }

  /** Same bytes for the same spool? (setup repeats are compared). */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.list(dir).sorted().forEach { p =>
      md.update(p.getFileName.toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** Open-loop file dropper: file `i` is due at `t0 + i / rate` and is
  * renamed into its watch dir at that time, whatever the service is
  * doing. The time each drop actually happened is kept, so the run can
  * report how late the generator ran.
  */
final class Dropper(files: Seq[(Path, Path)], ratePerSec: Double, t0Nanos: Long)
    extends Thread("perfbench-dropper") {
  setDaemon(true)
  val dueNanos: Array[Long] = files.indices.map(i => t0Nanos + (i * 1e9 / ratePerSec).toLong).toArray
  val doneNanos: Array[Long] = Array.fill(files.length)(0L)
  @volatile var error: Throwable = null

  override def run(): Unit =
    try {
      files.indices.foreach { i =>
        val wait = dueNanos(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val (src, dstDir) = files(i)
        Files.move(src, dstDir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
        doneNanos(i) = System.nanoTime()
      }
    } catch { case t: Throwable => error = t }

  def lateMs: Seq[Double] = dueNanos.indices.filter(doneNanos(_) > 0)
    .map(i => (doneNanos(i) - dueNanos(i)) / 1e6)
}
