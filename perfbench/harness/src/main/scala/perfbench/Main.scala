package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Graft, Staging}

/** One benchmark run of one workload, in its own JVM.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --warm DIR --traces DIR --cores C --params k=v,..
  * }}}
  * `--data` and `--warm` are graft data dirs generated from the seed:
  * the measured inputs, and the sf0.001-derived ones of the untimed warm
  * pass. `--params` carries the workload's frozen sizes and rates, which
  * perfbench/run.py sets. Everything the run writes goes under `--work`,
  * except the span file of a traced run, which goes to `--traces`. The last line
  * on stdout is `PERFBENCH_RESULT <json>`: metrics with units, ops
  * attempted and failed, and what the caller must check against DuckDB.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: String, warm: String, traces: Path, cores: Int,
      params: Map[String, String]) {
    def param(k: String): String =
      params.getOrElse(k, throw new IllegalArgumentException(s"missing param $k"))
    def intParam(k: String): Int = param(k).toInt
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("data"), need("warm"),
      Paths.get(need("traces")).toAbsolutePath, need("cores").toInt,
      need("params").split(",").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Trace.enabled = a.trace
    val ctx = new Ctx(a)
    val run: Ctx => Unit = a.workload match {
      case "spool_service" => Workloads.spoolService
      case "flow_query" => Workloads.flowQuery
      case "curate_lake" => Workloads.curateLake
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try run(ctx)
    catch {
      case t: Throwable =>
        ctx.error("run", t)
        ctx.failed += 1
        ctx.attempted = math.max(ctx.attempted, 1)
    }
    ctx.finish()
    // nothing may outlive the run: stray non-daemon threads would keep the JVM up
    sys.exit(0)
  }
}

/** Per-run state: the session, the probes, the metrics and checks. */
final class Ctx(val a: Main.Args) {
  val exec = new ExecProbe
  val plan = new PlanProbe
  var spark: SparkSession = _
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  val lake: Path = a.work.resolve("lake")
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray(
      Array.empty[java.lang.management.GarbageCollectorMXBean])
  private var gc0 = 0L
  private var measure0 = 0L

  private val born = System.nanoTime()

  /** Progress line on stderr, with seconds since the run started. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.1fs $what")

  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def dir(name: String): Path = Files.createDirectories(a.work.resolve(name))

  def error(where: String, t: Throwable): Unit = {
    val msg = s"$where: ${t.getClass.getName}: ${t.getMessage}"
    errors += msg
    System.err.println(s"[perfbench] $msg")
    t.printStackTrace()
  }

  /** (Re)create the Spark session the way a graft deployment does. */
  def startSession(): SparkSession = {
    if (spark != null) spark.stop()
    val s = Graft.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config(Staging.LakeConfKey, lake.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(exec)
    s.listenerManager.register(plan)
    spark = s
    s
  }

  /** Set-up, done `reps` times after the warm pass; `setup_s` is the
    * median. Each rep starts a fresh session and prepares the workload's
    * inputs through graft.
    */
  def setup[T](reps: Int = 3)(prepare: Int => T): Seq[T] = {
    val (outs, secs) = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      startSession()
      val out = prepare(r)
      (out, (System.nanoTime() - t0) / 1e9)
    }.unzip
    put("setup_s", Stats.median(secs), "s")
    note(s"set-up x$reps done: ${secs.map(x => f"$x%.2f").mkString(" ")} s")
    outs
  }

  /** Start of the measured region: counters and GC time restart here. */
  def beginMeasure(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    exec.reset(); plan.reset(); Trace.reset()
    note("measuring")
    gc0 = gcBeans.map(_.getCollectionTime).sum
    measure0 = System.nanoTime()
  }

  /** Wall seconds since [[beginMeasure]]. */
  def measuredS: Double = (System.nanoTime() - measure0) / 1e9

  def withDesc[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(null)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Close the measured region: listener and GC metrics per op. */
  def endMeasure(ops: Int, buckets: Set[String] = Set.empty): Unit = {
    val wall = measuredS
    note(f"measured $wall%.1fs, $ops ops")
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    put("jvm.gc_ms", (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble, "ms")
    val n = math.max(ops, 1).toDouble
    ExecProbe.Keys.foreach { k =>
      val unit = if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count"
      put(s"spark_exec.$k", exec.total(k, buckets) / n, unit)
    }
    put("spark_exec.busy_frac", exec.total("task_run_ms") / (wall * 1000.0 * a.cores), "ratio")
    val an = plan.get("batch.analysis"); val op = plan.get("batch.optimization")
    val pl = plan.get("batch.planning")
    put("spark_plan.analysis_ms", an / n, "ms")
    put("spark_plan.optimization_ms", op / n, "ms")
    put("spark_plan.planning_ms", pl / n, "ms")
    put("spark_plan.share", (an + op + pl) / (wall * 1000.0), "ratio")
    put("spark_plan.queries", plan.get("batch.queries") / n, "count")
  }

  def finish(): Unit = {
    try {
      if (spark != null) {
        val artifacts = Staging.lakeReport(spark).count()
        if (!metrics.contains("staging.artifacts_built"))
          put("staging.artifacts_built", artifacts.toDouble, "count")
      }
    } catch { case t: Throwable => error("lake report", t) }
    System.gc(); System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    put("retained_heap_mb", mem.getUsed / 1048576.0, "MB")
    if (Trace.enabled) {
      val spans = Trace.all
      val (overMs, overPct, pairs) = Trace.overhead
      put("trace.spans", spans.size.toDouble, "count")
      put("trace.overhead_ms", overMs, "ms")
      put("trace.overhead_pct", overPct, "%")
      put("trace.ab_ops", pairs.toDouble, "count")
      val self = Trace.selfMs
      val traceFile = Files.createDirectories(a.traces)
        .resolve(s"${a.workload}-seed${a.seed}.json")
      Files.writeString(traceFile, Json(Map(
        "workload" -> a.workload, "seed" -> a.seed,
        // what this traced run measured end to end (half of its ops traced)
        "end_to_end" -> metrics.filter(!_._1.contains('.')).map { case (k, (v, _)) => k -> v },
        "op_ms" -> Trace.opMs,
        "self_ms" -> self,
        "self_ms_by_layer" -> self.groupBy(_._1.takeWhile(_ != '.')).map { case (k, v) => k -> v.values.sum },
        "listener" -> exec.snapshot,
        "spans" -> spans.map(s => Seq(s.op, s.id, s.parent, s.name, s.t0, s.t1)))))
      checks("trace_file") = traceFile.toString
    }
    if (spark != null) {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
    val out = Map(
      "workload" -> a.workload,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> checks, "errors" -> errors)
    println("PERFBENCH_RESULT " + Json(out))
    System.out.flush()
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  /** The highest percentile with at least ten samples beyond it: p90
    * from 100 samples on, never below p50.
    */
  def tailP(n: Int): Double =
    math.max(0.5, math.min(0.9, math.floor((1.0 - 10.0 / math.max(n, 1)) * 100) / 100))

  /** The [[tailP]] percentile of `xs` (the median when that is p50). */
  def tail(xs: Seq[Double]): Double = {
    val p = tailP(xs.size)
    if (p == 0.5) median(xs) else pct(xs, p)
  }

  /** The median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
