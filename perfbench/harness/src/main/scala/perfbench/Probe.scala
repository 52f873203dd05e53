package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counters from a `SparkListener`, kept per bucket. A job's
  * bucket is the second field of the job description the benchmark set
  * around the op (`pb:<bucket>:<op>`); streaming micro-batches carry the
  * engine's own description and land in `stream`.
  */
final class ExecProbe extends SparkListener {
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[(String, String), AtomicLong]()

  private def add(bucket: String, key: String, v: Long): Unit =
    counters.computeIfAbsent((bucket, key), _ => new AtomicLong()).addAndGet(v)

  private def bucketOf(desc: String): String =
    if (desc == null) "other"
    else if (desc.startsWith("pb:")) desc.split(":", 3)(1)
    else if (desc.contains("runId = ")) "stream"
    else "other"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    val b = bucketOf(desc)
    e.stageIds.foreach(stageBucket.put(_, b))
    add(b, "jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageBucket.getOrDefault(e.stageInfo.stageId, "other"), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = stageBucket.getOrDefault(e.stageId, "other")
    add(b, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(b, "task_run_ms", m.executorRunTime)
      add(b, "task_cpu_ms", m.executorCpuTime / 1000000L)
      add(b, "gc_ms", m.jvmGCTime)
      val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      add(b, "scheduler_delay_ms", math.max(0L, e.taskInfo.duration - overhead))
      add(b, "input_bytes", m.inputMetrics.bytesRead)
      add(b, "shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add(b, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(b, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Sum of `key` over `buckets` (all buckets when empty). */
  def total(key: String, buckets: Set[String] = Set.empty): Long =
    counters.asScala.collect {
      case ((b, k), v) if k == key && (buckets.isEmpty || buckets(b)) => v.get
    }.sum

  def reset(): Unit = counters.clear()

  def snapshot: Map[String, Long] =
    counters.asScala.map { case ((b, k), v) => s"$b.$k" -> v.get }.toMap
}

object ExecProbe {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
    "gc_ms", "scheduler_delay_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes")
}

/** Driver planning time per phase, read from `QueryExecution.tracker`
  * for every batch query that finishes (streaming micro-batches are
  * counted apart, since their planning is reported by the stream's own
  * progress).
  */
final class PlanProbe extends QueryExecutionListener {
  private val ms = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    ms.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val kind = if (qe.isInstanceOf[IncrementalExecution]) "stream" else "batch"
    add(s"$kind.queries", 1)
    qe.tracker.phases.foreach { case (phase, s) => add(s"$kind.$phase", s.durationMs) }
  }

  def get(k: String): Long = Option(ms.get(k)).map(_.get).getOrElse(0L)
  def reset(): Unit = ms.clear()
}

object PlanProbe {
  /** (files, bytes, rows) read by the file scans of an executed plan. */
  def scanStats(plan: SparkPlan): (Long, Long, Long) = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val ss = scans(plan)
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    (ss.map(m(_, "numFiles")).sum, ss.map(m(_, "filesSize")).sum,
      ss.map(m(_, "numOutputRows")).sum)
  }
}

/** Spans recorded by the benchmark around its calls into each layer:
  * name, start, end and parent, with one id shared by all spans of an
  * op. Kept in memory while the run lasts; off unless the run is traced.
  *
  * In a traced run the calls of a paired op alternate between traced and
  * untraced, and every call's wall time is kept, so the run measures what
  * tracing costs as traced minus untraced time. Half of the op names
  * start traced and half untraced, so a trend over a run (the JIT still
  * warming, say) cancels out. An op run once is not paired: it is always
  * traced.
  */
object Trace {
  final case class Span(op: Long, id: Long, parent: Long, name: String, t0: Long, t1: Long)

  @volatile var enabled = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val names = new AtomicLong()
  /** paired op name -> (its order of first call, calls so far) */
  private val calls = new ConcurrentHashMap[String, (Long, AtomicLong)]()
  /** (op name, traced?, wall ns) of every paired call */
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean, Long)]()
  private val current = new ThreadLocal[(Long, Long, Boolean)] { // (op, parent span, recording)
    override def initialValue(): (Long, Long, Boolean) = (0L, 0L, true)
  }

  /** Run `body` as a new op: spans inside it share the op's id. */
  def op[T](name: String, paired: Boolean = true)(body: => T): T =
    if (!enabled) body
    else {
      val traced = !paired || {
        val (order, n) = calls.computeIfAbsent(name, _ => (names.getAndIncrement(), new AtomicLong()))
        (order + n.getAndIncrement()) % 2 == 0
      }
      val saved = current.get
      current.set((ids.incrementAndGet(), 0L, traced))
      val t0 = System.nanoTime()
      try span(name)(body)
      finally {
        if (paired) ops.add((name, traced, System.nanoTime() - t0))
        current.set(saved)
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || !current.get._3) body
    else {
      val (op, parent, _) = current.get
      val id = ids.incrementAndGet()
      current.set((op, id, true))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(op, id, parent, name, t0, System.nanoTime()))
        current.set((op, parent, true))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Forget everything recorded so far (the measured region starts). */
  def reset(): Unit = { spans.clear(); ops.clear(); calls.clear(); names.set(0) }

  /** Per op name: wall ms of its untraced and of its traced runs. */
  def opMs: Map[String, Map[String, Seq[Double]]] =
    ops.asScala.toSeq.groupBy(_._1).map { case (n, xs) =>
      n -> xs.groupBy(x => if (x._2) "traced" else "untraced").map { case (k, v) =>
        k -> v.map(_._3 / 1e6) }
    }

  /** Tracing overhead per op, measured: for each op name run both ways,
    * median traced minus median untraced wall time. Returns the median of
    * those differences in ms and as % of the untraced median, and the
    * number of op names that had both.
    */
  def overhead: (Double, Double, Int) = {
    val diffs = opMs.values.flatMap { m =>
      for (t <- m.get("traced"); u <- m.get("untraced")) yield {
        val (mt, mu) = (Stats.median(t), Stats.median(u))
        (mt - mu, (mt - mu) / mu * 100)
      }
    }.toSeq
    if (diffs.isEmpty) (Double.NaN, Double.NaN, 0)
    else (Stats.median(diffs.map(_._1)), Stats.median(diffs.map(_._2)), diffs.size)
  }

  /** Per span name: total self time in ms (duration minus the part its
    * direct children cover; children never overlap within one thread).
    */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.t1 - c.t0).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => (s.t1 - s.t0) - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }
}
