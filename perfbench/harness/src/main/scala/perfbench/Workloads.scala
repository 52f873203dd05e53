package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType
import graft.{SparkEntry, Staging}
import graft.flow.{FlowPipeline, FlowService, FlowTransform, NfdumpCsv}
import graft.sinks.PartitionedParquetSink
import graft.sources.FlowSources

/** The workloads. Each one: an untimed warm pass over sf0.001-derived
  * inputs, set-up (repeated, median reported), the measured region, then
  * the untimed work the output checks need. Sizes and rates come from
  * `--params` (perfbench/run.py freezes them).
  */
object Workloads {

  /** FlowPipeline's default trigger interval, in ms. */
  val TriggerMs = 5000L

  val DashFrom = "2024-01-01"
  val DashTo = "2024-01-31"

  val QueryMix: Seq[String] = Seq("flow_top_talkers", "flow_top_ports",
    "flow_proto_breakdown", "flow_time_series", "flow_daily_volume", "flow_cidr_filter",
    "flow_fan_in", "flow_flag_filter", "flow_heavy_hitters", "flow_top_conversations",
    "flow_portscan", "flow_ddos_score")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** An op that counts as attempted, and as failed if it throws. */
  private def attempt[T](c: Ctx, what: String)(body: => T): Option[T] = {
    c.attempted += 1
    try Some(body)
    catch { case t: Throwable => c.failed += 1; c.error(what, t); None }
  }

  /** A session on a lake of its own, for the warm pass. */
  private def warmSession(c: Ctx): SparkSession = {
    val s = c.spark.newSession()
    s.conf.set(Staging.LakeConfKey, c.a.work.resolve("warm_lake").toString)
    s
  }

  private def fingerprint(c: Ctx, dir: String): Unit = {
    val ts = (0 until 5).map(_ => timed(Trace.span("staging.fingerprint")(
      Staging.corpusFingerprint(c.spark, dir)))._2 * 1000)
    c.put("staging.fingerprint_ms", Stats.median(ts), "ms")
  }

  private def dirStats(p: Path): (Int, Long, Int) = {
    val files = Files.walk(p).iterator().asScala.filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")
    }.toSeq
    val parts = files.map(_.getParent).distinct.size
    (files.size, files.map(Files.size).sum, parts)
  }

  // ---- streaming progress -> flow_pipeline.*

  private val durationKeys = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
    "triggerExecution" -> "trigger")

  private def putProgress(c: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val real = ps.filter(_.numInputRows > 0)
    c.put("flow_pipeline.batches", real.size.toDouble, "count")
    c.put("flow_pipeline.rows_per_batch_p50", Stats.median(real.map(_.numInputRows.toDouble)), "count")
    durationKeys.foreach { case (k, n) =>
      val xs = real.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
      c.put(s"flow_pipeline.${n}_ms_p50", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
  }

  // ---- checkpoint reading: which batch took a file, and when it committed

  private val logEntry = """"path":"([^"]+)".*?"batchId":(\d+)""".r

  /** file name -> batch id, from the file source's log in the checkpoint. */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => scala.util.Try(Files.readAllLines(p).asScala.toSeq).getOrElse(Nil))
      .flatMap(l => logEntry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
      .toMap
  }

  /** batch id -> commit time (epoch ns), from the mtime of `commits/<id>`. */
  def commitTimes(ckpt: Path): Map[Long, Long] = {
    val dir = ckpt.resolve("commits")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .map { p =>
        val t = Files.getLastModifiedTime(p).toInstant
        p.getFileName.toString.toLong -> (t.getEpochSecond * 1000000000L + t.getNano)
      }.toMap
  }

  // ---- the dashboard query: top-10 sources and protocol mix over a date range

  final case class DashStats(files: Long, bytes: Long, rows: Long)

  def dashboard(spark: SparkSession, roots: Seq[String]): DashStats = {
    val df = Trace.span("flow_sources.nflows")(
      roots.map(r => FlowSources.nflows(spark, r, DashFrom, DashTo)).reduce(_ unionByName _))
    val top = df.groupBy("sa").agg(sum("ibyt").as("bytes"))
      .orderBy(desc("bytes"), asc("sa")).limit(10)
    val proto = df.groupBy("pr").agg(count(lit(1)).as("flows"), sum("ibyt").as("bytes"))
    Trace.span("flow_analytics.dashboard") { top.collect(); proto.collect() }
    val (f1, b1, r1) = PlanProbe.scanStats(top.queryExecution.executedPlan)
    val (f2, b2, r2) = PlanProbe.scanStats(proto.queryExecution.executedPlan)
    DashStats(f1 + f2, b1 + b2, r1 + r2)
  }

  private def putDash(c: Ctx, lat: Seq[Double], st: Seq[DashStats]): Unit = {
    val n = math.max(st.size, 1).toDouble
    c.put("flow_sources.scan_files", st.map(_.files).sum / n, "count")
    c.put("flow_sources.scan_bytes", st.map(_.bytes).sum / n, "bytes")
    c.put("flow_sources.rows_read", st.map(_.rows).sum / n, "count")
    c.put("flow_sources.dash_queries", lat.size.toDouble, "count")
    c.put("flow_sources.dash_query_p50_s", Stats.median(lat), "s")
    c.put("flow_sources.dash_query_tail_s", Stats.tail(lat), "s")
  }

  private def putOps(c: Ctx, ops: Seq[Double], reads: Seq[Double]): Unit = {
    c.put("op_p50_s", Stats.median(ops), "s")
    c.put("op_tail_s", Stats.tail(ops), "s")
    c.put("read_p50_s", Stats.median(reads), "s")
    c.put("ops.samples", ops.size.toDouble, "count")
    c.put("ops.tail_pct", Stats.tailP(ops.size) * 100, "%")
    c.put("ops.read_samples", reads.size.toDouble, "count")
  }

  // ================================================================ spool_service

  final case class Prepared(backlog: Path, backlogFiles: Seq[Spool.SpoolFile], jdbc: Path,
      jdbcFiles: Seq[Spool.SpoolFile], staged: Path, liveFiles: Seq[Spool.SpoolFile])

  final case class SpoolParams(backlogRows: Int, backlogFiles: Int, catchupReps: Int,
      jdbcRows: Int, jdbcFiles: Int, expireBefore: String, historyFiles: Int,
      filesPerS: Double, rowsPerFile: Int, drainS: Int)

  /** id ranges [lo, hi) covered by consecutive spool files */
  private def span(fs: Seq[Spool.SpoolFile]): Seq[Seq[Long]] = Seq(Seq(fs.head.lo, fs.last.hi))

  /** The flow service end to end, in three phases: catch up a backlog
    * spool (closed, repeated), run the batch legs the service also
    * offers (backfill, compact + expire, JDBC load), then watch two spool
    * dirs live while files land on an open-loop schedule and one
    * dashboard client reads the growing tables.
    */
  def spoolService(c: Ctx): Unit = {
    val a = c.a
    val sp = SpoolParams(a.intParam("backlog_rows"), a.intParam("backlog_files"),
      a.intParam("catchup_reps"), a.intParam("jdbc_rows"), a.intParam("jdbc_files"),
      a.param("expire_before"), a.intParam("live_history_files"),
      a.param("live_files_per_s").toDouble, a.intParam("live_rows_per_file"),
      a.intParam("live_drain_s"))
    val nLive = sp.historyFiles + math.ceil(sp.filesPerS * a.seconds).toInt
    // warm pass on the sf0.001-derived events, first: it also absorbs the
    // JVM's cold start. Every leg once, and a dashboard read.
    c.startSession()
    c.note("session up")
    val ws = warmSession(c)
    val wspool = a.work.resolve("warm_spool")
    Spool.write(Spool.flowRows(ws, a.warm, Int.MaxValue), 4, a.seed, "nfcapd.w",
      a.work.resolve("warm_tmp"), Some(wspool))
    val wout = a.work.resolve("warm")
    FlowPipeline.start(ws, wspool.toString, wout.resolve("nflows").toString,
      wout.resolve("ckpt").toString, "warm", availableNowCatchup = true).awaitTermination()
    c.note("warm catch-up done")
    batchLegs(c, ws, sp, wspool, wspool, wout, "WARM", None)
    dashboard(ws, Seq(wout.resolve("nflows").toString))
    c.note("warm pass done")

    val prepared = c.setup() { r =>
      val rows = Spool.flowRows(c.spark, a.data, sp.backlogRows + nLive * sp.rowsPerFile)
      val backlogRows = rows.take(sp.backlogRows)
      val liveRows = rows.slice(sp.backlogRows, sp.backlogRows + nLive * sp.rowsPerFile)
      require(liveRows.length == nLive * sp.rowsPerFile, s"${rows.length} flows: too few")
      val tmp = a.work.resolve(s"spool_tmp_$r")
      val backlog = a.work.resolve(s"backlog_$r")
      val jdbc = a.work.resolve(s"jdbc_spool_$r")
      val staged = a.work.resolve(s"live_staged_$r")
      Prepared(
        backlog, Spool.write(backlogRows, sp.backlogFiles, a.seed, "nfcapd.b", tmp, Some(backlog)),
        jdbc, Spool.write(backlogRows.take(sp.jdbcRows), sp.jdbcFiles, a.seed, "nfcapd.j", tmp,
          Some(jdbc)),
        staged, Spool.write(liveRows, nLive, a.seed, "nfcapd.l", staged, None))
    }
    val p = prepared.head
    val digests = prepared.map(x =>
      Spool.digest(x.backlog) + Spool.digest(x.jdbc) + Spool.digest(x.staged)).distinct
    c.checks("spool_digest") = digests.head
    c.checks("spool_digests_equal") = digests.size == 1
    val planted = p.backlogFiles.map(_.planted).sum
    val linesIn = sp.backlogRows + planted + Spool.FooterLines * p.backlogFiles.size
    c.checks("spool") = Map("rows" -> sp.backlogRows, "planted" -> planted,
      "footer_lines" -> Spool.FooterLines * p.backlogFiles.size,
      "rows_dropped" -> (linesIn - NfdumpCsv.read(c.spark, p.backlog.toString).count()))

    c.beginMeasure()
    Jdbc.reset()
    val outputs = mutable.ArrayBuffer.empty[Map[String, Any]]
    // 1. catch-up of the backlog, on fresh checkpoints each time
    val catchupProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val catchupS = (0 until sp.catchupReps).flatMap { k =>
      val out = a.work.resolve(s"catchup_$k")
      attempt(c, "catch-up") {
        val (q, s) = timed(c.withDesc(s"pb:catchup:$k")(Trace.op("catchup")(
          Trace.span("flow_pipeline.start") {
            val q = FlowPipeline.start(c.spark, p.backlog.toString, out.resolve("nflows").toString,
              out.resolve("ckpt").toString, "bench", availableNowCatchup = true)
            q.awaitTermination(); q
          })))
        catchupProgress ++= q.recentProgress
        outputs += Map("kind" -> "parquet", "dir" -> out.resolve("nflows").toString,
          "ranges" -> span(p.backlogFiles), "expire_before" -> "")
        c.note(f"catch-up $s%.2f s")
        s
      }
    }
    // 2. the batch legs, once
    val legs = batchLegs(c, c.spark, sp, p.backlog, p.jdbc, a.work.resolve("batch"), "NFLOWS",
      Some(p))
    outputs ++= legs.outputs
    c.note(legs.legS.map { case (k, v) => f"$k $v%.2f" }.mkString("batch legs: ", ", ", " s"))
    // 3. live
    val live = liveWindow(c, sp, p)
    outputs ++= live.outputs
    c.endMeasure(c.attempted)

    putOps(c, live.latencyS, live.dashS.map(_._1))
    val catchupRate = sp.backlogRows / Stats.median(catchupS)
    c.put("rows_per_s", catchupRate, "1/s")
    c.put("flow_pipeline.catchup_rows_per_s", catchupRate, "1/s")
    c.put("flow_pipeline.catchup_files_per_s", sp.backlogFiles * catchupRate / sp.backlogRows, "1/s")
    c.put("flow_pipeline.live_rows_per_s", sp.filesPerS * sp.rowsPerFile, "1/s")
    c.checks("nflows") = outputs.toSeq
    putDash(c, live.dashS.map(_._1), live.dashS.map(_._2))
    putProgress(c, live.progress)
    c.put("flow_pipeline.source_lag_files_max", live.lagMax.toDouble, "count")
    val real = catchupProgress.toSeq.filter(_.numInputRows > 0)
    c.put("flow_pipeline.catchup_batches", real.size.toDouble / sp.catchupReps, "count")
    c.put("flow_pipeline.catchup_add_batch_ms_p50",
      Stats.median(real.flatMap(x => Option(x.durationMs.get("addBatch")).map(_.doubleValue))), "ms")
    c.put("loadgen.late_ms_p50", Stats.median(live.lateMs), "ms")
    c.put("loadgen.late_ms_max", if (live.lateMs.isEmpty) 0.0 else live.lateMs.max, "ms")
    c.put("loadgen.files", live.latencyS.size.toDouble, "count")
    c.put("parquet_sink.live_files_written", live.sinkFiles.toDouble, "count")

    def leg(k: String) = legs.legS.getOrElse(k, Double.NaN)
    c.put("parquet_sink.backfill_rows_per_s", sp.backlogRows / leg("backfill"), "1/s")
    val (nf, nb, np) = legs.sink
    c.put("parquet_sink.files_written", nf.toDouble, "count")
    c.put("parquet_sink.bytes_written", nb.toDouble, "bytes")
    c.put("parquet_sink.bytes_per_row", nb.toDouble / sp.backlogRows, "bytes")
    c.put("parquet_sink.partitions", np.toDouble, "count")
    c.put("parquet_sink.compact_s", leg("compact"), "s")
    c.put("parquet_sink.compact_files_before", legs.compact._1.toDouble, "count")
    c.put("parquet_sink.compact_files_after", legs.compact._2.toDouble, "count")
    c.put("parquet_sink.expire_s", leg("expire"), "s")
    val jrows = p.jdbcFiles.map(_.rows).sum
    c.put("jdbc_sink.rows_per_s", jrows / leg("jdbc"), "1/s")
    c.put("jdbc_sink.write_s", leg("jdbc"), "s")
    c.put("jdbc_sink.rows", Jdbc.rows.get.toDouble, "count")
    c.put("jdbc_sink.connects", Jdbc.connects.get.toDouble, "count")
    c.put("jdbc_sink.batches_expected", Jdbc.batches.get.toDouble, "count")
    c.put("jdbc_sink.connects_per_batch",
      Jdbc.connects.get / math.max(1L, Jdbc.batches.get).toDouble, "ratio")
    c.put("jdbc_sink.retries", (Jdbc.connects.get - Jdbc.batches.get).toDouble, "count")
    if (Jdbc.rows.get != jrows) {
      c.failed += 1
      c.errors += s"jdbc rows inserted ${Jdbc.rows.get} != expected $jrows"
    }
    fingerprint(c, a.data)
    if (a.trace) layerParse(c, p.backlog, p.backlogFiles, leg("backfill"))
  }

  final case class Legs(legS: Map[String, Double], sink: (Int, Long, Int), compact: (Int, Int),
      outputs: Seq[Map[String, Any]])

  /** Backfill of the spool, compact + expire of its output, and the
    * streaming JDBC load of the subset spool. Timed, and its outputs kept
    * for the checks, only when the measured spool is given.
    */
  private def batchLegs(c: Ctx, spark: SparkSession, sp: SpoolParams, spool: Path,
      jdbcSpool: Path, out: Path, table: String, measured: Option[Prepared]): Legs = {
    val legS = mutable.LinkedHashMap.empty[String, Double]
    def leg(name: String)(body: => Unit): Unit =
      if (measured.isDefined)
        attempt(c, name)(legS(name) =
          timed(c.withDesc(s"pb:batch:$name")(Trace.op(name, paired = false)(body)))._2)
      else body
    val backfill = out.resolve("backfill").toString
    leg("backfill")(Trace.span("flow_pipeline.backfill")(
      FlowPipeline.backfill(spark, spool.toString, backfill, "bench")))
    val sink = dirStats(out.resolve("backfill"))
    var compact = (0, 0)
    leg("compact") {
      val cs = Trace.span("parquet_sink.compact")(
        PartitionedParquetSink.compact(spark, backfill, minFiles = 2))
      compact = (cs.map(_._2).sum, cs.map(_._3).sum)
    }
    leg("expire")(Trace.span("parquet_sink.expireOlderThan")(
      PartitionedParquetSink.expireOlderThan(spark, backfill, sp.expireBefore)))
    leg("jdbc") {
      Jdbc.create(table)
      Trace.span("flow_pipeline.startJdbc") {
        FlowPipeline.startJdbc(spark, jdbcSpool.toString, out.resolve("ckpt_jdbc").toString,
          "bench", table, () => Jdbc.connect(), availableNowCatchup = true).awaitTermination()
      }
    }
    val jdbcTotals = Jdbc.totalsAndDrop(table)
    Legs(legS.toMap, sink, compact, measured.toSeq.flatMap(p => Seq(
      Map("kind" -> "parquet", "dir" -> backfill, "ranges" -> span(p.backlogFiles),
        "expire_before" -> sp.expireBefore),
      Map("kind" -> "jdbc", "table" -> table, "ranges" -> span(p.jdbcFiles),
        "per_date" -> jdbcTotals))))
  }

  /** The CSV fields `FlowTransform.toNflows` reads: the parse is timed on
    * exactly these, as the pipeline's own column pruning would parse them.
    */
  private val TransformInputs = Seq("ts", "te", "sa", "da", "sp", "dp", "pr", "flg",
    "ipkt", "ibyt", "ra")

  /** Traced runs only: the parser and the transform on their own. */
  private def layerParse(c: Ctx, spool: Path, files: Seq[Spool.SpoolFile],
      backfillS: Double): Unit = {
    val path = spool.toString
    // parse and parse+transform alternate, so drift hits both alike
    val (parse, transform) = (0 until 3).map { _ =>
      val obs = Observation("parse")
      val p = timed(c.withDesc("pb:layer:parse")(Trace.op("parse")(Trace.span("nfdump_csv.read")(
        c.noop(NfdumpCsv.read(c.spark, path).select(TransformInputs.map(col): _*)
          .observe(obs, count(lit(1)).as("n")))))))._2
      val t = timed(c.withDesc("pb:layer:transform")(Trace.op("transform")(
        Trace.span("flow_transform.toNflows")(
          c.noop(FlowTransform.toNflows(NfdumpCsv.read(c.spark, path), "bench"))))))._2
      ((p, obs.get("n").asInstanceOf[Long]), t)
    }.unzip
    val parseS = Stats.median(parse.map(_._1))
    val rowsOut = parse.head._2
    val rowsIn = files.map(_.rows).sum
    val linesIn = rowsIn + files.map(_.planted).sum + Spool.FooterLines * files.size
    c.put("nfdump_csv.parse_s", parseS, "s")
    c.put("nfdump_csv.rows_per_s", rowsOut / parseS, "1/s")
    c.put("nfdump_csv.lines_in", linesIn.toDouble, "count")
    c.put("nfdump_csv.rows_out", rowsOut.toDouble, "count")
    c.put("nfdump_csv.rows_dropped", (linesIn - rowsOut).toDouble, "count")
    c.put("nfdump_csv.input_bytes", files.map(_.bytes).sum.toDouble, "bytes")
    val transformS = Stats.median(transform)
    c.put("flow_transform.s", transformS - parseS, "s")
    c.put("parquet_sink.write_s", backfillS - transformS, "s")
  }

  final case class Live(latencyS: Seq[Double], dashS: Seq[(Double, DashStats)],
      progress: Seq[StreamingQueryProgress], lateMs: Seq[Double], lagMax: Int,
      sinkFiles: Int, outputs: Seq[Map[String, Any]])

  /** `FlowService.startAll` from an ini with two watchers at the default
    * trigger; history files land first, then the window's files drop on
    * schedule while the dashboard client reads. A file's latency runs
    * from the time its drop was due to the commit of the batch that took
    * it, read from the checkpoint (file -> batch from `sources/0`, commit
    * time from the mtime of `commits/<id>`).
    */
  private def liveWindow(c: Ctx, sp: SpoolParams, p: Prepared): Live = {
    val root = c.a.work.resolve("live")
    val watchers = Seq("a", "b")
    val watchDir = watchers.map(w => w -> Files.createDirectories(root.resolve(s"spool_$w"))).toMap
    val ini =
      s"""[main]
         |out_dir = ${root.resolve("nflows")}
         |ckpt_dir = ${root.resolve("ckpt")}
         |
         |[a]
         |dir = ${watchDir("a")}
         |flowsrc = router-a
         |
         |[b]
         |dir = ${watchDir("b")}
         |flowsrc = router-b
         |""".stripMargin
    def owner(i: Int) = watchers(i % 2)
    val files = p.liveFiles
    files.take(sp.historyFiles).zipWithIndex.foreach { case (f, i) =>
      Files.move(p.staged.resolve(f.name), watchDir(owner(i)).resolve(f.name))
    }
    val queries = FlowService.startAll(c.spark, FlowService.fromIni(ini))
    val ckpt = watchers.map(w => w -> root.resolve("ckpt").resolve(w)).toMap
    val outDirs = watchers.map(w => root.resolve("nflows").resolve(w).toString)
    val histDeadline = System.nanoTime() + 120L * 1000000000L
    while (watchers.exists(w => commitTimes(ckpt(w)).isEmpty) && System.nanoTime() < histDeadline)
      Thread.sleep(50)

    val window = files.drop(sp.historyFiles).zipWithIndex
    // Spark fires a processing-time trigger on wall-clock multiples of its
    // interval. The window starts halfway between two ticks, so every run
    // sees the same trigger phase.
    val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val nowMs = System.currentTimeMillis()
    val startMs = (nowMs + 200) / TriggerMs * TriggerMs + TriggerMs / 2 +
      (if ((nowMs + 200) % TriggerMs >= TriggerMs / 2) TriggerMs else 0)
    val t0 = startMs * 1000000L - wallOffsetNs
    val dropper = new Dropper(window.map { case (f, i) =>
      (p.staged.resolve(f.name), watchDir(owner(sp.historyFiles + i))) }, sp.filesPerS, t0)
    dropper.start()
    val windowEnd = t0 + (c.a.seconds * 1e9).toLong
    val deadline = windowEnd + sp.drainS * 1000000000L
    def committed(): Map[String, Long] = watchers.flatMap { w =>
      val ct = commitTimes(ckpt(w))
      fileBatches(ckpt(w)).collect { case (f, b) if ct.contains(b) => f -> ct(b) }
    }.toMap
    def drained(done: Map[String, Long]) = window.forall(x => done.contains(x._1.name))
    // the dashboard reads through the window and the drain after it, until
    // every dropped file is committed or the deadline passes
    val dash = mutable.ArrayBuffer.empty[(Double, DashStats)]
    var done = Map.empty[String, Long]
    var k = 0
    while (System.nanoTime() < windowEnd ||
        (!drained(done) && System.nanoTime() < deadline)) {
      attempt(c, "live dashboard") {
        val (st, s) = timed(c.withDesc(s"pb:dash:$k")(Trace.op("dash")(dashboard(c.spark, outDirs))))
        dash += ((s, st))
      }
      k += 1
      if (System.nanoTime() >= windowEnd) done = committed()
    }
    dropper.join()
    if (dropper.error != null) c.error("dropper", dropper.error)
    done = committed()
    queries.foreach(_.stop())

    val lat = mutable.ArrayBuffer.empty[Double]
    c.attempted += window.size
    window.foreach { case (f, i) =>
      done.get(f.name) match {
        case Some(commitWallNs) => lat += (commitWallNs - (dropper.dueNanos(i) + wallOffsetNs)) / 1e9
        case None =>
          c.failed += 1
          c.errors += s"${f.name} not committed ${sp.drainS}s after the window"
      }
    }
    // source lag: files already dropped when a batch started but left for a later batch
    val batchOf = watchers.flatMap(w => fileBatches(ckpt(w)).map { case (f, b) => f -> (w, b) }).toMap
    val dropWall = window.map { case (f, i) => f.name -> (dropper.doneNanos(i) + wallOffsetNs) }.toMap
    val lags = queries.zip(watchers).flatMap { case (q, w) =>
      q.recentProgress.filter(_.numInputRows > 0).map { pr =>
        val st = java.time.Instant.parse(pr.timestamp)
        val s = st.getEpochSecond * 1000000000L + st.getNano
        dropWall.count { case (f, dw) =>
          dw < s && batchOf.get(f).exists { case (ow, b) => ow == w && b > pr.batchId }
        }
      }
    }
    val outputs = watchers.zipWithIndex.map { case (w, wi) =>
      val mine = files.zipWithIndex.filter(x => owner(x._2) == w)
        .filter(x => x._2 < sp.historyFiles || done.contains(x._1.name)).map(_._1)
      Map("kind" -> "parquet", "dir" -> outDirs(wi), "expire_before" -> "",
        "ranges" -> mine.map(f => Seq(f.lo, f.hi)))
    }
    Live(lat.toSeq, dash.toSeq, queries.flatMap(_.recentProgress), dropper.lateMs,
      if (lags.isEmpty) 0 else lags.max,
      outDirs.map(d => dirStats(java.nio.file.Paths.get(d))._1).sum, outputs)
  }

  // ================================================================ flow_query

  /** The analyst mix, one closed-loop client: whole seed-shuffled rounds
    * of the 12 queries, as many as fit in `--seconds` (one at least; two
    * in a traced run, so every query runs both traced and untraced).
    */
  def flowQuery(c: Ctx): Unit = {
    // warm pass: one untimed round over the sf0.001-derived events
    c.startSession()
    c.note(QueryMix.map { q =>
      f"${q.stripPrefix("flow_")} ${timed(collectQuery(c.spark, q, c.a.warm))._2}%.2f"
    }.mkString("warm: ", ", ", ""))
    val corpusRows = c.setup() { _ =>
      Staging.corpusFingerprint(c.spark, c.a.data)
      graft.Tables.events(c.spark, c.a.data).count()
    }.head
    c.beginMeasure()
    val perQuery = mutable.LinkedHashMap(QueryMix.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val kept = mutable.LinkedHashMap.empty[String, Kept]
    val minRounds = if (c.a.trace) 2 else 1
    var r = 0
    var roundS = 0.0
    while (r < minRounds || c.measuredS + roundS <= c.a.seconds) {
      val order = new scala.util.Random(c.a.seed * 7919L + r).shuffle(QueryMix)
      val t0 = System.nanoTime()
      order.foreach { q =>
        attempt(c, q) {
          val (res, t) = timed(c.withDesc(s"pb:query:$q")(Trace.op(q)(
            Trace.span(s"flow_analytics.$q")(collectQuery(c.spark, q, c.a.data)))))
          perQuery(q) += t
          kept.getOrElseUpdate(q, res)
        }
      }
      roundS = (System.nanoTime() - t0) / 1e9
      c.note(f"round $r: $roundS%.2f s: " +
        order.map(q => f"${q.stripPrefix("flow_")} ${perQuery(q).lastOption.getOrElse(Double.NaN)}%.2f")
          .mkString(", "))
      r += 1
    }
    c.endMeasure(perQuery.values.map(_.size).sum)
    val all = perQuery.values.flatten.toSeq
    // the mix: one run of every query, each at its median
    val mix = perQuery.values.map(xs => Stats.median(xs.toSeq)).sum
    putOps(c, all, Seq(mix))
    c.put("rows_per_s", corpusRows * all.size / all.sum, "1/s")
    c.put("flow_analytics.mix_s", mix, "s")
    c.put("flow_analytics.rounds", r.toDouble, "count")
    perQuery.foreach { case (q, xs) =>
      c.put(s"flow_analytics.${q.stripPrefix("flow_")}_s", Stats.median(xs.toSeq), "s")
    }
    fingerprint(c, c.a.data)
    c.checks("results") = writeResults(c, kept.toSeq, "query")
  }

  // ================================================================ curate_lake

  /** Layer of a curation query, for its per-layer metric names. */
  private def curationLayer(q: String): (String, String) =
    if (q.startsWith("dedup_")) ("dedup", q.stripPrefix("dedup_"))
    else if (q.startsWith("ann_")) ("ann", q.stripPrefix("ann_"))
    else ("text", q.stripPrefix("text_"))

  /** (artifact key, fingerprint) -> (bytes, publish mtime) of a session's lake. */
  private def lakeState(s: SparkSession): Map[(String, String), (Long, Long)] =
    Staging.lakeReport(s).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(3), r.getLong(4)))).toMap

  private def dropStaged(s: SparkSession, dir: String): Unit = {
    graft.dedup.Dedup.invalidate(s, dir)
    graft.ann.Knn.invalidate(s, dir)
    graft.text.TextAnalytics.invalidate(s, dir)
  }

  /** Build, then serve, on a fresh lake per rep. The build session finds
    * an empty lake, so each query builds its staged artifacts and
    * publishes them. A second session (`newSession()`, same lake) then runs
    * the same queries and serves the published artifacts. Reps repeat as
    * many times as fit in `--seconds` (one at least; two in a traced run,
    * so every query runs both traced and untraced).
    */
  def curateLake(c: Ctx): Unit = {
    val queries = c.a.param("queries").split(";").toSeq
    def session(lake: Path): SparkSession = {
      val s = c.spark.newSession()
      s.conf.set(Staging.LakeConfKey, lake.toString)
      s
    }
    def phase(s: SparkSession, dir: String, name: String): Seq[(String, Kept, Double)] =
      queries.map { q =>
        val (res, t) = timed(c.withDesc(s"pb:$name:$q")(Trace.op(s"$name:$q")(
          Trace.span(s"${curationLayer(q)._1}.$q")(collectQuery(s, q, dir)))))
        (q, res, t)
      }
    // warm pass: a build on the sf0.001-derived warm inputs, on a lake of its own
    c.startSession()
    val warmLake = c.a.work.resolve("warm_lake")
    c.note(phase(session(warmLake), c.a.warm, "warm").map(x => f"${x._1} ${x._3}%.2f")
      .mkString("warm: ", ", ", ""))
    val corpusRows = c.setup() { _ =>
      Staging.corpusFingerprint(c.spark, c.a.data)
      Seq("documents", "embeddings").map(t => c.spark.read.parquet(s"${c.a.data}/$t.parquet").count()).sum
    }.head

    c.beginMeasure()
    val buildS, serveS = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val built, published, served = mutable.ArrayBuffer.empty[Double]
    val kept = mutable.ArrayBuffer.empty[(String, Kept)]
    var r = 0
    val minReps = if (c.a.trace) 2 else 1
    var repS = 0.0
    while (r < minReps || c.measuredS + repS <= c.a.seconds) {
      val t0 = System.nanoTime()
      val lake = c.a.work.resolve(s"lake_$r")
      c.attempted += 2 * queries.size
      try {
        val bs = session(lake)
        val b = phase(bs, c.a.data, "build")
        val afterBuild = lakeState(bs)
        val ss = session(lake)
        val sv = phase(ss, c.a.data, "serve")
        val afterServe = lakeState(ss)
        buildS += b.map(_._3).sum
        serveS += sv.map(_._3).sum
        (b ++ sv).zip(Seq.fill(b.size)("build") ++ Seq.fill(sv.size)("serve")).foreach {
          case ((q, _, t), ph) => perQuery.getOrElseUpdate(s"$q:$ph", mutable.ArrayBuffer.empty) += t
        }
        built += afterBuild.size
        published += afterBuild.values.map(_._1).sum
        // an artifact the serve phase published anew or re-published
        served += afterServe.count { case (k, v) => !afterBuild.get(k).contains(v) }
        b.zip(sv).foreach { case ((q, kb, _), (_, ks, _)) =>
          if (canon(kb) != canon(ks)) {
            c.failed += 1
            c.errors += s"rep $r: $q served a result that differs from its build"
          }
        }
        if (r == 0) kept ++= b.map(x => x._1 -> x._2) ++ sv.map(x => x._1 -> x._2)
        c.note(f"rep $r: build ${buildS.last}%.2f s, serve ${serveS.last}%.2f s, " +
          f"${afterBuild.size} artifacts: " + (b ++ sv).map(x => f"${x._1} ${x._3}%.2f").mkString(", "))
        dropStaged(bs, c.a.data)
        dropStaged(ss, c.a.data)
        repS = (System.nanoTime() - t0) / 1e9
      } catch {
        case t: Throwable => c.failed += 2 * queries.size; c.error(s"rep $r", t)
      }
      r += 1
    }
    c.endMeasure(c.attempted)

    val bMed = Stats.median(buildS.toSeq)
    putOps(c, buildS.toSeq, serveS.toSeq)
    c.put("rows_per_s", corpusRows / bMed, "1/s")
    c.put("staging.curate_build_s", bMed, "s")
    c.put("staging.curate_serve_s", Stats.median(serveS.toSeq), "s")
    c.put("staging.artifacts_built", Stats.median(built.toSeq), "count")
    c.put("staging.bytes_published", Stats.median(published.toSeq), "bytes")
    c.put("staging.serve_new_artifacts", Stats.median(served.toSeq), "count")
    c.put("staging.hit_ratio", 1.0 - Stats.median(served.toSeq) / math.max(1.0, Stats.median(built.toSeq)), "ratio")
    c.put("staging.build_jobs", c.exec.total("jobs", Set("build")) / r.toDouble, "count")
    c.put("staging.serve_jobs", c.exec.total("jobs", Set("serve")) / r.toDouble, "count")
    perQuery.foreach { case (k, xs) =>
      val Array(q, ph) = k.split(":")
      val (layer, name) = curationLayer(q)
      c.put(s"$layer.${name}_${ph}_s", Stats.median(xs.toSeq), "s")
    }
    fingerprint(c, c.a.data)
    c.checks("results") = writeResults(c, kept.toSeq, "build", "serve")
  }

  /** Order-free form of a result, to compare two runs of one query. */
  private def canon(k: Kept): Seq[String] = k.rows.map(_.toString).toSeq.sorted

  /** A query's result: its rows and schema. */
  final case class Kept(rows: Array[Row], schema: StructType)

  /** Run a query to completion on all of its output columns (a bare
    * count would let Catalyst prune the projection users pay for).
    */
  private def collectQuery(s: SparkSession, q: String, dir: String): Kept = {
    val df = SparkEntry.queries(q)(s, dir)
    Kept(df.collect(), df.schema)
  }

  /** The kept results as parquet, one dir per query and phase, for the
    * checks; written after the measured region. A query kept twice (build,
    * then serve) is written under `phases(0)`, then `phases(1)`.
    */
  private def writeResults(c: Ctx, kept: Seq[(String, Kept)], phases: String*): Seq[Map[String, Any]] = {
    val oracle = SparkEntry.oracleSql
    val seen = mutable.Map.empty[String, Int]
    kept.map { case (q, k) =>
      val phase = phases(seen.getOrElse(q, 0))
      seen(q) = seen.getOrElse(q, 0) + 1
      val p = c.dir(s"results/$phase").resolve(q).toString
      c.spark.createDataFrame(java.util.Arrays.asList(k.rows: _*), k.schema)
        .coalesce(1).write.mode("overwrite").parquet(p)
      Map("name" -> q, "phase" -> phase, "path" -> p, "oracle" -> oracle.getOrElse(q, ""))
    }
  }
}

/** The JDBC endpoint: embedded in-memory Derby, reached through the
  * benchmark's own `connect` thunk, which counts connections, executed
  * batches and inserted rows.
  */
object Jdbc {
  val Url = "jdbc:derby:memory:perfbench;create=true"
  val connects = new AtomicLong
  val batches = new AtomicLong
  val rows = new AtomicLong

  def reset(): Unit = { connects.set(0); batches.set(0); rows.set(0) }

  def create(table: String): Unit = {
    val conn = DriverManager.getConnection(Url)
    try conn.createStatement().execute(
      s"""CREATE TABLE $table (ts TIMESTAMP, te TIMESTAMP, td DOUBLE, sa VARCHAR(64),
         |da VARCHAR(64), sp INT, dp INT, pr VARCHAR(16), flg VARCHAR(16), ipkt BIGINT,
         |ibyt BIGINT, ra VARCHAR(64), flowsrc VARCHAR(64))""".stripMargin)
    finally conn.close()
  }

  /** Per-date (rows, sum(ibyt)) of the table, which is then dropped. */
  def totalsAndDrop(table: String): Map[String, Seq[Long]] = {
    val conn = DriverManager.getConnection(Url)
    try {
      val exists = conn.getMetaData.getTables(null, null, table, null).next()
      if (!exists) Map.empty
      else {
        val st = conn.createStatement()
        val rs = st.executeQuery(
          s"SELECT CAST(ts AS DATE), COUNT(*), SUM(ibyt) FROM $table GROUP BY CAST(ts AS DATE)")
        val out = mutable.Map.empty[String, Seq[Long]]
        while (rs.next()) out(rs.getDate(1).toString) = Seq(rs.getLong(2), rs.getLong(3))
        rs.close()
        st.execute(s"DROP TABLE $table")
        st.close()
        out.toMap
      }
    } finally conn.close()
  }

  def connect(): Connection = {
    connects.incrementAndGet()
    val conn = DriverManager.getConnection(Url)
    proxy(classOf[Connection], conn) { (m, args, call) =>
      val r = call()
      if (m.getName == "prepareStatement") {
        val ps = r.asInstanceOf[java.sql.PreparedStatement]
        val added = new AtomicLong
        proxy(classOf[java.sql.PreparedStatement], ps) { (m2, _, call2) =>
          val r2 = call2()
          m2.getName match {
            case "addBatch" => added.incrementAndGet()
            case "executeBatch" =>
              batches.incrementAndGet(); rows.addAndGet(added.getAndSet(0))
            case _ =>
          }
          r2
        }
      } else r
    }
  }

  private def proxy[T](iface: Class[T], target: T)(
      around: (java.lang.reflect.Method, Array[AnyRef], () => AnyRef) => AnyRef): T =
    java.lang.reflect.Proxy.newProxyInstance(iface.getClassLoader, Array(iface),
      (_: Any, m: java.lang.reflect.Method, args: Array[AnyRef]) =>
        around(m, args, () =>
          try m.invoke(target, args: _*)
          catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause })
    ).asInstanceOf[T]
}
