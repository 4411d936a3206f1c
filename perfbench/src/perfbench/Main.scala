package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.concurrent.duration._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming._
import graft.streaming.StreamingTransitions.Ev

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`.
  * Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `spans.jsonl`) into `--out`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: File)

  val Workloads: Seq[String] = Seq("entity_ops", "batch_queries")
  val SetupRepeats = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m.getOrElse("out", ".perfbench/run")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.out.mkdirs()
    val tmp = new File(a.out, "tmp")
    tmp.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Run.partitions(a.workload, cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", tmp.getAbsolutePath)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Run(spark, a)
    val result = try a.workload match {
      case "entity_ops" => r.entity()
      case "batch_queries" => new BatchQueries(spark, a, r).run()
    } finally spark.stop()
    Files.writeString(new File(a.out, "result.json").toPath, result)
    if (a.trace) r.spans.write(new File(a.out, "spans.jsonl"))
  }
}

/** Everything one run measures, and the pieces the workloads share. */
final class Run(val spark: SparkSession, val a: Main.Args) {
  import spark.implicits._

  val clock = new Clock
  val log = new ProgressLog
  val exec = new ExecListener
  val spans = new Spans
  spark.streams.addListener(log)
  if (a.trace) spark.sparkContext.addSparkListener(exec)
  val loop = new ClosedLoop(clock)
  val processStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  val rootSpan: Long = spans.add(0, s"run ${a.workload} seed=${a.seed}", "run", processStartMs, processStartMs)
  val checks = mutable.ArrayBuffer.empty[String]
  val facts = mutable.LinkedHashMap.empty[String, String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's own end-to-end figures, printed beside the bounded ones. */
  val e2eInfo = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var ckptSeq = 0

  facts ++= Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors.toString,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
    "spark_version" -> Json.str(spark.version),
    "state_store_provider" -> Json.str(spark.conf.get("spark.sql.streaming.stateStore.providerClass")),
    "seed" -> a.seed.toString,
    "seconds" -> Json.num(a.seconds),
    "trace" -> a.trace.toString)

  def checkpoint(name: String): File = {
    ckptSeq += 1
    new File(a.out, s"ckpt/$name-$ckptSeq")
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) checks += what

  private val setupTimes = mutable.ArrayBuffer.empty[Double]

  /** One timed set-up; `setup_s` is the median over the run's set-ups. */
  def timedSetup[T](body: => T): T = {
    val t0 = clock.nowMs
    val x = body
    val t1 = clock.nowMs
    spans.add(rootSpan, s"setup ${setupTimes.size + 1}", "setup", t0, t1)
    setupTimes += (t1 - t0) / 1000.0
    facts += "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ", ", "]")
    e2e("setup_s") = (Stats.median(setupTimes.toSeq), "s")
    x
  }

  private def firstTimed(): Unit =
    if (!facts.contains("process_to_first_timed_s"))
      facts += "process_to_first_timed_s" -> Json.num((clock.nowMs - processStartMs) / 1000.0)

  /** Runs timed ops `offer(i, traced)` from feed index `from` until `ms`
    * of wall time are spent. Traced runs switch the listener on for
    * alternate ops. */
  def segment(from: Int, n: Int, ms: Double)(offer: (Int, Boolean) => Op): Vector[Op] = {
    firstTimed()
    val ops = Vector.newBuilder[Op]
    val t0 = clock.nowMs
    var i = 0
    while (from + i < n && clock.nowMs - t0 < ms) {
      val traced = a.trace && i % 2 == 0
      exec.enabled = traced
      ops += offer(from + i, traced)
      i += 1
    }
    exec.enabled = false
    ops.result()
  }

  /** Streaming runs: a set-up starts the query and offers the set-up
    * batches. The first set-up's query is the one measured. After
    * WarmOps untimed ops, the timed ops run in SetupRepeats segments, and
    * each later set-up runs between two segments, timed for `setup_s` and
    * then stopped, so that the timed ops are spread over most of the run
    * rather than its last seconds. */
  def setupAndTime[T](setup: => T, stop: T => Unit)(n: Int)(offer: (T, Int, Boolean) => Op): (T, Vector[Op]) = {
    val kept = timedSetup(setup)
    (0 until Run.WarmOps).foreach(i => check(offer(kept, i, false).ok, s"warm-up op $i failed"))
    val ops = Vector.newBuilder[Op]
    var next = Run.WarmOps
    for (seg <- 1 to Main.SetupRepeats) {
      if (seg > 1) stop(timedSetup(setup))
      val got = segment(next, n, a.seconds * 1000 / Main.SetupRepeats)((i, traced) => offer(kept, i, traced))
      ops ++= got
      next += got.size
    }
    val out = ops.result()
    facts += "warmup_ops" -> Run.WarmOps.toString
    facts += "timed_ops" -> out.size.toString
    (kept, out)
  }

  /** End-to-end and per-layer figures of a streaming workload. */
  def streamingMetrics(ops: Vector[Op], batches: Vector[BatchInfo], opNames: Seq[String]): Unit = {
    // timed segments are interleaved with set-ups, so rates are over the ops' own time
    val busyS = ops.map(_.latencyMs).sum / 1000.0
    val lat = ops.map(_.latencyMs)
    e2e("op_p50_ms") = (Stats.median(lat), "ms")
    e2eInfo("ops_per_s") = (ops.size / busyS, "1/s")
    facts += "op_samples" -> ops.size.toString
    facts += "op_ms" -> ops.map(o => Json.num(math.rint(o.latencyMs * 10) / 10)).mkString("[", ", ", "]")

    val inOp = batches.filter(b => ops.exists(o => b.startMs >= o.startMs && b.startMs <= o.endMs))
    val idle = inOp.filter(_.idle)
    val n = ops.size.toDouble
    def perOp(f: BatchInfo => Double) = inOp.map(f).sum / n
    def dur(k: String)(b: BatchInfo) = b.durations.getOrElse(k, 0L).toDouble
    val info = mutable.LinkedHashMap[String, (Double, String)](
      "events_per_s" -> (ops.map(_.events.toLong).sum / busyS, "1/s"),
      "batch_p50_ms" -> (Stats.median(lat), "ms"),
      "batch_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"),
      "idle_batch_p50_ms" -> (if (idle.isEmpty) 0.0 else Stats.median(idle.map(_.triggerMs.toDouble)), "ms"),
      "state_mb_peak" -> (batches.groupBy(_.batchId).values.map(_.map(_.memBytes).sum).maxOption.getOrElse(0L) / 1048576.0, "MB"))
    e2eInfo ++= info

    layers("state.removal_ms") = (perOp(_.removalMs.toDouble), "ms")
    layers("state.rows_removed") = (perOp(_.rowsRemoved.toDouble), "count")
    layers("state.update_ms") = (perOp(_.updateMs.toDouble), "ms")
    layers("state.rows_updated") = (perOp(_.rowsUpdated.toDouble), "count")
    layers("state.commit_ms") = (perOp(_.commitMs.toDouble), "ms")
    layers("state.rows_total") = (inOp.last.rowsTotal.toDouble, "count")
    layers("state.mem_bytes") = (inOp.last.memBytes.toDouble, "bytes")
    Run.Phases.foreach { case (name, key) => layers(name) = (perOp(dur(key)), "ms") }
    layers("engine.trigger_ms") = (perOp(_.triggerMs.toDouble), "ms")
    layers("engine.batches") = (inOp.size / n, "count")
    layers("engine.idle_batches") = (idle.size / n, "count")
    layers("engine.idle_batch_ms") = (info("idle_batch_p50_ms")._1, "ms")
    val lags = inOp.flatMap(_.watermarkLagMs)
    layers("engine.watermark_lag_ms") = (Stats.mean(lags), "ms")
    layers("source.offer_ms") = (Stats.mean(ops.map(_.offerMs)), "ms")
    val last = inOp.last
    opNames.zipWithIndex.foreach { case (op, i) =>
      layers(s"op.$op.rows_total") = (last.opRows.lift(i).getOrElse(0L).toDouble, "count")
      layers(s"op.$op.mem_bytes") = (last.opMem.lift(i).getOrElse(0L).toDouble, "bytes")
    }

    if (a.trace) {
      val jobs = exec.jobSpans
      val stages = exec.stages.toArray(Array.empty[Stage]).map(s => s.id -> s).toMap
      ops.zipWithIndex.foreach { case (o, i) =>
        val id = spans.add(rootSpan, s"op $i${if (o.traced) "" else " untraced"}", if (o.traced) "client" else "client.untraced", o.startMs, o.endMs)
        if (o.traced) inOp.filter(b => b.startMs >= o.startMs && b.startMs <= o.endMs).foreach { b =>
          Spans.addBatch(spans, id, b, jobs, stages)
        }
      }
      traceMetrics(ops, ops.filter(_.traced))
    }
  }

  /** Listener-derived exec figures, span self times and the cost of
    * tracing, all per traced op. */
  def traceMetrics(ops: Seq[Op], traced: Seq[Op]): Unit = {
    val n = math.max(traced.size, 1).toDouble
    def inTraced(startMs: Double) = traced.exists(o => startMs >= o.startMs && startMs <= o.endMs)
    val tasks = exec.tasks.toArray(Array.empty[Task]).filter(t => inTraced(t.startMs.toDouble))
    val jobs = exec.jobSpans.filter(j => inTraced(j.startMs.toDouble))
    layers("exec.task_ms") = (tasks.map(_.runMs).sum / n, "ms")
    layers("exec.cpu_ms") = (tasks.map(_.cpuNs).sum / 1e6 / n, "ms")
    layers("exec.gc_ms") = (tasks.map(_.gcMs).sum / n, "ms")
    layers("exec.tasks") = (tasks.length / n, "count")
    layers("exec.jobs") = (jobs.size / n, "count")
    layers("exec.shuffle_read_bytes") = (tasks.map(_.shuffleRead).sum / n, "bytes")
    layers("exec.shuffle_write_bytes") = (tasks.map(_.shuffleWrite).sum / n, "bytes")
    layers("exec.spill_bytes") = (tasks.map(_.spill).sum / n, "bytes")
    layers("exec.input_bytes") = (tasks.map(_.input).sum / n, "bytes")

    val self = spans.selfMs
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    def rootOp(s: Span): Option[Span] =
      if (s.layer == "client" || s.layer == "query") Some(s) else byId.get(s.parent).flatMap(rootOp)
    val tracedSpans = all.filter(s => rootOp(s).isDefined)
    Run.SelfLayers.foreach { case (name, layer) =>
      layers(name) = (tracedSpans.filter(_.layer == layer).map(s => self(s.id)).sum / n, "ms")
    }
    layers("trace.clipped_ms") = (spans.clippedMs / n, "ms")
    val on = ops.filter(_.traced).map(_.latencyMs)
    val off = ops.filterNot(_.traced).map(_.latencyMs)
    layers("trace.overhead_pct") =
      (if (on.nonEmpty && off.nonEmpty) (Stats.median(on) / Stats.median(off) - 1) * 100 else 0.0, "%")
    facts += "traced_ops" -> traced.size.toString
  }

  /** End-to-end and per-layer figures of the batch workload: an op is
    * one pass over the list, so `op_p50_ms` is the median pass time and
    * every query in the list moves it; `runs` are the passes' query runs. */
  def batchMetrics(ops: Vector[Op], runs: Vector[Op], order: Seq[String]): Unit = {
    e2e("op_p50_ms") = (Stats.median(ops.map(_.latencyMs)), "ms")
    facts += "op_samples" -> ops.size.toString
    facts += "op_ms" -> ops.map(o => Json.num(math.rint(o.latencyMs * 10) / 10)).mkString("[", ", ", "]")
    val perQuery = order.map(q => q -> Stats.median(runs.filter(_.label == q).map(_.latencyMs / 1000.0))).toMap
    e2eInfo("query_geomean_s") = (Stats.geomean(perQuery.values.toSeq), "s")
    perQuery.foreach { case (q, v) => layers(s"query.${q}_s") = (v, "s") }
    if (a.trace) {
      val jobs = exec.jobSpans
      val stages = exec.stages.toArray(Array.empty[Stage]).map(s => s.id -> s).toMap
      val ids = runs.filter(_.traced).map { o =>
        val id = spans.add(rootSpan, o.label, "query", o.startMs, o.endMs)
        Spans.addJobs(spans, id, jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs), stages)
        id
      }
      val self = spans.selfMs
      layers("driver.gap_s") = (Stats.mean(ids.map(self(_) / 1000.0)), "s")
      traceMetrics(ops, ops.filter(_.traced))
    }
  }

  // ---------------------------------------------------------------- TTL

  final class Query[T](val stream: MemoryStream[T], val sink: DigestSink, val query: StreamingQuery)

  /** The paper's kernel: a per-key running sum with an event-time TTL. */
  def startTtl(ttlUs: Long, name: String): Query[TEv] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TEv]
    val ds = stream.toDS().withWatermark("ts", "0 seconds").as[TEv]
    val out = MapWithStateTTL.eventTime(ds, ttlUs.micros, 0L)(_.key, e => Feeds.micros(e.ts), _.event_id) {
      (k, e, s) => (TOut(e.event_id, k, s + e.v), s + e.v)
    }
    val sink = new DigestSink
    new Query(stream, sink, sink.start(out.map(o => (name, Models.hashTOut(o))), checkpoint(name)))
  }

  // --------------------------------------------------------- entity ops

  /** The per-entity operators, each called with its current default
    * arguments, and the TTL kernel, all on one source. Their outputs are
    * unioned as `(operator, row hash)` into one query, so that one offer
    * costs one micro-batch, not one per operator. */
  def startEntity(stream: MemoryStream[Ev]): Query[Ev] = {
    val ds = stream.toDS()
    val wm = ds.withWatermark("ts", "0 seconds").as[Ev]
    def us(e: Ev) = Feeds.micros(e.ts)
    val outs: Seq[Dataset[(String, Long)]] = Seq(
      RunningReduce.keyed(ds, 0L)(_.user_id, us, _.event_id)((acc, e) => acc + Models.increment(e))
        .map { case (u, v) => ("running_reduce", Checksum.of(u, v)) },
      CountWindows.keyed(ds, Models.CountWindowSize)(_.user_id, us, _.event_id)(
        (u, w) => (u, w.head.event_id, w.last.event_id, w.size.toLong))
        .map { case (u, f, l, n) => ("count_windows", Checksum.of(u, f, l, n)) },
      StreamingFunnel.stages(ds).map(s => ("funnel", Checksum.of(s.user_id, Checksum.str(s.stage), Feeds.micros(s.ts)))),
      StreamingRetention.hits(ds).map(h => ("retention", Checksum.of(h.user_id, h.wk0, h.k))),
      StreamingTransitions.transitions(ds)
        .map(t => ("transitions", Checksum.of(t.user_id, Checksum.str(t.prev_type), Checksum.str(t.cur_type)))),
      StreamingDedup.firstSeenTtl(wm, Models.DedupTtlUs.micros)(_.user_id, us).map(e => ("dedup", Models.hashEv(e))),
      MapWithStateTTL.eventTime(wm, Models.KernelTtlUs.micros, 0L)(_.user_id, us, _.event_id) {
        (u, e, s) => (TOut(e.event_id, u, s + Models.increment(e)), s + Models.increment(e))
      }.map(o => ("ttl_kernel", Models.hashTOut(o))))
    val sink = new DigestSink
    new Query(stream, sink, sink.start(outs.reduce(_ unionAll _), checkpoint("entity_ops")))
  }

  def entity(): String = {
    implicit val sqlCtx = spark.sqlContext
    // the feed and its model are the benchmark's own work: built before any set-up is timed
    val feed = Feeds.users(a.seed, warmBatches = Run.EntityWarm, timedBatches = Run.EntityTimed, usersPerBatch = Run.EntityUsers)
    val model = Models.entity(feed.all)
    def setup() = {
      val q = startEntity(MemoryStream[Ev])
      feed.load.indices.foreach { i =>
        val op = loop.offer(() => q.stream.addData(feed.load(i).toSeq), Seq(q.query), feed.load(i).length, traced = false) {
          val got = q.sink.take()
          Models.EntityOps.forall(op => got(op) == model(op)(i))
        }
        check(op.ok, s"set-up batch $i failed")
      }
      q
    }
    val bad = mutable.ArrayBuffer.empty[String]
    val (q, ops) = setupAndTime(setup(), (q: Query[Ev]) => q.query.stop())(Run.EntityTimed) { (q, i, traced) =>
      val b = feed.batches(i)
      loop.offer(() => q.stream.addData(b.toSeq), Seq(q.query), b.length, traced) {
        val got = q.sink.take()
        val wrong = Models.EntityOps.filter(op => got(op) != model(op)(feed.load.size + i))
        if (wrong.nonEmpty) bad += s"timed batch $i: ${wrong.mkString(", ")} differ from the model"
        wrong.isEmpty
      }
    }
    facts += "feed_digest" -> Json.str(feed.digest)
    facts += "events_per_timed_batch" -> Json.num(feed.events.toDouble / feed.batches.size)
    checks ++= bad
    val progress = log.await(q.query).map(BatchInfo.of("entity_ops", _))
    q.query.stop()
    streamingMetrics(ops, progress, Models.EntityOps)
    result(ops.size, ops.count(!_.ok))
  }

  // -------------------------------------------------------------- result

  /** Every per-layer name, in a fixed order, so that every run reports
    * every metric (zero where a layer did no work). */
  def result(attempted: Int, failed: Int): String = {
    Run.allLayerNames.foreach(n => if (!layers.contains(n)) layers(n) = (0.0, Run.unitOf(n)))
    spans.setEnd(rootSpan, clock.nowMs)
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.obj(m.toSeq.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "correct" -> (checks.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> checks.map(Json.str).mkString("[", ", ", "]"),
      "facts" -> Json.obj(facts.toSeq),
      "e2e" -> metrics(e2e),
      "e2e_info" -> metrics(e2eInfo),
      "layers" -> metrics(layers)))
  }
}

object Run {
  /** Untimed ops between set-up and the timed phase: the JIT is still
    * compiling the query's hot paths for the first few batches. */
  val WarmOps = 4
  /** Shuffle partitions, and so state-store partitions per stateful
    * operator. `entity_ops` runs seven stateful operators in one query;
    * at one partition each their tasks still spread over the cores, while
    * nproc partitions each would commit 7·nproc state stores per batch. */
  def partitions(workload: String, cores: Int): Int = if (workload == "entity_ops") 1 else cores

  // entity_ops: new users per batch of one event-time day; feeds hold more
  // timed batches than a run of the default length can offer
  val EntityWarm = 1
  val EntityTimed = 60
  val EntityUsers = 200

  val Phases: Seq[(String, String)] = Seq(
    "engine.latest_offset_ms" -> "latestOffset", "engine.wal_commit_ms" -> "walCommit",
    "engine.query_planning_ms" -> "queryPlanning", "engine.add_batch_ms" -> "addBatch",
    "engine.commit_offsets_ms" -> "commitOffsets")

  val SelfLayers: Seq[(String, String)] = Seq(
    "self.client_ms" -> "client", "self.engine_ms" -> "engine", "self.engine_phase_ms" -> "engine.phase",
    "self.add_batch_ms" -> "engine.add_batch", "self.query_ms" -> "query",
    "self.job_ms" -> "exec.job", "self.stage_ms" -> "exec.stage")

  def allLayerNames: Seq[String] =
    Seq("state.removal_ms", "state.rows_removed", "state.update_ms", "state.rows_updated", "state.commit_ms",
      "state.rows_total", "state.mem_bytes") ++ Phases.map(_._1) ++
    Seq("engine.trigger_ms", "engine.batches", "engine.idle_batches", "engine.idle_batch_ms", "engine.watermark_lag_ms",
      "source.offer_ms") ++
    Models.EntityOps.flatMap(op => Seq(s"op.$op.rows_total", s"op.$op.mem_bytes")) ++
    BatchQueries.Names.map(q => s"query.${q}_s") ++ Seq("driver.gap_s") ++
    Seq("exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "exec.tasks", "exec.jobs", "exec.shuffle_read_bytes",
      "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes") ++
    SelfLayers.map(_._1) ++ Seq("trace.clipped_ms", "trace.overhead_pct")

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_s")) "s" else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("_pct")) "%" else "count"
}
