package graftbench

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.EventsPipeline

/** The three workloads. Each runs in one JVM against the inputs `gen`
  * wrote, measures from outside through the public entry points, checks
  * the outputs after the timed section, and writes `result.json`. */
object Workloads {

  /** Trigger interval of both stream queries: short, so the cost of a
    * micro-batch, not the timer, sets freshness. */
  val TriggerMs = 200L
  /** Files per micro-batch of the aggregate query while draining. */
  val MaxFilesPerTrigger = 40
  /** Open-loop publish rate of the stream's input files. */
  val FilesPerSecond = 10.0
  /** Share of an `ingest` run's seconds given to the open-loop phase. */
  val IngestOpenShare = 0.7
  /** Closed-loop client threads beside Spark's own. */
  val Viewers = 2
  val Readers = 3

  final case class Check(name: String, ok: Boolean, detail: String)

  /** Everything one run measured, before it is written out. */
  final class Result {
    val metrics = mutable.LinkedHashMap[String, Double]()
    val info = mutable.LinkedHashMap[String, Any]()
    val checks = mutable.ArrayBuffer[Check]()
    var attempted = 0L
    var failed = 0L
    def check(name: String, ok: Boolean, detail: => String): Unit = {
      checks += Check(name, ok, if (ok) "" else detail)
      attempted += 1
      if (!ok) failed += 1
    }
  }

  def run(cfg: RunConfig): Int = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"graftbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", cfg.dir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val tracer = new Tracer(cfg.trace)
    val res = new Result
    try {
      cfg.workload match {
        case "ingest" => new StreamRun(spark, cfg, tracer, engine, res, readers = 0).run()
        case "live" => new StreamRun(spark, cfg, tracer, engine, res, readers = Readers).run()
        case "dashboard" => new DashboardRun(spark, cfg, tracer, engine, res).run()
      }
    } catch {
      case NonFatal(e) =>
        res.check("workload completed", ok = false, e.toString)
        e.printStackTrace()
    }
    if (cfg.trace) {
      Out.write(cfg.dir.resolve("spans.json"), tracer.toJson)
      Tracer.selfMs(tracer.all).foreach { case (n, ms) => res.metrics(s"self.$n") = ms }
      res.metrics("trace.spans") = tracer.all.size.toDouble
    }
    Out.write(cfg.dir.resolve("result.json"), Out.obj(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> res.metrics, "info" -> res.info,
      "checks" -> res.checks.map(c => Out.obj("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail))).json)
    spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
    0
  }

  /** Shared end-of-measurement readings: memory, GC, steal. The peak
    * resident set (VmHWM) swings by a third between runs with when G1
    * grows its heap, so the gated memory figure is the memory a full
    * collection leaves in use: what the run's caches and state retain. */
  private[graftbench] def hostMetrics(res: Result, gc0: Long, cpu0: (Long, Long)): Unit = {
    res.metrics("jvm.gc_ms") = (Host.gcMs() - gc0).toDouble
    res.metrics("host.steal_share") = Host.stealShare(cpu0, Host.cpuTicks())
    res.metrics("peak_rss_mb") = Host.rssMb("VmHWM")
    System.gc()
    res.metrics("retained_mb") = Host.retainedMb()
  }

  private[graftbench] def engineMetrics(res: Result, engine: EngineListener,
      spark: SparkSession, reads: Long): Unit = {
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    def perRead(what: String): Double =
      if (reads == 0) 0.0 else engine.get("read", what).toDouble / reads
    res.metrics("exec.jobs_per_read") = perRead("jobs")
    res.metrics("exec.tasks_per_read") = perRead("tasks")
    res.metrics("exec.input_bytes_per_read") = perRead("input_bytes")
    res.metrics("exec.shuffle_bytes_per_read") = perRead("shuffle_bytes")
    res.metrics("exec.spill_bytes") = engine.total("spill_bytes").toDouble
  }

  private[graftbench] def ms(ns: Long): Double = ns / 1e6
}

/** Timed calls from the closed-loop client threads. */
final class Latencies {
  private val q = new ConcurrentLinkedQueue[(String, Double)]
  def add(kind: String, ms: Double): Unit = q.add((kind, ms))
  def all: Seq[(String, Double)] = q.asScala.toSeq
  def of(kind: String): Seq[Double] = all.collect { case (k, v) if k == kind => v }
}

/** `ingest` (readers = 0) and `live` (readers > 0): the validated
  * stream through `EventsPipeline.start` and `startDeadLetter`. */
final class StreamRun(spark: SparkSession, cfg: RunConfig, tracer: Tracer,
    engine: EngineListener, res: Workloads.Result, readers: Int) {
  import Workloads._

  private val in = cfg.dir.resolve("in").toString
  private val ckpt = cfg.dir.resolve("ckpt").toString
  private val out = cfg.dir.resolve("out").toString
  private val manifest = Out.read(cfg.dir.resolve("manifest.json"))
  private val warm = Generator.Tally.fromJson(manifest("warmup").asInstanceOf[Map[String, Any]])
  private val backlog = Generator.Tally.fromJson(manifest("backlog").asInstanceOf[Map[String, Any]])
  private val liveTallies = manifest("live").asInstanceOf[List[Map[String, Any]]]
    .map(Generator.Tally.fromJson)
  private val generator = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "generator"); t.setDaemon(true); t
  })
  /** (file name, due epoch ms, written epoch ms) of open-loop files. */
  private val published = new ConcurrentLinkedQueue[(String, Long, Long)]

  def run(): Unit = {
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val agg = EventsPipeline.start(spark, in, ckpt, out, trigger, Some(MaxFilesPerTrigger))
    val dead = EventsPipeline.startDeadLetter(spark, in, ckpt, out, trigger)
    agg.processAllAvailable()
    dead.processAllAvailable()
    val readyMs = System.currentTimeMillis()
    res.metrics("setup_s") = (readyMs - cfg.launchMs) / 1000.0
    val gc0 = Host.gcMs()
    val cpu0 = Host.cpuTicks()
    val root = tracer.newId()
    val wlStart = tracer.nowNs()
    val expected = new Generator.Tally
    expected.add(warm)

    // phase 1 (ingest only): drain a pre-written backlog
    if (readers == 0) {
      val t0 = System.currentTimeMillis()
      generator.submit[Unit](() => Files.list(cfg.dir.resolve("staging/backlog")).iterator().asScala
        .toSeq.sorted.zipWithIndex.foreach { case (f, i) =>
          Generator.publish(f, cfg.dir.resolve("in"), t0 + i) }).get()
      expected.add(backlog)
      val target = warm.lines + backlog.lines
      val deadline = System.currentTimeMillis() + 150000
      def doneAt(q: StreamingQuery): Option[Long] = {
        var rows = 0L
        q.recentProgress.find { p => rows += p.numInputRows; rows >= target }
          .map(p => endMs(p))
      }
      // drained when the aggregate query's sink holds the whole backlog
      var end = doneAt(agg)
      while (end.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(5)
        end = doneAt(agg)
      }
      require(end.isDefined, "backlog was not drained in 150 s")
      val drainS = (end.get - t0) / 1000.0
      res.metrics("ingest_eps") = backlog.lines / drainS
      res.info("backlog_lines") = backlog.lines
      res.info("drain_s") = drainS
    }

    // open loop: publish the staged files on a fixed schedule
    val openSeconds = if (readers == 0) cfg.seconds * IngestOpenShare else cfg.seconds
    val staged = Files.list(cfg.dir.resolve("staging/live")).iterator().asScala.toSeq.sorted
    val nFiles = math.min(staged.size, math.round(openSeconds * FilesPerSecond).toInt)
    val periodMs = 1000.0 / FilesPerSecond
    val openStart = System.currentTimeMillis() + 50
    val loop = generator.submit[Unit](() => {
      for (i <- 0 until nFiles) {
        val due = openStart + math.round(i * periodMs)
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val t0 = tracer.nowNs()
        Generator.publish(staged(i), cfg.dir.resolve("in"), System.currentTimeMillis())
        published.add((staged(i).getFileName.toString, due, System.currentTimeMillis()))
        tracer.record("generator.tick", root, tracer.newId(), t0, tracer.nowNs())
      }
    })
    liveTallies.take(nFiles).foreach(expected.add)

    val lat = new Latencies
    val readEnd = openStart + (openSeconds * 1000).toLong
    val pool = Executors.newFixedThreadPool(math.max(1, readers))
    val readerJobs = (0 until readers).map(r => pool.submit[Unit](() => readLoop(r, readEnd, lat, root)))
    readerJobs.foreach(_.get())
    val readersDoneMs = System.currentTimeMillis()
    loop.get()
    Seq(agg -> "agg", dead -> "dead").foreach { case (q, name) =>
      q.processAllAvailable()
      awaitProgress(q, name)
    }
    val endMsAll = System.currentTimeMillis()
    hostMetrics(res, gc0, cpu0)
    pool.shutdown()
    generator.shutdown()

    val aggP = agg.recentProgress.toSeq
    val deadP = dead.recentProgress.toSeq
    val failures = Seq(agg, dead).count(_.exception.isDefined)
    agg.stop()
    dead.stop()
    tracer.record("workload", 0L, root, wlStart, tracer.nowNs(), id = root)
    batchSpans(aggP, "batch", root)
    batchSpans(deadP, "dead.batch", root)

    // micro-batches: each counts as one operation; a batch id seen twice
    // was retried
    val batches = (aggP ++ deadP).count(_.numInputRows > 0)
    def retried(ps: Seq[StreamingQueryProgress]) =
      ps.filter(_.numInputRows > 0).groupBy(_.batchId).count(_._2.size > 1)
    res.attempted += batches
    res.failed += retried(aggP) + retried(deadP) + failures

    streamMetrics(aggP, deadP, expected)
    val reads = lat.all.size
    res.attempted += reads
    res.failed += failedReads.get
    if (readers > 0) {
      // read latency is the latest-version read's, the one every
      // dashboard refresh over the sink makes; the audit has its own
      val sinkReads = lat.of("read")
      res.metrics("read_p50_ms") = Stats.p50(sinkReads)
      val (tail, q) = Stats.tail(sinkReads)
      res.metrics("read_p95_ms") = tail
      res.info("read_tail_quantile") = q
      res.metrics("read_samples") = sinkReads.size.toDouble
      res.metrics("reads_per_s") = reads / ((readersDoneMs - openStart) / 1000.0)
      res.metrics("sink.read_ms_p50") = Stats.p50(lat.of("read"))
      res.metrics("sink.audit_ms_p50") = Stats.p50(lat.of("audit"))
    }
    engineMetrics(res, engine, spark, reads)
    res.info("measured_s") = (endMsAll - readyMs) / 1000.0
    checks(expected)
  }

  private val failedReads = new AtomicLong

  /** A closed-loop monitoring reader until `endMs`: even readers take
    * the latest-version read of the hourly sink, odd ones the MAD audit
    * over it. A read that throws counts as failed and is not retried. */
  private def readLoop(r: Int, endMs: Long, lat: Latencies, root: Long): Unit = {
    spark.sparkContext.setLocalProperty(EngineListener.RoleKey, "read")
    val (kind, f) =
      if (r % 2 == 0) ("read", () => EventsPipeline.readHourlyMetrics(spark, out))
      else ("audit", () => EventsPipeline.madAuditHourly(spark, out))
    while (System.currentTimeMillis() < endMs) {
      val trace = tracer.newId()
      val t0 = System.nanoTime()
      try {
        tracer.span(s"sink.$kind", root, trace) { _ => f().collect() }
        lat.add(kind, ms(System.nanoTime() - t0))
      } catch {
        case NonFatal(_) =>
          failedReads.incrementAndGet()
          lat.add(kind, ms(System.nanoTime() - t0))
      }
    }
  }

  /** Wait until the query has reported progress for its last committed
    * batch: `processAllAvailable` returns at the commit, before the
    * engine posts that batch's progress. */
  private def awaitProgress(q: StreamingQuery, name: String): Unit = {
    val commits = java.nio.file.Paths.get(ckpt, name, "commits")
    val last = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("\\d+")).map(_.toLong).max
    val deadline = System.currentTimeMillis() + 10000
    while (Option(q.lastProgress).forall(_.batchId < last) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Micro-batches as spans, with their progress phases as children
    * laid end to end in the order the engine runs them. */
  private def batchSpans(ps: Seq[StreamingQueryProgress], name: String, root: Long): Unit =
    if (tracer.enabled) ps.filter(_.numInputRows > 0).foreach { p =>
      val startNs = Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trace = tracer.newId()
      val id = tracer.record(name, root, trace, startNs,
        startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
      var at = startNs
      (PhaseOrder ++ d.keys.toSeq.sorted.filterNot(k =>
        PhaseOrder.contains(k) || k == "triggerExecution")).foreach { k =>
        d.get(k).foreach { v =>
          tracer.record(s"$name.$k", id, trace, at, at + v * 1000000L)
          at += v * 1000000L
        }
      }
    }

  /** file name -> query batch id. The aggregate query's file-source log
    * in its checkpoint gives each file's source log offset; each batch's
    * progress gives the (start, end] range of log offsets it read. */
  private def fileBatches(data: Seq[StreamingQueryProgress]): Map[String, Long] = {
    def offset(json: String): Long = Option(json).filter(_ != "null").map(j =>
      Out.long(org.json4s.jackson.JsonMethods.parse(j).values
        .asInstanceOf[Map[String, Any]]("logOffset"))).getOrElse(-1L)
    val ranges = data.map(p => (offset(p.sources.head.startOffset),
      offset(p.sources.head.endOffset), p.batchId))
    val dir = java.nio.file.Paths.get(ckpt, "agg", "sources", "0")
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .flatMap { line =>
        val m = org.json4s.jackson.JsonMethods.parse(line).values.asInstanceOf[Map[String, Any]]
        val path = m("path").toString
        val log = Out.long(m("batchId"))
        ranges.collectFirst { case (a, b, batch) if a < log && log <= b =>
          path.substring(path.lastIndexOf('/') + 1) -> batch }
      }.toMap
  }

  private def streamMetrics(aggP: Seq[StreamingQueryProgress],
      deadP: Seq[StreamingQueryProgress], expected: Generator.Tally): Unit = {
    val data = aggP.filter(_.numInputRows > 0)
    def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val m = res.metrics
    m("stream.batches") = data.size.toDouble
    m("stream.batch_ms_p50") = Stats.p50(dur(data, "triggerExecution"))
    m("stream.batch_ms_p95") = Stats.tail(dur(data, "triggerExecution"))._1
    m("stream.plan_ms_p50") = Stats.p50(dur(data, "queryPlanning"))
    m("stream.commit_ms_p50") = Stats.p50(
      data.map(p => dur(Seq(p), "walCommit").head + dur(Seq(p), "commitOffsets").head))
    m("stream.exec_ms_p50") = Stats.p50(dur(data, "addBatch"))
    m("stream.rows_per_batch_p50") = Stats.p50(data.map(_.numInputRows.toDouble))
    m("source.list_ms_p50") = Stats.p50(dur(data, "latestOffset"))
    val observed = aggP.flatMap(p => Option(p.observedMetrics.get("graft_ingest")))
    val valid = observed.map(_.getAs[Long]("valid_events")).sum
    val invalid = observed.map(_.getAs[Long]("invalid_events")).sum
    m("stream.valid_events") = valid.toDouble
    m("stream.invalid_events") = invalid.toDouble
    m("stream.observed_share") = (valid + invalid).toDouble / expected.lines
    res.check("observed valid events equal generated",
      valid == expected.valid, s"observed $valid, generated ${expected.valid}")
    res.check("observed invalid events equal generated",
      invalid == expected.invalid, s"observed $invalid, generated ${expected.invalid}")
    val states = aggP.flatMap(_.stateOperators.headOption)
    m("state.rows_max") = states.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max)
    m("state.mem_bytes_max") = states.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max)
    m("state.commit_ms_p50") = Stats.p50(
      aggP.filter(_.numInputRows > 0).flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble))
    m("state.rows_dropped_late") = states.map(_.numRowsDroppedByWatermark).sum.toDouble
    val deadData = deadP.filter(_.numInputRows > 0)
    m("dead.batch_ms_p50") = Stats.p50(dur(deadData, "triggerExecution"))

    // freshness of each open-loop file: due time -> end of the aggregate
    // micro-batch that wrote it
    val byBatch = data.map(p => p.batchId -> endMs(p)).toMap
    val batchOf = fileBatches(data)
    val pub = published.asScala.toSeq
    val fresh = pub.flatMap { case (name, due, _) =>
      batchOf.get(name).flatMap(byBatch.get).map(end => (end - due).toDouble)
    }
    res.check("every open-loop file reached the sink", fresh.size == pub.size,
      s"${fresh.size} of ${pub.size} files mapped to a sink batch")
    m("freshness_p50_ms") = Stats.p50(fresh)
    val (tail, q) = Stats.tail(fresh)
    m("freshness_p95_ms") = tail
    m("freshness_samples") = fresh.size.toDouble
    res.info("freshness_tail_quantile") = q
    m("source.generator_late_ms_p95") = Stats.quantile(pub.map { case (_, d, w) => (w - d).toDouble }, 0.95)
    // files published but not yet in a finished batch, seen at each
    // batch start
    val starts = data.map(p => (Instant.parse(p.timestamp).toEpochMilli, p.batchId))
    m("source.backlog_files_max") = starts.map { case (s, b) =>
      pub.count { case (name, _, written) => written <= s && batchOf.get(name).forall(_ >= b) }
    }.foldLeft(0)(math.max).toDouble
  }

  private def checks(expected: Generator.Tally): Unit = {
    val t0 = System.nanoTime()
    val sink = spark.read.parquet(s"$out/hourly_business_metrics")
    res.metrics("sink.row_versions") = sink.count().toDouble
    res.metrics("sink.files") = sink.inputFiles.length.toDouble
    val stream = rows(EventsPipeline.readHourlyMetrics(spark, out))
    val batch = rows(EventsPipeline.batchHourlyMetrics(spark, in))
    res.metrics("sink.hours") = stream.size.toDouble
    res.metrics("sink.useful_ratio") = stream.size / res.metrics("sink.row_versions")
    val differ = stream.keySet.filter(h => batch.get(h).forall(_ != stream(h)))
    res.check("stream hours equal batch hours", differ.isEmpty,
      s"${differ.size} hours differ, first ${differ.toSeq.sortBy(_.toString).headOption}")
    // the batch run keeps the events past the watermark, each alone in
    // an hour the stream never emits
    val batchOnly = batch.keySet -- stream.keySet
    res.check("hours only in batch are the late events",
      batchOnly.size == expected.late &&
        batchOnly.forall(_.getTime < Generator.StreamStartMs - 47L * 3600 * 1000),
      s"${batchOnly.size} batch-only hours, ${expected.late} late events generated")
    val dropped = res.metrics("state.rows_dropped_late").toLong
    res.check("late events equal rows dropped by the watermark",
      dropped == expected.late, s"dropped $dropped, generated ${expected.late}")
    val dead = spark.read.schema("raw STRING, reason STRING").json(s"$out/dead_letter")
      .groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    res.metrics("dead.rows") = dead.values.sum.toDouble
    Generator.Reasons.foreach { r =>
      val got = dead.getOrElse(r, 0L)
      res.check(s"dead letters $r", got == expected.reasons(r) && got > 0,
        s"sink $got, generated ${expected.reasons(r)}")
    }
    res.check("dead letters have no other reason",
      (dead.keySet -- Generator.Reasons).isEmpty, dead.keySet.mkString(","))
    res.info("check_s") = (System.nanoTime() - t0) / 1e9
    res.info("generated") = Out.Raw(expected.toJson)
  }

  private def rows(df: DataFrame): Map[java.sql.Timestamp, Seq[Any]] = {
    val cols = df.columns.sorted
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      .map(r => r.getTimestamp(cols.indexOf("hour")) -> r.toSeq).toMap
  }
}
