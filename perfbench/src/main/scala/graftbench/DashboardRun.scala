package graftbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.EventsQueries
import graft.util.Tables

/** A Grafana time range: half-open [from, to). */
final case class TimeRange(kind: String, from: LocalDateTime, to: LocalDateTime) {
  private def fmt(t: LocalDateTime) = t.format(TimeRange.Fmt)
  def fromS: String = fmt(from)
  def toS: String = fmt(to)
  /** The period before this one, of the same length. */
  def prevFromS: String = fmt(from.minus(java.time.Duration.between(from, to)))
}

object TimeRange {
  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Kinds: Seq[String] = Seq("6h", "24h", "7d", "month")

  /** A range of `kind` ending on a random hour of the table's month. */
  def draw(kind: String, rnd: SplittableRandom): TimeRange = {
    val hours = kind match { case "6h" => 6; case "24h" => 24; case "7d" => 168; case _ => 0 }
    if (hours == 0) TimeRange(kind, Generator.TableFrom, Generator.TableTo)
    else {
      val span = java.time.Duration.between(Generator.TableFrom, Generator.TableTo).toHours.toInt
      val to = Generator.TableFrom.plusHours(hours + rnd.nextInt(span - hours + 1).toLong)
      TimeRange(kind, to.minusHours(hours.toLong), to)
    }
  }
}

/** The 15 reference-parity panels, called through `EventsQueries` with
  * the refresh's time range. `ev_business_kpis` gets the range as its
  * current period and the same length before it as its previous one. */
object Panels {
  type Panel = (SparkSession, String, TimeRange) => DataFrame
  import EventsQueries._
  private def b(r: TimeRange) = (Some(r.fromS), Some(r.toS))

  val all: Seq[(String, Panel)] = Seq(
    "ev_hourly_metrics" -> ((s, d, r) => { val (f, t) = b(r); hourlyMetrics(s, d, f, t) }),
    "ev_rolling_24h" -> ((s, d, r) => { val (f, t) = b(r); rolling24h(s, d, f, t) }),
    "ev_daily_summary" -> ((s, d, r) => { val (f, t) = b(r); dailySummary(s, d, f, t) }),
    "ev_customer_view" -> ((s, d, r) => { val (f, t) = b(r); customerView(s, d, f, t) }),
    "ev_channel_performance" -> ((s, d, r) => { val (f, t) = b(r); channelPerformance(s, d, f, t) }),
    "ev_engagement_funnel" -> ((s, d, r) => { val (f, t) = b(r); engagementFunnel(s, d, f, t) }),
    "ev_customer_activity" -> ((s, d, r) => { val (f, t) = b(r); customerActivity(s, d, f, t) }),
    "ev_cumulative_adoption" -> ((s, d, r) => { val (f, t) = b(r); cumulativeAdoption(s, d, f, t) }),
    "ev_demand_elasticity" -> ((s, d, r) => { val (f, t) = b(r); demandElasticity(s, d, f, t) }),
    "ev_peak_load" -> ((s, d, r) => { val (f, t) = b(r); peakLoad(s, d, f, t) }),
    "ev_business_kpis" -> ((s, d, r) => businessKpis(s, d, r.prevFromS, r.fromS, r.toS)),
    "ev_dynamic_pricing" -> ((s, d, r) => { val (f, t) = b(r); dynamicPricing(s, d, f, t) }),
    "ev_ab_framework" -> ((s, d, r) => { val (f, t) = b(r); abFramework(s, d, f, t) }),
    "ev_validation_summary" -> ((s, d, r) => { val (f, t) = b(r); validationSummary(s, d, f, t) }),
    "ev_total_error_value" -> ((s, d, r) => { val (f, t) = b(r); totalErrorValue(s, d, f, t) }))
}

/** `dashboard`: closed-loop viewers refresh the 15 panels over the
  * generated `events` table; the stream is not running. */
final class DashboardRun(spark: SparkSession, cfg: RunConfig, tracer: Tracer,
    engine: EngineListener, res: Workloads.Result) {
  import Workloads._

  private val dir = cfg.dir.resolve("table").toString
  private val failedReads = new AtomicLong

  def run(): Unit = {
    spark.sparkContext.setLocalProperty(EngineListener.RoleKey, "setup")
    // the file index and footer of the table, as each panel's first
    // step builds it
    val loads = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.load(spark, dir, "events").schema
      ms(System.nanoTime() - t0)
    }
    res.metrics("tables.load_ms") = Stats.p50(loads)
    // warm-up: every panel once over a narrow range
    val warm = TimeRange.draw("24h", new SplittableRandom(cfg.seed))
    inParallel(Panels.all) { case (_, p) => p(spark, dir, warm).collect() }
    val readyMs = System.currentTimeMillis()
    res.metrics("setup_s") = (readyMs - cfg.launchMs) / 1000.0

    val gc0 = Host.gcMs()
    val cpu0 = Host.cpuTicks()
    val root = tracer.newId()
    val wlStart = tracer.nowNs()
    val lat = new Latencies
    val build = new Latencies
    val endMs = readyMs + (cfg.seconds * 1000).toLong
    val reads = new AtomicLong
    val pool = Executors.newFixedThreadPool(Viewers)
    val jobs = (0 until Viewers).map(v =>
      pool.submit[Unit](() => viewer(v, endMs, lat, build, reads, root)))
    jobs.foreach(_.get())
    val doneMs = System.currentTimeMillis()
    pool.shutdown()
    hostMetrics(res, gc0, cpu0)
    tracer.record("workload", 0L, root, wlStart, tracer.nowNs(), id = root)

    val all = lat.all.map(_._2)
    res.attempted += reads.get
    res.failed += failedReads.get
    res.metrics("read_p50_ms") = Stats.p50(all)
    val (tail, q) = Stats.tail(all)
    res.metrics("read_p95_ms") = tail
    res.info("read_tail_quantile") = q
    res.metrics("read_samples") = all.size.toDouble
    // closed-loop throughput by Little's law, viewers over the mean read
    // time of the complete refreshes: the same panel mix in every run,
    // where a count of reads in the window swings with which panels the
    // window happens to cut
    res.metrics("reads_per_s") =
      if (all.isEmpty) 0.0 else Viewers / (all.sum / all.size / 1000.0)
    Panels.all.foreach { case (name, _) =>
      res.metrics(s"panel.$name.p50_ms") = Stats.p50(lat.of(name))
    }
    res.metrics("panel.build_ms_p50") = Stats.p50(build.of("build"))
    res.metrics("panel.collect_ms_p50") = Stats.p50(build.of("collect"))
    engineMetrics(res, engine, spark, reads.get)
    res.info("measured_s") = (doneMs - readyMs) / 1000.0
    dumpForOracle()
  }

  /** One viewer: refresh after refresh until `endMs`. Its first refresh
    * always completes; a later one is cut at `endMs`. Latencies count
    * from complete refreshes only, so every run reads the same mix of
    * panels. Even viewers take the range kinds widest first, odd ones
    * narrowest first, so the month and the last 6 h are both read in
    * every run; the seed picks where each range ends. */
  private def viewer(v: Int, endMs: Long, lat: Latencies, build: Latencies,
      reads: AtomicLong, root: Long): Unit = {
    spark.sparkContext.setLocalProperty(EngineListener.RoleKey, "read")
    val rnd = new SplittableRandom(cfg.seed * 1000 + v)
    val kinds = if (v % 2 == 0) TimeRange.Kinds.reverse else TimeRange.Kinds
    var done = 0
    def open = done == 0 || System.currentTimeMillis() < endMs
    while (open) {
      val range = TimeRange.draw(kinds(done % kinds.size), rnd)
      val trace = tracer.newId()
      val refreshLat = new Latencies
      val refreshBuild = new Latencies
      tracer.span("refresh", root, trace) { refresh =>
        Panels.all.iterator.takeWhile(_ => open).foreach { case (name, panel) =>
          val t0 = System.nanoTime()
          try tracer.span("panel", refresh, trace) { id =>
            val df = tracer.span("build", id, trace) { _ => panel(spark, dir, range) }
            val t1 = System.nanoTime()
            tracer.span("collect", id, trace) { _ => df.collect() }
            refreshBuild.add("build", ms(t1 - t0))
            refreshBuild.add("collect", ms(System.nanoTime() - t1))
          } catch {
            case NonFatal(_) => failedReads.incrementAndGet()
          }
          refreshLat.add(name, ms(System.nanoTime() - t0))
          reads.incrementAndGet()
        }
      }
      if (refreshLat.all.size == Panels.all.size) {
        refreshLat.all.foreach { case (k, x) => lat.add(k, x) }
        refreshBuild.all.foreach { case (k, x) => build.add(k, x) }
      }
      done += 1
    }
  }

  /** `f` over `xs` on as many threads as there are cores. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(cfg.cores)
    try xs.map(x => pool.submit[B](() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** Render each panel once more, outside the timed section, on a
    * seeded range (the kinds in turn), and write the rows for the
    * oracle comparison the runner makes. */
  private def dumpForOracle(): Unit = {
    val rnd = new SplittableRandom(cfg.seed + 7)
    val ranges = Panels.all.indices.map(i => TimeRange.draw(TimeRange.Kinds(i % TimeRange.Kinds.size), rnd))
    val panels = inParallel(Panels.all.zip(ranges)) { case ((name, panel), range) =>
      val df = panel(spark, dir, range)
      val rows = df.collect().map(r => r.toSeq.map {
        case t: java.sql.Timestamp => t.getTime * 1000
        case x => x
      })
      Out.obj("name" -> name, "from" -> range.fromS, "to" -> range.toS,
        "prev_from" -> range.prevFromS, "sql" -> graft.SparkEntry.oracleSql(name),
        "columns" -> df.columns.toSeq, "rows" -> rows.toSeq)
    }
    Out.write(cfg.dir.resolve("panels.json"), Out.value(panels))
  }
}
