package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.commons.math3.distribution.ZipfDistribution
import org.apache.commons.math3.random.Well19937c

/** Seeded input generator: the reference-shaped JSONL envelopes the
  * stream ingests and the `events` parquet table the panels read.
  *
  * The same seed gives the same inputs. The generator tallies what it
  * wrote — lines per dead-letter reason, valid events, and events past
  * the 24 h watermark — so the checks can compare the pipeline's
  * outputs against it.
  */
object Generator {

  /** Every dead-letter reason `EventsPipeline.parseAndValidate` emits. */
  val Reasons: Seq[String] = Seq("malformed_json", "missing_required_keys",
    "empty_event_type", "unknown_event_type", "invalid_event_time",
    "missing_payload_fields")

  /** Event-time origin of the envelope stream. */
  val StreamStartMs: Long = Instant.parse("2025-06-01T00:00:00Z").toEpochMilli

  private val HourMs = 3600L * 1000
  private val Types = Seq("user_login", "user_logout", "view_tariffs",
    "tariff_switch", "incentive_claim", "energy_consumed", "bill_payment")
  private val Channels = Seq("web_portal", "mobile_app", "call_center")
  private val TimeFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** What a run of the generator wrote, summed over files. */
  final class Tally {
    val reasons: mutable.Map[String, Long] =
      mutable.LinkedHashMap(Reasons.map(_ -> 0L): _*)
    var valid = 0L
    var late = 0L
    var lines = 0L
    var files = 0L
    def add(o: Tally): Unit = {
      o.reasons.foreach { case (k, v) => reasons(k) += v }
      valid += o.valid; late += o.late; lines += o.lines; files += o.files
    }
    def invalid: Long = reasons.values.sum
    def toJson: String = Out.obj(
      "valid" -> valid, "late" -> late, "lines" -> lines, "files" -> files,
      "reasons" -> Out.obj(reasons.toSeq.map { case (k, v) => k -> (v: Any) }: _*)).json
  }

  object Tally {
    def fromJson(m: Map[String, Any]): Tally = {
      val t = new Tally
      t.valid = Out.long(m("valid")); t.late = Out.long(m("late"))
      t.lines = Out.long(m("lines")); t.files = Out.long(m("files"))
      m("reasons").asInstanceOf[Map[String, Any]]
        .foreach { case (k, v) => t.reasons(k) = Out.long(v) }
      t
    }
  }

  /** Envelope stream: each call to [[next]] yields one file's lines.
    *
    * Event time advances by `etStepMs` per file, so hour windows close
    * and the state store evicts them during a run. Customer ids are
    * Zipf-skewed over `customers` keys. About 10% of events are out of
    * order by up to 20 h (inside the watermark), about 2% of lines are
    * invalid, spread over every dead-letter reason, and `lateEvery`
    * sets how often a file carries one event past the watermark.
    */
  final class Envelopes(seed: Long, customers: Int, startEtMs: Long,
      lateEvery: Int) {
    private val rnd = new SplittableRandom(seed)
    private val zipf = new ZipfDistribution(new Well19937c(seed), customers, 1.1)
    private var etMs = startEtMs
    private var fileNo = 0L
    // each event past the watermark lands in its own hour, between 31
    // and 2 days before the stream's origin: every batch after the
    // warm-up batch has a watermark above all of them, and distinct
    // hours keep the engine's dropped-row count equal to the event
    // count (partial aggregation cannot merge two of them)
    private val lateHours: Iterator[Long] = {
      val r = new java.util.Random(seed ^ 0x5DEECE66DL)
      val hours = (48L until 31L * 24).map(h => StreamStartMs - h * HourMs).toArray
      for (i <- hours.indices.reverse) {
        val j = r.nextInt(i + 1); val t = hours(i); hours(i) = hours(j); hours(j) = t
      }
      hours.iterator
    }

    def next(n: Int, etStepMs: Long): (Array[String], Tally) = {
      val t = new Tally
      t.files = 1
      val base = etMs
      etMs += etStepMs
      fileNo += 1
      val lines = new Array[String](n + (if (lateEvery > 0 && fileNo % lateEvery == 0 && lateHours.hasNext) 1 else 0))
      for (j <- 0 until n) {
        var ts = base + (etStepMs * (j + 1)) / n
        if (rnd.nextInt(10) == 0) ts -= rnd.nextLong(20 * HourMs)
        lines(j) =
          if (rnd.nextInt(50) == 0) {
            val r = Reasons(rnd.nextInt(Reasons.size))
            t.reasons(r) += 1
            invalid(r, ts)
          } else { t.valid += 1; valid(ts) }
      }
      if (lines.length > n) {
        val ts = lateHours.next() + rnd.nextLong(HourMs)
        lines(n) = valid(ts)
        t.valid += 1; t.late += 1
      }
      t.lines = lines.length
      (lines, t)
    }

    private def time(ms: Long): String =
      LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L),
        (Math.floorMod(ms, 1000L) * 1000000 + rnd.nextInt(1000) * 1000).toInt,
        ZoneOffset.UTC).format(TimeFmt)

    private def money(): String = {
      val v = f"${rnd.nextDouble() * 200}%.2f"
      rnd.nextInt(20) match {
        case 0 => "\"" + v + "\"" // numerics may arrive as strings
        case 1 => "-" + v // negative: nulled on the raw path, skipped in the aggregate
        case _ => v
      }
    }

    private def payload(tpe: String, drop: Boolean): String = {
      val cust = "CUST" + zipf.sample()
      val fields = mutable.ArrayBuffer(
        s""""customer_id": "$cust"""",
        s""""session_id": ${rnd.nextInt(1000000)}""",
        s""""channel": "${Channels(rnd.nextInt(Channels.size))}"""")
      tpe match {
        case "view_tariffs" | "tariff_switch" | "incentive_claim" =>
          fields += s""""tariff_type": "${if (rnd.nextInt(3) == 0) "green" else "standard"}""""
        case _ =>
      }
      tpe match {
        case "tariff_switch" | "incentive_claim" | "bill_payment" =>
          fields += s""""payment_amount": ${money()}"""
        case "energy_consumed" => fields += s""""energy_consumed": ${money()}"""
        case _ =>
      }
      if (drop) fields.remove(2) // `channel` is required for every type
      fields.mkString("{", ", ", "}")
    }

    private def valid(ts: Long): String = {
      val tpe = Types(rnd.nextInt(Types.size))
      s"""{"event_type": "$tpe", "event_time": "${time(ts)}", "payload": ${payload(tpe, drop = false)}}"""
    }

    private def invalid(reason: String, ts: Long): String = {
      val tpe = Types(rnd.nextInt(Types.size))
      reason match {
        case "malformed_json" => valid(ts).dropRight(7)
        case "missing_required_keys" =>
          s"""{"event_type": "$tpe", "event_time": "${time(ts)}"}"""
        case "empty_event_type" =>
          s"""{"event_type": "  ", "event_time": "${time(ts)}", "payload": ${payload(tpe, drop = false)}}"""
        case "unknown_event_type" =>
          s"""{"event_type": "meter_reboot", "event_time": "${time(ts)}", "payload": ${payload(tpe, drop = false)}}"""
        case "invalid_event_time" =>
          s"""{"event_type": "$tpe", "event_time": "not-a-time", "payload": ${payload(tpe, drop = false)}}"""
        case "missing_payload_fields" =>
          s"""{"event_type": "$tpe", "event_time": "${time(ts)}", "payload": ${payload(tpe, drop = true)}}"""
      }
    }
  }

  def writeFile(dir: Path, name: String, lines: Array[String]): Path =
    Files.write(dir.resolve(name),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

  /** Publish a staged file into the stream's input directory: stamp it
    * with `mtimeMs`, then rename it in, so a listing never sees a partial
    * file. The file source takes files in modification-time order, so
    * files published together get distinct, increasing stamps: a batch
    * then never holds a file older than one an earlier batch held, and
    * the out-of-order events stay inside the watermark. */
  def publish(staged: Path, dir: Path, mtimeMs: Long): Path = {
    Files.setLastModifiedTime(staged, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    Files.move(staged, dir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  def fileName(phase: String, i: Long): String = f"$phase-$i%06d.jsonl"

  // ---------------------------------------------------------------------
  // the `events` table the dashboard panels read
  // ---------------------------------------------------------------------

  val TableFrom: LocalDateTime = LocalDateTime.parse("2024-01-01T00:00:00")
  val TableTo: LocalDateTime = LocalDateTime.parse("2024-02-01T00:00:00")

  /** `rows` events over January 2024 in time order, `users` Zipf-skewed
    * user ids, five event types, as one parquet file with micro-precision
    * timestamps and row groups small enough that narrow time ranges skip
    * most of the file. */
  def writeEventsTable(seed: Long, rows: Int, users: Int, file: Path): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser

    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(MICROS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val rnd = new SplittableRandom(seed)
    val zipf = new ZipfDistribution(new Well19937c(seed), users, 1.05)
    val fromUs = TableFrom.toEpochSecond(ZoneOffset.UTC) * 1000000L
    val spanUs = (TableTo.toEpochSecond(ZoneOffset.UTC) - TableFrom.toEpochSecond(ZoneOffset.UTC)) * 1000000L
    val ts = Array.fill(rows)(fromUs + rnd.nextLong(spanUs))
    java.util.Arrays.sort(ts)
    val types = Array("signup", "view", "click", "purchase", "error")
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new HPath(file.toUri))
      .withConf(new Configuration())
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(4L * 1024 * 1024)
      .build()
    try {
      var i = 0
      while (i < rows) {
        val g = factory.newGroup()
          .append("event_id", i.toLong)
          .append("ts", ts(i))
          .append("user_id", zipf.sample().toLong)
          .append("event_type", types(rnd.nextInt(types.length)))
          .append("value", Math.round(-Math.log(1 - rnd.nextDouble()) * 5000) / 100.0)
          .append("props", s"""{"k": ${rnd.nextInt(100)}}""")
        writer.write(g)
        i += 1
      }
    } finally writer.close()
  }
}
