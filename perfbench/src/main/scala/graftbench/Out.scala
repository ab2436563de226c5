package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal JSON output and input for the benchmark's own files. */
object Out {

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => graft.util.Json.quote(s)
    case d: Double if d.isNaN => "NaN"
    case d: Double if d.isInfinite => if (d > 0) "Infinity" else "-Infinity"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.util.Json.quote(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case raw: Raw => raw.json
    case other => graft.util.Json.quote(other.toString)
  }

  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => graft.util.Json.quote(k) + ":" + value(v) }
      .mkString("{", ",", "}"))

  def write(p: Path, json: String): Unit =
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))

  def read(p: Path): Map[String, Any] =
    org.json4s.jackson.JsonMethods
      .parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .values.asInstanceOf[Map[String, Any]]

  def long(v: Any): Long = v match {
    case b: BigInt => b.toLong
    case n: Number => n.longValue
    case s: String => s.toLong
  }

  def double(v: Any): Double = v match {
    case b: BigInt => b.toDouble
    case n: Number => n.doubleValue
    case s: String => s.toDouble
  }
}
