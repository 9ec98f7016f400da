package perfbench

import scala.collection.mutable

/** Everything one run measured, kept in memory and written once, at the
  * end, as the raw record `run.py` turns into named metrics. The JVM side
  * only times and counts; every statistic (percentiles, geomean, self
  * time, ratios) is computed in `stats.py`, where it is unit-tested. */
final class Recorder {
  /** One closed-loop operation. `kind` groups operations that repeat the
    * same work (a query key, a read type, a cycle); traced ops are paired
    * with untraced ops of the same kind to measure the tracing overhead. */
  final case class Op(kind: String, ms: Double, ok: Boolean, traced: Boolean)

  val ops = mutable.ArrayBuffer.empty[Op]
  /** Repeated measurements; run.py reports their median. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Single values (sums, counts, ratios), reported as they are. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Per-operation Spark execution figures of the traced ops. */
  val exec = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** What each query_mix key returned, (rows, hash), in the layout of
    * query_mix_expected.json: a maintainer who changes a key's output on
    * purpose copies it from the raw record into that file. */
  val observed = mutable.LinkedHashMap.empty[String, Any]
  /** Spans of the traced run: (id, parent, layer, name, start ms, end ms, extra). */
  val spans = mutable.ArrayBuffer.empty[Seq[Any]]

  /** Off during warm-up: operations run and are checked, but not counted. */
  var recording = true

  def sample(name: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit =
    if (recording) values(name) = values.getOrElse(name, 0.0) + v
  def set(name: String, v: Double): Unit = values(name) = v

  def fail(what: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED: $what")
    failures += what
  }

  /** Records a failed check and returns the outcome, so an operation's
    * `ok` is the conjunction of its checks. */
  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) fail(what)
    cond
  }

  def toJson: String = Json.write(Json.Obj(Seq(
    "info" -> Json.Obj(info.toSeq),
    "ops" -> ops.toSeq.map(o => Seq(o.kind, o.ms, o.ok, o.traced)),
    "samples" -> Json.Obj(samples.toSeq.map { case (k, v) => k -> v.toSeq }),
    "values" -> Json.Obj(values.toSeq),
    "failures" -> failures.toSeq,
    "observed" -> Json.Obj(observed.toSeq.map {
      case (k, (n: Long, h: Long)) => k -> Seq(n, h)
      case kv => kv
    }),
    "exec" -> exec.toSeq.map(m => Json.Obj(m.toSeq)),
    "spans" -> spans.toSeq)))
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def s(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and returns its result with its wall time in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }
}

/** Minimal JSON writer for the raw record: strings, numbers, booleans,
  * sequences, and [[Json.Obj]] for objects. */
object Json {
  final case class Obj(kvs: Seq[(String, Any)])

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(kvs) => kvs.map { case (k, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
