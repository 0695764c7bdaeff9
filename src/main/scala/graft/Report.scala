package graft

import java.util.Locale
import org.apache.spark.sql.DataFrame

/** The one timer and the one JSON writer behind every number a graft main
  * reports (Bench's metrics line, Verify's `timings.json` and
  * `oracle_sql.json`, Solo, CurateBench, OverheadProbe, StreamBench).
  *
  * Numbers are formatted with `Locale.ROOT`: the JVM's default locale may
  * use a comma decimal separator, which would make the line invalid JSON.
  * A non-finite number is written as the `-1.0` sentinel (NaN and
  * Infinity are not JSON scalars). Strings are escaped so that any text,
  * oracle SQL included, reads back exactly.
  */
object Report {

  /** `body`'s result and its wall seconds. */
  def sec[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The fastest of `reps` runs of `body`, in wall seconds. */
  def minSec(reps: Int)(body: => Unit): Double = Seq.fill(reps)(sec(body)._2).min

  /** Runs `df` through the `noop` sink: every projected column is computed
    * (a bare count() would let Catalyst prune them) and nothing is written.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One rendered JSON value; objects keep their fields in the given order. */
  final class Json private[Report] (val text: String) {
    override def toString: String = text
  }

  def str(s: String): Json = new Json(quote(s))
  def int(x: Long): Json = new Json(x.toString)
  def bool(b: Boolean): Json = new Json(b.toString)
  /** Shortest decimal that reads back as `x` (`Double.toString`). */
  def num(x: Double): Json = new Json(if (x.isNaN || x.isInfinite) "-1.0" else x.toString)
  /** `x` with exactly `digits` decimals. */
  def num(x: Double, digits: Int): Json = new Json(
    if (x.isNaN || x.isInfinite) "-1.0"
    else String.format(Locale.ROOT, s"%.${digits}f", Double.box(x)))
  def obj(fields: (String, Json)*): Json =
    new Json(fields.map { case (k, v) => quote(k) + ":" + v.text }.mkString("{", ",", "}"))
  def arr(items: Json*): Json = new Json(items.map(_.text).mkString("[", ",", "]"))

  // quote, backslash and every control character below 0x20
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
}
