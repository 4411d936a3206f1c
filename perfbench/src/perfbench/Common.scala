package perfbench

/** Order-independent digest of a multiset of rows: count, wrapping sum and
  * xor of one 64-bit mix per row. Two multisets that differ in any row
  * differ here with overwhelming probability, whatever order the rows
  * arrive in, so a partitioned sink and a sequential model can be
  * compared without sorting. */
final case class Checksum(n: Long, sum: Long, xor: Long) {
  def +(o: Checksum): Checksum = Checksum(n + o.n, sum + o.sum, xor ^ o.xor)
  def add(h: Long): Checksum = Checksum(n + 1, sum + h, xor ^ h)
}

object Checksum {
  val Empty: Checksum = Checksum(0L, 0L, 0L)

  /** SplitMix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def of(fields: Long*): Long = fields.foldLeft(0x5DEECE66DL)((h, f) => mix(h ^ f))

  def str(s: String): Long = s.foldLeft(0xCBF29CE484222325L)((h, c) => (h ^ c) * 0x100000001B3L)
}

/** Streaming digest over a generated feed: the same bytes in, the same
  * hex out, so a result records exactly which inputs it measured. */
final class FeedDigest {
  private var h = 0x6A09E667F3BCC908L
  private var n = 0L
  def add(fields: Long*): Unit = { fields.foreach(f => h = Checksum.mix(h ^ f)); n += 1 }
  def hex: String = f"$h%016x-$n"
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer; the benchmark emits only numbers, strings,
  * booleans and nested objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
