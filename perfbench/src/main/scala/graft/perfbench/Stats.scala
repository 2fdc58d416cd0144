package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure arithmetic of the benchmark's summaries, kept apart so the
  * self-tests can pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** The tail statistic: the highest whole percentile, p50 or above, that
    * still has at least `beyond` samples ranked above it. Returns (p,
    * value); when no percentile from p50 up qualifies (fewer than
    * 2 x `beyond` samples), the tail is the maximum (p = 100). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val n = xs.size
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100, xs.max)
    }
  }

  /** Total length of the union of [start, end) intervals, each clipped to
    * [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the time its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)

  /** Order-independent content hash of a frame's rows, as aggregate
    * columns for `Dataset.observe`: the row count plus two 32-bit-lane
    * sums of a 64-bit row hash over the columns in name order. Doubles are rounded to 6 decimals first
    * so a summation-order difference in the last bits does not read as a
    * wrong answer. */
  def hashAggs(schema: StructType): Seq[Column] = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _ => c
    }
    // columns in name order, so a reader that restores a table with its
    // columns reordered still hashes the same
    val h = xxhash64(schema.fields.toSeq.sortBy(_.name)
      .map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
    Seq(count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  /** The (rows, hash) of a frame, computed eagerly. The timed path uses
    * the same aggregates through an observation instead. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(hashAggs(df.schema): _*).head()
    digestOf(r.getLong(0), Option(r.get(1)), Option(r.get(2)))
  }

  def digestOf(rows: Long, lo: Option[Any], hi: Option[Any]): (Long, String) =
    (rows, f"${lo.map(_.toString.toLong).getOrElse(0L)}%x:${hi.map(_.toString.toLong).getOrElse(0L)}%x")
}
