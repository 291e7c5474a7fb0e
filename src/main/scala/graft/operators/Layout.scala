package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering — the
  * lakehouse write-layout step that makes min/max file skipping work on
  * MORE than one predicate column at once. A table range-partitioned and
  * sorted by the interleaved key keeps every partition's span narrow in
  * BOTH dimensions, so a scan filtered on either column (or both) prunes
  * most partitions by footer stats; a single-column sort gives pruning on
  * that column only. Reference scope: the reference writes row-at-a-time
  * to Cassandra and never controls file layout; this belongs to the
  * 100-TB extension surface next to [[TableCompaction]].
  *
  * Everything is codegen'd column arithmetic — the bit interleave is a
  * fold of shift/mask expressions (no UDF in the write path) — plus ONE
  * bounded stats pass to scale each dimension to [[Bits]]-bit fixed-point.
  */
object Layout {

  /** Fixed-point width of each dimension in the Morton key. */
  private val Bits = 16

  /** Interleave the low `bits` bits of two non-negative long columns
    * (x in even positions, y in odd) — the 2-D Morton key. Pure
    * shift/mask expression fold: stays inside whole-stage codegen.
    */
  def interleaveBits(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Scale a numeric column to `bits`-bit fixed point over [lo, hi]
    * (constant-degenerate ranges collapse to 0 — a constant dimension
    * contributes nothing to the key, which is correct).
    */
  private def scaled(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val span = hi - lo
    if (span <= 0) lit(0L)
    else least(lit((1L << bits) - 1),
      floor((c.cast("double") - lit(lo)) / lit(span) * lit((1L << bits).toDouble))
        .cast("long"))
  }

  private def rangeStats(df: DataFrame, colX: String, colY: String): (Double, Double, Double, Double) = {
    val s = df.agg(
      min(col(colX).cast("double")), max(col(colX).cast("double")),
      min(col(colY).cast("double")), max(col(colY).cast("double"))).head()
    (s.getDouble(0), s.getDouble(1), s.getDouble(2), s.getDouble(3))
  }

  private def zorderWith(df: DataFrame, colX: String, colY: String,
      nParts: Int, stats: (Double, Double, Double, Double)): DataFrame = {
    val (xLo, xHi, yLo, yHi) = stats
    df.withColumn("__zkey",
        interleaveBits(scaled(col(colX), xLo, xHi, Bits), scaled(col(colY), yLo, yHi, Bits), Bits))
      .repartitionByRange(nParts, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }

  /** Z-order `df` on two numeric columns: one min/max stats pass, then
    * repartitionByRange + sortWithinPartitions on the Morton key. This is
    * the layout a writer would `.write.parquet` — returned with the key
    * dropped, rows clustered.
    */
  def zorder(df: DataFrame, colX: String, colY: String,
      nParts: Int): DataFrame =
    zorderWith(df, colX, colY, nParts, rangeStats(df, colX, colY))

  /** Layout-quality audit: per partition of the clustered frame, the span
    * of each dimension as a fraction of its global range — the proxy for
    * "what fraction of files does a point/range predicate on that column
    * have to read". Output: (pid, n, x_lo, x_hi, y_lo, y_hi, x_span_frac,
    * y_span_frac), one row per non-empty partition.
    */
  def zorderAudit(df: DataFrame, colX: String, colY: String,
      nParts: Int): DataFrame = {
    // ONE stats pass shared by the key scaling and the span normalization
    val stats = rangeStats(df, colX, colY)
    val xSpan = math.max(stats._2 - stats._1, Double.MinPositiveValue)
    val ySpan = math.max(stats._4 - stats._3, Double.MinPositiveValue)
    zorderWith(df, colX, colY, nParts, stats)
      .select(spark_partition_id().cast("long").as("pid"),
        col(colX).cast("double").as("x"), col(colY).cast("double").as("y"))
      .groupBy("pid")
      .agg(
        count(lit(1)).as("n"),
        min("x").as("x_lo"), max("x").as("x_hi"),
        min("y").as("y_lo"), max("y").as("y_hi"))
      .withColumn("x_span_frac", round((col("x_hi") - col("x_lo")) / lit(xSpan), 6))
      .withColumn("y_span_frac", round((col("y_hi") - col("y_lo")) / lit(ySpan), 6))
  }
}
