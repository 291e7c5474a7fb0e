package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-salting for skewed joins (SURVEY.md §4 "100 TB design").
  *
  * AQE's skew-join splitting handles most cases at runtime; explicit salting
  * is the deterministic fallback when one key dominates so heavily that even
  * split partitions overwhelm a task (e.g. a null-ish sentinel camera or a
  * bot user in `events`).
  *
  * Shape: the probe (big, skewed) side gets a random salt in [0, n); the
  * build side is replicated n× with every salt value; the join key becomes
  * (key, salt), spreading each hot key over n tasks. Correctness is
  * unchanged: every probe row still meets every matching build row exactly
  * once. Cost: build side bytes × n — use on small-to-medium build sides.
  */
object Skew {

  /** The salt's `rand` seed: it keeps runs reproducible. */
  private val Seed = 42L

  /** Inner equi-join `probe.key = build.key` with an `nSalt`-way salt.
    */
  def saltedJoin(
      probe: DataFrame, build: DataFrame, key: String,
      nSalt: Int = 8): DataFrame = {
    require(nSalt > 0)
    val salted = probe.withColumn("__salt", (rand(Seed) * nSalt).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalt - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Skewed aggregation: two-phase count/sum — partial agg on (key, salt),
    * final agg on key. Spark's hash aggregate already does map-side partials;
    * this is for the pathological case where one key's partials themselves
    * overwhelm a single reducer (billions of rows of one key).
    */
  def saltedCount(df: DataFrame, key: String, nSalt: Int = 8): DataFrame =
    df.withColumn("__salt", (rand(Seed) * nSalt).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as("n"))
}
