package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero,
  * after writing oracle_sql.json, when any entry throws. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: regex over query names, for fast local iteration on
    // a subset (the driver always runs the full catalog with 2 args)
    val nameFilter = args.lift(2).map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(s"local[$cpus]", cpus.toInt, appName = "graft-verify")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // enable the oracle-aux exports (graft.util.OracleAux): the multimodal
    // entries materialize their deterministic fingerprint frames for the
    // DuckDB side to brute-force-recompute the downstream math against —
    // Verify-only, so bench/spec invocations pay nothing
    System.setProperty(graft.util.OracleAux.EnableProp, "1")
    val failed = try run(spark, sfDir, outDir, nameFilter) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} entries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write each entry `nameFilter` selects to `outDir/<name>` and the
    * oracle SQL to `outDir/oracle_sql.json`; returns the names of the
    * entries that threw, sorted. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      nameFilter: Option[scala.util.matching.Regex]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    // run the catalog 4 queries at a time: Spark's scheduler interleaves the
    // jobs across the local cores, roughly halving gate wall-clock (queries
    // are concurrency-safe — any temp views are query-scoped)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        nameFilter.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        // an entry that throws leaves no output behind, never an earlier
        // run's rows for the oracle compare to pass on
        graft.util.LocalFs.deleteRecursively(s"$outDir/$name")
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    }
    val failed = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf).flatten.sorted
    finally pool.shutdown()
    // JSON string escape (shared helper): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = graft.util.Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
