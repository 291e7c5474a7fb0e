package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * verify_status.json (each entry's outcome) and oracle_sql.json, for the
  * DuckDB compare in tools/verify_local.py. Exits non-zero, after writing
  * both files, when any entry throws. */
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

  /** One entry's record in `verify_status.json`: "ok" with the rows it
    * wrote, or "failed" with its error class (a Spark error condition, else
    * the exception's class name). */
  private final case class Status(status: String, rows: Long, wallS: Double, errorClass: Option[String])

  /** Write each entry `nameFilter` selects to `outDir/<name>`, its record to
    * `outDir/verify_status.json` and the oracle SQL to
    * `outDir/oracle_sql.json`; returns the names of the entries that threw,
    * sorted. */
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
        val t0 = System.nanoTime()
        def wall = (System.nanoTime() - t0) / 1e9
        try {
          // the row count rides the write as an observed metric: no extra job
          val rows = org.apache.spark.sql.Observation(s"verify-$name")
          fn(spark, sfDir).observe(rows, count(lit(1)).as("rows"))
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          name -> Status("ok", rows.get("rows").asInstanceOf[Long], wall, None)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val cls = e match {
            case st: org.apache.spark.SparkThrowable if st.getCondition != null => st.getCondition
            case _ => e.getClass.getName
          }
          name -> Status("failed", 0L, wall, Some(cls))
        }
      }
    }
    val statuses = try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf).sortBy(_._1)
    finally pool.shutdown()
    // JSON string escape (shared helper): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = graft.util.Json.quote(s)
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statuses.map {
      case (k, st) =>
        s"""${q(k)}: {"status": ${q(st.status)}, "rows": ${st.rows}, """ +
          s""""wall_s": ${"%.3f".formatLocal(java.util.Locale.ROOT, st.wallS)}, """ +
          s""""error_class": ${st.errorClass.map(q).getOrElse("null")}}"""
    }.mkString("{\n", ",\n", "\n}\n"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    statuses.collect { case (k, st) if st.status == "failed" => k }
  }
}
