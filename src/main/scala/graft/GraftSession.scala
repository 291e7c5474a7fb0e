package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended scale configuration.
  *
  * These are the knobs that define the 100 TB envelope (SURVEY.md §4):
  * AQE for runtime re-planning (coalescing + skew-join splitting), shuffle
  * partition count sized to the cluster (32 here = local[32] stand-in; on a
  * real cluster ≈ 2-3× total cores), bounded file-split size so scan tasks
  * fit executor memory, and the RocksDB state store so streaming state
  * (per-camera planes, dedup keys, window buffers) spills off-heap instead
  * of growing the JVM heap.
  *
  * Every session is `local[N]`, so two engine defaults only add fixed cost
  * per micro-batch: listing a file-stream batch's files as a Spark job,
  * and Hadoop's local filesystem forking `chmod`/`readlink` per checkpoint
  * and part file. [[driverListing]] and [[localFileSystem]] remove both.
  */
object GraftSession {

  /** The local filesystem without per-file process starts
    * ([[util.NioLocalFileSystem]]), for `FileSystem` and `FileContext`
    * users alike. The specs' `SparkTestSession` applies the same map. */
  val localFileSystem: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[util.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[util.NioLocalFs].getName)

  /** List every relation's files on the driver. Above the threshold
    * (default 32 paths; a 300-frame drain's batch is 75 files) Spark lists
    * them in a job whose tasks, in a `local[N]` session, make the same
    * stat calls in the same JVM plus a job's scheduling. */
  val driverListing: (String, String) =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString

  def builder(
      master: String = "local[32]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (32 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events table
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config(driverListing._1, driverListing._2)
      .config(localFileSystem)

  def create(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftFunctions.register(spark) // idempotent; covers pre-existing sessions
    functions.MotionSummary.register(spark)
    spark
  }
}
