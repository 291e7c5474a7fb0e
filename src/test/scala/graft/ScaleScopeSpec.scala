package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sibling-session contract: a cached sibling mirrors the caller's
  * CURRENT runtime conf plus its overrides, `forRows` sizes the shuffle
  * partitioning from the row count, and every operator that iterates in a
  * sibling hands its result back bound to the caller.
  */
class ScaleScopeSpec extends AnyFunSuite with SparkTestSession {

  private val Parts = "spark.sql.shuffle.partitions"
  private val Tz = "spark.sql.session.timeZone"

  /** Run `body` with `key` set on the shared test session, restoring it
    * after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the sibling carries the caller's runtime conf plus the overrides, " +
      "and later caller changes reach the cached sibling on the next call") {
    val callerParts = spark.conf.get(Parts)
    withConf(Tz, "+05:00") {
      val sib = ScaleScope.sibling(spark, Parts -> "3")
      assert(sib ne spark)
      assert(sib.conf.get(Tz) == "+05:00")
      assert(sib.conf.get(Parts) == "3")
      assert(spark.conf.get(Parts) == callerParts,
        "the override must not leak to the caller")

      spark.conf.set(Tz, "-02:00")
      val probe = "spark.graft.scalescope.probe"
      spark.conf.set(probe, "on")
      val again = ScaleScope.sibling(spark, Parts -> "3")
      assert(again eq sib)
      assert(again.conf.get(Tz) == "-02:00")
      assert(again.conf.getOption(probe).contains("on"))
      assert(again.conf.get(Parts) == "3")

      spark.conf.unset(probe)
      assert(ScaleScope.sibling(spark, Parts -> "3").conf.getOption(probe).isEmpty,
        "a key unset on the caller must leave the sibling too")
    }
  }

  test("one sibling per (caller, overrides), also under concurrent first calls") {
    val a = ScaleScope.sibling(spark, Parts -> "2")
    assert(ScaleScope.sibling(spark, Parts -> "2") eq a)
    assert(ScaleScope.sibling(spark, Parts -> "5") ne a)
    assert(ScaleScope.sibling(spark, Parts -> "2",
      "spark.sql.adaptive.enabled" -> "false") ne a)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val start = new java.util.concurrent.CountDownLatch(1)
      val fs = (1 to 4).map { _ =>
        Future {
          start.await()
          ScaleScope.sibling(spark, "spark.graft.scalescope.race" -> "1")
        }
      }
      start.countDown()
      val got = Await.result(Future.sequence(fs), 1.minute)
      assert(got.forall(_ eq got.head), "concurrent first calls must share one sibling")
    } finally pool.shutdown()
  }

  test("forRows keeps the caller at or above its partitioning and derives " +
      "ceil(rows / rowsPerPartition), at least 1, below it") {
    val caller = ScaleScope.sibling(spark, Parts -> "4")
    assert(ScaleScope.forRows(caller, 400, 100) eq caller)
    assert(ScaleScope.forRows(caller, 1000, 100) eq caller)
    assert(ScaleScope.forRows(caller, 301, 100) eq caller)
    assert(ScaleScope.forRows(caller, 250, 100).conf.get(Parts) == "3")
    assert(ScaleScope.forRows(caller, 100, 100).conf.get(Parts) == "1")
    assert(ScaleScope.forRows(caller, 1, 100).conf.get(Parts) == "1")
    assert(ScaleScope.forRows(caller, 0, 100).conf.get(Parts) == "1")
    assert(ScaleScope.forRows(caller, 250, 100) eq
      ScaleScope.sibling(caller, Parts -> "3"))
  }

  test("bind is the identity within one session and re-binds across sessions") {
    val df = spark.range(5).toDF("id")
    assert(ScaleScope.bind(spark, df) eq df)
    val sib = ScaleScope.sibling(spark, Parts -> "2")
    val moved = ScaleScope.bind(sib, df)
    assert(moved.sparkSession eq sib)
    assert(moved.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }

  test("clusterPairs, pageRank, hits and triangleStats return frames bound " +
      "to a 32-partition caller, not to the sibling they iterate in") {
    import graft.operators.{Centrality, Dedup}
    val caller = ScaleScope.sibling(spark, Parts -> "32")
    // a few edges: far below both operators' rows-per-partition targets,
    // so each iterates in a 1-partition sibling
    assert(ScaleScope.forRows(caller, 8, 1L << 16) ne caller)
    val pairs = caller.createDataFrame(Seq((1L, 2L), (2L, 3L), (7L, 8L)))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.clusterPairs(pairs)
    assert(clusters.sparkSession eq caller)
    assert(clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))

    val edges = caller.createDataFrame(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))).toDF("src", "dst")
    val pr = Centrality.pageRank(edges)
    assert(pr.sparkSession eq caller)
    assert(pr.count() == 3)
    val hubs = Centrality.hits(edges)
    assert(hubs.sparkSession eq caller)
    assert(hubs.count() == 3)
    val tri = Centrality.triangleStats(edges)
    assert(tri.sparkSession eq caller)
    assert(tri.filter("triangles = 1").count() == 3)
  }
}
