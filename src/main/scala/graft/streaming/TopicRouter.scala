package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Dynamic camera→topic routing — the reference's scaler watch→reconcile
  * loop (TopicScaler.java:97-183 `reconcileAssignments`/`applyAssignments`,
  * TopicAssignmentManager.java:115-147 producer-side live re-route) without
  * ZooKeeper: the camera registry is driver-side state updated from each
  * micro-batch's observed camera set, and every batch is routed with the
  * assignments CURRENT at that batch — a new camera re-routes the fleet on
  * its first frame, no restart.
  *
  * Assignment math is identical to the reference: live cameras sorted, topic
  * count = max(minTopics, ceil(n / maxPerTopic)), camera at sorted index i →
  * topic min(required-1, i / maxPerTopic), named `video-events-{n}`; a
  * camera that disappears is dropped from the registry and the remainder
  * re-packs into (possibly fewer) topics.
  *
  * Scale notes: the registry is one entry per CAMERA (dim-sized — this is
  * exactly the state ZK held for the reference), observed via a per-batch
  * distinct on the key column (a narrow agg over the batch); the
  * assignment map ships to executors as a literal map expression, never a
  * shuffle. Expiry of dead cameras is the caller's policy ([[expire]] by
  * last-seen age, or explicit [[remove]]).
  */
final class TopicRouter(
    val maxPerTopic: Int = 2,
    val minTopics: Int = 1,
    val baseTopic: String = "video-events") extends Serializable {
  require(maxPerTopic >= 1 && minTopics >= 1)

  // camId → last-seen epoch millis (TreeMap keeps the sorted order the
  // reference gets from Collections.sort(cameras))
  private val seen = new java.util.TreeMap[String, Long]()

  def observe(cams: Iterable[String], atMillis: Long = System.currentTimeMillis()): Unit =
    synchronized { cams.foreach(seen.put(_, atMillis)) }

  /** Camera disappeared (the reference's CHILD_REMOVED → reconcile). */
  def remove(cams: Iterable[String]): Unit =
    synchronized { cams.foreach(seen.remove) }

  /** Drop cameras not seen for `maxIdleMillis` (ephemeral-node timeout
    * analog). Returns the expired ids.
    */
  def expire(maxIdleMillis: Long, nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    synchronized {
      import scala.jdk.CollectionConverters._
      val dead = seen.asScala.collect {
        case (cam, t) if nowMillis - t > maxIdleMillis => cam
      }.toSeq
      dead.foreach(seen.remove)
      dead
    }

  def liveCameras: Seq[String] = synchronized {
    import scala.jdk.CollectionConverters._
    seen.keySet.asScala.toSeq
  }

  /** Current camera→topic assignment (TopicScaler.applyAssignments). */
  def assignments: Map[String, String] = synchronized {
    val cams = liveCameras
    val required = math.max(minTopics,
      math.ceil(cams.size.toDouble / maxPerTopic).toInt)
    cams.zipWithIndex.map { case (cam, i) =>
      cam -> s"$baseTopic-${math.min(required - 1, i / maxPerTopic)}"
    }.toMap
  }

  /** Route a (batch) DataFrame: observe its cameras, then add a `topic`
    * column from the assignments current AFTER that observation — so a
    * camera appearing in this very batch is already routed (the reference's
    * producer blocks on its first assignment, TopicAssignmentManager:115).
    */
  def route(batch: DataFrame): DataFrame = {
    val keyCol = "key"
    // null keys can't register (TreeMap natural ordering rejects null, and
    // the reference's ZK path would too) — they fall through to topic 0 via
    // the coalesce below
    val cams = batch.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .distinct().collect().map(_.getString(0))
    observe(cams)
    batch.withColumn("topic", topicColumn(assignments, keyCol))
  }

  /** The routing expression for a given assignment snapshot.
    * try_element_at (not element_at): under ANSI mode a missing non-null
    * key would throw MAP_KEY_DOES_NOT_EXIST. routeStream persists the batch
    * so observe() and the write see the same rows, but a direct route() on
    * an unpersisted non-deterministic frame can surface a key the distinct
    * collect never saw — that key takes the documented topic-0 fallback
    * instead of failing the whole batch. NULL keys land there too.
    */
  private[streaming] def topicColumn(
      asg: Map[String, String], keyCol: String): org.apache.spark.sql.Column = {
    val fallback = s"$baseTopic-0"
    if (asg.isEmpty) lit(fallback)
    else {
      val m = map(asg.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      coalesce(try_element_at(m, col(keyCol)), lit(fallback))
    }
  }
}

object TopicRouter {

  /** Streaming wire-out with live re-routing: per micro-batch, expire
    * cameras idle past `maxIdleMillis` (the ZK ephemeral-node timeout
    * analog — disappeared cameras re-pack the fleet, reference
    * TopicScaler CHILD_REMOVED → reconcile), then re-derive the assignment
    * from the observed camera set and write the routed records partitioned
    * by topic (the offline analog of producing to per-topic Kafka topics;
    * swap the writer body for a kafka sink in deployment).
    */
  def routeStream(
      wire: DataFrame, router: TopicRouter, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxIdleMillis: Long = Long.MaxValue): StreamingQuery =
    wire.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (maxIdleMillis != Long.MaxValue) router.expire(maxIdleMillis): Unit
        // the batch is evaluated twice (distinct-keys collect + the routed
        // write) — persist so the source isn't read/decoded twice per batch
        batch.persist()
        try
          router.route(batch)
            .write.mode("append").partitionBy("topic").parquet(outDir)
        finally batch.unpersist()
      }
      .start()
}
