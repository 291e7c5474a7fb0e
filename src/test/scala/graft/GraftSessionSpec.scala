package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession.driverListing]]: a file-stream batch of more files than
  * Spark's parallel-discovery threshold (32) is listed on the driver, not
  * by a "Listing leaf files and directories" job. */
class GraftSessionSpec extends AnyFunSuite with SparkTestSession {

  /** Descriptions of every job `body` starts. Listener events arrive
    * asynchronously and in order, so a marker job run after `body` is
    * seen last. */
  private def jobDescriptions(s: SparkSession)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = s"graft-marker-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    s.sparkContext.addSparkListener(listener)
    try {
      body
      s.sparkContext.setJobDescription(marker)
      try s.sparkContext.parallelize(Seq(1), 1).count()
      finally s.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "the listener never saw the marker job")
    } finally s.sparkContext.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).toSeq.filter(_ != marker)
  }

  /** Drain 40 staged JSON-lines files with one AvailableNow query. */
  private def drain(s: SparkSession, in: String, ckpt: String): Long = {
    val rows = new java.util.concurrent.atomic.AtomicLong
    s.readStream.schema("value STRING").text(in).writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.addAndGet(b.count()): Unit)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    rows.get
  }

  test("a file-stream drain over 40 files runs no listing job under GraftSession's settings; Spark's default runs one") {
    ScratchDir.withDir("driver-listing") { base =>
      val in = Paths.get(base, "in")
      Files.createDirectories(in)
      (0 until 40).foreach(i =>
        Files.writeString(in.resolve(f"round-$i%05d.json"), s"""{"i":$i}\n"""))
      val listing = (d: String) => d.startsWith("Listing leaf files and directories")

      val stock = spark.newSession()
      val stockJobs = jobDescriptions(stock)(
        assert(drain(stock, in.toString, s"$base/ckpt-stock") == 40))
      assert(stockJobs.exists(listing),
        s"Spark's default threshold must list 40 files in a job: $stockJobs")

      val graft = spark.newSession()
      graft.conf.set(GraftSession.driverListing._1, GraftSession.driverListing._2)
      val graftJobs = jobDescriptions(graft)(
        assert(drain(graft, in.toString, s"$base/ckpt-graft") == 40))
      assert(!graftJobs.exists(listing), graftJobs)
    }
  }
}
