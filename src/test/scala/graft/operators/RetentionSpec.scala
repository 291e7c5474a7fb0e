package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** [[Retention.rewriteKeeping]] / [[Retention.expireOlderThan]] — the
  * retention filter over [[TableCompaction.rewrite]] for audit tables:
  * policy semantics, stats, schema/layout preservation, idempotence, and
  * every crash point of the rewrite's journal (its intent marker) driven
  * through the shared crash seam [[TableCompaction.crashingAfter]]. */
class RetentionSpec extends AnyFunSuite with SparkTestSession {

  private def withDir[T](body: String => T): T =
    graft.ScratchDir.withDir("retain")(body)

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rejects(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val day = if (i % 2 == 0) "2026-01-01 00:00:00" else "2026-01-02 00:00:00"
      (i.toLong, s"junk-$i", s"s${i % 3}",
        java.sql.Timestamp.valueOf(day), "too_few_tokens")
    }.toDF("doc_id", "text", "source", "ingest_ts", "reject_reason")
  }

  private def rowsOf(table: String): Seq[Row] =
    spark.read.parquet(table).select("doc_id", "ingest_ts")
      .collect().toSeq.sortBy(_.getLong(0))

  private val day2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")

  private val keepDay2 = col("ingest_ts") >= lit(day2)

  /** Protocol state the rewrite left under `table`: its journal and any
    * staging dir. */
  private def litter(table: String): Seq[String] =
    Option(fs(table).globStatus(new Path(table, ".compact_*")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSeq

  test("expireOlderThan keeps exactly the rows at/after the cutoff, " +
      "schema intact, and reports the counts") {
    withDir { base =>
      val table = s"$base/corpus_rejects"
      for (b <- 0 until 3) // append-cadence shape, several files
        rejects(30).filter(col("doc_id") % 3 === b)
          .coalesce(1).write.mode("append").parquet(table)
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts", day2)
      assert(stats == Retention.RetentionStats(30L, 15L, 15L))
      val left = spark.read.parquet(table)
      assert(left.columns.toSeq == Seq(
        "doc_id", "text", "source", "ingest_ts", "reject_reason"))
      assert(left.count() == 15)
      assert(left.filter(col("ingest_ts") < lit(day2)).count() == 0)
      import spark.implicits._
      assert(left.select("doc_id").as[Long].collect().sorted.toSeq ==
        (0 until 30).filter(_ % 2 == 1).map(_.toLong))
    }
  }

  test("idempotent: re-running the same policy expires nothing and is " +
      "stats-visible as a no-op of the kept size") {
    withDir { base =>
      val table = s"$base/t"
      rejects(20).write.parquet(table)
      Retention.expireOlderThan(spark, table, "ingest_ts", day2): Unit
      val again = Retention.expireOlderThan(spark, table, "ingest_ts", day2)
      assert(again == Retention.RetentionStats(10L, 10L, 0L))
    }
  }

  test("no-op on a missing or never-written table") {
    withDir { base =>
      assert(Retention.expireOlderThan(spark, s"$base/none", "ingest_ts",
        day2) == Retention.RetentionStats(0L, 0L, 0L))
    }
  }

  test("partitioned layout is preserved when partitionBy restates it") {
    withDir { base =>
      val table = s"$base/t"
      rejects(30).write.partitionBy("source").parquet(table)
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts",
        day2, partitionBy = Seq("source"))
      assert(stats.rowsExpired == 15)
      assert(fs(table).exists(new Path(table, "source=s0")))
      assert(spark.read.parquet(table)
        .filter(col("source") === "s1").count() == 5)
    }
  }

  test("heals forward from a crash after the marker, before the swap: " +
      "staged rows win, marker cleared") {
    withDir { base =>
      val table = s"$base/t"
      rejects(20).write.parquet(table)
      assert(TableCompaction.crashingAfter(0)(
        Retention.rewriteKeeping(spark, table, keepDay2)))
      // crash window: journal + staged + UNTOUCHED table — a plain
      // reader mid-protocol still sees all 20 rows
      assert(spark.read.parquet(table).count() == 20)
      // the next retention call heals forward first: the staged state
      // (10 rows) replaces the table, THEN the new policy applies
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts", day2)
      assert(stats == Retention.RetentionStats(10L, 10L, 0L))
      assert(rowsOf(table).size == 10)
      assert(litter(table).isEmpty)
    }
  }

  test("heals forward from a crash after k renames: a kept row may read " +
      "twice inside the window, never missing") {
    for (k <- Seq(1, 2)) withDir { base =>
      val table = s"$base/t"
      // partitioned, so the kept rows stage as one file per source dir
      rejects(30).write.partitionBy("source").parquet(table)
      val all = rowsOf(table)
      assert(TableCompaction.crashingAfter(k)(Retention.expireOlderThan(
        spark, table, "ingest_ts", day2, partitionBy = Seq("source"))))
      // k kept files are published beside every untouched source
      val mid = rowsOf(table)
      assert(mid.size > all.size && all.forall(mid.contains),
        s"k=$k: the crash window may duplicate rows, never drop one")
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts",
        day2, partitionBy = Seq("source"))
      assert(stats == Retention.RetentionStats(15L, 15L, 0L), s"k=$k: $stats")
      assert(rowsOf(table) == all.filter(!_.getTimestamp(1).before(day2)))
      assert(litter(table).isEmpty, s"k=$k: ${litter(table)}")
    }
  }

  test("the partitioned rewrite honors the CALLER's session conf: a " +
      "session timeZone set at runtime drives the keep predicate's casts") {
    // r15 ADVICE: newSession() initializes from the context conf, so
    // without the runtime-conf copy the partitioned branch would cast
    // under the DEFAULT zone while the non-partitioned branch honors the
    // caller — rows at 2026-01-01 23:00 UTC are Jan 1 under UTC but
    // Jan 2 under +05:00, so the keep-by-date predicate splits on it
    withDir { base =>
      val table = s"$base/t"
      import spark.implicits._
      Seq(
        (1L, java.sql.Timestamp.from(
          java.time.Instant.parse("2026-01-01T23:00:00Z")), "a"),
        (2L, java.sql.Timestamp.from(
          java.time.Instant.parse("2026-01-01T01:00:00Z")), "a"))
        .toDF("doc_id", "ts", "source")
        .write.partitionBy("source").parquet(table)
      val tzKey = "spark.sql.session.timeZone"
      val prev = spark.conf.getOption(tzKey)
      spark.conf.set(tzKey, "+05:00")
      try {
        val stats = Retention.rewriteKeeping(spark, table,
          col("ts").cast("date") === lit("2026-01-02"),
          partitionBy = Seq("source"))
        // under +05:00, row 1 is Jan 2 04:00 (kept); row 2 is Jan 1 (expired)
        assert(stats.rowsKept == 1L && stats.rowsExpired == 1L, s"$stats")
        assert(spark.read.parquet(table).select("doc_id")
          .as[Long].collect().toSeq == Seq(1L))
      } finally prev match {
        case Some(v) => spark.conf.set(tzKey, v)
        case None => spark.conf.unset(tzKey)
      }
    }
  }

  test("null timestamps are KEPT by the age policy, never silently expired") {
    withDir { base =>
      val table = s"$base/t"
      import spark.implicits._
      Seq(
        (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
        (2L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
        (3L, null.asInstanceOf[java.sql.Timestamp]))
        .toDF("doc_id", "ingest_ts").write.parquet(table)
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts", day2)
      assert(stats == Retention.RetentionStats(3L, 2L, 1L))
      assert(spark.read.parquet(table).select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    }
  }

  test("expiring ALL rows of a partitioned table completes and leaves a " +
      "structurally empty table") {
    withDir { base =>
      val table = s"$base/t"
      rejects(10).write.partitionBy("source").parquet(table)
      val stats = Retention.rewriteKeeping(spark, table, lit(false),
        partitionBy = Seq("source"))
      assert(stats == Retention.RetentionStats(10L, 0L, 10L))
      assert(!graft.util.CommittedTable.hasData(spark, table))
    }
  }

  test("non-canonical string partition values (leading zeros) survive " +
      "the rewrite byte-identically") {
    withDir { base =>
      val table = s"$base/t"
      import spark.implicits._
      Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "01"),
        (2L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), "01"),
        (3L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), "007"))
        .toDF("doc_id", "ingest_ts", "bucket")
        .write.partitionBy("bucket").parquet(table)
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts",
        day2, partitionBy = Seq("bucket"))
      assert(stats.rowsExpired == 1)
      val f = fs(table)
      assert(f.exists(new Path(table, "bucket=01")))
      assert(f.exists(new Path(table, "bucket=007")))
      assert(!f.exists(new Path(table, "bucket=1")))
      assert(!f.exists(new Path(table, "bucket=7")))
    }
  }

  test("a hard kill inside the marker's own publish (young orphan temp, " +
      "no marker) does not block the next retention call") {
    withDir { base =>
      val table = s"$base/t"
      rejects(4).write.parquet(table)
      // the shape AtomicPublish.file leaves when killed between create
      // and rename: a young dot-temp beside the never-published journal
      val tmp = new Path(s"$table/..compact_journal.${"ab12cd34ef56"}.tmp")
      val out = fs(table).create(tmp, true); out.writeUTF("torn"); out.close()
      // no journal: the heal is clean
      assert(TableCompaction.healJournal(spark, table) == 0L)
      val stats = Retention.expireOlderThan(spark, table, "ingest_ts", day2)
      assert(stats.rowsExpired == 2) // retention proceeds immediately
    }
  }

  test("a pre-marker crash's staged orphan is reclaimed by the next heal") {
    withDir { base =>
      val table = s"$base/t"
      rejects(4).write.parquet(table)
      // a pre-journal crash: kept rows staged, no journal published
      val orphan = new Path(s"$table/.compact_staging_deadbeef")
      rejects(4).write.parquet(orphan.toString)
      assert(TableCompaction.healJournal(spark, table) == 0L) // no journal
      assert(!fs(table).exists(orphan))
      assert(rowsOf(table).size == 4) // table untouched
    }
  }

  test("a marker with BOTH dirs gone surfaces loudly instead of guessing") {
    withDir { base =>
      val table = s"$base/t"
      rejects(4).write.parquet(table)
      assert(TableCompaction.crashingAfter(0)(
        Retention.rewriteKeeping(spark, table, keepDay2)))
      // a journaled publish whose staged file AND target are both gone:
      // its rows survive nowhere but in the sources
      litter(table).filter(_.startsWith(".compact_staging_"))
        .foreach(d => fs(table).delete(new Path(table, d), true): Unit)
      val e = intercept[IllegalArgumentException] {
        Retention.rewriteKeeping(spark, table, keepDay2)
      }
      assert(e.getMessage.contains("manual recovery"))
      // the loud failure deleted no source
      assert(rowsOf(table).size == 4)
    }
  }

  test("ext137 entry arc at sf0.001: rejects fall only at retention, " +
      "markers only at compaction, the re-run expires nothing") {
    val arc = graft.SparkEntry.queries("ext137_rejects_retention")(
      spark, "/root/testdata/sf0.001").collect().sortBy(_.getLong(0))
    assert(arc.map(_.getString(1)).toSeq == Seq(
      "ingest", "graduate", "retain_day1", "compact_markers",
      "retain_noop"))
    val rej = arc.map(_.getLong(2))
    val mark = arc.map(_.getLong(3))
    val exp = arc.map(_.getLong(4))
    // the noisy dial fills the rejects table; graduation writes markers
    // without touching rejects
    assert(rej(0) > 0 && mark(0) == 0)
    assert(rej(1) == rej(0) && mark(1) > 0)
    // retention expires the day-1 rows (and only the retention step
    // moves the rejects count)
    assert(exp(2) > 0 && rej(2) == rej(1) - exp(2))
    // marker compaction drops markers for the expired suspects only
    assert(rej(3) == rej(2) && mark(3) < mark(1) && mark(3) > 0)
    // the same policy re-run is a no-op
    assert(exp(4) == 0 && rej(4) == rej(3) && mark(4) == mark(3))
  }

  test("seeded crash-point fuzz: every crash point heals to exactly the " +
      "policy outcome") {
    val rnd = new scala.util.Random(20260816L)
    val day1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    for (round <- 0 until 8) withDir { base =>
      val table = s"$base/t"
      val partitioned = rnd.nextBoolean()
      import spark.implicits._
      // random mix of day-1 / day-2 / null timestamps
      val rows = (0 until (4 + rnd.nextInt(12))).map { i =>
        val ts = rnd.nextInt(3) match {
          case 0 => day1
          case 1 => day2
          case _ => null.asInstanceOf[java.sql.Timestamp]
        }
        (i.toLong, ts, s"s${i % 2}")
      }
      val df = rows.toDF("doc_id", "ingest_ts", "source")
      val parts = if (partitioned) Seq("source") else Nil
      (if (partitioned) df.write.partitionBy("source") else df.write)
        .parquet(table)
      // null is KEPT by contract
      val expected = rows.filter(r => r._2 == null || !r._2.before(day2))
        .map(_._1).sorted
      val keep = col("ingest_ts").isNull || col("ingest_ts") >= lit(day2)
      // random crash injection before the healing policy run
      rnd.nextInt(4) match {
        case 0 => // no crash
        case 1 => // crash after the journal, before any rename
          assert(TableCompaction.crashingAfter(0)(
            Retention.rewriteKeeping(spark, table, keep, parts)))
        case 2 => // crash after k renames (the run completes when fewer
          // files staged), the sources not yet deleted
          TableCompaction.crashingAfter(1 + rnd.nextInt(2))(
            Retention.rewriteKeeping(spark, table, keep, parts)): Unit
        case _ => // crash before the journal: an orphan staging dir
          df.limit(1).write.parquet(s"$table/.compact_staging_r$round")
      }
      val stats = Retention.rewriteKeeping(spark, table, keep, parts)
      assert(stats.rowsExpired == 0 || stats.rowsExpired ==
        rows.size - expected.size, s"round $round: stats off")
      val got =
        if (graft.util.CommittedTable.hasData(spark, table))
          spark.read.parquet(table).select("doc_id").as[Long]
            .collect().toSeq.sorted
        else Seq.empty[Long]
      assert(got == expected, s"round $round: policy outcome diverged")
      // no journal, no staged litter
      assert(litter(table).isEmpty, s"round $round: ${litter(table)}")
    }
  }

  test("ext137's policy runs generically over the EXCISIONS trail: the " +
      "staged rewrite preserves bench_ids attribution and flat layout") {
    withDir { base =>
      // the excisions table is written by the PRODUCTION excising
      // ingest, never a hand-rolled schema twin (schema drift would
      // hide here) — two leaked deliveries on two days, both landing
      // cleaned with their cut audited
      import graft.TextFixtures.soupWords
      import spark.implicits._
      val bench = soupWords(31L, 40)
      val idx = graft.operators.ContaminationGuard.benchmarkIndex(
        Seq((9L, bench)).toDF("doc_id", "text"), "text", "doc_id")
      val prefix = soupWords(32L, 10)
      // DISTINCT suffix per doc: the landing dedup keys on the CLEANED
      // digest, so identical remainders would (correctly) unify the two
      // docs and leave one excision row
      def leaked(lo: Int, sfxSeed: Long): String =
        prefix + " " + bench.substring(lo, lo + 100) + " " +
          soupWords(sfxSeed, 10)
      val table = s"$base/corpus"
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String, java.sql.Timestamp)]
      val day1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      src.addData((1L, leaked(0, 33L), "a", day1),
        (2L, leaked(100, 34L), "a", day2))
      graft.streaming.CorpusIngest.writeAuditedExcising(
        src.toDF().toDF("doc_id", "text", "source", "ingest_ts"),
        table, s"$base/ckpt", watchlist = idx).awaitTermination()
      val excisions = s"${table}_excisions"
      val before = spark.read.parquet(excisions)
      assert(before.count() == 2, "both cut docs must audit")
      val cols = before.columns.toSeq

      val stats = Retention.expireOlderThan(spark, excisions,
        "ingest_ts", day2)
      assert(stats == Retention.RetentionStats(2L, 1L, 1L))
      val left = spark.read.parquet(excisions)
      assert(left.columns.toSeq == cols,
        "the rewrite must preserve the production schema")
      val row = left.collect().head
      assert(row.getAs[Long]("doc_id") == 2L)
      assert(row.getSeq[Long](row.fieldIndex("bench_ids")) == Seq(9L),
        "WHICH-benchmark attribution must ride the staged rewrite " +
          "untouched — losing it silently un-audits the cut")
      assert(row.getAs[Long]("removed_chars") == 100L)
      // the trail is written flat (no partitionBy) and must stay flat
      assert(!fs(excisions).listStatus(new Path(excisions))
        .exists(st => st.isDirectory && st.getPath.getName.contains("=")),
        "no partition dirs may appear in the flat audit trail")
      // idempotent re-run of the same policy
      assert(Retention.expireOlderThan(spark, excisions, "ingest_ts",
        day2) == Retention.RetentionStats(1L, 1L, 0L))
    }
  }

  test("composes with compactGraduated: expired suspects' markers drop") {
    withDir { base =>
      val table = s"$base/corpus"
      import spark.implicits._
      // rejects: 6 contaminated_maybe suspects split across two days,
      // plus quality noise; markers mirror the suspects (the bloom
      // graduation's shape)
      (0 until 6).map { i =>
        val day = if (i < 3) "2026-01-01 00:00:00" else "2026-01-02 00:00:00"
        (i.toLong, s"d$i", java.sql.Timestamp.valueOf(day),
          "contaminated_maybe")
      }.toDF("doc_id", "digest", "ingest_ts", "reject_reason")
        .write.parquet(s"${table}_rejects")
      (0 until 6).map(i => (i.toLong, s"d$i"))
        .toDF("doc_id", "digest").write.parquet(s"${table}_graduated")

      val stats = Retention.expireOlderThan(
        spark, s"${table}_rejects", "ingest_ts", day2)
      assert(stats.rowsExpired == 3)
      graft.streaming.CorpusIngest.compactGraduated(spark, table)
      val markers = spark.read.parquet(s"${table}_graduated")
      assert(markers.count() == 3)
      assert(markers.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(3L, 4L, 5L))
    }
  }

  test("compactGraduated heals forward from a crash at the journal and " +
      "after k renames: no graduated marker is lost") {
    for (k <- Seq(0, 1)) withDir { base =>
      val table = s"$base/corpus"
      import spark.implicits._
      (0 until 6).map(i => (i.toLong, s"d$i", "contaminated_maybe"))
        .toDF("doc_id", "digest", "reject_reason")
        .filter(col("doc_id") >= 2).write.parquet(s"${table}_rejects")
      // markers for all six suspects, appended over three graduations
      for (b <- 0 until 3)
        (0 until 6).filter(_ % 3 == b).map(i => (i.toLong, s"d$i"))
          .toDF("doc_id", "digest").write.mode("append")
          .parquet(s"${table}_graduated")
      def markers(): Seq[Long] = spark.read.parquet(s"${table}_graduated")
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(TableCompaction.crashingAfter(k)(
        graft.streaming.CorpusIngest.compactGraduated(spark, table)))
      // inside the window every marker still reads, possibly twice
      assert((0L until 6L).forall(markers().contains), s"k=$k: ${markers()}")
      graft.streaming.CorpusIngest.compactGraduated(spark, table)
      assert(markers() == Seq(2L, 3L, 4L, 5L), s"k=$k: ${markers()}")
      assert(litter(s"${table}_graduated").isEmpty)
    }
  }
}
