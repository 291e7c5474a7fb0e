package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** [[TableCompaction.compactLanded]] — the landed-table small-file
  * compaction: contents-unchanged, untouched-files-byte-identical,
  * idempotence, the `_spark_metadata` refusal, delete-only zero-row
  * bins, and the journal heal paths (crash after journal / crash
  * mid-swap), driven through the crash seam
  * [[TableCompaction.crashingAfter]]. */
class TableCompactionSpec extends AnyFunSuite with SparkTestSession {

  private def withDir[T](body: String => T): T =
    graft.ScratchDir.withDir("tcomp")(body)

  private def fs(table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (relative path → SHA-256 of bytes) for every committed data file —
    * the byte-identity dial. */
  private def fileDigests(table: String): Map[String, String] = {
    val root = new Path(table)
    val f = fs(table)
    if (!f.exists(root)) return Map.empty
    val it = f.listFiles(root, true)
    val out = scala.collection.mutable.Map[String, String]()
    val rootPath = root.toUri.getPath.stripSuffix("/") + "/"
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = p.toUri.getPath.stripPrefix(rootPath)
      val hidden = rel.split("/").exists(s =>
        s.startsWith(".") || s.startsWith("_"))
      if (st.isFile && p.getName.endsWith(".parquet") && !hidden) {
        val in = f.open(p)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        in.close()
        out(rel) = md.digest().map("%02x".format(_)).mkString
      }
    }
    out.toMap
  }

  private def rowsOf(table: String): Seq[Row] =
    spark.read.parquet(table)
      .select("doc_id", "text", "source")
      .collect().toSeq.sortBy(_.getLong(0))

  private def docs(n: Int, pad: Int = 0): DataFrame = {
    import spark.implicits._
    (0 until n)
      .map(i => (i.toLong, s"doc-$i-" + ("x" * pad), s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
  }

  /** Three partitioned micro-batch-shaped appends: repartition(3) so each
    * append lands several files per source dir. */
  private def landPartitioned(table: String): Unit =
    for (b <- 0 until 3)
      docs(24).filter(col("doc_id") % 3 === b)
        .repartition(3)
        .write.mode("append").partitionBy("source").parquet(table)

  test("compacts per partition dir; contents unchanged incl. the " +
      "dir-encoded column; one file per dir after") {
    withDir { table =>
      landPartitioned(table)
      val before = rowsOf(table)
      val nBefore = TableCompaction.committedDataFiles(spark, table)
      assert(nBefore > 2, s"setup should land many files, got $nBefore")

      val stats = TableCompaction.compactLanded(spark, table,
        targetBytes = 64L << 20)
      assert(stats.filesBefore == nBefore)
      assert(stats.filesAfter == 2) // one compacted file per source dir
      assert(stats.binsWritten == 2)
      assert(stats.healedBins == 0)
      assert(TableCompaction.committedDataFiles(spark, table) == 2)
      // the compacted files must NOT have absorbed the dir-encoded
      // partition column into the data bytes: reading through the root
      // still yields it from the dir names, values intact
      assert(rowsOf(table) == before)
      assert(!spark.read.parquet(s"$table/source=s0/")
        .columns.contains("source"))
    }
  }

  test("files at/above targetBytes and lone leftovers stay byte-identical") {
    withDir { table =>
      // one big file (above target), five small ones
      docs(200, pad = 64).coalesce(1)
        .write.mode("append").parquet(table)
      val bigDigests = fileDigests(table)
      assert(bigDigests.size == 1)
      val bigLen = fs(table)
        .getFileStatus(new Path(table, bigDigests.keysIterator.next())).getLen
      for (i <- 0 until 5)
        docs(1).withColumn("doc_id", col("doc_id") + 1000 + i * 10)
          .coalesce(1).write.mode("append").parquet(table)
      val smallLens = fileDigests(table).keySet.diff(bigDigests.keySet)
        .toSeq.map(rel =>
          fs(table).getFileStatus(new Path(table, rel)).getLen)
        .sorted.reverse
      // target: the two LARGEST smalls fill one bin exactly, so FFD
      // packs pairs and leaves the fifth (smallest) small unbinned
      // (minBinFiles = 2 drops lone bins); the near-equal one-row sizes
      // mean no three ever fit
      val target = smallLens(0) + smallLens(1) + 1
      assert(target <= bigLen, "setup: big file must be above target")
      assert(smallLens(2) + smallLens(3) + smallLens(4) > target,
        "setup: three smalls must not fit one bin")
      val before = rowsOf(table)
      val preDigests = fileDigests(table)

      val stats = TableCompaction.compactLanded(spark, table, target)
      assert(stats.binsWritten == 2)
      val postDigests = fileDigests(table)
      // the big file and the lone leftover small are byte-identical
      val untouched = preDigests.keySet.intersect(postDigests.keySet)
      assert(untouched.size == 2) // big + the lone small
      assert(untouched.contains(bigDigests.keysIterator.next()))
      untouched.foreach(rel =>
        assert(preDigests(rel) == postDigests(rel), s"$rel rewritten"))
      assert(rowsOf(table) == before)
      assert(postDigests.size == 4) // big + lone small + 2 compacted
    }
  }

  test("idempotent: a second run rewrites nothing and every file is " +
      "byte-identical") {
    withDir { table =>
      landPartitioned(table)
      TableCompaction.compactLanded(spark, table, 64L << 20): Unit
      val digests = fileDigests(table)
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.binsWritten == 0)
      assert(stats.bytesRewritten == 0)
      assert(stats.filesBefore == stats.filesAfter)
      assert(fileDigests(table) == digests)
    }
  }

  test("refuses a streaming file-sink table (_spark_metadata log)") {
    withDir { table =>
      docs(4).write.mode("append").parquet(table)
      fs(table).mkdirs(new Path(table, "_spark_metadata")): Unit
      val e = intercept[IllegalArgumentException] {
        TableCompaction.compactLanded(spark, table)
      }
      assert(e.getMessage.contains("_spark_metadata"))
    }
  }

  test("per-partition-subtree runs compose: each compacts only its own " +
      "root, with its own journal state") {
    withDir { table =>
      landPartitioned(table)
      val before = rowsOf(table)
      val s1Digests = fileDigests(table)
        .filter(_._1.startsWith("source=s1/"))
      // a backlog-shaped run over ONE partition dir (the class doc's
      // driver-memory bound): s0 compacts, s1 byte-untouched
      val stats = TableCompaction.compactLanded(
        spark, s"$table/source=s0", 64L << 20)
      assert(stats.binsWritten == 1 && stats.filesAfter == 1)
      assert(rowsOf(table) == before)
      assert(fileDigests(table)
        .filter(_._1.startsWith("source=s1/")) == s1Digests)
      // and the sibling run is independent — its own journal, its own
      // heal, composing to the whole-table outcome
      TableCompaction.compactLanded(spark, s"$table/source=s1",
        64L << 20): Unit
      assert(TableCompaction.committedDataFiles(spark, table) == 2)
      assert(rowsOf(table) == before)
    }
  }

  test("compactBacklog: a 10^4-file backlog compacts under a small file " +
      "budget in ONE call, sharded per partition subtree; rows survive") {
    withDir { base =>
      // ONE tiny committed parquet file, then byte-copies — 10^4 real
      // Spark writes would dominate the suite, and the operator only
      // needs each file to BE valid parquet (identical bytes are the
      // adversarial case for row preservation: compaction must keep the
      // multiset, never unify copies)
      import spark.implicits._
      val seedDir = s"$base/seed"
      Seq((1L, "x")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(seedDir)
      val f = fs(base)
      val seed = f.globStatus(new Path(seedDir, "part-*.parquet")).head
      val bytes = {
        val in = f.open(seed.getPath)
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        in.close(); out.toByteArray
      }
      val table = s"$base/t"
      val (nDirs, perDir) = (20, 500)
      for (d <- 0 until nDirs; i <- 0 until perDir) {
        val p = new Path(f"$table%s/source=s$d%02d/part-$i%05d.parquet")
        val out = f.create(p, true)
        out.write(bytes); out.close()
      }
      val total = nDirs.toLong * perDir
      // budget far below the backlog: the run must shard per source dir
      // (each 500-file subtree fits), never hold the 10^4 listing
      val stats = TableCompaction.compactBacklog(spark, table,
        targetBytes = 64L << 20, budgetFiles = 600)
      assert(stats.filesBefore == total && stats.binsWritten == nDirs &&
        stats.filesAfter == nDirs, s"stats $stats")
      assert(TableCompaction.committedDataFiles(spark, table) == nDirs)
      val rows = spark.read.parquet(table)
      assert(rows.count() == total, "every copy's row must survive")
      assert(rows.select("source").distinct().count() == nDirs,
        "the dir-encoded partition column survives the shard runs")
      // idempotent: the second call (under budget everywhere now)
      // rewrites nothing
      val again = TableCompaction.compactBacklog(spark, table,
        targetBytes = 64L << 20, budgetFiles = 600)
      assert(again.binsWritten == 0 && again.filesAfter == nDirs)
    }
  }

  test("compactBacklog: under budget it IS compactLanded; a FLAT " +
      "over-budget dir compacts as one leaf; a prior unsharded run's " +
      "root journal heals before sharding") {
    withDir { base =>
      // flat over-budget: cannot shard below its own file count —
      // compacts whole (class doc)
      val flat = s"$base/flat"
      for (b <- 0 until 3)
        docs(12).filter(col("doc_id") % 3 === b).repartition(2)
          .write.mode("append").parquet(flat)
      val nFlat = TableCompaction.committedDataFiles(spark, flat)
      assert(nFlat > 2)
      val stats = TableCompaction.compactBacklog(spark, flat,
        targetBytes = 64L << 20, budgetFiles = 2)
      assert(stats.filesBefore == nFlat && stats.filesAfter == 1)
      assert(spark.read.parquet(flat).count() == 12)

      // under budget: same outcome as compactLanded
      val small = s"$base/small"
      landPartitioned(small)
      val before = rowsOf(small)
      val s2 = TableCompaction.compactBacklog(spark, small,
        targetBytes = 64L << 20, budgetFiles = 100000)
      assert(s2.filesAfter == 2 && rowsOf(small) == before)

      // a crash between a prior UNSHARDED run's journal and its swap,
      // healed by the over-budget path before it shards (the journal
      // lives at the intermediate root the shard recursion visits)
      val crashed = s"$base/crashed"
      landPartitioned(crashed)
      val beforeCrash = rowsOf(crashed)
      assert(TableCompaction.crashingAfter(0)(
        TableCompaction.compactLanded(spark, crashed, 64L << 20)))
      val s3 = TableCompaction.compactBacklog(spark, crashed,
        targetBytes = 64L << 20, budgetFiles = 3)
      assert(s3.healedBins == 2, s"both journaled bins heal forward: $s3")
      assert(rowsOf(crashed) == beforeCrash)
      assert(TableCompaction.committedDataFiles(spark, crashed) == 2)
    }
  }

  test("refuses a partition SUBTREE of a file-sink table: the log at an " +
      "ancestor still governs these files") {
    withDir { table =>
      for (_ <- 0 until 2)
        docs(4).coalesce(1).write.mode("append")
          .parquet(s"$table/source=a")
      fs(table).mkdirs(new Path(table, "_spark_metadata")): Unit
      val e = intercept[IllegalArgumentException] {
        TableCompaction.compactLanded(spark, s"$table/source=a")
      }
      assert(e.getMessage.contains("_spark_metadata"))
      assert(TableCompaction.committedDataFiles(
        spark, s"$table/source=a") == 2) // untouched
    }
  }

  test("refuses a file-sink table NESTED below the compaction root: the " +
      "ancestor walk only looks up, the listing must look down") {
    withDir { base =>
      val table = s"$base/t"
      for (_ <- 0 until 2)
        docs(4).coalesce(1).write.mode("append")
          .parquet(s"$table/source=a")
      // a streaming sink cohabiting the tree one level down, with the
      // log files a committed sink always carries
      docs(2).coalesce(1).write.parquet(s"$table/nested_sink")
      val log = new Path(s"$table/nested_sink/_spark_metadata")
      fs(table).mkdirs(log): Unit
      val out = fs(table).create(new Path(log, "0"), true)
      out.write("v1".getBytes("UTF-8")); out.close()
      val e = intercept[IllegalArgumentException] {
        TableCompaction.compactLanded(spark, table)
      }
      assert(e.getMessage.contains("_spark_metadata"), e.getMessage)
      // nothing moved: the refusal happened before any staging
      assert(fs(table).globStatus(
        new Path(table, ".compact_staging_*")).isEmpty)
    }
  }

  test("zero-row files fold away as delete-only bins") {
    withDir { table =>
      docs(200, pad = 64).coalesce(1)
        .write.mode("append").parquet(table) // big, above target
      val bigLen = fs(table)
        .getFileStatus(new Path(table,
          fileDigests(table).keysIterator.next())).getLen
      docs(0).coalesce(1).write.mode("append").parquet(table)
      docs(0).coalesce(1).write.mode("append").parquet(table)
      assert(TableCompaction.committedDataFiles(spark, table) == 3)
      val before = rowsOf(table)

      // target = the big file's own size: strict `< targetBytes` keeps
      // the big file out, and the schema-only empties (far smaller) bin
      // together — all zero rows, so the bin stages no file and resolves
      // delete-only
      val stats = TableCompaction.compactLanded(spark, table,
        targetBytes = bigLen)
      assert(stats.binsWritten == 1)
      assert(TableCompaction.committedDataFiles(spark, table) == 1)
      assert(rowsOf(table) == before)
    }
  }

  test("staging dir and journal are invisible to plain readers") {
    withDir { table =>
      landPartitioned(table)
      val before = rowsOf(table)
      assert(TableCompaction.crashingAfter(0)(
        TableCompaction.compactLanded(spark, table, 64L << 20)))
      // journal published, bins staged — a plain reader mid-protocol
      // sees exactly the pre-compaction table
      assert(rowsOf(table) == before)
      assert(TableCompaction.committedDataFiles(spark, table) ==
        fileDigests(table).size)
      TableCompaction.compactLanded(spark, table, 64L << 20): Unit
    }
  }

  test("heals forward from a crash after the journal, before any swap") {
    withDir { table =>
      landPartitioned(table)
      val before = rowsOf(table)
      assert(TableCompaction.crashingAfter(0)(
        TableCompaction.compactLanded(spark, table, 64L << 20)))
      // "crash"; the next run heals the journaled swap forward (one bin
      // per source dir), then finds nothing left to bin
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.healedBins == 2)
      assert(stats.binsWritten == 0)
      assert(rowsOf(table) == before)
      assert(TableCompaction.committedDataFiles(spark, table) == 2)
      // no journal, no staging left behind
      val leftovers = fs(table)
        .globStatus(new Path(table, ".compact_*"))
      assert(leftovers == null || leftovers.isEmpty)
    }
  }

  test("heals forward from a crash mid-swap: renamed bin deduplicates, " +
      "unrenamed bin publishes") {
    withDir { table =>
      landPartitioned(table)
      val before = rowsOf(table)
      // two bins journaled, the first renamed in, its sources not yet
      // deleted
      assert(TableCompaction.crashingAfter(1)(
        TableCompaction.compactLanded(spark, table, 64L << 20)))
      // the crash window: bin 1 is both published AND still has its
      // sources — transiently duplicated, never missing
      val dupCount = spark.read.parquet(table).count()
      assert(dupCount > before.size.toLong)
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.healedBins == 2)
      assert(rowsOf(table) == before) // dups healed, nothing lost
      assert(TableCompaction.committedDataFiles(spark, table) == 2)
    }
  }

  test("ext136 entry arc at sf0.001: files collapse only at compacts, " +
      "rows move only at deliveries") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val total = docs.count()
    val nSources = docs.select("source").distinct().count()
    // sources present in the first three deliveries only — source
    // correlates with doc_id at this SF, so some dirs first appear
    // with delivery b3
    val nSourcesB012 = docs.filter(col("doc_id") % 4 =!= 3)
      .select("source").distinct().count()
    val arc = graft.SparkEntry.queries("ext136_landed_compaction")(
      spark, dir).collect().sortBy(_.getLong(0))
    assert(arc.map(_.getString(1)).toSeq == Seq(
      "deliver_b0", "deliver_b1", "deliver_b2", "compact_1",
      "deliver_b3", "compact_2", "compact_noop"))
    val files = arc.map(_.getLong(2))
    val rows = arc.map(_.getLong(3))
    val bins = arc.map(_.getLong(4))
    // rows move ONLY at deliveries, and land on the full table
    assert(rows(0) < rows(1) && rows(1) < rows(2))
    assert(rows(3) == rows(2) && rows(4) > rows(3))
    assert(rows(5) == rows(4) && rows(6) == rows(4))
    assert(rows(6) == total)
    // files collapse to one per populated source dir at each compact,
    // grow at deliveries, and the no-op pass touches nothing
    assert(files(2) > nSourcesB012 && files(3) == nSourcesB012)
    assert(files(4) > files(3) && files(5) == nSources)
    assert(files(6) == files(5))
    assert(bins(3) > 0 && bins(5) > 0 && bins(6) == 0)
  }

  test("ext138 entry: the backlog-shard arc is structural — files " +
      "240→6→6, bins 6 then 0, rows never move") {
    val out = graft.SparkEntry.queries("ext138_backlog_compaction")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getAs[String]("phase")).toSeq ==
      Seq("backlog", "shard_compact", "noop_rerun"))
    assert(out.map(_.getAs[Long]("n_files")).toSeq == Seq(240L, 6L, 6L),
      "each of the 6 over-root/under-subtree shards folds to one file")
    assert(out.map(_.getAs[Long]("n_bins_written")).toSeq ==
      Seq(0L, 6L, 0L), "the re-run is a structural no-op")
    assert(out.map(_.getAs[Long]("n_rows")).toSeq ==
      Seq(240L, 240L, 240L),
      "identical copies are a row MULTISET — compaction never unifies")
  }

  test("flat (unpartitioned) tables compact the same way") {
    withDir { table =>
      for (b <- 0 until 4)
        docs(8).filter(col("doc_id") % 4 === b)
          .coalesce(1).write.mode("append").parquet(table)
      val before = rowsOf(table)
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.filesBefore == 4)
      assert(stats.filesAfter == 1)
      assert(rowsOf(table) == before)
    }
  }

  test("paths needing URL-encoding (spaces) route bins correctly") {
    withDir { base =>
      // a space in the table path makes input_file_name report
      // percent-encoded names — the SparkPath-keyed map must still match
      val table = s"$base/landed corpus"
      landPartitioned(table)
      val before = rowsOf(table)
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.binsWritten == 2)
      assert(rowsOf(table) == before)
    }
  }

  test("refuses a table that carries the bin-routing column name") {
    withDir { table =>
      for (_ <- 0 until 2)
        docs(4).withColumn("__graft_bin", lit(7))
          .coalesce(1).write.mode("append").parquet(table)
      val e = intercept[IllegalArgumentException] {
        TableCompaction.compactLanded(spark, table, 64L << 20)
      }
      assert(e.getMessage.contains("__graft_bin"))
      // refusal happened before any mutation
      assert(TableCompaction.committedDataFiles(spark, table) == 2)
    }
  }

  test("per-dir schema drift never leaks a sibling dir's column into " +
      "compacted files") {
    withDir { table =>
      for (_ <- 0 until 2)
        docs(4).withColumn("extra", lit(1L))
          .coalesce(1).write.mode("append").parquet(s"$table/source=a")
      for (_ <- 0 until 2)
        docs(4).coalesce(1).write.mode("append").parquet(s"$table/source=b")
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.binsWritten == 2)
      assert(spark.read.parquet(s"$table/source=a")
        .columns.contains("extra"))
      assert(!spark.read.parquet(s"$table/source=b")
        .columns.contains("extra"))
      assert(spark.read.parquet(s"$table/source=b").count() == 8)
    }
  }

  test("seeded crash-point fuzz: random layouts, random crash injection, " +
      "contents always intact, always idempotent after") {
    val rnd = new scala.util.Random(20260816L)
    for (round <- 0 until 8) withDir { table =>
      // random layout: 1-3 dirs (flat root or partition-style subdirs),
      // 1-4 files each, 0-7 rows per file (zero-row files included)
      val nDirs = 1 + rnd.nextInt(3)
      val dirs =
        if (nDirs == 1 && rnd.nextBoolean()) Seq(table)
        else (0 until nDirs).map(d => s"$table/source=s$d")
      var id = 0L
      for (dir <- dirs; _ <- 0 until (1 + rnd.nextInt(4))) {
        val n = rnd.nextInt(8)
        val rows = (0 until n).map { _ => id += 1; (id, s"doc-$id") }
        import spark.implicits._
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(dir)
      }
      def idsByDir(): Map[String, Seq[Long]] = dirs.map { d =>
        import spark.implicits._
        d -> (if (graft.util.CommittedTable.hasData(spark, d))
          spark.read.parquet(d).select("doc_id").as[Long]
            .collect().toSeq.sorted
        else Seq.empty[Long])
      }.toMap
      val before = idsByDir()
      val target = rnd.nextInt(3) match {
        case 0 => 1L << 20                 // everything bins
        case 1 => 600L + rnd.nextInt(1200) // some files excluded
        case _ => 2L                  // nothing bins (all files ≥ 2 bytes)
      }
      // random crash injection before the healing run
      rnd.nextInt(3) match {
        case 0 => // no crash
        case 1 => // crash after journal, before any swap (when any bin)
          TableCompaction.crashingAfter(0)(
            TableCompaction.compactLanded(spark, table, target)): Unit
        case 2 => // crash mid-swap after k renames (when that many bins)
          TableCompaction.crashingAfter(1 + rnd.nextInt(3))(
            TableCompaction.compactLanded(spark, table, target)): Unit
      }
      TableCompaction.compactLanded(spark, table, target): Unit
      assert(idsByDir() == before, s"round $round: contents diverged")
      val leftovers = fs(table)
        .globStatus(new Path(table, ".compact_*"))
      assert(leftovers == null || leftovers.isEmpty,
        s"round $round: protocol litter")
      val digests = fileDigests(table)
      val again = TableCompaction.compactLanded(spark, table, target)
      assert(again.binsWritten == 0, s"round $round: not idempotent")
      assert(fileDigests(table) == digests,
        s"round $round: second run rewrote files")
    }
  }

  test("a crashed CHILD-scoped run's journal heals before a root-scoped " +
      "run plans: half-swapped child state is never re-binned as data") {
    // a compactBacklog shard (or a user's own
    // per-subtree run) crashes mid-swap in a child — bin published, some
    // sources not yet deleted, journal live AT THE CHILD — and a later
    // run scoped at the ROOT takes the under-budget compactScoped path,
    // which heals only the root's journal; planning over the raw listing
    // would bin the child's published file and its stale sources
    // together, duplicating those rows permanently
    withDir { table =>
      landPartitioned(table)
      val before = rowsOf(table)
      val child = s"$table/source=s0"
      // the child's one bin renamed in, its sources not yet deleted
      assert(TableCompaction.crashingAfter(1)(
        TableCompaction.compactLanded(spark, child, 64L << 20)))
      // the crash window: the child's rows are transiently duplicated
      assert(spark.read.parquet(table).count() > before.size.toLong)
      val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
      assert(stats.healedBins == 1, s"child journal must heal: $stats")
      assert(rowsOf(table) == before, "duplicates healed, nothing lost")
      // no protocol litter anywhere in the tree: the child's journal and
      // staging are consumed by the heal, the root run's by its swap
      val litter = fs(table).listFiles(new Path(table), true)
      val bad = scala.collection.mutable.ArrayBuffer[String]()
      while (litter.hasNext) {
        val p = litter.next().getPath
        if (p.getName.startsWith(".compact_")) bad += p.toString
        if (p.getParent.getName.startsWith(".compact_")) bad += p.toString
      }
      assert(bad.isEmpty, s"protocol litter: $bad")
      // and the healed table is idempotent under both public entries
      val again = TableCompaction.compactBacklog(spark, table,
        targetBytes = 64L << 20, budgetFiles = 100000)
      assert(again.binsWritten == 0 && rowsOf(table) == before)
    }
  }

  test("a crashed GRANDCHILD journal under an over-budget root heals " +
      "inside the sharded recursion's child-scoped runs") {
    withDir { base =>
      val table = s"$base/t"
      // two partition subtrees, several files each (drop the data-side
      // `source` column — the dir path already encodes it)
      for (d <- 0 until 2; b <- 0 until 3)
        docs(12).filter(col("doc_id") % 3 === b).drop("source")
          .repartition(2)
          .write.mode("append").parquet(s"$table/source=s$d/day=1")
      def rows(): Seq[(String, Long)] = spark.read.parquet(table)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      val before = rows()
      val grandchild = s"$table/source=s1/day=1"
      assert(TableCompaction.crashingAfter(1)(
        TableCompaction.compactLanded(spark, grandchild, 64L << 20)))
      // budget 8 forces sharding at the root (13 committed files after
      // the crash) while each source subtree stays UNDER budget (6 and
      // 7), so source=s1 runs as ONE scoped leaf whose recursive listing
      // must surface and heal the grandchild journal below it — the
      // exact blind spot: the leaf's own healJournal only covers its root
      val stats = TableCompaction.compactBacklog(spark, table,
        targetBytes = 64L << 20, budgetFiles = 8)
      assert(stats.healedBins == 1, s"grandchild journal must heal: $stats")
      assert(rows() == before)
      val again = TableCompaction.compactBacklog(spark, table,
        targetBytes = 64L << 20, budgetFiles = 8)
      assert(again.binsWritten == 0 && rows() == before)
    }
  }

  test("a session maxRecordsPerFile cannot split a bin into several " +
      "staged files") {
    withDir { table =>
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
      try {
        for (b <- 0 until 4)
          docs(8).filter(col("doc_id") % 4 === b)
            .coalesce(1).write.mode("append").parquet(table)
        val before = rowsOf(table)
        val stats = TableCompaction.compactLanded(spark, table, 64L << 20)
        assert(stats.filesAfter == 1) // 8 rows, one bin, ONE file
        assert(rowsOf(table) == before)
      } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }
  }
}
