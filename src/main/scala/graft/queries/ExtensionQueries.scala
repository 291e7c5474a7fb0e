package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, Similarity}
import graft.functions.TextFunctions
import graft.functions.VectorFunctions

/** LLM-data-pipeline extension operators (SURVEY.md §2.7 EXT1–EXT4 and the
  * north-star dedup / similarity / text-analysis surface), declared as
  * driver-checkable queries over `documents` and `embeddings`.
  *
  * Oracle-checked where the semantics are engine-portable (exact arithmetic /
  * rounded ratios); hash-based sketches (MinHash/SimHash/fingerprint/LSH) are
  * engine-specific by construction and declared rows-only, with their
  * semantics covered by ScalaTest specs instead.
  */
object ExtensionQueries {

  /** The language-ID train+classify oracle CTEs, shared by ext22 (the
    * predictions) and ext76 (the classification report over them) — ONE
    * copy of the gram/profile/winner SQL so the two gates can never verify
    * against diverging semantics.
    */
  private val langIdOracleCtes = """
        grams AS (
          SELECT doc_id, lang,
                 unnest(list_sort(list_distinct(
                   CASE WHEN length(lower(text)) <= 3 THEN [lower(text)]
                        ELSE list_transform(range(1, length(lower(text)) - 1),
                                            i -> substr(lower(text), i, 3)) END))) AS g
          FROM documents),
        prof AS (
          SELECT lang AS cand, g FROM (
            SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY COUNT(*) DESC, g) AS rk
            FROM grams GROUP BY lang, g) WHERE rk <= 50),
        best AS (
          SELECT doc_id, cand FROM (
            SELECT doc_id, cand, ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY COUNT(*) DESC, cand) AS rk
            FROM grams JOIN prof USING (g)
            GROUP BY doc_id, cand) WHERE rk = 1)"""

  /** The [[graft.operators.TemporalAlignment.alignedOverlap]] vote
    * restated in DuckDB SQL over an exported post-filter unit-hash aux
    * table — the oracle half shared by the two containment entries
    * (ext109: audio windows; ext117: video frames). Brute-force all-pairs
    * Hamming candidates (the banded join's lossless-recall twin),
    * per-offset COUNT(DISTINCT small-side unit), best ±`jitter` RANGE
    * window with the engine's (win DESC, off ASC) tie-break, and coverage
    * over the shorter surviving side capped at 1.0. Emits the CTE chain
    * ending at `cov` (id_a, id_b, na, nb, aligned_units, best_off,
    * matched_units, coverage) — the caller appends its final SELECT (the
    * clip/track side pick and offset sign flip).
    */
  private def alignedOverlapOracleCtes(glob: String, unitCol: String,
      hashCol: String, maxDist: Int, jitter: Int): String = s"""
        u AS (SELECT id, $unitCol AS t, $hashCol AS h
              FROM read_parquet('$glob')),
        cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_kept
                FROM u GROUP BY id),
        p AS (SELECT a.id AS id_a, b.id AS id_b, a.t AS ta, b.t AS tb
              FROM u a JOIN u b
                ON a.id < b.id AND bit_count(xor(a.h, b.h)) <= $maxDist),
        pc AS (SELECT p.*, ca.n_kept AS na, cb.n_kept AS nb,
                      CASE WHEN ca.n_kept <= cb.n_kept THEN ta ELSE tb END
                        AS small_t,
                      ta - tb AS off
               FROM p JOIN cnt ca ON ca.id = p.id_a
                      JOIN cnt cb ON cb.id = p.id_b),
        m AS (SELECT id_a, id_b,
                     CAST(COUNT(DISTINCT small_t) AS BIGINT) AS matched_units
              FROM pc GROUP BY id_a, id_b),
        po AS (SELECT id_a, id_b, na, nb, off,
                      COUNT(DISTINCT small_t) AS cnt_o
               FROM pc GROUP BY id_a, id_b, na, nb, off),
        wn AS (SELECT id_a, id_b, na, nb, off,
                      SUM(cnt_o) OVER (PARTITION BY id_a, id_b ORDER BY off
                        RANGE BETWEEN $jitter PRECEDING AND $jitter FOLLOWING)
                        AS win
               FROM po),
        bw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a, id_b
                        ORDER BY win DESC, off ASC) AS rk
               FROM wn),
        cov AS (SELECT b.id_a, b.id_b, b.na, b.nb,
                       CAST(b.win AS BIGINT) AS aligned_units,
                       b.off AS best_off, m.matched_units,
                       LEAST(1.0, ROUND(CAST(b.win AS DOUBLE)
                         / LEAST(b.na, b.nb), 6)) AS coverage
                FROM bw b JOIN m ON m.id_a = b.id_a AND m.id_b = b.id_b
                WHERE b.rk = 1)"""

  /** The PCA projection (ext43) replayed off the exported model aux:
    * score_j = dot(v, w_j) − (Σ μ·w_j), the score-energy sum and the
    * Parseval residual √max(0, ‖x−μ‖² − Σ s_j²) written in the engine's
    * exact left-to-right association so every double matches bit-for-bit;
    * the eigensolve itself stays engine-side (it IS the model). */
  private def pcaOracleSql: String = {
    val sCols = (0 until 8).map { j =>
      s"(list_dot_product(v, (SELECT vec FROM md WHERE comp_idx = $j)) " +
        s"- (SELECT scalar FROM md WHERE comp_idx = $j)) AS s$j"
    }.mkString(",\n               ")
    val u6 = (0 until 8).map { j =>
      s"CAST(ROUND(ROUND(s$j, 6) * 1000000, 0) AS BIGINT)"
    }.mkString(", ")
    val scoreSq = (0 until 8).map(j => s"s$j * s$j").mkString(" + ")
    s"""
        WITH md AS (SELECT comp_idx, vec, scalar FROM read_parquet(
               '${graft.util.OracleAux.glob("pca_model")}')),
        base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE len(embedding) = 64),
        sc AS (SELECT vec_id,
               $sCols,
               ((list_dot_product(v, v)
                 - 2.0 * list_dot_product(v,
                     (SELECT vec FROM md WHERE comp_idx = -1)))
                 + (SELECT scalar FROM md WHERE comp_idx = -1)) AS csq
               FROM base)
        SELECT vec_id,
               CONCAT_WS(',', $u6) AS scores_u6,
               ROUND(sqrt(GREATEST(csq - ($scoreSq), 0.0)), 6) AS recon_err
        FROM sc"""
  }

  /** The MMR greedy re-rank (ext64) restated by UNROLLING its k=5
    * sequential steps as CTEs — each step's candidate score is
    * λ·rel − (1−λ)·max(0, cosine to any prior pick) (the engine's maxSim
    * array initializes at 0 and only increases, so a pool whose picks are
    * all ANTI-correlated with a candidate applies no diversity penalty —
    * GREATEST(0, …) restates that floor), the argmax ties break
    * on the lower neighbor id (the engine's ascending-id strict-> scan),
    * and every input double (6-dp pool relevance, normalized vectors,
    * sequential dot products) is bit-identical across engines, so the
    * float greedy is exactly replayable without any aux table. */
  private def mmrOracleSql: String = {
    val steps = (2 to 5).map { r => s"""
        mx$r AS (SELECT c2.query_id, c2.neighbor_id,
                        GREATEST(0.0, MAX(list_dot_product(c2.nv, pk.nv)))
                          AS ms
                 FROM p0 c2 JOIN picks${r - 1} pk USING (query_id)
                 WHERE NOT EXISTS (SELECT 1 FROM picks${r - 1} x
                   WHERE x.query_id = c2.query_id
                     AND x.neighbor_id = c2.neighbor_id)
                 GROUP BY c2.query_id, c2.neighbor_id),
        pk$r AS (SELECT c.query_id, c.neighbor_id,
                        0.5 * c.rel - 0.5 * mx$r.ms AS score, c.nv
                 FROM p0 c JOIN mx$r ON mx$r.query_id = c.query_id
                   AND mx$r.neighbor_id = c.neighbor_id
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY c.query_id
                   ORDER BY 0.5 * c.rel - 0.5 * mx$r.ms DESC,
                     c.neighbor_id) = 1),
        picks$r AS (SELECT * FROM picks${r - 1} UNION ALL
                    SELECT query_id, neighbor_id, $r AS rank, score, nv
                    FROM pk$r)"""
    }.mkString(",")
    s"""
        WITH eq AS (SELECT vec_id AS query_id,
                           CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 8),
        ec AS (SELECT vec_id AS neighbor_id,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
        scored AS (SELECT query_id, neighbor_id, cv,
                          ROUND(list_dot_product(qv, cv) /
                            (sqrt(list_dot_product(qv, qv)) *
                             sqrt(list_dot_product(cv, cv))), 6) AS rel
                   FROM ec, eq WHERE query_id <> neighbor_id),
        p0 AS (SELECT query_id, neighbor_id, rel,
                      list_transform(cv,
                        x -> x / sqrt(list_dot_product(cv, cv))) AS nv
               FROM scored
               QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, neighbor_id) <= 20),
        pk1 AS (SELECT query_id, neighbor_id, 0.5 * rel AS score, nv
                FROM p0
                QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY 0.5 * rel DESC, neighbor_id) = 1),
        picks1 AS (SELECT query_id, neighbor_id, 1 AS rank, score, nv
                   FROM pk1),$steps
        SELECT query_id, neighbor_id, ROUND(score, 6) AS mmr_score,
               CAST(rank AS BIGINT) AS rank
        FROM picks5"""
  }

  /** The ANN top-k re-rank oracle shared by ext12/ext14/ext61: the
    * returned (query_id, neighbor_id) SET is the sketch-dependent part
    * (candidate generation is the approximation, by design), but the
    * scoring and ranking of whatever the sketch admitted are exact math —
    * so the result set exports as aux and DuckDB re-scores each pair from
    * the embeddings table (6-dp-rounded cosine) and re-ranks within the
    * set. Ranks are faithful: row_number over all candidates restricted
    * to the surviving top-k equals row_number within the k, since
    * everything excluded ranked strictly below.
    */
  private def annTopKOracleSql(auxName: String): String = s"""
        WITH ap AS (SELECT query_id, neighbor_id FROM read_parquet(
               '${graft.util.OracleAux.glob(auxName)}')),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings)
        SELECT ap.query_id, ap.neighbor_id,
               ROUND(list_dot_product(qv, cv) /
                 (sqrt(list_dot_product(qv, qv)) *
                  sqrt(list_dot_product(cv, cv))), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY ap.query_id
                 ORDER BY ROUND(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))), 6) DESC,
                   ap.neighbor_id) AS rank
        FROM ap JOIN q USING (query_id) JOIN c USING (neighbor_id)"""

  /** The ANN recall-audit oracle shared by ext16/ext17/ext62: the
    * approximate top-k (the one sketch-dependent input) is read back from
    * the aux table `auxName`, the EXACT brute-force top-5 is recomputed
    * independently in DuckDB (the ext02 restatement — 6-dp-rounded cosine,
    * (sim DESC, neighbor_id) rank), and the per-query hit/recall
    * arithmetic of [[graft.operators.Similarity.recallVsExact]] is
    * replayed over the two.
    */
  private def annRecallOracleSql(auxName: String): String = s"""
        WITH ap AS (SELECT query_id, neighbor_id FROM read_parquet(
               '${graft.util.OracleAux.glob(auxName)}')),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        scored AS (SELECT query_id, neighbor_id,
                          ROUND(list_dot_product(qv, cv) /
                            (sqrt(list_dot_product(qv, qv)) *
                             sqrt(list_dot_product(cv, cv))), 6) AS sim
                   FROM c, q WHERE query_id <> neighbor_id),
        e AS (SELECT query_id, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rank
                FROM scored) WHERE rank <= 5),
        hits AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
                 FROM e JOIN ap USING (query_id, neighbor_id)
                 GROUP BY e.query_id),
        expd AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS expected
                 FROM e GROUP BY query_id)
        SELECT x.query_id, x.expected,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / x.expected, 6)
                 AS recall
        FROM expd x LEFT JOIN hits h USING (query_id)"""

  /** The 64-term per-bit MAJORITY-vote expression over a grouped hash
    * column — the DuckDB restatement of
    * [[graft.operators.VideoDedup]]'s majoritySignatures (2·bitsum > n ⇒
    * bit set; disjoint bit terms OR-folded back into one BIGINT; the
    * bit-63 term is the negative two's-complement literal, exactly the
    * engine's `lit(1L << 63)`). Arithmetic `>>` then `& 1` extracts any
    * bit incl. the sign bit. */
  private def majorityTerms(hashCol: String): String =
    (0 until 64).map { b =>
      s"(CASE WHEN 2 * SUM(($hashCol >> $b) & 1) > COUNT(*) " +
        s"THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)"
    }.mkString(" | ")

  /** [[graft.operators.ImageDedup.bandSlices]] as a DuckDB VALUES relation
    * (band, lo, msk) for `maxDist` banding — arithmetic `>>` plus mask is
    * slice-equivalent to the engine's unsigned shift for every band
    * because the mask strips the sign-extended bits. */
  private def bandSlicesValues(maxDist: Int): String = {
    val nBands = maxDist + 1
    (0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val w = (b + 1) * 64 / nBands - lo
      s"(CAST($b AS INTEGER), $lo, CAST(${(1L << w) - 1} AS BIGINT))"
    }.mkString(", ")
  }

  /** [[graft.operators.ImageDedup.bandBucketHealth]] restated over a CTE
    * `sigCte` providing a `phash` column, under `maxDist` banding, tagged
    * with `tier` — the per-band log2 size-class histogram with each
    * class's candidate-pair cost (size_class = exact integer bit length −
    * 1 on both engines, see bandBucketHealth's doc). */
  private def bandHealthSelect(sigCte: String, maxDist: Int,
      tier: String): String = s"""
        SELECT '$tier' AS tier, band,
               CAST(length(bin(sz)) - 1 AS BIGINT) AS size_class,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(sz) AS BIGINT) AS n_items,
               CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS pairs_contrib
        FROM (SELECT band, v, CAST(COUNT(*) AS BIGINT) AS sz
              FROM (SELECT bb.band, (h.phash >> bb.lo) & bb.msk AS v
                    FROM $sigCte h CROSS JOIN
                      (VALUES ${bandSlicesValues(maxDist)}) AS bb(band, lo, msk))
              GROUP BY band, v)
        GROUP BY band, size_class"""

  /** Per-invocation scratch dir for the eager lifecycle entries (r13
    * verdict #4 — ONE helper instead of three hand-rolled copies, two of
    * which had kept the pid-only naming whose concurrent-invocation race
    * ext133 already paid for): tmpdir + pid + a fresh UUID, so two
    * invocations in one JVM (parallel suites racing the catalog smoke)
    * never share a dir and two JVMs (sbt test vs the Verify driver)
    * never collide — and the dir is deleted when the body returns, so
    * repeated invocations don't leak parquet stores under tmpdir. The
    * body must therefore EAGERLY materialize anything it returns
    * (collect / localCheckpoint(true)): a lazy plan over scratch files
    * would read after the delete. */
  private def withScratch[T](slug: String)(body: String => T): T = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft-$slug-" +
      ProcessHandle.current().pid() + "-" +
      java.util.UUID.randomUUID().toString.take(8)
    try body(base)
    finally graft.util.LocalFs.deleteRecursively(base)
  }

  /** The catalog's canonical corpus-wide near-dup pair table (word-3-gram
    * Jaccard ≥ 0.8 over `documents`), materialized once per session via
    * [[graft.operators.MaterializedPairs]] and shared by ext82 (the pairs
    * themselves), ext84 (retention over their clusters) and ext86 (the
    * leakage guard) — one pairs job feeding every consumer, the r6 verdict's
    * 100 TB materialized-pairs shape.
    */
  private def sharedSetSimPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.setSimPairs(
      Tables.documents(s, dir), "text", "doc_id", n = 3, threshold = 0.8, key = dir)

  /** The IMAGE near-dup pair table (standard synthetic corpus, mirror-
    * canonical DCT pHash,
    * Hamming ≤ 3) materialized once per session and shared by ext101 (the
    * pairs), ext103 (the cross-modal AND gate's image side) and ext105
    * (retention accounting) — the same one-pairs-job-many-consumers shape
    * as [[sharedSetSimPairs]]: at scale the decode+hash pass over the image
    * corpus is 3× the banded join, so recomputing it per consumer is the
    * dominant avoidable cost (r8 verdict finding #2).
    */
  /** The IMAGE fingerprint table (doc_id, 64-bit mirror-canonical DCT
    * pHash) — the session's ONE image decode+hash pass, memoized
    * separately from the pair table because it has consumers of its own:
    * the pair join below AND ext108's incremental probe (at scale this
    * frame is the PERSISTED fingerprint table a daily ingest maintains —
    * 8 bytes + id per image; consumers read it instead of re-decoding the
    * corpus, exactly like ext73's persisted IVF-PQ index).
    */
  private def sharedImageHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.frame(
      s"${s.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s)}|imagehashes|$dir") {
      graft.operators.ImageDedup.hashes(
        graft.sources.ImageCorpus.forIds(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        "png", "doc_id")
    }

  private def sharedImagePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // resolve the hash memo BEFORE entering the pair memo's computeIfAbsent
    // — a memo nested inside another memo's builder is a reentrant update
    // on the same map (ConcurrentHashMap throws "Recursive update")
    val hashes = sharedImageHashes(s, dir)
    graft.operators.MaterializedPairs.frame(
      s"${s.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s)}|imagepairs|$dir") {
      graft.operators.ImageDedup.hammingNearDupPairs(hashes, maxDist = 3)
    }
  }

  /** The standard-corpus AUDIO fingerprint table — decode+hash pass
    * memoized separately from the pair table (the [[sharedImageHashes]]
    * discipline, r16): it is the persisted 8-byte-per-clip frame a daily
    * ingest maintains, AND the deterministic intermediate the ext102
    * oracle-aux export ships to DuckDB. */
  private def sharedAudioHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.frame(
      s"${s.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s)}|audiohashes|$dir") {
      graft.operators.AudioDedup.hashes(
        graft.sources.AudioCorpus.forIds(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        "wav", "doc_id")
    }

  /** The standard-corpus AUDIO pair table under the same discipline (ext102;
    * ext103's audio side deliberately renders a DIVERGENT corpus — doc_id %
    * 30 == 2 remapped — so it is a different artifact and carries its own
    * memo key rather than silently aliasing this one).
    */
  private def sharedAudioPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // resolve the hash memo BEFORE entering the pair memo (reentrant
    // ConcurrentHashMap update otherwise — see sharedImagePairs)
    val hashes = sharedAudioHashes(s, dir)
    graft.operators.MaterializedPairs.frame(
      s"${s.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s)}|audiopairs|$dir") {
      graft.operators.ImageDedup.hammingNearDupPairs(hashes, maxDist = 3)
    }
  }

  /** The DECODED frame table of the scene-structured video corpus
    * ((video_id, frame_idx, rows, cols, channels, fps, px) —
    * [[graft.sources.Video.framesById]] over
    * [[graft.sources.VideoCorpus.scenesFor]]), materialized once per
    * session and shared by ext110 (shot segmentation, which hashes the
    * frames) and ext111 (motion backfill, which runs the CV kernel over
    * them) — the decode-once-analyze-many discipline: at scale the decode
    * pass IS the cost of frame analytics, and every consumer reading one
    * materialized frame table instead of re-decoding the corpus is the
    * same shape as the image fingerprint memo feeding ext101/ext108.
    */
  private def sharedSceneFrames(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.frame(
      s"${s.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s)}|sceneframes|$dir") {
      // REPARTITIONED ON video_id before materialization (the Centrality
      // edge-list discipline): every consumer's per-video window
      // (segmentation lag, motion lag, keyframe rank, quality summary)
      // requires hashpartitioning(video_id), and the cached plan's
      // outputPartitioning satisfies it — so the RAW PIXEL ROWS, by far
      // the widest frame in the suite, shuffle ONCE at build instead of
      // once per consumer (4× at r9's consumer count; ext111 alone wrote
      // 17.7 MB/run at sf0.1 before this).
      graft.sources.Video.framesById(
        graft.sources.VideoCorpus.scenesFor(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        "gvid", "doc_id")
        .repartition(col("video_id"))
    }

  /** The informative FRAME-HASH table of the dedup video corpus
    * ([[graft.operators.VideoDedup.keptFrameHashes]] over
    * [[graft.sources.VideoCorpus.forIds]], stride 2), materialized once
    * per session and shared by ext104 (the exact frame-level path) and
    * ext122's two-tier recall audit (which runs BOTH the exact and the
    * prefiltered path over it) — the decode pass is the cost; three
    * consumers pay it once.
    */
  private def sharedDedupFrameHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.frame(
      s"${s.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s)}|dedupframehashes|$dir") {
      // CLUSTER THE MEMO BY id (r17, guide §2.4 share one exchange):
      // every consumer of the frame-hash table groups or builds lists by
      // id — per-video counts, collect_list refine lists, the majority
      // signatures (whose 65-column partial-agg rows shuffled with ~zero
      // map-side reduction at 6 frames/video), the segment grids. One
      // 16-byte-row shuffle at build time makes them all exchange-free
      // (hash(id) satisfies every groupBy(id, ...) clustering).
      graft.operators.VideoDedup.keptFrameHashes(
        graft.sources.VideoCorpus.forIds(
          Tables.documents(s, dir).select("doc_id"), "doc_id"),
        "gvid", "doc_id", everyNth = 2)
        .repartition(col("id"))
    }

  /** The shuffle partitioning of the FIXTURE-SCALE streaming lifecycle
    * arcs (ext121, ext132–ext134, ext136–ext138), each run in
    * `ScaleScope.sibling(s0, ArcShufflePartitions)`. These entries stream
    * a handful of items per wave through stateful operators to assert a
    * PROTOCOL (fold cadence, retention, ack) — at the catalog default of
    * 32 every wave opens, loads and commits 32 RocksDB state-store
    * instances for a one-image micro-batch, a fixed cost that measures the
    * state-store count, not the protocol. The throughput-bearing ingest
    * lanes ([[graft.Bench.ingestDocsPerSec]] / `ingestImagesPerSec`) keep
    * the session default so their dials stay comparable across rounds.
    */
  private val ArcShufflePartitions = "spark.sql.shuffle.partitions" -> "4"

  /** Small dedicated thread pool for OVERLAPPED independent driver actions
    * (guide §2.6): a Spark action blocks its submitting thread for the
    * whole job, so running overlapped chains on
    * `ExecutionContext.Implicits.global` can starve the JVM-shared
    * fork-join pool for every other in-process user (r16 ADVICE). Cached
    * pool — each overlapped chain owns a thread for its blocking lifetime
    * — with daemon threads so an abandoned chain never pins the JVM.
    */
  private lazy val overlapEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => {
          val t = new Thread(r, "graft-overlap")
          t.setDaemon(true)
          t
        }))

  /** Await ALL of `fs`, surfacing the FIRST failure promptly (r16 ADVICE:
    * a plain sequential Await chain hides a fast failure in a
    * later-awaited chain behind an earlier chain's full timeout). */
  private def awaitAll(fs: Seq[scala.concurrent.Future[Any]],
      timeout: scala.concurrent.duration.Duration): Unit = {
    import scala.concurrent.{Await, Future, Promise}
    implicit val ec: scala.concurrent.ExecutionContext = overlapEc
    val p = Promise[Unit]()
    fs.foreach(_.failed.foreach(p.tryFailure))
    Future.sequence(fs).foreach(_ => p.trySuccess(()))
    Await.result(p.future, timeout)
  }

  /** The supplier→customer trade-graph edge list (distinct pairs), built
    * ONCE per (context, dir) inside an AQE-off sibling session and shared
    * by ext94 (PageRank) and ext96 (HITS) — the edge derivation is a
    * fact-table join + distinct that neither iterative consumer should
    * re-pay. The returned frame is bound to an AQE-off sibling, so every
    * query built on it executes with static plans: AQE inserts a
    * materialization + re-optimization barrier at EVERY shuffle, which
    * costs ~1.4 s/round on rank frames of a few thousand rows (measured at
    * sf0.1: PageRank 8 iters 17.7 s with AQE, 7.2 s without) while having
    * nothing to adapt — the iteration's stage sizes are known and tiny.
    *
    * Nodes are carried as LONGS inside the iterate (r16, guide §2.3
    * narrower types): supplier s → 2s, customer c → 2c+1 — a bijection
    * into disjoint parity classes, so grouping/joining on the long key
    * partitions rows exactly like the 's…'/'c…' strings did while every
    * per-round shuffle (8 PageRank rounds, 16 HITS half-steps) moves an
    * 8-byte fixed-width key instead of a variable-width UTF8 string.
    * [[tradeNodeStr]] decodes back to the catalog's public node labels
    * AFTER the iterate, before any ordering the output depends on — so
    * the declared output (ranking ties broken on the STRING label) is
    * bit-identical to the all-string implementation the oracle replays.
    */
  private def sharedTradeEdges(s0: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.frame(
      s"${s0.sparkContext.applicationId}#" +
        s"${System.identityHashCode(s0.sparkContext)}|tradegraph|$dir") {
      val s = graft.ScaleScope.sibling(s0, "spark.sql.adaptive.enabled" -> "false")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(shiftleft(col("l_suppkey").cast("long"), 1).as("src"),
          (shiftleft(col("o_custkey").cast("long"), 1) + 1).as("dst"))
        .distinct()
    }

  /** Decode a [[sharedTradeEdges]] long node id back to its public label
    * ('s<suppkey>' / 'c<custkey>') — see the encoding note there. */
  private def tradeNodeStr(node: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(when(node.bitwiseAND(lit(1L)) === 0, lit("s")).otherwise(lit("c")),
      shiftright(node, 1).cast("string"))

  /** The bounded CHAR-4-gram template-pair table (J ≥ 0.4, doc_id < 150 —
    * the ext87 substrate where template chains are live), materialized once
    * per session and shared by ext87 (transitive leakage) and ext95 (record
    * linkage blocking): one char-gram prefix-filter join feeding both.
    */
  private def sharedCharTemplatePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.MaterializedPairs.charSetSimPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 150),
      "text", "doc_id", n = 4, threshold = 0.4, key = s"$dir|lt150")

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------- EXT1
    // Exact dedup with deterministic survivor (min doc_id per md5(text)).
    QueryDef(
      "ext01_dedup_exact",
      (s, dir) => Dedup.exact(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "source"),
      Some("""
        SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source,
                 ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1
      """)),

    // ------------------------------------------------------------- EXT2
    // Exact brute-force top-5 cosine neighbors for 8 query vectors —
    // broadcast queries × full corpus scan, rank on round(cos, 6).
    QueryDef(
      "ext02_knn_cosine",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
          FROM c, q WHERE query_id <> neighbor_id)
        SELECT query_id, neighbor_id, sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5
      """)),

    // ------------------------------------------------------------- EXT3
    // Exact word-set Jaccard near-dup pairs on a bounded candidate set
    // (doc_id < 60 → 1770 pairs); the verify stage of an LSH pipeline.
    QueryDef(
      "ext03_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 60), "text", "doc_id", 0.8),
      Some("""
        WITH t AS (
          SELECT doc_id, list_sort(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS toks
          FROM documents WHERE doc_id < 60),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS inter,
                 len(a.toks) + len(b.toks) AS tot
          FROM t a, t b WHERE a.doc_id < b.doc_id),
        scored AS (
          SELECT doc_a, doc_b,
                 CASE WHEN tot - inter = 0 THEN 1.0
                      ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END AS jaccard
          FROM pairs)
        SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.8
      """)),

    // ------------------------------------------------------------- EXT4
    // Term frequencies: tokenize → explode → count, global top-50.
    QueryDef(
      "ext04_term_freq",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(50),
      Some("""
        SELECT tok, COUNT(*) AS n FROM (
          SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents)
        WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 50
      """)),

    // ------------------------------------------------------------- EXT5
    // Per-document quality features (length / diversity / stopword ratios).
    QueryDef(
      "ext05_quality",
      (s, dir) => {
        val cols = TextFunctions.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
        Tables.documents(s, dir).select(col("doc_id") +: cols: _*)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 ROUND(CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, b) -> a + b) AS DOUBLE) / len(toks), 6) END AS avg_token_len,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 ROUND(CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / len(toks), 6) END AS stopword_ratio,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) END AS distinct_ratio
        FROM t
      """)),

    // ------------------------------------------------------------- EXT6
    // Token counting (whitespace + regex alnum-run) rolled up per source.
    QueryDef(
      "ext06_token_counts",
      (s, dir) => {
        val counts = TextFunctions.tokenCounts(col("text")).map { case (n, c) => c.as(n) }
        Tables.documents(s, dir)
          .select(col("source") +: counts: _*)
          .groupBy("source")
          .agg(sum("n_ws_tokens").as("ws_tokens"),
            sum("n_re_tokens").as("re_tokens"),
            count(lit(1)).as("n_docs"))
      },
      Some("""
        SELECT source,
               CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS re_tokens,
               COUNT(*) AS n_docs
        FROM documents GROUP BY source
      """)),

    // ------------------------------------------------------------- EXT7
    // Embedding-cosine near-dup pairs blocked on the cluster label.
    QueryDef(
      "ext07_embed_neardup",
      (s, dir) => Dedup.embeddingNearDup(
        Tables.embeddings(s, dir), "embedding", "vec_id", "label", threshold = 0.4),
      Some("""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
      """)),

    // ---------------------------------------------------- rows-only sketches
    // MinHash-LSH candidate pairs (hash-engine-specific → no SQL oracle;
    // semantics pinned by DedupSpec).
    QueryDef(
      "ext08_minhash_lsh",
      (s, dir) => Dedup.minHashLsh(
        Tables.documents(s, dir), "text", "doc_id"),
      None, bench = true),

    // SimHash near-dup pairs within Hamming distance 3.
    QueryDef(
      "ext09_simhash",
      (s, dir) => Dedup.simHashPairs(
        Tables.documents(s, dir), "text", "doc_id"),
      None, bench = true),

    // Rolling-hash document fingerprints.
    QueryDef(
      "ext10_fingerprint",
      (s, dir) => Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.fingerprint(TextFunctions.tokens(col("text"))).as("fp")),
      None, bench = false),

    // Heuristic language ID vs the labeled lang column. ORACLE-HASHED
    // since r16: the marker lists are static data, the scoring is token
    // counting, and the tie rule is (max score, lexicographically larger
    // lang) — all restatable, so this needs no aux at all; DuckDB
    // recomputes the whole heuristic from the documents table.
    QueryDef(
      "ext11_langid",
      (s, dir) => Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("predicted")),
      Some("""
        WITH t AS (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS toks
                   FROM documents),
        sc AS (SELECT doc_id, lang, m.ml,
                      len(list_filter(toks, x -> list_contains(m.ms, x)))
                        AS score
               FROM t CROSS JOIN (VALUES
                 ('en', ['the','and','of','is']),
                 ('de', ['der','die','das','und']),
                 ('fr', ['le','la','les','et']),
                 ('es', ['el','los','las','que']),
                 ('zh', ['的','是','了'])) AS m(ml, ms)),
        b AS (SELECT doc_id, lang, ml, score,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, ml DESC) AS rk
              FROM sc)
        SELECT doc_id, lang,
               CASE WHEN score > 0 THEN ml ELSE 'und' END AS predicted
        FROM b WHERE rk = 1
      """), bench = false),

    // Approximate NN via multi-table hyperplane-LSH buckets (the 100 TB
    // path: equi join on (table, bucket) instead of query × corpus; 8
    // independent 4-bit tables — recall measured by ext16).
    QueryDef(
      "ext12_ann_lsh",
      // ORACLE-HASHED since r16: the returned set is the sketch's (by
      // design), but its scoring and ranking are exact math — the result
      // ids export as aux and DuckDB re-scores + re-ranks them from the
      // embeddings table (annTopKOracleSql's faithful-rank argument)
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val r = Similarity.lshTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, nBits = 4, nTables = 8)
        graft.util.OracleAux.export("lsh_topk", dir,
          r.select("query_id", "neighbor_id"))
        r
      },
      Some(annTopKOracleSql("lsh_topk")), bench = false),

    // Approximate NN via IVF coarse quantization (k-means lists + nProbe
    // probing — the other 100 TB ANN path besides LSH).
    QueryDef(
      "ext14_ann_ivf",
      // ORACLE-HASHED since r16 — the ext12 discipline
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val r = Similarity.ivfTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 2)
        graft.util.OracleAux.export("ivf_topk", dir,
          r.select("query_id", "neighbor_id"))
        r
      },
      Some(annTopKOracleSql("ivf_topk")), bench = false),

    // ANN quality made driver-visible: per-query recall of each approximate
    // method against the exact brute-force top-k. ORACLE-HASHED since r16
    // (the ext122 audit discipline): the approximate top-k — the one
    // sketch-dependent input — exports as aux, and DuckDB recomputes the
    // EXACT brute-force top-k independently (the ext02 restatement) plus
    // the hit/recall arithmetic, so the audit math is hash-gated while
    // the recall VALUE stays an engine fact; the ≥-floor assertion lives
    // in SimilaritySpec. One row per query id, so the driver sees the
    // quality dial, not just that the plumbing returned rows.
    QueryDef(
      "ext16_ann_lsh_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 8)
        val approx = Similarity.lshTopK(
          q, emb, "vec_id", "embedding", k = 5, nBits = 4, nTables = 8)
        graft.util.OracleAux.export("lsh_topk", dir,
          approx.select("query_id", "neighbor_id"))
        Similarity.recallVsExact(
          approx,
          Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
      },
      Some(annRecallOracleSql("lsh_topk")), bench = false),

    QueryDef(
      "ext17_ann_ivf_recall",
      // ORACLE-HASHED since r16 — the ext16 discipline (aux = the IVF
      // top-k; exact side + recall arithmetic recomputed in DuckDB)
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 8)
        val approx = Similarity.ivfTopK(
          q, emb, "vec_id", "embedding", k = 5, nLists = 8, nProbe = 2)
        graft.util.OracleAux.export("ivf_topk", dir,
          approx.select("query_id", "neighbor_id"))
        Similarity.recallVsExact(
          approx,
          Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
      },
      Some(annRecallOracleSql("ivf_topk")), bench = false),

    // ------------------------------------------------------------- EXT32
    // Fully distributed Lloyd's k-means over the embeddings corpus — no
    // driver-side sample anywhere (the scale twin of ext14's bounded
    // quantizer). Rows-only: iterative float means are engine-specific;
    // convergence-to-exact-means and empty-list survival are pinned by
    // SimilaritySpec.
    // Rows-only, but the gate still sorts the Spark result — so the
    // centroid array emits as a micro-unit joined string here too.
    QueryDef(
      "ext32_kmeans_distributed",
      (s, dir) => Similarity.kmeansDistributed(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 3)
        .select(col("list"), col("n_vecs"),
          array_join(transform(col("centroid"),
            x => round(x * 1000000d).cast("long")), ",").as("centroid_u6")),
      None, bench = true),

    // The full scalable near-dedup composition: LSH candidates → exact
    // Jaccard verify. ORACLE-HASHED since r16: the candidate pair set —
    // the one sketch-dependent input — exports as aux, and DuckDB replays
    // the VERIFY stage (exact word-token-set Jaccard over exactly those
    // pairs, threshold filter) from the documents table, so the stage a
    // user actually trusts is hash-gated; recall vs the exact all-pairs
    // method stays pinned by DedupSpec.
    QueryDef(
      "ext15_neardup_pipeline",
      (s, dir) => {
        graft.util.OracleAux.export("lsh_candidates", dir,
          Dedup.minHashLshCandidates(
            Tables.documents(s, dir), "text", "doc_id"))
        Dedup.nearDupPipeline(
          Tables.documents(s, dir), "text", "doc_id", threshold = 0.8)
      },
      Some(s"""
        WITH cand AS (SELECT id_a, id_b FROM read_parquet(
               '${graft.util.OracleAux.glob("lsh_candidates")}')),
        t AS (SELECT doc_id, list_sort(list_distinct(list_filter(
                string_split_regex(lower(text), '\\s+'), x -> x <> '')))
                AS toks
              FROM documents),
        j AS (SELECT c.id_a AS doc_a, c.id_b AS doc_b,
                     len(list_filter(a.toks, x -> list_contains(b.toks, x)))
                       AS inter,
                     len(a.toks) + len(b.toks) AS tot
              FROM cand c JOIN t a ON a.doc_id = c.id_a
                          JOIN t b ON b.doc_id = c.id_b)
        SELECT doc_a, doc_b,
               CASE WHEN tot - inter = 0 THEN 1.0
                    ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END
                 AS jaccard
        FROM j
        WHERE (CASE WHEN tot - inter = 0 THEN 1.0
                    ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END)
              >= 0.8
      """), bench = true),

    // ------------------------------------------------------------- EXT18
    // Character-4-gram Jaccard near-dup pairs on a bounded candidate set —
    // the whitespace-robust sibling of ext03's word-set Jaccard.
    QueryDef(
      "ext18_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 40), "text", "doc_id",
        n = 4, threshold = 0.35),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 list_sort(list_distinct(
                   CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                        ELSE list_transform(range(1, length(lower(text)) - 2),
                                            i -> substr(lower(text), i, 4)) END)) AS toks
          FROM documents WHERE doc_id < 40),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS inter,
                 len(a.toks) + len(b.toks) AS tot
          FROM t a, t b WHERE a.doc_id < b.doc_id),
        scored AS (
          SELECT doc_a, doc_b,
                 CASE WHEN tot - inter = 0 THEN 1.0
                      ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END AS jaccard
          FROM pairs)
        SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.35
      """)),

    // ------------------------------------------------------------- EXT22
    // N-gram-profile language ID (Cavnar-Trenkle shape), self-trained and
    // classified in one deterministic plan — oracle-checked train+classify,
    // unlike the marker-word ext11 (rows-only). Profile = top-50 trigrams
    // per lang by document frequency.
    //
    // NOTE the fixture's `lang` labels are uncorrelated with the text (all
    // langs share one synthetic vocabulary), so accuracy on this corpus is
    // label noise — this entry pins the train+classify computation against
    // the oracle; LangIdNgramSpec pins ACCURACY on a corpus with real
    // per-language character signal.
    QueryDef(
      "ext22_langid_ngram",
      (s, dir) => graft.operators.LangIdNgram.selfTest(
        Tables.documents(s, dir), "text", "lang", "doc_id", n = 3, topK = 50),
      Some(s"""
        WITH $langIdOracleCtes
        SELECT doc_id, lang, COALESCE(b.cand, 'und') AS predicted
        FROM documents LEFT JOIN best b USING (doc_id)
      """)),

    // ------------------------------------------------------------- EXT21
    // Deterministic EXACT stratified sample: ceil(20%·|lang stratum|) docs
    // per lang, membership decided by md5 hash order (not RNG state) so
    // re-runs and the oracle agree row-for-row.
    QueryDef(
      "ext21_stratified_sample",
      (s, dir) => graft.operators.Sampling.stratifiedExact(
        Tables.documents(s, dir), "lang", "doc_id", 0.2)
        .select("doc_id", "lang", "source"),
      Some("""
        WITH t AS (
          SELECT doc_id, lang, source,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents)
        SELECT doc_id, lang, source FROM t WHERE rn <= CEIL(0.2 * n)
      """)),

    // ------------------------------------------------------------- EXT20
    // BPE-style pre-tokenization stats per lang: maximal letter/digit/punct
    // runs (the class boundaries a BPE tokenizer merges within), counted by
    // class. Map-side extraction + one partial/final agg.
    QueryDef(
      "ext20_bpe_pretokens",
      (s, dir) => {
        val toks = TextFunctions.bpePreTokens(col("text"))
        Tables.documents(s, dir)
          .select(
            col("lang"),
            size(toks).cast("long").as("n_pre"),
            size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("long").as("n_word"),
            size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("long").as("n_digit"))
          .groupBy("lang")
          .agg(
            sum("n_pre").as("n_pretokens"),
            sum("n_word").as("word_runs"),
            sum("n_digit").as("digit_runs"),
            (sum("n_pre") - sum("n_word") - sum("n_digit")).as("punct_runs"))
      },
      Some("""
        WITH t AS (
          SELECT lang,
                 regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]+') AS toks
          FROM documents)
        SELECT lang,
               CAST(SUM(len(toks)) AS BIGINT) AS n_pretokens,
               CAST(SUM(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+')))) AS BIGINT) AS word_runs,
               CAST(SUM(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+')))) AS BIGINT) AS digit_runs,
               CAST(SUM(len(toks))
                 - SUM(len(list_filter(toks, x -> regexp_full_match(x, '[a-z]+'))))
                 - SUM(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+')))) AS BIGINT) AS punct_runs
        FROM t GROUP BY lang
      """)),

    // ------------------------------------------------------------- EXT19
    // The capstone training-data-prep pipeline as ONE query: quality gate
    // (token count + lexical diversity) → exact dedup (deterministic
    // survivor) → per-(source, lang) corpus stats. Every stage is the
    // scale-safe form: map-side features, one digest shuffle for dedup, one
    // partial+final agg. The summary ratio is derived from exact integer
    // sums (not an avg of rounded doubles) so both engines hash-match.
    QueryDef(
      "ext19_training_prep",
      (s, dir) => {
        val feats = TextFunctions.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
        val scored = Tables.documents(s, dir)
          .select(Seq(col("doc_id"), col("source"), col("lang"), col("text")) ++ feats: _*)
        val kept = scored.filter(col("n_tokens") >= 20 && col("distinct_ratio") >= 0.4)
        Dedup.exact(kept, "text", "doc_id")
          .groupBy("source", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"),
            round(sum(col("n_distinct").cast("long")).cast("double") /
              sum(col("n_tokens").cast("long")), 6).as("corpus_distinct_ratio"))
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source, lang, text,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        f AS (
          SELECT doc_id, source, lang, text,
                 len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
          FROM t
          WHERE len(toks) >= 20
            AND ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) >= 0.4),
        d AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM f) WHERE rn = 1)
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_tokens), 6) AS corpus_distinct_ratio
        FROM d GROUP BY source, lang
      """)),

    // ------------------------------------------------------------- EXT23
    // Sequence packing (concat-and-chunk): documents ordered by id within
    // each source, running token offset, bin = floor(offset / seqLen). The
    // window is partitioned by source — no global order anywhere; at 100 TB
    // the group key just gets more granular (source × shard).
    QueryDef(
      "ext23_seq_packing",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        graft.operators.Packing.packBins(d, "source", "doc_id", "n_tok", seqLen = 256)
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents),
        p AS (
          SELECT source, doc_id, n_tok,
                 SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
          FROM d)
        SELECT source, CAST(FLOOR(off / 256) AS BIGINT) AS bin,
               COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM p GROUP BY source, bin
      """)),

    // ------------------------------------------------------------- EXT24
    // Gopher-style repetition signals per document: duplicate-bigram
    // fraction and most-frequent-bigram share. ZERO shuffles: every bigram
    // of a document lives in the document's own row, so the counts are a
    // single map-side pass ([[TextFunctions.bigramStats]]) — a per-doc
    // ratio never needs an explode+groupBy round trip, at any corpus
    // scale. (The exploded 2-shuffle form this replaced moved ~200 rows
    // per document through two exchanges.)
    QueryDef(
      "ext24_repetition",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), TextFunctions.bigramStats(col("text")).as("st"))
          .filter(col("st").isNotNull)
          .select(
            col("doc_id"),
            col("st._1").as("n_bigrams"),
            round(lit(1.0) - col("st._2").cast("double") / col("st._1"), 6).as("dup_frac"),
            round(col("st._3").cast("double") / col("st._1"), 6).as("top_frac")),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        b AS (
          SELECT doc_id,
                 unnest(list_transform(range(2, len(toks) + 1),
                        i -> toks[i-1] || ' ' || toks[i])) AS bg
          FROM w),
        c AS (SELECT doc_id, bg, COUNT(*) AS n FROM b GROUP BY doc_id, bg)
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
               ROUND(1 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS dup_frac,
               ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_frac
        FROM c GROUP BY doc_id
      """)),

    // ------------------------------------------------------------- EXT25
    // Temperature-weighted source mixing: per-source keep-fraction so kept
    // tokens ≈ 50% of the corpus distributed ∝ avail^0.5 (tail sources
    // upsampled), realized by the deterministic md5-order selection rule.
    // The plan is |sources| rows — AQE broadcasts it, no forced hint.
    QueryDef(
      "ext25_temperature_mix",
      (s, dir) => graft.operators.Mixing.temperatureMix(
        Tables.documents(s, dir).select(
          col("doc_id"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok")),
        "source", "doc_id", "n_tok", alpha = 0.5, budgetShare = 0.5),
      Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents),
        a AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS avail, COUNT(*) AS n_docs
              FROM d GROUP BY source),
        t AS (SELECT SUM(pow(avail, 0.5)) AS sw, CAST(SUM(avail) AS BIGINT) AS total FROM a),
        p AS (SELECT source, avail, n_docs,
                     ROUND(LEAST(1.0, 0.5 * total * pow(avail, 0.5) / sw / avail), 6) AS frac
              FROM a, t),
        r AS (SELECT d.doc_id, d.source, d.n_tok, p.frac, p.n_docs,
                     ROW_NUMBER() OVER (PARTITION BY d.source
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
              FROM d JOIN p USING (source)),
        k AS (SELECT source, COUNT(*) AS kept_docs, CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
              FROM r WHERE rn <= CEIL(frac * n_docs) GROUP BY source)
        SELECT p.source, p.avail AS avail_tokens, p.n_docs, p.frac,
               COALESCE(k.kept_docs, 0) AS kept_docs,
               COALESCE(k.kept_tokens, 0) AS kept_tokens
        FROM p LEFT JOIN k USING (source)
      """)),

    // ------------------------------------------------------------- EXT26
    // Benchmark decontamination: corpus docs (id ≥ 20) sharing any 4-token
    // shingle with the eval proxy set (id < 20). Distinct-shingle explode
    // on both sides, one equi join (AQE broadcasts the benchmark-sized eval
    // side), one agg — the clean majority never leaves the map side.
    QueryDef(
      "ext26_decontamination",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Decontaminate.overlaps(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", n = 4)
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(toks) - 2),
                        i -> list_aggregate(toks[i:i+3], 'string_agg', ' ')))) AS sh
          FROM d),
        e AS (SELECT doc_id AS eval_id, sh FROM s WHERE doc_id < 20),
        c AS (SELECT doc_id, sh FROM s WHERE doc_id >= 20)
        SELECT c.doc_id, COUNT(DISTINCT e.eval_id) AS n_eval_docs,
               COUNT(DISTINCT c.sh) AS n_shingles
        FROM c JOIN e USING (sh) GROUP BY c.doc_id
      """)),

    // ------------------------------------------------------------- EXT27
    // Quality-percentile gate: score every document (distinct-token
    // ratio), keep the best 60% per source — the standard corpus-pruning
    // step after quality scoring. One window shuffle on source; NULL
    // scores sort last EXPLICITLY (engines disagree on default NULL order
    // under DESC), ties break on doc_id.
    QueryDef(
      "ext27_quality_gate",
      (s, dir) => {
        val feats = TextFunctions.qualityFeatures(col("text")).toMap
        val scored = Tables.documents(s, dir).select(
          col("doc_id"), col("source"), feats("distinct_ratio").as("score"))
        graft.operators.Sampling.topFractionBy(
          scored, "source", "score", "doc_id", fraction = 0.6)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        f AS (
          SELECT doc_id, source,
                 CASE WHEN len(toks) = 0 THEN NULL ELSE
                   ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) END AS score
          FROM t),
        r AS (
          SELECT doc_id, source, score,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY score DESC NULLS LAST, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM f)
        SELECT doc_id, source, score FROM r WHERE rn <= CEIL(n * 0.6)
      """)),

    // ------------------------------------------------------------- EXT28
    // Per-label embedding centroids, fully distributed: posexplode →
    // (label, pos) hash aggregate (map-side partials) → per-label rebuild
    // bounded by the embedding dimension. The scale-out counterpart of the
    // IVF quantizer's bounded driver sample — nothing here ever collects.
    // The driver gate cannot sort/hash list columns, so the 6-dp centroid
    // components emit as micro-units (×1e6, exactly integral after the
    // operator's rounding) joined into a string; the operator itself keeps
    // returning the real array<double>.
    QueryDef(
      "ext28_class_centroids",
      (s, dir) => Similarity.classCentroids(
        Tables.embeddings(s, dir), "embedding", "label")
        .select(col("label"), col("n_vecs"),
          array_join(transform(col("centroid"),
            x => round(x * 1000000d).cast("long")), ",").as("centroid_u6"),
          col("centroid_norm")),
      Some("""
        WITH v AS (
          SELECT label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE embedding IS NOT NULL
            AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        e AS (
          SELECT label, unnest(range(1, len(v) + 1)) AS pos, unnest(v) AS val
          FROM v),
        s AS (
          SELECT label, pos, SUM(val) AS sv, COUNT(*) AS n
          FROM e GROUP BY label, pos),
        c AS (
          SELECT label, MAX(n) AS n_vecs,
                 list(ROUND(sv / n, 6) ORDER BY pos) AS centroid
          FROM s GROUP BY label)
        SELECT label, n_vecs,
               array_to_string(list_transform(centroid,
                 x -> CAST(round(x * 1000000) AS BIGINT)), ',') AS centroid_u6,
               ROUND(sqrt(list_dot_product(centroid, centroid)), 6) AS centroid_norm
        FROM c
      """)),

    // ------------------------------------------------------------- EXT29
    // Near-dup pairs → transitive CLUSTERS with a keep/drop verdict: the
    // final dedup step pairs alone can't express (a≈b, b≈c collapse to one
    // survivor even when a≉c). BSP min-label propagation on the ext18 pair
    // graph; the oracle computes the same components with a recursive CTE
    // (label set stays candidate-bounded, so the CTE is cheap here while
    // the Spark loop is the corpus-scale shape).
    QueryDef(
      "ext29_dedup_clusters",
      (s, dir) => Dedup.clusterPairs(
        Dedup.ngramJaccardPairs(
          Tables.documents(s, dir).filter(col("doc_id") < 40), "text", "doc_id",
          n = 4, threshold = 0.35))
        .withColumn("kept", col("doc_id") === col("cluster_id")),
      Some("""
        WITH RECURSIVE
        t AS (
          SELECT doc_id,
                 list_sort(list_distinct(
                   CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                        ELSE list_transform(range(1, length(lower(text)) - 2),
                                            i -> substr(lower(text), i, 4)) END)) AS toks
          FROM documents WHERE doc_id < 40),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS inter,
                 len(a.toks) + len(b.toks) AS tot
          FROM t a, t b WHERE a.doc_id < b.doc_id),
        p AS (
          SELECT doc_a, doc_b FROM pairs
          WHERE (CASE WHEN tot - inter = 0 THEN 1.0
                      ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END) >= 0.35),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p
              UNION SELECT doc_b AS src, doc_a AS dst FROM p),
        r AS (
          SELECT src AS node, src AS lbl FROM e
          UNION
          SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node)
        SELECT node AS doc_id, MIN(lbl) AS cluster_id,
               (node = MIN(lbl)) AS kept
        FROM r GROUP BY node
      """)),

    // ------------------------------------------------------------- EXT33
    // End-to-end dedup retention: pairs → clusters → per-source keep/drop
    // accounting. Unpaired documents are their own singleton cluster
    // (kept); in a cluster only the minimum id survives. The answer every
    // corpus owner asks of a dedup run — "how much of each source is
    // left?" — as one oracle-checked plan.
    QueryDef(
      "ext33_dedup_retention",
      (s, dir) => {
        val bounded = Tables.documents(s, dir).filter(col("doc_id") < 40)
        val clusters = Dedup.clusterPairs(
          Dedup.ngramJaccardPairs(bounded, "text", "doc_id", n = 4, threshold = 0.35))
        bounded.select(col("doc_id"), col("source"))
          .join(clusters, Seq("doc_id"), "left")
          .withColumn("kept",
            col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
      },
      Some("""
        WITH RECURSIVE
        t AS (
          SELECT doc_id,
                 list_sort(list_distinct(
                   CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                        ELSE list_transform(range(1, length(lower(text)) - 2),
                                            i -> substr(lower(text), i, 4)) END)) AS toks
          FROM documents WHERE doc_id < 40),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS inter,
                 len(a.toks) + len(b.toks) AS tot
          FROM t a, t b WHERE a.doc_id < b.doc_id),
        p AS (
          SELECT doc_a, doc_b FROM pairs
          WHERE (CASE WHEN tot - inter = 0 THEN 1.0
                      ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END) >= 0.35),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p
              UNION SELECT doc_b AS src, doc_a AS dst FROM p),
        r AS (
          SELECT src AS node, src AS lbl FROM e
          UNION
          SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node)
        SELECT d.source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN c.cluster_id IS NULL OR c.cluster_id = d.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
        FROM (SELECT doc_id, source FROM documents WHERE doc_id < 40) d
        LEFT JOIN c ON d.doc_id = c.doc_id
        GROUP BY d.source
      """)),

    // ------------------------------------------------------------- EXT30
    // Training-output shard assignment + balance audit: md5-hash shard
    // (pure per-row — no shuffle for the assignment), then one aggregate
    // reporting per-shard volume and deviation from the uniform ideal.
    QueryDef(
      "ext30_shard_balance",
      (s, dir) => graft.operators.Packing.shardReport(
        Tables.documents(s, dir).select(
          col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok")),
        "doc_id", "n_tok", nShards = 16),
      Some("""
        WITH d AS (
          SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 16 AS shard,
                 CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents),
        p AS (
          SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
          FROM d GROUP BY shard),
        sp AS (SELECT range AS shard FROM range(16)),
        t AS (SELECT CAST(SUM(shard_tokens) AS BIGINT) AS total FROM p)
        SELECT sp.shard,
               COALESCE(p.n_docs, 0) AS n_docs,
               COALESCE(p.shard_tokens, 0) AS shard_tokens,
               ROUND(COALESCE(p.shard_tokens, 0) / (t.total / 16) - 1.0, 6) AS rel_dev
        FROM sp LEFT JOIN p ON sp.shard = p.shard CROSS JOIN t
      """)),

    // ------------------------------------------------------------- EXT31
    // PII redaction. The corpus fixture carries no natural PII, so this
    // entry SYNTHESIZES a contact note per customer from fixture columns —
    // identically on both engines — and redacts it; the deliverable is the
    // scrub/count operator (map-side, codegen'd, Java∩RE2-portable
    // patterns), the note construction just guarantees real matches.
    QueryDef(
      "ext31_pii_redact",
      (s, dir) => {
        val note = concat(
          col("c_name"), lit(" phone 25-"),
          lpad((col("c_custkey") % 900 + 100).cast("string"), 3, "0"),
          lit("-741-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" email "),
          lower(regexp_replace(col("c_name"), "#", "")),
          lit("@example.com from 10.0."),
          (col("c_custkey") % 256).cast("string"), lit("."),
          (col("c_nationkey") % 256).cast("string"))
        val counts = graft.functions.Redaction.piiCounts(note)
          .map { case (n, c) => c.as(n) }
        Tables.customer(s, dir).select(
          col("c_custkey") +:
            graft.functions.Redaction.scrub(note).as("redacted") +: counts: _*)
      },
      Some("""
        WITH t AS (
          SELECT c_custkey, c_nationkey,
                 c_name || ' phone 25-' ||
                 lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0') ||
                 '-741-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
                 ' email ' || lower(replace(c_name, '#', '')) ||
                 '@example.com from 10.0.' ||
                 CAST(c_custkey % 256 AS VARCHAR) || '.' ||
                 CAST(c_nationkey % 256 AS VARCHAR) AS note
          FROM customer)
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(note,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{2,3}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
               CAST(len(regexp_extract_all(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(note, '\b\d{2,3}-\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(note, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
        FROM t
      """)),

    // ------------------------------------------------------------- EXT13
    // TF-IDF from built-ins: explode → (doc,term) tf, term df, idf join.
    // Two shuffles total (tf agg, df agg). The vocabulary join carries NO
    // broadcast hint: |vocab| grows with the corpus (billions of distinct
    // noise tokens at 100 TB), so forcing a broadcast would OOM — AQE picks
    // broadcast at runtime iff the df side actually fits. The corpus size N
    // is a 1-row aggregate cross-joined in (always broadcast-safe), not a
    // separate count() action — the whole query is one job, no extra scan
    // materialized on the driver.
    QueryDef(
      "ext13_tfidf",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        val toks = docs.filter(col("doc_id") < 50)
          .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        val allToks = docs
          .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = allToks.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
        tf.join(df, Seq("tok"))
          .crossJoin(broadcast(nDocs))
          .select(
            col("doc_id"), col("tok"), col("tf"),
            round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
          FROM documents),
        tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE doc_id < 50 GROUP BY doc_id, tok),
        df AS (
          SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
        n AS (SELECT COUNT(*) AS n FROM documents)
        SELECT doc_id, tf.tok AS tok, tf,
               ROUND(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
      """)),

    // ------------------------------------------------------------- EXT34
    // Inverted index: term → (exact df, sorted posting list capped at 32).
    // One shuffle total — df window, rank window and posting agg all share
    // the term hash partitioning (plan-guarded); the row_number cap bounds
    // the collect buffer so a stopword's postings can't OOM an agg buffer.
    // Postings emit comma-joined (sorted doc_ids) so the gate can
    // sort/hash the row; list columns are not gate-comparable.
    QueryDef(
      "ext34_inverted_index",
      (s, dir) => graft.operators.Indexing.invertedIndex(
        Tables.documents(s, dir), "text", "doc_id", cap = 32)
        .withColumn("postings", array_join(col("postings"), ",")),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS term
          FROM documents),
        r AS (
          SELECT term, doc_id,
                 COUNT(*) OVER (PARTITION BY term) AS df,
                 ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
          FROM toks)
        SELECT term, CAST(MAX(df) AS BIGINT) AS df,
               array_to_string(list_sort(list(doc_id)), ',') AS postings
        FROM r WHERE rn <= 32 GROUP BY term
      """)),

    // ------------------------------------------------------------- EXT35
    // Bigram PMI: collocation strength of adjacent-token pairs seen ≥ 5
    // times. Two hash aggs + two vocabulary joins (no broadcast hint — the
    // unigram table scales with the corpus; AQE decides) + a 1-row totals
    // cross-join. The log/division chain is written identically on both
    // engines so the 6-dp rounding hash-matches.
    QueryDef(
      "ext35_bigram_pmi",
      (s, dir) => graft.operators.Indexing.bigramPmi(
        Tables.documents(s, dir), "text", minCount = 5L),
      Some("""
        WITH d AS (
          SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        totals AS (
          SELECT CAST(SUM(len(toks)) AS DOUBLE) AS n_uni,
                 CAST(SUM(GREATEST(len(toks) - 1, 0)) AS DOUBLE) AS n_bi
          FROM d),
        uni AS (
          SELECT tok, COUNT(*) AS c1
          FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        bi AS (
          SELECT bigram, COUNT(*) AS c12
          FROM (SELECT unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS bigram FROM d)
          GROUP BY bigram HAVING COUNT(*) >= 5)
        SELECT bigram, CAST(c12 AS BIGINT) AS c12,
               ROUND(LN((c12 / n_bi) / ((a.c1 / n_uni) * (b.c1 / n_uni))), 6) AS pmi
        FROM bi
        JOIN uni a ON a.tok = string_split(bigram, ' ')[1]
        JOIN uni b ON b.tok = string_split(bigram, ' ')[-1]
        CROSS JOIN totals
      """)),

    // ------------------------------------------------------------- EXT36
    // Overlapping character chunking (200-char windows every 150 chars) —
    // context-window preparation. Map-side ONLY: sequence → explode →
    // substring, zero shuffles (plan-guarded); the chunk index is derived
    // arithmetically from the offset, so both engines emit identical rows.
    QueryDef(
      "ext36_doc_chunks",
      (s, dir) => graft.operators.Chunking.charChunks(
        Tables.documents(s, dir), "text", "doc_id", size = 200, stride = 150),
      Some("""
        WITH s AS (
          SELECT doc_id, text, unnest(range(1, length(text) + 1, 150)) AS start
          FROM documents)
        SELECT doc_id,
               (start - 1) // 150 + 1 AS chunk_idx,
               CAST(start AS BIGINT) AS start,
               substr(text, CAST(start AS INTEGER), 200) AS chunk,
               CAST(length(substr(text, CAST(start AS INTEGER), 200)) AS BIGINT) AS chunk_len
        FROM s
      """)),

    // ------------------------------------------------------------- EXT37
    // Tokenizer vocabulary build: top-500 BPE pretokens by corpus count
    // (min count 10), with a deterministic vocab id. The top-k is
    // TakeOrderedAndProject (plan-guarded — never a full global sort of the
    // vocabulary); only the ≤ 500 surviving rows pass through the single
    // rank window that assigns ids.
    QueryDef(
      "ext37_vocab_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, dir)
          .select(explode(TextFunctions.bpePreTokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 10)
        counts.orderBy(col("cnt").desc, col("tok")).limit(500)
          .withColumn("vocab_id",
            row_number().over(Window.orderBy(col("cnt").desc, col("tok")))
              .cast("long"))
      },
      Some("""
        WITH c AS (
          SELECT tok, COUNT(*) AS cnt
          FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]+')) AS tok
                FROM documents)
          GROUP BY tok HAVING COUNT(*) >= 10),
        r AS (
          SELECT tok, CAST(cnt AS BIGINT) AS cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS vocab_id
          FROM c)
        SELECT tok, cnt, vocab_id FROM r WHERE vocab_id <= 500
      """)),

    // ------------------------------------------------------------- EXT58
    // Tokenizer-fit audit: per-source out-of-vocabulary rate under a
    // top-20 pretoken vocabulary (≥10 occurrences; ext37's production cap
    // is 500, but the synthetic corpus has only ~31 distinct pretokens —
    // a 500-cap vocab covers everything and the OOV dial would be
    // identically zero at the gate, i.e. data-dead). The dial says which
    // sources a tokenizer trained on this corpus will shatter into bytes.
    // ONE corpus scan: the (source, tok) count aggregate feeds BOTH the
    // vocab (via a tok-level rollup of the counts — never a re-scan) and
    // the join probe; the ≤20-row vocab left-joins the small aggregate
    // (AQE broadcast by construction), then one (source) agg.
    QueryDef(
      "ext58_oov_rate",
      (s, dir) => {
        val perSrc = Tables.documents(s, dir)
          .select(col("source"), explode(TextFunctions.bpePreTokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        val vocab = perSrc.groupBy("tok").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") >= 10)
          .orderBy(col("cnt").desc, col("tok")).limit(20)
          .select(col("tok"), lit(true).as("in_vocab"))
        perSrc.join(vocab, Seq("tok"), "left")
          .groupBy("source")
          .agg(sum("cnt").as("n_tok"),
            sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            round(col("n_oov").cast("double") / col("n_tok"), 6))
      },
      Some("""
        WITH toks AS (
          SELECT source,
                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f]+')) AS tok
          FROM documents),
        p AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY source, tok),
        c AS (SELECT tok, SUM(cnt) AS cnt FROM p GROUP BY tok HAVING SUM(cnt) >= 10),
        v AS (SELECT tok FROM c ORDER BY cnt DESC, tok LIMIT 20)
        SELECT p.source, CAST(SUM(p.cnt) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN p.cnt ELSE 0 END) AS BIGINT) AS n_oov,
               ROUND(SUM(CASE WHEN v.tok IS NULL THEN p.cnt ELSE 0 END) /
                     CAST(SUM(p.cnt) AS DOUBLE), 6) AS oov_rate
        FROM p LEFT JOIN v USING (tok) GROUP BY p.source
      """)),

    // ------------------------------------------------------------- EXT59
    // Sequence-length histogram in log2 buckets — the packing planner's
    // input (EXT23 packs against a budget; this says what the length
    // distribution will do to fill efficiency). Map-side bucket math +
    // one aggregate. The bucket is the BIT LENGTH of the token count minus
    // one (= exact floor(log2)) — float log2 is a trap here: Spark computes
    // it as ln(x)/ln(2), which lands a hair under the integer at exact
    // powers of two while DuckDB's std::log2 is exact, so floor() would
    // disagree on every 2^k-token document.
    QueryDef(
      "ext59_length_histogram",
      (s, dir) => {
        val nTok = size(TextFunctions.tokens(col("text"))).cast("long")
        Tables.documents(s, dir)
          .select(col("source"), nTok.as("n_tok"))
          .where(col("n_tok") > 0)
          .withColumn("bucket", (length(bin(col("n_tok"))) - 1).cast("long"))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents)
        SELECT source, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM d WHERE n_tok > 0 GROUP BY 1, 2
      """)),

    // ------------------------------------------------------------- EXT38
    // Symmetric per-vector int8 embedding quantization: 6-dp-rounded scale
    // (unrounded fallback when rounding would underflow a nonzero vector to
    // scale 0), explicit floor(x/s + 0.5) codes clamped to [-127, 127]
    // (engine round() tie rules differ; tiny-magnitude vectors make the
    // scale rounding material), max reconstruction error of the CLAMPED
    // codes. Map-side only; zero vectors quantize to all-zero codes instead
    // of dividing by zero. Codes emit as a comma-joined string so the
    // verify gate can sort/hash the row (list columns are not
    // gate-comparable).
    QueryDef(
      "ext38_int8_quant",
      (s, dir) => {
        val clean = Tables.embeddings(s, dir)
          .filter(col("embedding").isNotNull &&
            size(filter(col("embedding"), x => x.isNull)) === 0)
        clean
          .select(col("vec_id"), VectorFunctions.toDouble(col("embedding")).as("v"))
          .withColumn("scale", VectorFunctions.int8Scale(col("v")))
          .select(
            col("vec_id"), col("scale"),
            array_join(VectorFunctions.int8Codes(col("v"), col("scale")), ",").as("codes"),
            VectorFunctions.int8MaxError(col("v"), col("scale")).as("max_err"))
      },
      Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE embedding IS NOT NULL
            AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        m AS (
          SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
          FROM v),
        s AS (
          SELECT vec_id, v,
                 CASE WHEN ROUND(mx / 127, 6) = 0 AND mx > 0 THEN mx / 127
                      ELSE ROUND(mx / 127, 6) END AS scale
          FROM m)
        SELECT vec_id, scale,
               CASE WHEN scale = 0 THEN array_to_string(list_transform(v, x -> 0), ',')
                    ELSE array_to_string(list_transform(v,
                           x -> CAST(GREATEST(-127, LEAST(127, floor(x / scale + 0.5))) AS INTEGER)), ',') END AS codes,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE ROUND(list_max(list_transform(v,
                           x -> abs(x - GREATEST(-127, LEAST(127, floor(x / scale + 0.5))) * scale))), 6) END AS max_err
        FROM s
      """)),

    // ------------------------------------------------------------- EXT39
    // Salted two-phase aggregation (graft.operators.Skew.saltedCount): the
    // deterministic fallback for keys so hot that even AQE's split
    // partitions overwhelm one reducer. The salt only changes the physical
    // distribution — the result is the plain GROUP BY count, which is
    // exactly what the oracle checks.
    QueryDef(
      "ext39_salted_agg",
      (s, dir) => graft.operators.Skew.saltedCount(
        Tables.events(s, dir).select(col("event_type")), "event_type", nSalt = 8),
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
      """)),

    // ------------------------------------------------------------- EXT40
    // Exact heavy hitters over word bigrams: which collocations exceed
    // 0.15% of all bigram occurrences — the corpus-audit question behind
    // boilerplate detection and stop-phrase lists. One (item) hash agg
    // with map-side partials, the total derived FROM the counts (no second
    // scan), one 1-row cross join.
    QueryDef(
      "ext40_heavy_hitters",
      (s, dir) => graft.operators.HeavyHitters.exact(
        Tables.documents(s, dir)
          .select(explode(TextFunctions.wordShinglesFast(col("text"), 2)).as("item")),
        "item", minShare = 0.0015),
      Some("""
        WITH d AS (
          SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        bg AS (
          SELECT unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS item
          FROM d WHERE len(toks) >= 2),
        c AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY item),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        SELECT item, n, ROUND(CAST(n AS DOUBLE) / total, 6) AS share
        FROM c, t WHERE n >= total * 0.0015
      """)),

    // ------------------------------------------------------------ EXT40b
    // The sketch twin (q13b pattern): distributed Misra–Gries with 64
    // counters — O(k) state per partition, at most k counters cross the
    // shuffle, with the classic guarantee (every item above N/(k+1)
    // present; estimates undercount by <= N/(k+1), emitted per row as
    // max_undercount). Engine-specific survivor set below the guarantee
    // line → rows-only; the bounds are pinned against [[HeavyHitters
    // .exact]] in HeavyHittersSpec.
    QueryDef(
      "ext40b_heavy_hitters_sketch",
      (s, dir) => graft.operators.HeavyHitters.sketch(
        Tables.documents(s, dir)
          .select(explode(TextFunctions.wordShinglesFast(col("text"), 2)).as("item")),
        "item", k = 64),
      None),

    // ------------------------------------------------------------- EXT41
    // Per-document contamination FRACTION vs the eval proxy set — the
    // graded form of EXT26's boolean flag (the GPT-3-appendix style
    // "fraction of n-grams seen in eval" dial). Clean documents appear
    // with 0.0: denominators are map-side shingle-set sizes, so the clean
    // majority costs one per-doc-totals left join, never a second scan.
    QueryDef(
      "ext41_contamination",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Decontaminate.contaminationFraction(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", "doc_id", n = 4)
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(toks) - 2),
                        i -> list_aggregate(toks[i:i+3], 'string_agg', ' ')))) AS sh
          FROM d),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
                FROM s GROUP BY doc_id),
        e AS (SELECT DISTINCT sh FROM s WHERE doc_id < 20),
        h AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
              FROM s JOIN e USING (sh) WHERE s.doc_id >= 20 GROUP BY s.doc_id)
        SELECT d.doc_id,
               COALESCE(tot.n_shingles, 0) AS n_shingles,
               COALESCE(h.n_contaminated, 0) AS n_contaminated,
               CASE WHEN COALESCE(tot.n_shingles, 0) = 0 THEN 0.0
                    ELSE ROUND(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
                               / tot.n_shingles, 6) END AS contamination
        FROM d LEFT JOIN tot USING (doc_id) LEFT JOIN h USING (doc_id)
        WHERE d.doc_id >= 20
      """)),

    // ------------------------------------------------------------- EXT42
    // Duplicated-substring spans (Lee et al. 2022 restated): 64-char
    // windows occurring verbatim in >= 2 documents, found via
    // content-based (winnowing) 1/16 sampling — position-independent, so
    // misaligned copies still collide. Map-side hash pass → one agg on
    // the window hash → AQE-broadcast join of the (tiny) dup-hash set
    // back to spans. Nothing pairwise in documents.
    QueryDef(
      "ext42_substring_dedup",
      (s, dir) => graft.operators.SubstringDedup.duplicatedSpans(
        Tables.documents(s, dir), "text", "doc_id", window = 64, hexPrefix = "0"),
      Some("""
        WITH w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        s AS (SELECT * FROM w WHERE substr(h, 1, 1) = '0'),
        d AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM s GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
        SELECT s.doc_id, s.pos, s.h, d.n_docs FROM s JOIN d USING (h)
      """)),

    // ------------------------------------------------------------- EXT43
    // Distributed PCA projection of the embedding corpus to 8 components:
    // the O(rows) moment pass is one constant-buffer Aggregator, the d×d
    // eigensolve is driver-side (d = dimension, never corpus), projection
    // is codegen'd dots against broadcast literal components — no shuffle.
    // Eigensolve output is engine-specific float work; the PROJECTION is
    // exact given the model. ORACLE-HASHED since r16: the fitted model
    // (components + the exact scalar precomputations project() folds into
    // its literals) exports as aux, and DuckDB replays the projection —
    // per-component dots, the left-fold score-energy sum, the Parseval
    // residual — term-for-term in the engine's association order; sign
    // convention, orthonormality, variance ordering, Parseval residuals,
    // and agreement with a reference eigensolve are pinned in PcaSpec.
    // Scores emit as 6-dp micro-units (×1e6) strings, the ext28 pattern
    // for list columns the gate cannot hash.
    QueryDef(
      "ext43_pca_project",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.operators.Pca.fit(emb, "embedding", d = 64, k = 8)
        // aux rows: (comp_idx, vec, scalar) — component j carries
        // Σ μ·w_j (the centering constant project() bakes into its
        // literal), the comp_idx = -1 row carries (μ, Σ μ²). The scalars
        // are computed by the SAME expressions project() uses, so the
        // oracle consumes bit-identical constants.
        locally {
          import s.implicits._
          val rows = model.components.toSeq.zipWithIndex.map { case (w, j) =>
            (j, w.toSeq, model.mean.zip(w).map { case (m, c) => m * c }.sum)
          } :+ ((-1, model.mean.toSeq, model.mean.map(x => x * x).sum))
          graft.util.OracleAux.export("pca_model", dir,
            rows.toDF("comp_idx", "vec", "scalar")): Unit
        }
        graft.operators.Pca.project(emb, "vec_id", "embedding", model)
          .select(col("vec_id"),
            array_join(transform(col("scores"),
              x => round(x * 1000000d).cast("long")), ",").as("scores_u6"),
            col("recon_err"))
      },
      Some(pcaOracleSql)),

    // ------------------------------------------------------------- EXT44
    // Character-trigram LM quality score (the CCNet/KenLM perplexity
    // filter restated as two aggregates + two dimension-sized joins):
    // train on the doc_id < 250 reference slice, score every document by
    // average conditional log-prob with add-one smoothing. Identical
    // count → divide → ln → avg chain on both engines, 6-dp rounded.
    QueryDef(
      "ext44_ngram_lm",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.NgramLm.score(
          docs, docs.filter(col("doc_id") < 250), "text", "doc_id", n = 3)
      },
      Some("""
        WITH tr AS (SELECT lower(text) AS t FROM documents
                    WHERE doc_id < 250 AND text IS NOT NULL),
        tg AS (SELECT unnest(list_transform(range(1, length(t) - 1),
                      i -> substr(t, CAST(i AS INT), 3))) AS gram
               FROM tr WHERE length(t) >= 3),
        c3 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c_n FROM tg GROUP BY gram),
        c2 AS (SELECT substr(gram, 1, 2) AS prefix, CAST(SUM(c_n) AS BIGINT) AS c_prefix
               FROM c3 GROUP BY 1),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c3),
        dt AS (SELECT doc_id, unnest(list_transform(range(1, length(lower(text)) - 1),
                      i -> substr(lower(text), CAST(i AS INT), 3))) AS gram
               FROM documents WHERE length(lower(text)) >= 3),
        sc AS (SELECT doc_id, ln((COALESCE(c_n, 0) + 1.0) /
                                 (COALESCE(c_prefix, 0) + v)) AS lp
               FROM dt LEFT JOIN c3 USING (gram)
                       LEFT JOIN c2 ON substr(dt.gram, 1, 2) = c2.prefix, v)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               ROUND(AVG(lp), 6) AS logprob
        FROM sc GROUP BY doc_id
      """)),

    // ------------------------------------------------------------- EXT45
    // BPE tokenizer TRAINING (Sennrich 2016): one distributed pre-token
    // frequency aggregate, then the greedy merge loop on the bounded
    // word-frequency dictionary driver-side — the split every production
    // BPE trainer uses (the corpus is never rescanned per merge).
    // Iterative greedy training is inexpressible in one SQL query →
    // rows-only; the merge sequence (incl. tie-breaks) is hand-verified
    // in BpeSpec on the classic low/lower/newest/widest corpus.
    QueryDef(
      "ext45_bpe_train",
      (s, dir) => {
        import s.implicits._
        graft.operators.Bpe.trainMerges(
          Tables.documents(s, dir), "text", numMerges = 200)
          .toDF().select(col("rank").cast("long").as("rank"),
            col("left"), col("right"), col("pairCount").as("pair_count"))
      },
      None),

    // ------------------------------------------------------------- EXT46
    // BPE ENCODING under the trained tokenizer: merge ranks broadcast
    // into a map-side UDF, per-doc token/char counts + the
    // chars-per-token compression dial tokenizer training optimizes.
    // Rows-only (the tokens depend on the learned merges); inference ≡
    // training segmentation is pinned in BpeSpec.
    QueryDef(
      "ext46_bpe_encode",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.operators.Bpe.trainMerges(docs, "text", numMerges = 200)
        graft.operators.Bpe.encodeStats(docs, "text", "doc_id", merges)
      },
      None),

    // ------------------------------------------------------------- EXT47
    // Incremental exact dedup: survivors of a NEW delivery against the
    // already-ingested corpus (doc_id < 400) — dedup within the batch,
    // then left-anti on the existing digests. The operational shape: the
    // old corpus contributes a 16-byte digest projection, not a full
    // re-shuffle of 100 TB per delivery. The delivery is doc_id >= 400
    // PLUS re-tagged copies of 10 existing docs (id+100000 — must be
    // anti-joined away) and of 5 batch docs (id+200000 — must lose
    // within-batch survivor choice), so every code path is exercised at
    // EVERY scale factor (the raw fixture has no duplicate texts at
    // sf0.01, which would make this gate vacuous).
    QueryDef(
      "ext47_incremental_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val redelivered = docs.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 100000L)
        val batchDups = docs.filter(col("doc_id") >= 400 && col("doc_id") < 405)
          .withColumn("doc_id", col("doc_id") + 200000L)
        val batch = docs.filter(col("doc_id") >= 400)
          .unionAll(redelivered).unionAll(batchDups)
        Dedup.incremental(batch, docs.filter(col("doc_id") < 400),
          "text", "doc_id")
          .select("doc_id", "lang", "source")
      },
      Some("""
        WITH batch AS (
          SELECT doc_id, lang, source, text FROM documents WHERE doc_id >= 400
          UNION ALL
          SELECT doc_id + 100000, lang, source, text FROM documents WHERE doc_id < 10
          UNION ALL
          SELECT doc_id + 200000, lang, source, text FROM documents
          WHERE doc_id >= 400 AND doc_id < 405),
        surv AS (
          SELECT doc_id, lang, source, md5(text) AS d FROM (
            SELECT doc_id, lang, source, text,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM batch) WHERE rn = 1),
        old AS (SELECT DISTINCT md5(text) AS d FROM documents WHERE doc_id < 400)
        SELECT doc_id, lang, source FROM surv
        WHERE NOT EXISTS (SELECT 1 FROM old WHERE old.d = surv.d)
      """)),

    // ------------------------------------------------------------- EXT48
    // Token-budget selection: per source, take documents in deterministic
    // md5 order while the running token total stays <= 600 — the "give me
    // an N-token sample per source" step that materializes a training
    // mix. One window shuffle on source; inclusive greedy, so an
    // oversized head document drops instead of blowing the budget.
    QueryDef(
      "ext48_token_budget",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        graft.operators.Sampling.tokenBudget(
          docs, "source", "n_tok", "doc_id", budget = 600L)
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                          x -> x <> '')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight
          FROM d)
        SELECT doc_id, source, n_tok, cum_weight FROM c WHERE cum_weight <= 600
      """)),

    // ------------------------------------------------------------- EXT49
    // CCNet's closing step on top of EXT44: split each language into
    // perplexity head/middle/tail terciles (bucket 1 = most reference-like)
    // and report the per-bucket corpus profile that decides what gets kept,
    // downsampled, or dropped. ntile over (logprob desc, doc_id) is fully
    // deterministic; one window shuffle on lang over the doc-sized score
    // frame, then one aggregate.
    QueryDef(
      "ext49_perplexity_buckets",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val scored = graft.operators.NgramLm.score(
          docs, docs.filter(col("doc_id") < 250), "text", "doc_id", n = 3)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        val w = Window.partitionBy("lang").orderBy(col("logprob").desc, col("doc_id"))
        scored.withColumn("bucket", ntile(3).over(w).cast("long"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("logprob"), 6).as("avg_logprob"),
            round(min("logprob"), 6).as("min_logprob"))
      },
      Some("""
        WITH tr AS (SELECT lower(text) AS t FROM documents
                    WHERE doc_id < 250 AND text IS NOT NULL),
        tg AS (SELECT unnest(list_transform(range(1, length(t) - 1),
                      i -> substr(t, CAST(i AS INT), 3))) AS gram
               FROM tr WHERE length(t) >= 3),
        c3 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c_n FROM tg GROUP BY gram),
        c2 AS (SELECT substr(gram, 1, 2) AS prefix, CAST(SUM(c_n) AS BIGINT) AS c_prefix
               FROM c3 GROUP BY 1),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c3),
        dt AS (SELECT doc_id, unnest(list_transform(range(1, length(lower(text)) - 1),
                      i -> substr(lower(text), CAST(i AS INT), 3))) AS gram
               FROM documents WHERE length(lower(text)) >= 3),
        sc AS (SELECT doc_id, ln((COALESCE(c_n, 0) + 1.0) /
                                 (COALESCE(c_prefix, 0) + v)) AS lp
               FROM dt LEFT JOIN c3 USING (gram)
                       LEFT JOIN c2 ON substr(dt.gram, 1, 2) = c2.prefix, v),
        scored AS (SELECT doc_id, ROUND(AVG(lp), 6) AS logprob
                   FROM sc GROUP BY doc_id),
        b AS (SELECT d.lang, scored.logprob,
                     CAST(ntile(3) OVER (PARTITION BY d.lang
                          ORDER BY scored.logprob DESC, scored.doc_id) AS BIGINT) AS bucket
              FROM scored JOIN documents d USING (doc_id))
        SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(logprob), 6) AS avg_logprob,
               ROUND(MIN(logprob), 6) AS min_logprob
        FROM b GROUP BY lang, bucket
      """)),

    // ------------------------------------------------------------- EXT54
    // SemDeDup: k-means cluster embeddings, prune near-identical vectors
    // within clusters only; per-cluster kept/dropped accounting. Seeded
    // xxhash64 init → engine-specific clustering → rows-only; the survivor
    // rule, drop/keep conservation, and threshold monotonicity are pinned
    // by DedupSpec. Threshold 0.42 sits inside the synthetic corpus's
    // cosine range (max pairwise ≈ 0.51, 34 qualifying pairs) so the
    // PRUNING path actually executes at the gate — the paper's 0.9-ish
    // dial against random synthetic vectors would drop nothing and leave
    // the core semantic data-dead.
    QueryDef(
      "ext54_semdedup",
      // ORACLE-HASHED since r16: the cluster ASSIGNMENT (iterative float
      // k-means — the one engine-specific step) exports as aux, and
      // DuckDB replays everything downstream — the within-cluster
      // 6-dp-rounded cosine pruning over the embeddings table and the
      // per-cluster rollup
      (s, dir) => {
        val assigned = Dedup.semDedupAssignments(
          Tables.embeddings(s, dir), "embedding", "vec_id", k = 8, iters = 3)
        graft.util.OracleAux.export("semdedup_assignments", dir,
          assigned.select("id", "cluster"))
        Dedup.semDedupFromAssignments(assigned, threshold = 0.42)
      },
      Some(s"""
        WITH asg AS (SELECT id, cluster FROM read_parquet(
               '${graft.util.OracleAux.glob("semdedup_assignments")}')),
        v AS (SELECT a.id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v
              FROM asg a JOIN embeddings e ON e.vec_id = a.id),
        dr AS (SELECT DISTINCT b.id AS idb
               FROM v a JOIN v b ON a.cluster = b.cluster AND a.id < b.id
               WHERE ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))), 6) >= 0.42)
        SELECT CAST(a.cluster AS BIGINT) AS cluster,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CASE WHEN dr.idb IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dropped,
               CAST(COUNT(*) - SUM(CASE WHEN dr.idb IS NOT NULL THEN 1
                 ELSE 0 END) AS BIGINT) AS n_kept
        FROM asg a LEFT JOIN dr ON dr.idb = a.id
        GROUP BY a.cluster
      """)),

    // ------------------------------------------------------------- EXT57
    // Zipf fit over the token frequency spectrum: least-squares slope of
    // ln(count) vs ln(rank) for the top-100 tokens — the corpus-health
    // dial (natural language sits near −1; flat means synthetic/templated
    // text, steep means boilerplate domination). Vocabulary-sized hash agg
    // → TakeOrderedAndProject top-k → the regression runs on ≤100 rows
    // (rank window and sums are bounded by construction, like ext37).
    // FP-safe across engines: ≤100 summed terms keep order error ~1e-15,
    // far inside the 6 dp round.
    QueryDef(
      "ext57_zipf_slope",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, dir)
          .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("cnt").desc, col("tok"))
        val top = counts.orderBy(col("cnt").desc, col("tok")).limit(100)
          .withColumn("rank", row_number().over(w).cast("double"))
        top.select(log(col("rank")).as("x"), log(col("cnt").cast("double")).as("y"))
          .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
            sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
            sum(expr("x * x")).as("sxx"))
          .select(col("n").cast("long").as("n_top"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
            round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
              .as("zipf_intercept"))
      },
      Some("""
        WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                              x -> x <> '')) AS tok FROM documents),
        c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
        t AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
              FROM c ORDER BY cnt DESC, tok LIMIT 100),
        x AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM t),
        s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM x)
        SELECT CAST(n AS BIGINT) AS n_top,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
               ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS zipf_intercept
        FROM s
      """)),

    // ------------------------------------------------------------- EXT56
    // N-gram novelty curve in doc-id (delivery) order: what fraction of
    // each document's distinct 3-grams is NEW to the corpus at that point.
    // One gram-keyed min-id agg + an equi join back + one doc agg.
    QueryDef(
      "ext56_ngram_novelty",
      (s, dir) => graft.operators.Overlap.ngramNovelty(
        Tables.documents(s, dir), "text", "doc_id", n = 3),
      Some("""
        WITH d AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
                   FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))) AS gram
              FROM d WHERE len(toks) >= 3),
        f AS (SELECT gram, MIN(doc_id) AS first_id FROM g GROUP BY gram)
        SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) /
                     CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        FROM g JOIN f USING (gram) GROUP BY g.doc_id
      """)),

    // ------------------------------------------------------------- EXT55
    // Cross-modal composition: quality-gate the TEXT side (token count +
    // distinct ratio — map-side), keep only gated documents' EMBEDDINGS
    // (equi join on the shared id), then exact top-5 cosine retrieval over
    // the curated corpus. The shape of "search only what survived
    // curation" — gate prunes the corpus BEFORE the similarity stage ever
    // sees it. No rounding in the gate predicate: both engines divide the
    // same exact ints, IEEE division makes the comparison identical.
    QueryDef(
      "ext55_curated_knn",
      (s, dir) => {
        val toks = TextFunctions.tokens(col("text"))
        val gated = Tables.documents(s, dir)
          .select(col("doc_id"), size(toks).as("n_tok"),
            size(array_distinct(toks)).as("n_dis"))
          .where(col("n_tok") >= 15 &&
            col("n_dis").cast("double") / col("n_tok") > 0.5)
          .select(col("doc_id").as("vec_id"))
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 8), emb.join(gated, "vec_id"),
          "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH t AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
                   FROM documents),
        g AS (SELECT doc_id FROM t
              WHERE len(toks) >= 15
                AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) > 0.5),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings JOIN g ON embeddings.vec_id = g.doc_id),
        scored AS (
          SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
          FROM c, q WHERE query_id <> neighbor_id)
        SELECT query_id, neighbor_id, sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5
      """)),

    // ------------------------------------------------------------- EXT50
    // Cross-source contamination matrix: distinct word-3-gram overlap and
    // Jaccard per source pair. One gram-keyed collect_set aggregate (the
    // per-gram source set is bounded by nSources) + a map-side pair
    // expansion — no self-join anywhere (see Overlap scaladoc).
    QueryDef(
      "ext50_source_overlap",
      (s, dir) => graft.operators.Overlap.sourceShingleOverlap(
        Tables.documents(s, dir), "text", "source", n = 3),
      Some("""
        WITH d AS (SELECT source,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
                   FROM documents),
        g AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(toks) - 1),
                     i -> list_aggregate(toks[i:i+2], 'string_agg', ' '))) AS gram
              FROM d WHERE len(toks) >= 3),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY source),
        sh AS (SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared_grams
               FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
               GROUP BY 1, 2)
        SELECT sh.src_a, sh.src_b, sh.shared_grams,
               ROUND(sh.shared_grams / (sa.n_grams + sb.n_grams - sh.shared_grams), 6) AS jaccard
        FROM sh JOIN sz sa ON sh.src_a = sa.source
                JOIN sz sb ON sh.src_b = sb.source
      """)),

    // ------------------------------------------------------------- EXT51
    // Character-entropy junk detector: per-doc Shannon entropy (bits) of
    // the char unigram distribution — zero shuffles, the whole signal is
    // map-side (TextFunctions.charEntropy). Distinct chars are sorted on
    // both engines so the float fold sums identical terms in identical
    // order.
    QueryDef(
      "ext51_char_entropy",
      (s, dir) => {
        val st = TextFunctions.charEntropyStats(col("text"))
        Tables.documents(s, dir).select(col("doc_id"),
          st.getField("n_distinct_chars").as("n_distinct_chars"),
          st.getField("entropy_bits").as("entropy_bits"))
      },
      Some("""
        WITH ch AS (SELECT doc_id,
                      list_transform(range(1, length(text) + 1),
                                     i -> substr(text, CAST(i AS INT), 1)) AS chars
                    FROM documents),
        e AS (SELECT doc_id, chars, list_sort(list_distinct(chars)) AS uniq,
                     CAST(len(chars) AS DOUBLE) AS n
              FROM ch)
        SELECT doc_id,
               CAST(len(uniq) AS BIGINT) AS n_distinct_chars,
               CASE WHEN n = 0 THEN 0.0 ELSE
                 ROUND(-list_sum(list_transform(uniq,
                   c -> (CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE) / n)
                        * (ln(CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE) / n)
                           / ln(2)))) + 0.0, 6) END AS entropy_bits
        FROM e
      """)),

    // ------------------------------------------------------------- EXT52
    // DSIR importance weights: target = English slice, raw = full corpus,
    // 1024 hash buckets. The bucket table is ≤ 1024 rows BY CONSTRUCTION,
    // so its broadcast is principled (the bounded twin of ext13's
    // deliberately-unhinted vocabulary join).
    QueryDef(
      "ext52_dsir_weights",
      (s, dir) => graft.operators.Dsir.importanceWeights(
        Tables.documents(s, dir), "text", "doc_id",
        isTarget = col("lang") === "en", buckets = 1024),
      Some("""
        WITH toks AS (SELECT doc_id, lang = 'en' AS is_tgt,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS tok
                      FROM documents),
        b AS (SELECT doc_id, is_tgt,
                CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 1024 AS bucket
              FROM toks),
        c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_raw,
                CAST(SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
              FROM b GROUP BY bucket),
        t AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS t_raw,
                     CAST(SUM(n_tgt) AS BIGINT) AS t_tgt FROM c),
        r AS (SELECT bucket,
                ln((n_tgt + 1.0) / (t_tgt + 1024)) - ln((n_raw + 1.0) / (t_raw + 1024)) AS log_ratio
              FROM c CROSS JOIN t)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
               ROUND(AVG(log_ratio), 6) AS dsir_weight
        FROM b JOIN r USING (bucket) GROUP BY doc_id
      """)),

    // ------------------------------------------------------------- EXT53
    // Per-source Tukey length fences: exact quartiles of n_chars, count of
    // docs outside [p25 − 1.5·IQR, p75 + 1.5·IQR]. One grouped percentile
    // agg + AQE-broadcast fence join + one counting agg.
    QueryDef(
      "ext53_length_outliers",
      (s, dir) => graft.operators.Outliers.tukeyFences(
        Tables.documents(s, dir), "n_chars", "source", k = 1.5),
      Some("""
        WITH f AS (SELECT source,
                     percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS p25,
                     percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS p75
                   FROM documents GROUP BY source),
        b AS (SELECT source, p25 - (p75 - p25) * 1.5 AS lo, p75 + (p75 - p25) * 1.5 AS hi FROM f)
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
               ROUND(ANY_VALUE(b.lo), 6) AS lo_fence,
               ROUND(ANY_VALUE(b.hi), 6) AS hi_fence
        FROM documents d JOIN b USING (source) GROUP BY d.source
      """)),

    // ------------------------------------------------------------- EXT60
    // Contrastive-pair mining over the labeled embeddings: per query
    // (vec_id < 24), exact top-3 same-label neighbors (positives) and
    // top-3 different-label neighbors (hard negatives) by cosine — the
    // training-set construction step for contrastive/metric learning.
    // Broadcast-queries × one corpus scan (ext02's plan shape); the rank
    // window partitions by (query_id, kind) so the two lists rank
    // independently. Deterministic: sim rounded to 6 dp, neighbor-id
    // tie-break.
    QueryDef(
      "ext60_hard_negatives",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.hardNegatives(
          emb.filter(col("vec_id") < 24), emb, "vec_id", "embedding", "label", k = 3)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 24),
        c AS (SELECT vec_id AS neighbor_id, label AS c_label,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id,
                 CASE WHEN q_label = c_label THEN 'pos' ELSE 'neg' END AS kind,
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
          FROM c, q WHERE query_id <> neighbor_id)
        SELECT query_id, neighbor_id, kind, sim, rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, kind
                                       ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 3
      """)),

    // ------------------------------------------------------------- EXT61
    // IVF-PQ with exact refine (Jégou et al. 2011) — the memory-bounded ANN
    // path: the index row is m code bytes + a norm instead of dim floats,
    // ADC scoring is m table lookups per candidate, and only the ADC-top
    // refine pool ever touches raw vectors again. Rows-only (k-means
    // codebooks are engine-specific floats); the prune-only invariant and
    // recall floor are pinned in SimilaritySpec, recall is driver-visible
    // via ext62.
    QueryDef(
      "ext61_ann_ivfpq",
      // ORACLE-HASHED since r16 — the ext12 discipline (same aux as
      // ext62's recall audit: identical query, one export feeds both)
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val r = Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 2, m = 8, ksub = 16, refineFactor = 4)
        graft.util.OracleAux.export("ivfpq_topk", dir,
          r.select("query_id", "neighbor_id"))
        r
      },
      Some(annTopKOracleSql("ivfpq_topk")), bench = false),

    // ------------------------------------------------------------- EXT63
    // In-engine quality-classifier training (the GPT-3/CCNet pipeline
    // step): logistic regression on the EXT5 quality features, trained by
    // distributed full-batch GD — driver-held d+1 weight vector, one
    // constant-buffer gradient agg per round (kmeansDistributed's
    // iteration contract). Label: lang = 'en' (the CCNet target-vs-rest
    // framing); output is the per-source calibration audit. Rows-only
    // (float gradient sums); convergence/separability pinned by
    // QualityClassifierSpec.
    QueryDef(
      "ext63_quality_classifier",
      (s, dir) => {
        val feats = TextFunctions.qualityFeatures(col("text"))
        val prepared = Tables.documents(s, dir).select(
          (col("source") :: col("lang") :: feats.map { case (n, c) => c.as(n) }.toList): _*)
          .withColumn("is_en", (col("lang") === "en").cast("int"))
        graft.operators.QualityClassifier.scoreAudit(prepared,
          Seq("n_tokens", "avg_token_len", "stopword_ratio", "distinct_ratio"),
          "is_en", "source")
      },
      None),

    // ------------------------------------------------------------- EXT64
    // MMR diversified retrieval (Carbonell & Goldstein 1998): top-5 per
    // query re-ranked from a 20-deep relevance pool at λ=0.5 — the RAG/
    // few-shot selection step that trades raw similarity for coverage.
    // The greedy loop only ever sees the bounded pool. ORACLE-HASHED
    // since r16: the k=5 sequential greedy UNROLLS as five SQL steps
    // (mmrOracleSql) — every input double is bit-identical across
    // engines, so the float greedy replays exactly with no aux at all;
    // λ-invariants pinned in SimilaritySpec.
    QueryDef(
      "ext64_mmr_diversify",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.mmrDiversify(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, poolK = 20, lambda = 0.5)
      },
      Some(mmrOracleSql)),

    // ------------------------------------------------------------- EXT65
    // Z-order (Morton) write layout on (l_partkey, l_suppkey): the
    // lakehouse clustering step that makes min/max file skipping work on
    // BOTH predicate columns — codegen'd bit-interleave key, one stats
    // pass, repartitionByRange + sortWithinPartitions. The entry emits the
    // layout-quality audit (per-partition span fractions — the "how many
    // files does a predicate read" dial). Rows-only (range boundaries are
    // engine-specific); the interleave golden values and the
    // narrow-in-both-dims locality property are pinned by LayoutSpec.
    QueryDef(
      "ext65_zorder_layout",
      (s, dir) => graft.operators.Layout.zorderAudit(
        Tables.lineitem(s, dir), "l_partkey", "l_suppkey", nParts = 16),
      None),

    // ------------------------------------------------------------- EXT66
    // Snapshot diff (delivery versioning): old = doc_id < 400, new =
    // doc_id ≥ 100 with every 7th doc's text revised — added / removed /
    // changed / unchanged counts per source. Digests are computed
    // map-side; only (id, 16-byte digest) crosses the full-outer equi
    // join (EXT47's scale contract applied to two-sided reconciliation).
    QueryDef(
      "ext66_snapshot_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val prev = docs.filter(col("doc_id") < 400)
        val next = docs.filter(col("doc_id") >= 100)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        graft.operators.Snapshot.diffSummary(prev, next, "doc_id", "text", "source")
      },
      Some("""
        WITH o AS (SELECT doc_id, TRUE AS in_old, md5(text) AS od, source AS og
                   FROM documents WHERE doc_id < 400),
        n AS (SELECT doc_id, TRUE AS in_new,
                md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS nd,
                source AS ng
              FROM documents WHERE doc_id >= 100),
        d AS (SELECT COALESCE(n.ng, o.og) AS source,
                CASE WHEN in_old IS NULL THEN 'added'
                     WHEN in_new IS NULL THEN 'removed'
                     WHEN o.od IS NOT DISTINCT FROM n.nd THEN 'unchanged'
                     ELSE 'changed' END AS status
              FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n
        FROM d GROUP BY source, status
      """)),

    // ------------------------------------------------------------- EXT67
    // MinHash estimator accuracy made driver-visible (the sketch-quality
    // sibling of the ANN recall entries ext16/17/62): every LSH candidate
    // pair's estimated Jaccard next to the EXACT shingle-set Jaccard of
    // the same pair, plus the absolute error. ORACLE-HASHED since r16:
    // the candidate pairs WITH their estimates (the sketch-dependent
    // input) export as aux, and DuckDB recomputes the exact shingle-set
    // Jaccard of each pair independently from the documents table plus
    // the error arithmetic — the accuracy audit's exact side and math
    // are hash-gated; the mean-error floor is pinned in ApproxSpec.
    QueryDef(
      "ext67_minhash_accuracy",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minHashLsh(docs, "text", "doc_id")
        graft.util.OracleAux.export("minhash_estimates", dir, pairs)
        val sh = docs.select(col("doc_id"),
          TextFunctions.wordShingleSetFast(col("text"), 3).as("sh"))
        val inter = size(array_intersect(col("sh_a"), col("sh_b")))
        val union = size(col("sh_a")) + size(col("sh_b")) - inter
        pairs
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
          .withColumn("exact_jaccard",
            when(union === 0, 1.0).otherwise(round(inter.cast("double") / union, 6)))
          .select(col("id_a"), col("id_b"), col("est_jaccard"), col("exact_jaccard"),
            round(abs(col("est_jaccard") - col("exact_jaccard")), 6).as("abs_err"))
      },
      Some(s"""
        WITH est AS (SELECT id_a, id_b, est_jaccard FROM read_parquet(
               '${graft.util.OracleAux.glob("minhash_estimates")}')),
        d AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                  x -> x <> '') AS toks
              FROM documents),
        sg AS (SELECT doc_id,
                      CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
                           ELSE list_distinct(list_transform(
                             range(1, len(toks) - 1),
                             i -> list_aggregate(toks[i:i+2],
                               'string_agg', ' '))) END AS g
               FROM d),
        j AS (SELECT e.id_a, e.id_b, e.est_jaccard,
                     len(list_intersect(a.g, b.g)) AS i,
                     len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
              FROM est e JOIN sg a ON a.doc_id = e.id_a
                         JOIN sg b ON b.doc_id = e.id_b)
        SELECT id_a, id_b, est_jaccard,
               CASE WHEN u = 0 THEN 1.0
                    ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END AS exact_jaccard,
               ROUND(ABS(est_jaccard - (CASE WHEN u = 0 THEN 1.0
                 ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END)), 6) AS abs_err
        FROM j
      """), bench = false),

    // ------------------------------------------------------------- EXT68
    // FIM (fill-in-the-middle) training splits, Bavarian et al. 2022:
    // deterministic md5-derived cut points → (prefix, middle, suffix)
    // lengths + PSM/SPM mode + the middle's digest. Map-side only, zero
    // shuffles; oracle-checked END TO END including the substring digest
    // (the split must be byte-identical on any engine or infilling
    // corpora drift between pipeline runs).
    QueryDef(
      "ext68_fim_split",
      (s, dir) => graft.operators.Fim.split(
        Tables.documents(s, dir), "text", "doc_id"),
      Some("""
        WITH b AS (
          SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n, text,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim-c1'), 1, 6)) AS BIGINT) % 1000 AS b1,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim-c2'), 1, 6)) AS BIGINT) % 1000 AS b2,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|fim-m'), 1, 6)) AS BIGINT) % 1000 AS bm
          FROM documents),
        c AS (
          SELECT doc_id, n, text, bm,
            CAST(FLOOR(CAST(n AS DOUBLE) * CAST(b1 AS DOUBLE) / 1000.0) AS BIGINT) AS c1,
            CAST(FLOOR(CAST(n AS DOUBLE) * CAST(b2 AS DOUBLE) / 1000.0) AS BIGINT) AS c2
          FROM b),
        d AS (
          SELECT doc_id, n, text, bm,
            LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi
          FROM c)
        SELECT doc_id,
               CASE WHEN bm < 500 THEN 'spm' ELSE 'psm' END AS fim_mode,
               lo AS p_len, hi - lo AS m_len, n - hi AS s_len,
               md5(substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))) AS middle_md5
        FROM d
      """)),

    // ------------------------------------------------------------- EXT69
    // Edit-distance fuzzy dedup (bounded verify stage): all doc_id < 60
    // pairs within levenshtein 150 — the length band runs as an equi-join
    // on ⌊len/(maxDist+1)⌋ buckets (probe b−1..b+1; a true lower bound,
    // never drops a qualifying pair) + thresholded early-exit DP.
    // Oracle-checked: both engines implement unit-cost Levenshtein.
    QueryDef(
      "ext69_edit_distance",
      (s, dir) => Dedup.editDistancePairs(
        Tables.documents(s, dir).filter(col("doc_id") < 60),
        "text", "doc_id", maxDist = 150),
      Some("""
        WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        FROM d a, d b
        WHERE a.doc_id < b.doc_id AND levenshtein(a.text, b.text) <= 150
      """)),

    // ------------------------------------------------------------- EXT70
    // DoReMi-lite domain reweighting (Xie et al. 2023 restated without the
    // proxy-model loop): per-source mean LM score (EXT44's reference-slice
    // trigram LM as the proxy loss), excess over the corpus mean, and
    // softmax(η·excess) mixture weights — upweight domains the reference
    // models poorly. Per-doc scores are 6-dp-rounded, so the per-source
    // sums run in EXACT decimal (order-independent); the exp/normalize
    // chain is identical on both engines (ext35's ln/division precedent).
    // Two 1-row cross joins (corpus totals, weight normalizer).
    QueryDef(
      "ext70_doremi_weights",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val scores = graft.operators.NgramLm.score(
          docs, docs.filter(col("doc_id") < 250), "text", "doc_id", n = 3)
        val bySrc = scores
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("logprob").cast("decimal(18,6)")).as("s"))
        val tot = bySrc.agg(sum(col("s")).as("ts"), sum(col("n_docs")).as("tn"))
        val m = bySrc.crossJoin(tot)
          .withColumn("mean_lm", col("s").cast("double") / col("n_docs"))
          .withColumn("excess", col("mean_lm") - col("ts").cast("double") / col("tn"))
          .withColumn("w", exp(col("excess")))
        val wtot = m.agg(sum(col("w")).as("wsum"))
        m.crossJoin(wtot)
          .select(col("source"), col("n_docs"),
            round(col("mean_lm"), 6).as("mean_lm"),
            round(col("excess"), 6).as("excess"),
            round(col("w") / col("wsum"), 6).as("weight"))
      },
      Some("""
        WITH tr AS (SELECT lower(text) AS t FROM documents
                    WHERE doc_id < 250 AND text IS NOT NULL),
        tg AS (SELECT unnest(list_transform(range(1, length(t) - 1),
                      i -> substr(t, CAST(i AS INT), 3))) AS gram
               FROM tr WHERE length(t) >= 3),
        c3 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c_n FROM tg GROUP BY gram),
        c2 AS (SELECT substr(gram, 1, 2) AS prefix, CAST(SUM(c_n) AS BIGINT) AS c_prefix
               FROM c3 GROUP BY 1),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c3),
        dt AS (SELECT doc_id, unnest(list_transform(range(1, length(lower(text)) - 1),
                      i -> substr(lower(text), CAST(i AS INT), 3))) AS gram
               FROM documents WHERE length(lower(text)) >= 3),
        sc AS (SELECT doc_id, ln((COALESCE(c_n, 0) + 1.0) /
                                 (COALESCE(c_prefix, 0) + v)) AS lp
               FROM dt LEFT JOIN c3 USING (gram)
                       LEFT JOIN c2 ON substr(dt.gram, 1, 2) = c2.prefix, v),
        doc AS (SELECT doc_id, ROUND(AVG(lp), 6) AS logprob FROM sc GROUP BY doc_id),
        bysrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                         SUM(CAST(logprob AS DECIMAL(18,6))) AS s
                  FROM doc JOIN documents USING (doc_id) GROUP BY source),
        tot AS (SELECT SUM(s) AS ts, SUM(n_docs) AS tn FROM bysrc),
        m AS (SELECT source, n_docs,
                     CAST(s AS DOUBLE) / n_docs AS mean_lm,
                     CAST(s AS DOUBLE) / n_docs - CAST(ts AS DOUBLE) / tn AS excess,
                     exp(CAST(s AS DOUBLE) / n_docs - CAST(ts AS DOUBLE) / tn) AS w
              FROM bysrc CROSS JOIN tot),
        wtot AS (SELECT SUM(w) AS wsum FROM m)
        SELECT source, n_docs, ROUND(mean_lm, 6) AS mean_lm,
               ROUND(excess, 6) AS excess, ROUND(w / wsum, 6) AS weight
        FROM m CROSS JOIN wtot
      """)),

    // ------------------------------------------------------------- EXT71
    // k-anonymity audit over quasi-identifiers (lang, source, length
    // bucket) — the privacy gate a corpus release runs before shipping
    // (EXT31 scrubs direct identifiers; this measures re-identification
    // risk from the metadata that remains). One hash agg; at_risk groups
    // are those smaller than k = 5.
    QueryDef(
      "ext71_k_anonymity",
      (s, dir) => Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          (col("n_chars") / 100).cast("long").as("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5),
      Some("""
        SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n, COUNT(*) < 5 AS at_risk
        FROM documents GROUP BY 1, 2, 3
      """)),

    // ------------------------------------------------------------- EXT72
    // Next-event-prediction dataset prep: the second-order transition
    // matrix over per-user event sequences — (prev, current) context →
    // next-event label counts, the supervised-pair extraction a
    // behavioral sequence model (or synthetic-data generator) trains on.
    // One user_id window shuffle builds lag AND lead in the same pass;
    // the count agg collapses to |types|³ rows map-side first.
    QueryDef(
      "ext72_event_transitions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull && col("next_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("cur_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        WITH seq AS (
          SELECT event_type AS cur_type,
                 LAG(event_type) OVER w AS prev_type,
                 LEAD(event_type) OVER w AS next_type
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        SELECT prev_type, cur_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL AND next_type IS NOT NULL
        GROUP BY 1, 2, 3
      """)),

    // ------------------------------------------------------------- EXT73
    // Persisted ANN index lifecycle: build the IVF-PQ index to disk
    // (codes parquet PARTITIONED BY list — the inverted file as directory
    // layout — plus the quantizer as one self-describing parquet row),
    // then answer the ext61 query FROM the index. Rows-only; bit-for-bit
    // parity with the one-shot path is pinned in VectorIndexSpec.
    QueryDef(
      "ext73_ann_index_lifecycle",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // per-PROCESS path + overwrite mode: repeated builds within a JVM
        // (plan audits, re-runs) reuse one directory instead of leaking a
        // fresh temp dir per invocation, while two concurrent JVMs (sbt
        // test vs the Verify driver) never overwrite each other's codes/
        // mid-read
        val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft-vecidx-ext73-" +
          ProcessHandle.current().pid()
        graft.operators.VectorIndex.buildIvfPq(
          emb, "vec_id", "embedding", idxDir, nLists = 8, m = 8, ksub = 16)
        graft.operators.VectorIndex.searchIvfPq(
          s, idxDir, emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding",
          k = 5, nProbe = 2, refineFactor = 4)
      },
      None, bench = false, eagerLifecycle = true),

    // ------------------------------------------------------------- EXT74
    // Dataset card (datasheet) summary: the one-row corpus report a data
    // release ships with — sizes, diversity, length profile, exact-dup
    // rate. ONE scan: a single aggregate computes every field (the dup
    // rate via count distinct digest), so the datasheet costs one pass at
    // any corpus size. Deterministic: counts exact, ratios rounded,
    // median via exact percentile on integer lengths.
    QueryDef(
      "ext74_dataset_card",
      (s, dir) => Tables.documents(s, dir)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("mean_chars"),
          expr("percentile(n_chars, 0.5)").as("p50_chars"),
          round(lit(1.0) - countDistinct(md5(col("text"))).cast("double") / count(lit(1)), 6)
            .as("dup_fraction")),
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars) AS p50_chars,
               ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6)
                 AS dup_fraction
        FROM documents
      """)),

    // ------------------------------------------------------------- EXT75
    // Embedding drift monitor: per-label centroid rotation between two
    // snapshots (old = vec_id < 250, new = rest) — the production dial
    // that says when EXT73's persisted quantizer needs retraining and
    // when an embedding-model upgrade shifted the space. Two distributed
    // classCentroids passes (6-dp-rounded means make the cosine chain
    // engine-portable) + one |labels|-row join.
    QueryDef(
      "ext75_embedding_drift",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        def side(f: org.apache.spark.sql.Column, nOut: String, cOut: String) =
          Similarity.classCentroids(emb.filter(f), "embedding", "label")
            .select(col("label"), col("n_vecs").as(nOut), col("centroid").as(cOut))
        side(col("vec_id") < 250, "n_old", "c_old")
          .join(side(col("vec_id") >= 250, "n_new", "c_new"), Seq("label"))
          .select(col("label").cast("long").as("label"), col("n_old"), col("n_new"),
            VectorFunctions.cosine(col("c_old"), col("c_new")).as("drift_cos"))
      },
      Some("""
        WITH oavg AS (
          SELECT label, t.pos, ROUND(SUM(embedding[t.pos + 1]) / COUNT(*), 6) AS m
          FROM embeddings, UNNEST(range(len(embedding))) AS t(pos)
          WHERE vec_id < 250 GROUP BY label, t.pos),
        oc AS (SELECT label, list(m ORDER BY pos) AS c FROM oavg GROUP BY label),
        onn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_old
                FROM embeddings WHERE vec_id < 250 GROUP BY label),
        navg AS (
          SELECT label, t.pos, ROUND(SUM(embedding[t.pos + 1]) / COUNT(*), 6) AS m
          FROM embeddings, UNNEST(range(len(embedding))) AS t(pos)
          WHERE vec_id >= 250 GROUP BY label, t.pos),
        nc AS (SELECT label, list(m ORDER BY pos) AS c FROM navg GROUP BY label),
        nnn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_new
                FROM embeddings WHERE vec_id >= 250 GROUP BY label)
        SELECT CAST(oc.label AS BIGINT) AS label, n_old, n_new,
               ROUND(list_dot_product(oc.c, nc.c) /
                     (sqrt(list_dot_product(oc.c, oc.c)) * sqrt(list_dot_product(nc.c, nc.c))), 6)
                 AS drift_cos
        FROM oc JOIN nc ON oc.label = nc.label
        JOIN onn ON oc.label = onn.label
        JOIN nnn ON oc.label = nnn.label
      """)),

    // ------------------------------------------------------------- EXT76
    // Classification report over EXT22's language-ID predictions: per-class
    // support / predicted / TP / precision / recall / F1 — in-engine model
    // evaluation on a DETERMINISTIC classifier, so the whole report is
    // oracle-checkable (NULL where undefined: never-predicted classes have
    // no precision; the 'und' fallback class has no support).
    QueryDef(
      "ext76_classifier_eval",
      (s, dir) => graft.operators.Evaluation.classificationReport(
        graft.operators.LangIdNgram.selfTest(
          Tables.documents(s, dir), "text", "lang", "doc_id", n = 3, topK = 50),
        "lang", "predicted"),
      Some(s"""
        WITH $langIdOracleCtes,
        pr AS (SELECT lang AS label, COALESCE(b.cand, 'und') AS pred
               FROM documents LEFT JOIN best b USING (doc_id)),
        a AS (SELECT label AS cls, CAST(COUNT(*) AS BIGINT) AS n_actual FROM pr GROUP BY 1),
        p AS (SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS n_pred FROM pr GROUP BY 1),
        t AS (SELECT label AS cls, CAST(COUNT(*) AS BIGINT) AS tp
              FROM pr WHERE label = pred GROUP BY 1),
        j AS (SELECT cls, COALESCE(n_actual, 0) AS n_actual,
                     COALESCE(n_pred, 0) AS n_pred, COALESCE(tp, 0) AS tp
              FROM a FULL OUTER JOIN p USING (cls) LEFT JOIN t USING (cls)),
        m AS (SELECT cls, n_actual, n_pred, tp,
                CASE WHEN n_pred > 0 THEN ROUND(CAST(tp AS DOUBLE) / n_pred, 6) END AS precision,
                CASE WHEN n_actual > 0 THEN ROUND(CAST(tp AS DOUBLE) / n_actual, 6) END AS recall
              FROM j)
        SELECT cls, n_actual, n_pred, tp, precision, recall,
               CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                         AND precision + recall > 0
                    THEN ROUND(2.0 * precision * recall / (precision + recall), 6) END AS f1
        FROM m
      """)),

    // ------------------------------------------------------------- EXT77
    // Training data-order manifest: for each epoch, every document's
    // (shard, step-within-shard) under a seeded deterministic permutation
    // — the reproducibility artifact that answers "which examples did
    // step N of epoch E consume" when debugging a loss spike. Per-epoch
    // order is md5(epoch || doc_id) (re-shuffled every epoch, stable
    // across runs); shard assignment is the hash bucket, step the
    // within-shard rank — so the only shuffle is the shard-partitioned
    // window, never a global sort.
    QueryDef(
      "ext77_data_order_manifest",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id")
        val epochs = Seq(0, 1)
        epochs.map { e =>
          val ord = md5(concat(lit(s"epoch$e|"), col("doc_id").cast("string")))
          docs
            .withColumn("epoch", lit(e.toLong))
            .withColumn("shard",
              graft.operators.Sampling.hashBucket(
                concat(lit(s"shard$e|"), col("doc_id").cast("string")), 8))
            .withColumn("step",
              row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy("shard").orderBy(ord, col("doc_id"))).cast("long"))
        }.reduce(_.union(_))
          .select("epoch", "shard", "step", "doc_id")
      },
      Some("""
        WITH e AS (SELECT 0 AS epoch FROM (VALUES (1)) UNION ALL SELECT 1),
        m AS (
          SELECT epoch, doc_id,
            CAST(('0x' || substr(md5('shard' || epoch || '|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 8 AS shard,
            md5('epoch' || epoch || '|' || CAST(doc_id AS VARCHAR)) AS ord
          FROM documents CROSS JOIN e)
        SELECT CAST(epoch AS BIGINT) AS epoch, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY ord, doc_id) AS BIGINT) AS step,
               doc_id
        FROM m
      """)),

    // ------------------------------------------------------------- EXT78
    // Retrieval evaluation (the IR twin of ext76's classification report):
    // per query over ext02's exact top-5, with "relevant" = same label —
    // hit@5, precision@5, and MRR's reciprocal first-relevant rank. All
    // rank math over the deterministic top-k, so the whole eval is
    // oracle-checkable; |queries| output rows.
    QueryDef(
      "ext78_retrieval_eval",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val topk = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
        val labels = emb.select(col("vec_id"), col("label"))
        topk
          .join(labels.select(col("vec_id").as("query_id"), col("label").as("q_label")), "query_id")
          .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")), "neighbor_id")
          .withColumn("rel", (col("q_label") === col("n_label")).cast("int"))
          .groupBy("query_id")
          .agg(
            max(col("rel")).cast("boolean").as("hit_at_5"),
            round(sum(col("rel")).cast("double") / count(lit(1)), 6).as("precision_at_5"),
            round(coalesce(
              lit(1.0) / min(when(col("rel") === 1, col("rank"))), lit(0.0)), 6)
              .as("reciprocal_rank"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS n_label
              FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id, q_label, n_label,
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
          FROM c, q WHERE query_id <> neighbor_id),
        topk AS (
          SELECT query_id, neighbor_id, q_label, n_label, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 5),
        r AS (SELECT query_id, rank,
                     CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel
              FROM topk)
        SELECT query_id,
               CAST(MAX(rel) AS BOOLEAN) AS hit_at_5,
               ROUND(CAST(SUM(rel) AS DOUBLE) / COUNT(*), 6) AS precision_at_5,
               ROUND(COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rank END), 0.0), 6)
                 AS reciprocal_rank
        FROM r GROUP BY query_id
      """)),

    // ------------------------------------------------------------- EXT79
    // NDCG@5 with binary label relevance — the graded-discount member of
    // the ext78 retrieval-eval family. log2 is written as ln(x)/ln(2) on
    // BOTH engines (builtin log2 differs in ulps across libm
    // implementations — the same hazard the ext59 histogram dodged);
    // ideal DCG normalizes by the query's relevant count clamped to k.
    QueryDef(
      "ext79_ndcg",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val topk = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", k = 5)
        val labels = emb.select(col("vec_id"), col("label"))
        val ln2 = log(lit(2.0))
        val dcgTerm = col("rel").cast("double") / (log(col("rank") + lit(1.0)) / ln2)
        val nRel = labels.select(col("label").as("q_label2"))
          .groupBy("q_label2").agg(count(lit(1)).as("n_same"))
        topk
          .join(labels.select(col("vec_id").as("query_id"), col("label").as("q_label")), "query_id")
          .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")), "neighbor_id")
          .withColumn("rel", (col("q_label") === col("n_label")).cast("int"))
          .groupBy("query_id", "q_label")
          .agg(sum(dcgTerm).as("dcg"))
          .join(broadcast(nRel), col("q_label") === col("q_label2"))
          // ideal: the query's same-label corpus size minus itself, clamped to k
          .withColumn("n_ideal", least(col("n_same") - 1, lit(5L)))
          .withColumn("idcg",
            when(col("n_ideal") >= 1, // sequence(1,0) would run DESCENDING
              expr("aggregate(sequence(1, int(n_ideal)), 0.0D, (acc, i) -> acc + 1.0 / (ln(i + 1.0) / ln(2.0)))"))
              .otherwise(lit(0.0)))
          .select(col("query_id"),
            round(col("dcg"), 6).as("dcg"),
            round(col("idcg"), 6).as("idcg"),
            round(when(col("idcg") > 0, col("dcg") / col("idcg")), 6).as("ndcg"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS q_label
                   FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS n_label
              FROM embeddings),
        scored AS (
          SELECT query_id, neighbor_id, q_label, n_label,
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
          FROM c, q WHERE query_id <> neighbor_id),
        topk AS (
          SELECT query_id, q_label, n_label, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 5),
        nrel AS (SELECT label AS q_label2, CAST(COUNT(*) AS BIGINT) AS n_same
                 FROM embeddings GROUP BY label),
        agg AS (
          SELECT query_id, q_label,
                 SUM(CAST(CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS DOUBLE)
                     / (ln(rank + 1.0) / ln(2.0))) AS dcg
          FROM topk GROUP BY query_id, q_label),
        j AS (
          SELECT query_id, dcg, LEAST(n_same - 1, 5) AS n_ideal
          FROM agg JOIN nrel ON q_label = q_label2),
        -- uncorrelated idcg lookup (DuckDB range() can't take a lateral
        -- column): idcg(n) for n = 0..5
        ideal AS (
          SELECT n.n, COALESCE(SUM(1.0 / (ln(p.i + 1.0) / ln(2.0))), 0.0) AS idcg
          FROM (SELECT unnest(range(0, 6)) AS n) n
          LEFT JOIN (SELECT unnest(range(1, 6)) AS i) p ON p.i <= n.n
          GROUP BY n.n),
        f AS (SELECT query_id, dcg, idcg FROM j JOIN ideal ON j.n_ideal = ideal.n)
        SELECT query_id, ROUND(dcg, 6) AS dcg, ROUND(idcg, 6) AS idcg,
               ROUND(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg
        FROM f
      """)),

    QueryDef(
      "ext62_ann_ivfpq_recall",
      // ORACLE-HASHED since r16 — the ext16 discipline (aux = the IVF-PQ
      // top-k; exact side + recall arithmetic recomputed in DuckDB)
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter(col("vec_id") < 8)
        val approx = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 2, m = 8, ksub = 16, refineFactor = 4)
        graft.util.OracleAux.export("ivfpq_topk", dir,
          approx.select("query_id", "neighbor_id"))
        Similarity.recallVsExact(
          approx,
          Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5))
      },
      Some(annRecallOracleSql("ivfpq_topk")), bench = false),

    // ------------------------------------------------------------- EXT80
    // Winnowing recall audit for ext42 (the ext67 pattern applied to
    // substring dedup): every maximal duplicated 64-char run via EXACT
    // window enumeration, flagged with whether the 1/16 production sample
    // — and a deliberately coarse 1/256 — would have surfaced it.
    // Detection is a pure function of the run text (content-based
    // sampling), so the audit is fully deterministic and ORACLE-CHECKED,
    // and the fixture keeps both branches live at the gate SF (45 runs,
    // 45 vs 23 detected). The exact side is gate-SF/held-out-slice
    // tooling by design — see samplingRecallAudit's scaladoc.
    QueryDef(
      "ext80_winnowing_recall",
      (s, dir) => graft.operators.SubstringDedup.samplingRecallAudit(
        Tables.documents(s, dir), "text", "doc_id", window = 64),
      Some("""
        WITH w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        s AS (SELECT w.* FROM w JOIN d USING (h)),
        isl AS (
          SELECT doc_id, pos, h,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM s),
        runs AS (
          SELECT doc_id, MIN(pos) AS run_start,
                 CAST(COUNT(*) AS BIGINT) AS n_windows,
                 CAST(MAX(CASE WHEN substr(h, 1, 1) = '0' THEN 1 ELSE 0 END)
                      AS BIGINT) AS det_1_16,
                 CAST(MAX(CASE WHEN substr(h, 1, 2) = '00' THEN 1 ELSE 0 END)
                      AS BIGINT) AS det_1_256
          FROM isl GROUP BY doc_id, grp)
        SELECT doc_id, run_start, n_windows, n_windows + 63 AS run_chars,
               det_1_16, det_1_256
        FROM runs
      """), bench = false), // audit tool (exact enumeration) — ext67's adjudication

    // ------------------------------------------------------------- EXT81
    // Duplicated-character coverage per document (the Lee et al. 2022
    // headline: "N% of the corpus is verbatim-duplicated"): true
    // char-interval UNION of the exact duplicated windows (overlapping
    // runs merge — a per-run length sum would double-count), with every
    // document present so the fraction profiles the whole corpus. The
    // removal decision this feeds ("cut docs above X% duplication") is a
    // plain filter on the output. Oracle-checked; exact-enumeration side
    // is audit/slice tooling like ext80.
    QueryDef(
      "ext81_dup_coverage",
      (s, dir) => graft.operators.SubstringDedup.duplicatedCoverage(
        Tables.documents(s, dir), "text", "doc_id", window = 64),
      Some("""
        WITH w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        s AS (SELECT w.* FROM w JOIN d USING (h)),
        isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           <= 63
                      THEN 0 ELSE 1 END AS newgrp
          FROM s),
        g AS (
          SELECT doc_id, pos,
                 SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM isl),
        cov AS (
          SELECT doc_id, CAST(MAX(pos) - MIN(pos) + 64 AS BIGINT) AS cov
          FROM g GROUP BY doc_id, grp),
        pd AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
                 CAST(SUM(cov) AS BIGINT) AS dup_chars
          FROM cov GROUP BY doc_id)
        SELECT dd.doc_id, CAST(LENGTH(dd.text) AS BIGINT) AS n_chars,
               COALESCE(n_islands, 0) AS n_islands,
               COALESCE(dup_chars, 0) AS dup_chars,
               CASE WHEN LENGTH(dd.text) > 0
                    THEN ROUND(CAST(COALESCE(dup_chars, 0) AS DOUBLE)
                               / LENGTH(dd.text), 6)
                    ELSE 0.0 END AS dup_fraction
        FROM documents dd LEFT JOIN pd USING (doc_id)
      """), bench = false), // audit tool (exact enumeration) — ext67's adjudication

    // ------------------------------------------------------------- EXT82
    // Exact-threshold set-similarity SELF-JOIN over the whole corpus —
    // prefix filtering (Vernica et al., SIGMOD 2010): unlike ext03/ext18
    // (caller-bounded verify stages) and ext08 (probabilistic recall),
    // this returns EVERY word-3-gram-Jaccard ≥ 0.8 pair with no all-pairs
    // stage anywhere — candidates come from an equi-join on each doc's
    // rarest-first shingle prefix, which provably covers every qualifying
    // pair. The oracle brute-forces the same answer (it can, at gate SF),
    // so completeness is hash-checked, not asserted.
    QueryDef(
      "ext82_setsim_join",
      (s, dir) => sharedSetSimPairs(s, dir),
      Some("""
        WITH d AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
                   FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, len(toks) - 1),
                        i -> list_aggregate(toks[i:i+2], 'string_agg', ' '))) AS g
               FROM d WHERE len(toks) >= 3),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.g, b.g)) AS i,
                      len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
               FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CASE WHEN u = 0 THEN 1.0 ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END
                 AS jaccard
        FROM pr
        WHERE (CASE WHEN u = 0 THEN 1.0 ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END)
              >= 0.8
      """)),

    // ------------------------------------------------------------- EXT83
    // QUALITY-aware dedup survivor selection (the Dolma/RefinedWeb policy:
    // keep the BEST near-duplicate, not the lowest id): ext33's transitive
    // clusters re-judged — per cluster the survivor is the doc with the
    // highest distinct-token ratio (ties → lower doc_id), as a top-1
    // rank window over the cluster (WindowGroupLimit shape, not a
    // per-cluster collect). Singletons survive trivially. Demonstrates
    // the dedup POLICY axis is orthogonal to cluster construction.
    QueryDef(
      "ext83_quality_survivor",
      (s, dir) => {
        val bounded = Tables.documents(s, dir).filter(col("doc_id") < 40)
        val feats = TextFunctions.qualityFeatures(col("text")).toMap
        val q = bounded.select(col("doc_id"), col("source"),
          feats("distinct_ratio").as("quality"))
        val clusters = Dedup.clusterPairs(
          Dedup.ngramJaccardPairs(bounded, "text", "doc_id", n = 4, threshold = 0.35))
        val labeled = q.join(clusters, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
          .orderBy(col("quality").desc_nulls_last, col("doc_id"))
        labeled
          .withColumn("rk", row_number().over(w))
          .select(col("doc_id"), col("source"), col("quality"), col("cluster_id"),
            (col("rk") === 1).as("is_survivor"))
      },
      Some("""
        WITH RECURSIVE
        t AS (
          SELECT doc_id,
                 list_sort(list_distinct(
                   CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                        ELSE list_transform(range(1, length(lower(text)) - 2),
                                            i -> substr(lower(text), i, 4)) END)) AS toks
          FROM documents WHERE doc_id < 40),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS inter,
                 len(a.toks) + len(b.toks) AS tot
          FROM t a, t b WHERE a.doc_id < b.doc_id),
        p AS (
          SELECT doc_a, doc_b FROM pairs
          WHERE (CASE WHEN tot - inter = 0 THEN 1.0
                      ELSE ROUND(CAST(inter AS DOUBLE) / (tot - inter), 6) END) >= 0.35),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p
              UNION SELECT doc_b AS src, doc_a AS dst FROM p),
        r AS (
          SELECT src AS node, src AS lbl FROM e
          UNION
          SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        qd AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          FROM documents WHERE doc_id < 40),
        q AS (
          SELECT doc_id, source,
                 CASE WHEN len(toks) = 0 THEN NULL ELSE
                   ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
                 END AS quality
          FROM qd),
        lab AS (
          SELECT q.doc_id, q.source, q.quality,
                 COALESCE(c.cluster_id, q.doc_id) AS cluster_id
          FROM q LEFT JOIN c ON q.doc_id = c.doc_id),
        rk AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                      ORDER BY quality DESC NULLS LAST, doc_id) AS rn
          FROM lab)
        SELECT doc_id, source, quality, cluster_id, rn = 1 AS is_survivor
        FROM rk
      """), bench = false), // bounded slice, the ext33 adjudication

    // ------------------------------------------------------------- EXT84
    // FULL-corpus dedup retention accounting — what ext82 buys downstream:
    // ext33's pairs→clusters→per-source retention chain, but with the
    // prefix-filtering join as the candidate source there is NO doc_id<40
    // bound anymore — every J≥0.8 pair corpus-wide feeds the clusters, and
    // the whole chain keeps equi-join/BSP shapes (the oracle brute-forces
    // the same pairs, which it can at gate SF; the Spark side never does).
    QueryDef(
      "ext84_full_retention",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val clusters = Dedup.clusterPairs(sharedSetSimPairs(s, dir))
        docs.select(col("doc_id"), col("source"))
          .join(clusters, Seq("doc_id"), "left")
          .withColumn("kept",
            col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
      },
      Some("""
        WITH RECURSIVE
        d AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
              FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, len(toks) - 1),
                        i -> list_aggregate(toks[i:i+2], 'string_agg', ' '))) AS g
               FROM d WHERE len(toks) >= 3),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.g, b.g)) AS i,
                      len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
               FROM sh a, sh b WHERE a.doc_id < b.doc_id),
        p AS (SELECT doc_a, doc_b FROM pr
              WHERE (CASE WHEN u = 0 THEN 1.0
                          ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END) >= 0.8),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p
              UNION SELECT doc_b AS src, doc_a AS dst FROM p),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node)
        SELECT dd.source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN c.cluster_id IS NULL OR c.cluster_id = dd.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs
        FROM documents dd LEFT JOIN c ON dd.doc_id = c.doc_id
        GROUP BY dd.source
      """)),

    // ------------------------------------------------------------- EXT85
    // Count-Min point-frequency audit (the sketch-family leg ext40b's
    // Misra–Gries top-k doesn't cover): one constant-state pass over the
    // word-bigram stream, then every exact-top-50 bigram graded against
    // its sketch estimate — overcount ≥ 0 by construction, ε·N bound
    // reported per row. Rows-only (cell hashes are engine-specific);
    // the ≥-exact invariant, the bound, and merge associativity are
    // pinned in HeavyHittersSpec.
    QueryDef(
      "ext85_countmin",
      (s, dir) => {
        val bigrams = Tables.documents(s, dir)
          .select(explode(TextFunctions.wordShinglesFast(col("text"), 2)).as("item"))
        val probes = bigrams.groupBy("item").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("item")).limit(50).select("item")
        graft.operators.HeavyHitters.cmEstimates(
          bigrams, "item", probes, "item", depth = 4, width = 512)
      },
      None),

    // ------------------------------------------------------------- EXT86
    // Leakage-free train/test split: deterministic 10% hash holdout, then
    // every TRAIN doc that near-duplicates a TEST doc (ext82's lossless
    // join — no all-pairs stage, so the guard holds at corpus scale) is
    // re-labeled dropped_leak. The split a plain hash bucket gets wrong,
    // and the reason eval numbers survive an audit. All three labels live
    // at gate SF (41 test / 2 dropped_leak of 500). Oracle-checked end to
    // end, brute-force pairs on the oracle side only.
    QueryDef(
      "ext86_leakage_split",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        docs.select(col("doc_id"), col("source"))
          .join(graft.operators.Sampling.leakageFreeSplit(
            docs, "text", "doc_id", testPct = 10, simThreshold = 0.8,
            precomputedPairs = Some(sharedSetSimPairs(s, dir))),
            Seq("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
                   FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, len(toks) - 1),
                        i -> list_aggregate(toks[i:i+2], 'string_agg', ' '))) AS g
               FROM d WHERE len(toks) >= 3),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.g, b.g)) AS i,
                      len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
               FROM sh a, sh b WHERE a.doc_id < b.doc_id),
        p AS (SELECT doc_a, doc_b FROM pr
              WHERE (CASE WHEN u = 0 THEN 1.0
                          ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END) >= 0.8),
        lab AS (SELECT doc_id, source,
                  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS BIGINT) % 100 < 10
                       THEN 'test' ELSE 'train' END AS split0
                FROM documents),
        leaked AS (
          SELECT DISTINCT x AS doc_id FROM (
            SELECT doc_b AS x FROM p JOIN lab ON doc_a = lab.doc_id
            WHERE lab.split0 = 'test'
            UNION
            SELECT doc_a FROM p JOIN lab ON doc_b = lab.doc_id
            WHERE lab.split0 = 'test'))
        SELECT lab.doc_id, lab.source,
               CASE WHEN lab.split0 = 'train' AND leaked.doc_id IS NOT NULL
                    THEN 'dropped_leak' ELSE lab.split0 END AS split
        FROM lab LEFT JOIN leaked ON lab.doc_id = leaked.doc_id
      """)),

    // ------------------------------------------------------------- EXT87
    // TRANSITIVE leakage guard (the r6 advice's hole in ext86): ext86
    // drops only train docs DIRECTLY paired with a test doc, so a chain
    // A~B~test with A≁test keeps A in training even though its content is
    // one hop from the eval set. Here pairs are clustered (pointer-jumping
    // components) and every train doc sharing a COMPONENT with a test doc
    // is dropped — the audit-grade guard. Substrate: CHAR-4-gram Jaccard
    // ≥ 0.4 (template-level similarity — shared boilerplate chains where
    // the word-3-gram 0.8 graph is pure cliques and transitive ≡ direct;
    // at the gate SF this dial is LIVE: 24 of 150 docs drop only under
    // transitivity), via the lossless prefix-filter join on char-gram
    // sets. Corpus bounded doc_id < 150 like ext29 — template similarity
    // is dense, so the bound keeps the verify stage constant-cost at
    // every SF while the oracle brute-forces the same bound.
    QueryDef(
      "ext87_leakage_transitive",
      (s, dir) => {
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 150)
        val pairs = sharedCharTemplatePairs(s, dir)
        docs.select(col("doc_id"), col("source"))
          .join(graft.operators.Sampling.leakageFreeSplit(
            docs, "text", "doc_id", testPct = 10, simThreshold = 0.4,
            transitive = true, precomputedPairs = Some(pairs)),
            Seq("doc_id"))
      },
      Some("""
        WITH RECURSIVE
        sh AS (SELECT doc_id,
                 list_distinct(
                   CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                        ELSE list_transform(range(1, length(lower(text)) - 2),
                                            i -> substr(lower(text), i, 4)) END) AS g
               FROM documents WHERE doc_id < 150),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.g, b.g)) AS i,
                      len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
               FROM sh a, sh b WHERE a.doc_id < b.doc_id),
        p AS (SELECT doc_a, doc_b FROM pr
              WHERE (CASE WHEN u = 0 THEN 1.0
                          ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END) >= 0.4),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM p
              UNION SELECT doc_b AS src, doc_a AS dst FROM p),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        lab AS (SELECT doc_id, source,
                  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                                 AS BIGINT) % 100 < 10
                       THEN 'test' ELSE 'train' END AS split0
                FROM documents WHERE doc_id < 150),
        leaked AS (
          SELECT DISTINCT c2.doc_id
          FROM c c1 JOIN lab ON c1.doc_id = lab.doc_id
               JOIN c c2 ON c1.cluster_id = c2.cluster_id
          WHERE lab.split0 = 'test')
        SELECT lab.doc_id, lab.source,
               CASE WHEN lab.split0 = 'train' AND leaked.doc_id IS NOT NULL
                    THEN 'dropped_leak' ELSE lab.split0 END AS split
        FROM lab LEFT JOIN leaked ON lab.doc_id = leaked.doc_id
      """)),

    // ------------------------------------------------------------- EXT88
    // ANN recall AFTER index mutation (r6 verdict ask #8): ext62 audits a
    // freshly-built index, but a production index is built once and then
    // mutated — appends under the original quantizer, surgical deletes —
    // and its recall decays silently as the stored distribution drifts
    // from the trained one. This entry exercises the FULL lifecycle
    // (build on the even half → append the odd half → delete every 7th
    // id) and grades search on the MUTATED index against brute force over
    // the surviving corpus — the number an index operator watches to
    // decide when appendIvfPq's drift has earned a retrain. Rows-only
    // (float recall vs engine-specific PQ codes); the recall floor and
    // deleted-id absence are pinned in VectorIndexSpec.
    QueryDef(
      "ext88_ann_recall_after_mutation",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft-vecidx-ext88-" +
          ProcessHandle.current().pid()
        // buildIvfPq overwrites codes/, so the build→append→delete
        // sequence is idempotent per invocation (same per-process dir
        // convention as ext73)
        graft.operators.VectorIndex.buildIvfPq(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idxDir,
          nLists = 8, m = 8, ksub = 16)
        graft.operators.VectorIndex.appendIvfPq(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idxDir)
        graft.operators.VectorIndex.deleteIvfPq(
          s, idxDir, emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
        val survivors = emb.filter(col("vec_id") % 7 =!= 3)
        val queries = survivors.filter(col("vec_id") < 10)
        graft.operators.Similarity.recallVsExact(
          graft.operators.VectorIndex.searchIvfPq(
            s, idxDir, queries, survivors, "vec_id", "embedding",
            k = 5, nProbe = 4, refineFactor = 4),
          graft.operators.Similarity.bruteForceTopK(
            queries, survivors, "vec_id", "embedding", k = 5))
      },
      None, bench = false, eagerLifecycle = true),

    // ------------------------------------------------------------- EXT89
    // Per-source unigram KL divergence to the corpus mixture — the
    // distribution-shift dial next to ext52's DSIR weights: "how far does
    // each source's token distribution sit from the blend we're training
    // on" (the number a mixture re-weighting decision starts from).
    // Hashed to 1024 buckets (ext52's trick): the per-source state is
    // ≤ 1024 (bucket, term) entries BY CONSTRUCTION regardless of
    // vocabulary size, so the sorted per-source fold — the ext51
    // convention making a float sum engine-portable — is bounded at any
    // corpus scale. No smoothing needed: a source's buckets are a subset
    // of the corpus's, so q > 0 wherever p > 0. Exact integer counts
    // everywhere; doubles only in the final ratio/ln/fold.
    QueryDef(
      "ext89_source_kl",
      (s, dir) => {
        val buckets = 1024
        val toks = Tables.documents(s, dir)
          .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
          .withColumn("bucket", graft.operators.Sampling.hashBucket(col("tok"), buckets))
        val sb = toks.groupBy("source", "bucket").agg(count(lit(1)).as("n_sb"))
        val cb = toks.groupBy("bucket").agg(count(lit(1)).as("n_b"))
        val st = sb.groupBy("source").agg(sum("n_sb").as("n_s"))
        val tot = cb.agg(sum("n_b").as("n_total"))
        val terms = sb
          .join(broadcast(cb), "bucket").join(broadcast(st), "source")
          .crossJoin(broadcast(tot))
          .select(col("source"), col("bucket"), col("n_s"),
            ((col("n_sb").cast("double") / col("n_s").cast("double")) *
              log((col("n_sb").cast("double") * col("n_total").cast("double")) /
                (col("n_s").cast("double") * col("n_b").cast("double")))).as("term"))
        terms.groupBy("source")
          .agg(max(col("n_s")).as("n_tokens"),
            count(lit(1)).as("n_buckets"),
            sort_array(collect_list(struct(col("bucket"), col("term")))).as("arr"))
          .select(col("source"), col("n_tokens"), col("n_buckets"),
            round(aggregate(col("arr"), lit(0.0),
              (acc, x) => acc + x.getField("term")) + lit(0.0), 6).as("kl_to_corpus"))
      },
      Some("""
        WITH toks AS (SELECT source,
                        unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS tok
                      FROM documents),
        b AS (SELECT source,
                     CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 1024 AS bucket
              FROM toks),
        sb AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_sb FROM b GROUP BY 1, 2),
        cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM b),
        st AS (SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_s FROM sb GROUP BY 1),
        terms AS (SELECT source, bucket, n_s,
            (CAST(n_sb AS DOUBLE) / CAST(n_s AS DOUBLE))
            * ln((CAST(n_sb AS DOUBLE) * CAST(n_total AS DOUBLE))
                 / (CAST(n_s AS DOUBLE) * CAST(n_b AS DOUBLE))) AS term
          FROM sb JOIN cb USING (bucket) JOIN st USING (source) CROSS JOIN tot)
        SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               ROUND(list_sum(list(term ORDER BY bucket)) + 0.0, 6) AS kl_to_corpus
        FROM terms GROUP BY source
      """)),

    // ------------------------------------------------------------- EXT90
    // Embedding-distribution drift (PSI) between two corpus snapshots —
    // the retrain-trigger dial ext88's recall audit pairs with: recall
    // tells you the index decayed, PSI tells you the DATA moved. Snapshots
    // = even/odd vec_id halves; buckets = the 8 sign-octants of the first
    // three embedding dims (deterministic, engine-portable — no trained
    // quantizer in the loop, so the dial is pure data). Laplace +1 keeps
    // every bucket finite at any SF; counts exact, doubles only at the
    // ratio/ln, total folded in sorted bucket order (ext51 convention).
    // Per-bucket terms AND the corpus-level PSI in one output.
    QueryDef(
      "ext90_embedding_drift",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
        val b = emb.select((col("vec_id") % 2 === 0).as("old"),
          (when(element_at(col("embedding"), 1) > 0, 4).otherwise(0) +
            when(element_at(col("embedding"), 2) > 0, 2).otherwise(0) +
            when(element_at(col("embedding"), 3) > 0, 1).otherwise(0))
            .cast("long").as("bucket"))
        val counts = b.groupBy("bucket").agg(
          sum(when(col("old"), 1L).otherwise(0L)).as("n_old"),
          sum(when(!col("old"), 1L).otherwise(0L)).as("n_new"))
        val tot = counts.agg(sum("n_old").as("t_old"), sum("n_new").as("t_new"),
          count(lit(1)).as("n_buckets"))
        val terms = counts.crossJoin(broadcast(tot))
          .withColumn("p",
            (col("n_old") + 1).cast("double") / (col("t_old") + col("n_buckets")).cast("double"))
          .withColumn("q",
            (col("n_new") + 1).cast("double") / (col("t_new") + col("n_buckets")).cast("double"))
          .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
        val psi = terms
          .agg(sort_array(collect_list(struct(col("bucket"), col("term")))).as("arr"))
          .select(round(aggregate(col("arr"), lit(0.0),
            (acc, x) => acc + x.getField("term")) + lit(0.0), 6).as("psi_total"))
        terms.select(col("bucket"), col("n_old"), col("n_new"),
            round(col("term") + lit(0.0), 6).as("psi_term"))
          .crossJoin(broadcast(psi))
      },
      Some("""
        WITH b AS (SELECT (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
                           + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                           + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket,
                          vec_id % 2 = 0 AS old
                   FROM embeddings WHERE embedding IS NOT NULL),
        c AS (SELECT CAST(bucket AS BIGINT) AS bucket,
                     CAST(SUM(CASE WHEN old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                     CAST(SUM(CASE WHEN NOT old THEN 1 ELSE 0 END) AS BIGINT) AS n_new
              FROM b GROUP BY 1),
        t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
                     CAST(SUM(n_new) AS BIGINT) AS t_new,
                     CAST(COUNT(*) AS BIGINT) AS n_buckets
              FROM c),
        terms AS (SELECT bucket, n_old, n_new,
            CAST(n_old + 1 AS DOUBLE) / CAST(t_old + n_buckets AS DOUBLE) AS p,
            CAST(n_new + 1 AS DOUBLE) / CAST(t_new + n_buckets AS DOUBLE) AS q
          FROM c CROSS JOIN t),
        scored AS (SELECT bucket, n_old, n_new, (p - q) * ln(p / q) AS term FROM terms),
        tot AS (SELECT ROUND(list_sum(list(term ORDER BY bucket)) + 0.0, 6) AS psi_total
                FROM scored)
        SELECT bucket, n_old, n_new, ROUND(term + 0.0, 6) AS psi_term, psi_total
        FROM scored CROSS JOIN tot
      """)),

    // ------------------------------------------------------------- EXT91
    // Changelog APPLY (MERGE-INTO / CDC semantics) — the inverse of
    // ext66's snapshot diff: a base corpus + a versioned delivery of
    // upserts/deletes → the merged state. Every merge path is live at
    // gate SF from the deterministic synthesized changelog: plain upsert,
    // SUPERSEDED upsert (v2 beats v1), delete, insert of a new id,
    // delete-of-absent-id no-op, and the equal-version upsert-vs-delete
    // conflict (delete wins — erasure-biased, see applyChangelog).
    // Exact strings/ints end to end; the oracle restates the same
    // window + full-outer merge.
    QueryDef(
      "ext91_changelog_apply",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val base = docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        def ch(filter: org.apache.spark.sql.Column, version: Long, op: String,
            lang: org.apache.spark.sql.Column, idShift: Long = 0L) =
          docs.filter(filter).select(
            (col("doc_id") + idShift).as("doc_id"), lit(version).as("version"),
            lit(op).as("op"), lang.as("lang"), col("source"),
            (col("n_chars") + version).as("n_chars"))
        val changes =
          ch(col("doc_id") % 10 === 5, 1L, "upsert", lit("rev1"))
            .unionAll(ch(col("doc_id") % 20 === 5, 2L, "upsert", lit("rev2")))
            .unionAll(ch(col("doc_id") % 10 === 0, 1L, "delete", lit(null).cast("string")))
            .unionAll(ch(col("doc_id") % 25 === 7, 1L, "upsert", lit("new"), idShift = 100000L))
            .unionAll(ch(col("doc_id") % 25 === 7, 1L, "delete", lit(null).cast("string"), idShift = 200000L))
            .unionAll(ch(col("doc_id") % 100 === 13, 3L, "upsert", lit("conflict")))
            .unionAll(ch(col("doc_id") % 100 === 13, 3L, "delete", lit(null).cast("string")))
        graft.operators.Snapshot.applyChangelog(
          base, changes, "doc_id", "version", "op")
      },
      Some("""
        WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
        changes AS (
          SELECT doc_id, CAST(1 AS BIGINT) AS version, 'upsert' AS op,
                 'rev1' AS lang, source, n_chars + 1 AS n_chars
          FROM documents WHERE doc_id % 10 = 5
          UNION ALL
          SELECT doc_id, 2, 'upsert', 'rev2', source, n_chars + 2
          FROM documents WHERE doc_id % 20 = 5
          UNION ALL
          SELECT doc_id, 1, 'delete', NULL, source, n_chars + 1
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 100000, 1, 'upsert', 'new', source, n_chars + 1
          FROM documents WHERE doc_id % 25 = 7
          UNION ALL
          SELECT doc_id + 200000, 1, 'delete', NULL, source, n_chars + 1
          FROM documents WHERE doc_id % 25 = 7
          UNION ALL
          SELECT doc_id, 3, 'upsert', 'conflict', source, n_chars + 3
          FROM documents WHERE doc_id % 100 = 13
          UNION ALL
          SELECT doc_id, 3, 'delete', NULL, source, n_chars + 3
          FROM documents WHERE doc_id % 100 = 13),
        latest AS (
          SELECT * FROM (
            SELECT doc_id, op, lang, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY version DESC, op) AS rn
            FROM changes) WHERE rn = 1)
        SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
               CASE WHEN c.op = 'upsert' THEN c.lang ELSE b.lang END AS lang,
               CASE WHEN c.op = 'upsert' THEN c.source ELSE b.source END AS source,
               CASE WHEN c.op = 'upsert' THEN c.n_chars ELSE b.n_chars END AS n_chars
        FROM base b FULL OUTER JOIN latest c ON b.doc_id = c.doc_id
        WHERE c.op IS NULL OR c.op = 'upsert'
      """)),

    // ------------------------------------------------------------- EXT92
    // Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-Res): top-5
    // docs per source sampled proportional to n_chars — the "prefer long
    // documents, reproducibly" dial the uniform ext27/ext48 samplers
    // don't have. Selection is COMPARE-based (ln(u)/w keys from exact
    // md5-derived integers), so unlike a float SUM there is no ordering
    // to diverge on and the whole sample is oracle-checkable; the plan is
    // one stratum window with a partial top-k (WindowGroupLimit).
    QueryDef(
      "ext92_weighted_sample",
      (s, dir) => graft.operators.Sampling.weightedSample(
        Tables.documents(s, dir).filter(col("n_chars") > 0)
          .select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id", k = 5),
      Some("""
        WITH keyed AS (
          SELECT doc_id, source, n_chars,
                 ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                          AS BIGINT) + 1.0) / 4503599627370496.0)
                   / CAST(n_chars AS DOUBLE) AS wkey
          FROM documents WHERE n_chars > 0)
        SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY wkey DESC, doc_id) AS rn
          FROM keyed) WHERE rn <= 5
      """)),

    // ------------------------------------------------------------- EXT93
    // BM25 top-k retrieval — the ranked-retrieval primitive for
    // decontamination-by-retrieval and eval-set mining. Fully
    // oracle-checked: exact BIGINT tf/df/dl/corpus totals, term scores in
    // an op-order-pinned double expression, per-(query,doc) sum folded in
    // sorted term order (bounded by |query| by construction), rank on the
    // ROUNDED score with doc_id tie-break. 'dup' (df 25/500) vs the ~390-df
    // background terms keeps the idf dial live at gate SF.
    QueryDef(
      "ext93_bm25_topk",
      (s, dir) => {
        val q = s.createDataFrame(Seq(
          (1L, "dup"), (1L, "hash"),
          (2L, "stream"), (2L, "window"), (2L, "join"),
          (3L, "spark"), (3L, "fast"), (3L, "scan")))
          .toDF("query_id", "term")
        graft.operators.Retrieval.bm25TopK(
          Tables.documents(s, dir), q, "text", "doc_id", "query_id", "term",
          k = 5)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tfv
               FROM toks WHERE term <> '' GROUP BY doc_id, term),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM toks WHERE term <> '' GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) AS tot_len FROM dl),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        q(query_id, term) AS (VALUES (1,'dup'),(1,'hash'),
                                     (2,'stream'),(2,'window'),(2,'join'),
                                     (3,'spark'),(3,'fast'),(3,'scan')),
        scored AS (
          SELECT CAST(q.query_id AS BIGINT) AS query_id, tf.doc_id, tf.term,
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (CAST(tfv AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
                   / (CAST(tfv AS DOUBLE) + CAST(1.2 AS DOUBLE)
                      * (1.0 - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE)
                           * (CAST(dl AS DOUBLE) * n_docs / tot_len))) AS tscore
          FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
                  JOIN dfreq USING (term) CROSS JOIN stats),
        folded AS (
          SELECT query_id, doc_id,
                 ROUND(list_sum(list(tscore ORDER BY term)) + 0.0, 6) AS score
          FROM scored GROUP BY query_id, doc_id)
        SELECT query_id, rn, doc_id, score FROM (
          SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rn
          FROM folded) WHERE rn <= 5
      """)),

    // ------------------------------------------------------------- EXT94
    // PageRank centrality on the supplier→customer trade graph (distinct
    // (l_suppkey, o_custkey) pairs), 8 damped iterations — the
    // source-importance dial for link-structure-aware curation. Fully
    // ORACLE-checked (rare for float PageRank): ranks iterate as
    // DECIMAL(28,12) with exact decimal sums for in-flows and dangling
    // mass (order-free — legal at ANY in-degree, unlike sorted folds),
    // per-row double arithmetic op-order-pinned and re-rounded to 12 dp
    // each step; the DuckDB side unrolls the same 8 iterations as chained
    // CTEs. Final projection DOUBLE per catalog convention; rank order is
    // taken on the exact decimal before the cast.
    QueryDef(
      "ext94_pagerank",
      (s0, dir) => {
        val edges = sharedTradeEdges(s0, dir)
        // memoKey: the graph layout (src-clustered edges, node list) is
        // shared with ext96's HITS under the session memo — the second
        // centrality consumer skips the whole setup (guide §2.4)
        val pr = graft.operators.Centrality.pageRank(edges, damping = 0.85,
          iters = 8, memoKey = Some(s"tradegraph|$dir"))
          .select(tradeNodeStr(col("node")).as("node"), col("r"))
        // top-k PRE-REDUCE before the rank window (r17, guide §2.4/§5): a
        // no-partition row_number window funnels the ENTIRE node set
        // through one partition — the driver log literally WARNs "Moving
        // all data to a single partition". orderBy().limit(k) plans as
        // TakeOrderedAndProject (per-partition top-k, k·P rows merged),
        // and the rank window then numbers only the 25 survivors.
        // row_number over (r desc, node) is a TOTAL order (node is
        // unique), so the top-25 set and their ranks are bit-identical.
        val top = pr.orderBy(col("r").desc, col("node")).limit(25)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("r").desc, col("node"))
        top.withColumn("rn", row_number().over(w))
          .select(col("rn").cast("long").as("rn"), col("node"),
            round(col("r").cast("double") + lit(0.0), 9).as("rank"))
      },
      Some {
        val iterCtes = (0 until 8).map { i =>
          s"""
        dang$i AS MATERIALIZED (SELECT CAST(COALESCE(SUM(r), 0) AS DECIMAL(38,12)) AS dangle
                   FROM r$i LEFT JOIN outd USING (node) WHERE outdeg IS NULL),
        contrib$i AS MATERIALIZED (SELECT e.dst AS node,
                             CAST(SUM(CAST(ROUND(CAST(a.r AS DOUBLE) / o.outdeg, 12)
                                           AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS in_sum
                      FROM r$i a JOIN outd o USING (node)
                                 JOIN edges e ON e.src = a.node
                      GROUP BY e.dst),
        r${i + 1} AS MATERIALIZED (SELECT nd.node,
                 CAST(ROUND((1.0 - CAST(0.85 AS DOUBLE)) / n_nodes
                      + CAST(0.85 AS DOUBLE)
                        * (CAST(COALESCE(c.in_sum, 0) AS DOUBLE)
                           + CAST(d.dangle AS DOUBLE) / n_nodes), 12)
                      AS DECIMAL(28,12)) AS r
               FROM nodes nd CROSS JOIN n CROSS JOIN dang$i d
                    LEFT JOIN contrib$i c ON c.node = nd.node)"""
        }.mkString(",")
        s"""
        WITH edges AS MATERIALIZED (
          SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                          'c' || CAST(o_custkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS MATERIALIZED (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        outd AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
                 FROM edges GROUP BY src),
        n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
        r0 AS MATERIALIZED (SELECT node, CAST(ROUND(1.0 / n_nodes, 12) AS DECIMAL(28,12)) AS r
               FROM nodes CROSS JOIN n),$iterCtes
        SELECT rn, node, rank FROM (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS BIGINT) AS rn,
                 node, ROUND(CAST(r AS DOUBLE) + 0.0, 9) AS rank
          FROM r8) WHERE rn <= 25
      """
      }),

    // ------------------------------------------------------------- EXT95
    // Fellegi–Sunter record linkage across two "sources" (even vs odd
    // doc_ids): blocking = the SHARED lossless char-4-gram template-pair
    // table (J ≥ 0.4, doc_id < 150 — ext87's substrate, materialized
    // once); fields = word-3-gram near-dup membership (the corpus-wide
    // materialized J ≥ 0.8 pair table), length band ≤ 16, identical
    // 32-char prefix; rational-literal log weights summed in field order
    // → match / possible / non_match. All three classes live at the gate
    // SF (1 / 2 / 15). Oracle brute-forces the same bounded universe.
    QueryDef(
      "ext95_record_linkage",
      (s, dir) => {
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 150)
        val cand = sharedCharTemplatePairs(s, dir)
          .filter((col("doc_a") % 2) =!= (col("doc_b") % 2))
          .select(
            when(col("doc_a") % 2 === 0, col("doc_a")).otherwise(col("doc_b"))
              .as("a_id"),
            when(col("doc_a") % 2 === 0, col("doc_b")).otherwise(col("doc_a"))
              .as("b_id"),
            col("jaccard").as("block_sim"))
        val strong = sharedSetSimPairs(s, dir)
          .filter(col("doc_a") < 150 && col("doc_b") < 150)
          .select(col("doc_a").as("w_a"), col("doc_b").as("w_b"),
            lit(true).as("w_hit"))
        val meta = docs.select(col("doc_id"),
          length(col("text")).cast("long").as("len"),
          substring(col("text"), 1, 32).as("pfx"))
        val enriched = cand
          .join(strong,
            least(col("a_id"), col("b_id")) === col("w_a") &&
              greatest(col("a_id"), col("b_id")) === col("w_b"), "left")
          .join(meta.select(col("doc_id").as("a_id"), col("len").as("len_a"),
            col("pfx").as("pfx_a")), Seq("a_id"))
          .join(meta.select(col("doc_id").as("b_id"), col("len").as("len_b"),
            col("pfx").as("pfx_b")), Seq("b_id"))
        graft.operators.Linkage.fellegiSunter(enriched, Seq(
          graft.operators.Linkage.FieldSpec("word",
            coalesce(col("w_hit"), lit(false)), 6.5, -3.25),
          graft.operators.Linkage.FieldSpec("len",
            abs(col("len_a") - col("len_b")) <= 16, 2.4, -3.7),
          graft.operators.Linkage.FieldSpec("prefix",
            col("pfx_a") === col("pfx_b"), 8.6, -2.3)),
          matchThreshold = 4.0, possibleThreshold = -4.0)
          .select(col("a_id"), col("b_id"), col("block_sim"),
            col("agree_word"), col("agree_len"), col("agree_prefix"),
            col("score"), col("cls"))
      },
      Some("""
        WITH d AS (SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS toks
                   FROM documents WHERE doc_id < 150),
        c AS (SELECT doc_id, text,
                list_distinct(
                  CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                       ELSE list_transform(range(1, length(lower(text)) - 2),
                                           i -> substr(lower(text), i, 4)) END) AS c4,
                CASE WHEN len(toks) >= 3 THEN
                  list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))
                ELSE [] END AS g3
              FROM d),
        cand AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CASE WHEN len(a.c4)+len(b.c4)-len(list_intersect(a.c4,b.c4)) = 0
                      THEN 1.0
                      ELSE ROUND(CAST(len(list_intersect(a.c4,b.c4)) AS DOUBLE) /
                        (len(a.c4)+len(b.c4)-len(list_intersect(a.c4,b.c4))), 6)
                 END AS block_sim,
                 CASE WHEN len(a.g3) = 0 OR len(b.g3) = 0 THEN 0.0
                      WHEN len(a.g3)+len(b.g3)-len(list_intersect(a.g3,b.g3)) = 0
                      THEN 1.0
                      ELSE ROUND(CAST(len(list_intersect(a.g3,b.g3)) AS DOUBLE) /
                        (len(a.g3)+len(b.g3)-len(list_intersect(a.g3,b.g3))), 6)
                 END AS wj,
                 abs(length(a.text) - length(b.text)) AS lendiff,
                 (substr(a.text, 1, 32) = substr(b.text, 1, 32)) AS pfxeq
          FROM c a JOIN c b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        scored AS (
          SELECT a_id, b_id, block_sim,
                 (wj >= 0.8) AS agree_word,
                 (lendiff <= 16) AS agree_len,
                 pfxeq AS agree_prefix,
                 ROUND((CASE WHEN wj >= 0.8 THEN 6.5 ELSE -3.25 END
                       + CASE WHEN lendiff <= 16 THEN 2.4 ELSE -3.7 END
                       + CASE WHEN pfxeq THEN 8.6 ELSE -2.3 END) + 0.0, 6)
                   AS score
          FROM cand WHERE block_sim >= 0.4)
        SELECT a_id, b_id, block_sim, agree_word, agree_len, agree_prefix,
               score,
               CASE WHEN score >= 4.0 THEN 'match'
                    WHEN score >= -4.0 THEN 'possible'
                    ELSE 'non_match' END AS cls
        FROM scored
      """)),

    // ------------------------------------------------------------- EXT96
    // HITS hubs & authorities (Kleinberg 1999) on the supplier→customer
    // trade graph — the complementary centrality to ext94's PageRank
    // (who CONFERS importance vs who HOLDS it), with the same
    // oracle-checkable decimal fixed-point discipline: L1-normalized
    // half-steps (sum norm keeps every reduction an exact decimal sum;
    // an L2 sqrt would break engine parity), 12-dp re-round per step,
    // DuckDB unrolls the 8 iterations as chained CTEs. Top-25 by
    // authority on the EXACT decimal, DOUBLE final projection.
    QueryDef(
      "ext96_hits",
      (s0, dir) => {
        val edges = sharedTradeEdges(s0, dir)
        val hs = graft.operators.Centrality.hits(edges, iters = 8,
          memoKey = Some(s"tradegraph|$dir"))
          .select(tradeNodeStr(col("node")).as("node"), col("auth"), col("hub"))
        // top-k pre-reduce before the rank window — see ext94: the
        // no-partition window previously single-partitioned the whole
        // node set; TakeOrderedAndProject reduces to the 25 survivors
        // first and (auth desc, node) is a total order, so ranks are
        // bit-identical.
        val top = hs.orderBy(col("auth").desc, col("node")).limit(25)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("auth").desc, col("node"))
        top.withColumn("rn", row_number().over(w))
          .select(col("rn").cast("long").as("rn"), col("node"),
            round(col("auth").cast("double") + lit(0.0), 9).as("auth"),
            round(col("hub").cast("double") + lit(0.0), 9).as("hub"))
      },
      Some {
        val iterCtes = (0 until 8).map { i =>
          s"""
        ar$i AS MATERIALIZED (SELECT e.dst AS node, CAST(SUM(h.h) AS DECIMAL(38,12)) AS raw
                 FROM h$i h JOIN edges e ON e.src = h.node GROUP BY e.dst),
        an$i AS MATERIALIZED (SELECT CAST(SUM(raw) AS DECIMAL(38,12)) AS s FROM ar$i),
        a$i AS MATERIALIZED (SELECT nd.node,
                  CAST(ROUND(CAST(COALESCE(r.raw, 0) AS DOUBLE)
                             / CAST(n.s AS DOUBLE), 12) AS DECIMAL(28,12)) AS a
                FROM nodes nd LEFT JOIN ar$i r USING (node) CROSS JOIN an$i n),
        hr$i AS MATERIALIZED (SELECT e.src AS node, CAST(SUM(a.a) AS DECIMAL(38,12)) AS raw
                 FROM a$i a JOIN edges e ON e.dst = a.node GROUP BY e.src),
        hn$i AS MATERIALIZED (SELECT CAST(SUM(raw) AS DECIMAL(38,12)) AS s FROM hr$i),
        h${i + 1} AS MATERIALIZED (SELECT nd.node,
                  CAST(ROUND(CAST(COALESCE(r.raw, 0) AS DOUBLE)
                             / CAST(n.s AS DOUBLE), 12) AS DECIMAL(28,12)) AS h
                FROM nodes nd LEFT JOIN hr$i r USING (node) CROSS JOIN hn$i n)"""
        }.mkString(",")
        s"""
        WITH edges AS MATERIALIZED (
          SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                          'c' || CAST(o_custkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS MATERIALIZED (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        h0 AS (SELECT node, CAST(1 AS DECIMAL(28,12)) AS h FROM nodes),$iterCtes
        SELECT rn, node, auth, hub FROM (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY a.a DESC, nd.node) AS BIGINT)
                   AS rn,
                 nd.node,
                 ROUND(CAST(a.a AS DOUBLE) + 0.0, 9) AS auth,
                 ROUND(CAST(h.h AS DOUBLE) + 0.0, 9) AS hub
          FROM nodes nd JOIN a7 a USING (node) JOIN h8 h USING (node))
        WHERE rn <= 25
      """
      }),

    // ------------------------------------------------------------- EXT97
    // Compression-ratio quality filter (Gopher/MassiveText §A.1.1): a
    // doc whose UTF-8 bytes DEFLATE far below its raw size is repetitive
    // boilerplate. deflate_len is the codegen'd [[graft.expressions
    // .DeflateLen]] — one zlib pass per row, map-side only, no shuffle
    // before the per-source rollup. ORACLE-HASHED since r16: the deflate
    // byte counts (the one engine-specific input — no deflate in DuckDB)
    // export as aux, and the oracle recomputes raw_len INDEPENDENTLY
    // (octet_length over the documents table) plus the ratio and flag
    // math; byte semantics pinned by DeflateLenSpec against an
    // independent java.util.zip recomputation, flag threshold liveness
    // asserted in the spec at gate SF. The ratio is BYTES/BYTES
    // (octet_length, the Gopher definition — length() would count
    // characters and inflate ratios for non-ASCII docs); an empty doc has
    // no ratio (NULL via nullif, not Infinity) and is never flagged.
    QueryDef(
      "ext97_compression_quality",
      (s, dir) => {
        val raw = octet_length(col("text")).cast("long")
        val defl = TextFunctions.deflateLen(col("text")).cast("long")
        graft.util.OracleAux.export("deflate_lens", dir,
          Tables.documents(s, dir)
            .select(col("doc_id"), defl.as("deflate_len")))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), raw.as("raw_len"),
            defl.as("deflate_len"),
            round(defl.cast("double") / nullif(raw, lit(0L)), 6).as("ratio"))
          .withColumn("is_repetitive",
            coalesce(col("ratio") < 0.4, lit(false)))
      },
      Some(s"""
        WITH dl AS (SELECT doc_id, deflate_len FROM read_parquet(
               '${graft.util.OracleAux.glob("deflate_lens")}'))
        SELECT d.doc_id, d.source,
               CAST(strlen(d.text) AS BIGINT) AS raw_len,
               dl.deflate_len,
               ROUND(CAST(dl.deflate_len AS DOUBLE)
                 / NULLIF(strlen(d.text), 0), 6) AS ratio,
               COALESCE(ROUND(CAST(dl.deflate_len AS DOUBLE)
                 / NULLIF(strlen(d.text), 0), 6) < 0.4, FALSE)
                 AS is_repetitive
        FROM documents d JOIN dl USING (doc_id)
      """)),

    // ------------------------------------------------------------- EXT98
    // Exact triangle counting + local clustering coefficient on the
    // template-similarity graph (the SHARED char-pair table, third
    // consumer) — the graph-density signal that separates boilerplate
    // CLIQUES (near-dup families, clustering → 1) from template CHAINS
    // (sequential edits, clustering → 0), i.e. which near-dup
    // neighborhoods are worth collapsing wholesale. Degree-ordered
    // orientation bounds the wedge self-join (Suri–Vassilvitskii); exact
    // integers until one pinned double division → fully oracle-checked
    // (5 triangles over 38 edges live at gate SF).
    QueryDef(
      "ext98_triangles",
      (s, dir) => {
        val edges = sharedCharTemplatePairs(s, dir)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        graft.operators.Centrality.triangleStats(edges)
          .select(col("node").as("doc_id"), col("degree"),
            col("triangles"), col("clustering"))
      },
      Some("""
        WITH c AS (SELECT doc_id,
                list_distinct(
                  CASE WHEN length(lower(text)) <= 4 THEN [lower(text)]
                       ELSE list_transform(range(1, length(lower(text)) - 2),
                                           i -> substr(lower(text), i, 4)) END) AS c4
              FROM documents WHERE doc_id < 150),
        p AS (SELECT a.doc_id AS da, b.doc_id AS db
              FROM c a JOIN c b ON a.doc_id < b.doc_id
              WHERE (CASE WHEN len(a.c4)+len(b.c4)-len(list_intersect(a.c4,b.c4)) = 0
                          THEN 1.0
                          ELSE ROUND(CAST(len(list_intersect(a.c4,b.c4)) AS DOUBLE) /
                            (len(a.c4)+len(b.c4)-len(list_intersect(a.c4,b.c4))), 6)
                     END) >= 0.4),
        sym AS (SELECT da AS node FROM p UNION ALL SELECT db FROM p),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
                FROM sym GROUP BY node),
        tri AS (SELECT e1.da AS x, e1.db AS y, e2.db AS z
                FROM p e1 JOIN p e2 ON e2.da = e1.db
                     JOIN p e3 ON e3.da = e1.da AND e3.db = e2.db),
        tn AS (SELECT unnest([x, y, z]) AS node FROM tri),
        tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
               FROM tn GROUP BY node)
        SELECT d.node AS doc_id, d.degree,
               COALESCE(tc.triangles, 0) AS triangles,
               CASE WHEN d.degree >= 2
                    THEN ROUND(2.0 * COALESCE(tc.triangles, 0)
                               / (d.degree * (d.degree - 1)), 6)
                    ELSE 0.0 END AS clustering
        FROM deg d LEFT JOIN tc USING (node)
      """)),

    // ------------------------------------------------------------- EXT99
    // Data-contract audit (Deequ, VLDB 2018) over the corpus + event
    // tables — the ingest→publish gate: every row-local rule (not-null,
    // range, regex, unique) folds into ONE aggregation over ONE scan per
    // table regardless of rule count; referential rules pay one anti-join.
    // Rules chosen so BOTH verdicts are live at gate SF: length/value
    // ranges and prefix-32 uniqueness FAIL (template families share
    // prefixes), null/lang/event-id/referential PASS. Fully
    // oracle-checked.
    QueryDef(
      "ext99_data_contract",
      (s, dir) => {
        import graft.operators.Contracts._
        val docs = audit(Tables.documents(s, dir), "documents", Seq(
          NotNull("text"),
          InRange("length(text)", 1, 300),
          Unique("substring(text, 1, 32)"),
          Matches("lang", "^(en|de|es|fr|zh)$")))
        val events = audit(Tables.events(s, dir), "events", Seq(
          InRange("value", 0.0, 400.0),
          Unique("event_id"),
          SubsetOf("user_id", Tables.customer(s, dir), "c_custkey")))
        docs.unionAll(events)
      },
      Some("""
        WITH dt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
        et AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events)
        SELECT tbl, rule, total, violations, (violations = 0) AS passed
        FROM (
          SELECT 'documents' AS tbl, 'not_null(text)' AS rule, dt.total,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                  WHERE text IS NULL) AS violations FROM dt
          UNION ALL
          SELECT 'documents', 'in_range(length(text))', dt.total,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                  WHERE length(text) IS NOT NULL
                    AND (length(text) < 1 OR length(text) > 300)) FROM dt
          UNION ALL
          SELECT 'documents', 'unique(substring(text, 1, 32))', dt.total,
                 (SELECT CAST(COUNT(*) - COUNT(DISTINCT substring(text, 1, 32))
                              AS BIGINT) FROM documents) FROM dt
          UNION ALL
          SELECT 'documents', 'matches(lang)', dt.total,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                  WHERE lang IS NOT NULL
                    AND NOT regexp_matches(lang, '^(en|de|es|fr|zh)$')) FROM dt
          UNION ALL
          SELECT 'events', 'in_range(value)', et.total,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                  WHERE value IS NOT NULL
                    AND (value < 0.0 OR value > 400.0)) FROM et
          UNION ALL
          SELECT 'events', 'unique(event_id)', et.total,
                 (SELECT CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
                  FROM events) FROM et
          UNION ALL
          SELECT 'events', 'subset_of(user_id)', et.total,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
                  LEFT JOIN customer c ON e.user_id = c.c_custkey
                  WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL) FROM et
        )
      """)),

    // ------------------------------------------------------------ EXT100
    // The END-TO-END curation funnel — the composition statement: validity
    // gate (ext99's rules as row filters) → near-dup cluster survivor (the
    // corpus-wide MATERIALIZED pair table + transitive clusters, min-id
    // among stage survivors) → decontamination vs the doc_id<20 eval
    // holdout (ext26 semantics) → quality gate (ext05's distinct_ratio).
    // Emits the per-stage funnel accounting every corpus owner reads
    // before publishing a training set. Every stage drop is LIVE at gate
    // SF (480→236→223→213→~129). Stage counts assemble via 1-row cross
    // joins (declared); the pair/cluster substrate is shared, not re-run.
    // Each stage frame is lazily localCheckpoint'ed (column-trimmed to
    // what later stages read), so the validity filter, the dedup window
    // and the decontamination anti-join each evaluate ONCE — the five
    // funnel counts and every downstream stage scan the materialized
    // stage output instead of re-deriving the whole prefix per subtree
    // (at corpus scale each re-derivation is a full scan+window). This is
    // the staged-materialization shape a production funnel runs anyway;
    // PlanRegressionSpec pins it (zero Window / parquet scans in the
    // final count plan).
    QueryDef(
      "ext100_curation_funnel",
      (s, dir) => {
        val all = Tables.documents(s, dir)
        val universe = all.filter(col("doc_id") >= 20)
          .select("doc_id", "text", "lang").localCheckpoint(false)
        val valid = universe.filter(length(col("text")) <= 300 &&
          col("lang").rlike("^(en|de|es|fr|zh)$")).localCheckpoint(false)
        val clusters = Dedup.clusterPairs(sharedSetSimPairs(s, dir))
        val labeled = valid.join(clusters, Seq("doc_id"), "left")
          .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cid").orderBy("doc_id")
        val dedup = labeled.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select("doc_id", "text").localCheckpoint(false)
        val contaminated = graft.operators.Decontaminate.overlaps(
          all.filter(col("doc_id") >= 20), all.filter(col("doc_id") < 20),
          "text", "doc_id", n = 4).select("doc_id")
        val clean = dedup.join(contaminated, Seq("doc_id"), "left_anti")
          .localCheckpoint(false)
        val feats = TextFunctions.qualityFeatures(col("text")).toMap
        val kept = clean.select(col("doc_id"),
          feats("distinct_ratio").as("dr")).filter(col("dr") >= 0.55)

        val stages = Seq("universe" -> universe, "valid" -> valid,
          "neardup_cluster" -> dedup, "decontaminate" -> clean,
          "quality" -> kept)
        val oneRow = stages.map { case (n, df) =>
          df.agg(count(lit(1)).as(s"c_$n"))
        }.reduceLeft(_ crossJoin _)
        val names = stages.map(_._1)
        val entries = (1 until names.size).map { k =>
          struct(lit(k.toLong).as("stage"), lit(names(k)).as("name"),
            col(s"c_${names(k - 1)}").as("docs_in"),
            col(s"c_${names(k)}").as("docs_out"))
        }
        oneRow.select(explode(array(entries: _*)).as("p"))
          .select(col("p.stage"), col("p.name"), col("p.docs_in"),
            col("p.docs_out"),
            (col("p.docs_in") - col("p.docs_out")).as("dropped"))
      },
      Some("""
        WITH RECURSIVE
        universe AS (SELECT * FROM documents WHERE doc_id >= 20),
        valid AS (SELECT * FROM universe WHERE length(text) <= 300
                  AND regexp_matches(lang, '^(en|de|es|fr|zh)$')),
        d AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '') AS toks
              FROM documents),
        g3 AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> list_aggregate(toks[i:i+2], 'string_agg', ' '))) AS g
               FROM d WHERE len(toks) >= 3),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM g3 a JOIN g3 b ON a.doc_id < b.doc_id
               WHERE (CASE WHEN len(a.g)+len(b.g)-len(list_intersect(a.g,b.g)) = 0
                           THEN 1.0
                           ELSE ROUND(CAST(len(list_intersect(a.g,b.g)) AS DOUBLE) /
                             (len(a.g)+len(b.g)-len(list_intersect(a.g,b.g))), 6)
                      END) >= 0.8),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
              UNION SELECT doc_b AS src, doc_a AS dst FROM pr),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        lab AS (SELECT v.doc_id, COALESCE(c.cluster_id, v.doc_id) AS cid
                FROM valid v LEFT JOIN c USING (doc_id)),
        dedup AS (SELECT doc_id FROM (
                    SELECT doc_id, ROW_NUMBER() OVER
                      (PARTITION BY cid ORDER BY doc_id) AS rk FROM lab)
                  WHERE rk = 1),
        sh AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(toks) - 2),
                   i -> list_aggregate(toks[i:i+3], 'string_agg', ' ')))) AS g4
               FROM d),
        contam AS (SELECT DISTINCT c2.doc_id FROM sh c2 JOIN sh ev ON c2.g4 = ev.g4
                   WHERE ev.doc_id < 20 AND c2.doc_id >= 20),
        clean AS (SELECT doc_id FROM dedup
                  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        q AS (SELECT cl.doc_id FROM clean cl JOIN d USING (doc_id)
              WHERE len(d.toks) > 0
                AND ROUND(CAST(len(list_distinct(d.toks)) AS DOUBLE)
                          / len(d.toks), 6) >= 0.55),
        n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM universe) AS c0,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM valid) AS c1,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM dedup) AS c2,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM clean) AS c3,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS c4)
        SELECT stage, name, docs_in, docs_out, docs_in - docs_out AS dropped
        FROM (
          SELECT CAST(1 AS BIGINT) AS stage, 'valid' AS name,
                 c0 AS docs_in, c1 AS docs_out FROM n
          UNION ALL SELECT 2, 'neardup_cluster', c1, c2 FROM n
          UNION ALL SELECT 3, 'decontaminate', c2, c3 FROM n
          UNION ALL SELECT 4, 'quality', c3, c4 FROM n)
      """)),

    // ------------------------------------------------------------ EXT101
    // IMAGE-column perceptual near-dup — the multimodal dedup gap closed:
    // mirror-canonical DCT pHash fingerprints (a horizontally mirrored
    // re-post hashes identically) over encoded PNG binaries + a Hamming-banded
    // self-join (the ext08 band trick in Hamming space — equi-join on
    // 16-bit hash slices, never all-pairs; pigeonhole gives perfect
    // recall at Hamming ≤ 3). The corpus is the deterministic synthetic
    // PNG stand-in for the engine's own A10 side-outputs
    // ([[graft.sources.ImageCorpus]]: families of 3 near-identical
    // variants per doc_id/3) — the encode → binary column → decode →
    // hash → banded-join plumbing is the real multimodal path.
    // ORACLE-HASHED since r16 (verdict #2): the decode stays engine-side
    // (DuckDB has no image stack), but the entry exports its (id, phash)
    // fingerprint frame via [[graft.util.OracleAux]] during Verify and
    // the oracle recomputes the pair table BRUTE-FORCE (all-pairs
    // bit_count(xor) ≤ 3) — a hash match gates the banded join's
    // arithmetic AND re-proves its lossless pigeonhole recall on every
    // Verify run. ImageDedupSpec still pins the semantics (identical +
    // perturbed caught, disjoint not, banded == brute force,
    // binaryFile round-trip).
    QueryDef(
      "ext101_image_neardup",
      (s, dir) => {
        graft.util.OracleAux.export("image_hashes", dir,
          sharedImageHashes(s, dir))
        sharedImagePairs(s, dir).orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH h AS (SELECT id, phash
                   FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}'))
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
        FROM h a JOIN h b ON a.id < b.id
        WHERE bit_count(xor(a.phash, b.phash)) <= 3
        ORDER BY id_a, id_b
      """)),

    // ------------------------------------------------------------ EXT102
    // AUDIO-column perceptual near-dup — third modality on the SAME
    // Hamming-banded core as ext101: RIFF/WAV parse → 65-segment SPECTRAL
    // fingerprint (ln(rms) + Goertzel-bank log-frequency centroid —
    // amplitude/resample/duration invariant AND pitch-sensitive,
    // AudioOps.spectralHash64), then the shared bit-slice
    // candidate join + bit_count verification. Corpus = deterministic
    // synthetic WAV families ([[graft.sources.AudioCorpus]]).
    // ORACLE-HASHED since r16 like ext101: the WAV decode + Goertzel
    // bank stay engine-side, the exported (id, phash) aux frame lets
    // DuckDB brute-force the pair table and hash-gate the banded join.
    // AudioDedupSpec pins invariances, family recall vs brute force,
    // and undecodable-drop.
    QueryDef(
      "ext102_audio_neardup",
      (s, dir) => {
        graft.util.OracleAux.export("audio_hashes", dir,
          sharedAudioHashes(s, dir))
        sharedAudioPairs(s, dir).orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH h AS (SELECT id, phash
                   FROM read_parquet('${graft.util.OracleAux.glob("audio_hashes")}'))
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
        FROM h a JOIN h b ON a.id < b.id
        WHERE bit_count(xor(a.phash, b.phash)) <= 3
        ORDER BY id_a, id_b
      """)),

    // ------------------------------------------------------------ EXT103
    // CROSS-MODAL near-dup agreement — the composition statement for the
    // multimodal family: a pair is a verified MULTIMODAL duplicate only
    // when its image fingerprints AND its audio fingerprints both sit
    // within threshold (the and-of-modalities gate a scraped A/V corpus
    // dedups on — either modality alone over-merges: same thumbnail with
    // different audio, same jingle with different video). One equi-join
    // of the two modality pair tables on (id_a, id_b); each side is the
    // banded join, so nothing here is ever all-pairs. The gate is made
    // DISCRIMINATING by construction: every doc with doc_id % 30 == 2
    // (one member of every 10th family) carries DIVERGENT audio (rendered
    // from a remapped content id), so its image-duplicate pairs fail the
    // audio side and the AND gate visibly drops them — at gate SF the
    // output is strictly smaller than ext101's pair table. ORACLE-HASHED
    // since r16 (both modality aux frames brute-forced and AND-joined in
    // DuckDB);
    // the drop set is spec-pinned in AudioDedupSpec.
    QueryDef(
      "ext103_multimodal_neardup",
      (s, dir) => {
        val img = sharedImagePairs(s, dir)
          .withColumnRenamed("dist", "img_dist")
        // divergent-audio corpus (doc_id % 30 == 2 remapped) — its OWN memo
        // keys: a different artifact from ext102's standard tables. The
        // hash frame is memoized separately so the oracle-aux export ships
        // it (ORACLE-HASHED since r16: both modality pair tables are
        // brute-forced in DuckDB off their aux frames and AND-joined —
        // the whole cross-modal gate is hash-gated, decode excepted)
        val divergentHashes = graft.operators.MaterializedPairs.frame(
          s"${s.sparkContext.applicationId}#" +
            s"${System.identityHashCode(s)}|audiohashes-divergent|$dir") {
          val clips = Tables.documents(s, dir).select("doc_id")
            .select(col("doc_id"),
              graft.sources.AudioCorpus.wavFor(
                when(col("doc_id") % 30 === 2, col("doc_id") + 999999L)
                  .otherwise(col("doc_id"))).as("wav"))
          graft.operators.AudioDedup.hashes(clips, "wav", "doc_id")
        }
        graft.util.OracleAux.export("image_hashes", dir,
          sharedImageHashes(s, dir))
        graft.util.OracleAux.export("audio_hashes_divergent", dir,
          divergentHashes)
        val aud = graft.operators.MaterializedPairs.frame(
          s"${s.sparkContext.applicationId}#" +
            s"${System.identityHashCode(s)}|audiopairs-divergent|$dir") {
          graft.operators.ImageDedup.hammingNearDupPairs(
            divergentHashes, maxDist = 3)
        }.withColumnRenamed("dist", "audio_dist")
        img.join(aud, Seq("id_a", "id_b"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH ih AS (SELECT id, phash
                    FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}')),
        ah AS (SELECT id, phash
               FROM read_parquet('${graft.util.OracleAux.glob("audio_hashes_divergent")}')),
        ip AS (SELECT a.id AS id_a, b.id AS id_b,
                      CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS img_dist
               FROM ih a JOIN ih b ON a.id < b.id
               WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        ap AS (SELECT a.id AS id_a, b.id AS id_b,
                      CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS audio_dist
               FROM ah a JOIN ah b ON a.id < b.id
               WHERE bit_count(xor(a.phash, b.phash)) <= 3)
        SELECT id_a, id_b, img_dist, audio_dist
        FROM ip JOIN ap USING (id_a, id_b)
        ORDER BY id_a, id_b
      """)),

    // ------------------------------------------------------------ EXT104
    // VIDEO-column perceptual near-dup — the modality triad closed
    // (images ext101, audio ext102, video here), composed from existing
    // pieces: GVID decode (the stubbed codec boundary, sources/Video) →
    // every-2nd-frame sampling → per-sampled-frame mirror-canonical dHash
    // on the raw plane
    // (no PNG round-trip) → the SAME Hamming-banded core at FRAME level →
    // video-level vote (≥60% of the shorter side's sampled frames match
    // within Hamming ≤ 3). Robust to re-encodes, intro/outro edits and
    // frame jitter (any-frame-to-any-frame matching via band buckets, not
    // index-aligned). ORACLE-HASHED since r16: the GVID decode stays
    // engine-side, the exported (id, frame_idx, phash) kept-frame aux
    // lets DuckDB brute-force the frame-level Hamming pairs AND restate
    // the temporal-alignment vote (per-offset distinct-frame support,
    // RANGE window ±jitter, max single-alignment window — the exact
    // [[graft.operators.TemporalAlignment.alignedOverlap]] arithmetic)
    // so the whole frames → pairs → vote chain is hash-gated.
    // VideoDedupSpec pins family recall, the splice threshold (8/12
    // borrowed frames caught, 4/12 not), and undecodable-drop.
    QueryDef(
      "ext104_video_neardup",
      (s, dir) => {
        graft.util.OracleAux.export("video_frame_hashes", dir,
          sharedDedupFrameHashes(s, dir).select("id", "frame_idx", "phash"))
        graft.operators.VideoDedup.nearDupPairsFromKept(
          sharedDedupFrameHashes(s, dir),
          everyNth = 2, maxDist = 3, minOverlap = 0.6)
          .orderBy("vid_a", "vid_b")
      },
      Some(s"""
        WITH fh AS (SELECT id, frame_idx, phash
                    FROM read_parquet('${graft.util.OracleAux.glob("video_frame_hashes")}')),
        cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_kept
                FROM fh GROUP BY id),
        fp AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 a.frame_idx AS ta, b.frame_idx AS tb
          FROM fh a JOIN fh b ON a.id < b.id
          WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        wc AS (
          SELECT fp.id_a, fp.id_b, fp.ta, fp.tb,
                 ca.n_kept AS na, cb.n_kept AS nb,
                 CASE WHEN ca.n_kept <= cb.n_kept THEN fp.ta ELSE fp.tb END
                   AS small_t,
                 fp.ta - fp.tb AS t_off
          FROM fp
          JOIN cnt ca ON ca.id = fp.id_a
          JOIN cnt cb ON cb.id = fp.id_b),
        m AS (SELECT id_a, id_b,
                     CAST(COUNT(DISTINCT small_t) AS BIGINT) AS matched_frames
              FROM wc GROUP BY id_a, id_b),
        po AS (SELECT id_a, id_b, na, nb, t_off,
                      COUNT(DISTINCT small_t) AS c
               FROM wc GROUP BY id_a, id_b, na, nb, t_off),
        win AS (SELECT id_a, id_b, na, nb,
                       SUM(c) OVER (PARTITION BY id_a, id_b ORDER BY t_off
                         RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w
                FROM po),
        al AS (SELECT id_a, id_b, na, nb, MAX(w) AS aligned
               FROM win GROUP BY id_a, id_b, na, nb)
        SELECT al.id_a AS vid_a, al.id_b AS vid_b, m.matched_frames,
               LEAST(1.0, ROUND(CAST(aligned AS DOUBLE) / LEAST(na, nb), 6))
                 AS overlap_ratio
        FROM al JOIN m USING (id_a, id_b)
        WHERE LEAST(1.0, ROUND(CAST(aligned AS DOUBLE) / LEAST(na, nb), 6))
                >= 0.6
        ORDER BY vid_a, vid_b
      """)),

    // ------------------------------------------------------------ EXT105
    // Image dedup RETENTION accounting — the proof that the
    // pairs → transitive clusters → min-id survivor → per-source
    // accounting chain (ext29/ext84's text shape) is MODALITY-GENERIC:
    // the pair table is ext101's memoized Hamming-banded pHash join, the cluster
    // step is the same pointer-jumped clusterPairs, the survivor policy
    // the same min-id-per-cluster window, and the rollup joins the
    // documents table's source column back on — per source: images_total,
    // images_kept, dropped, dup_ratio. ORACLE-HASHED since r16: off the
    // exported image-hash aux, DuckDB brute-forces the pairs, closes the
    // clusters with a recursive CTE (the ext29/ext100 closure shape),
    // replays the min-id survivor window and the per-source rollup — the
    // whole pairs → clusters → survivor → accounting chain hash-gated;
    // ImageDedupSpec additionally pins the accounting against the known
    // family structure.
    QueryDef(
      "ext105_image_retention",
      (s, dir) => {
        graft.util.OracleAux.export("image_hashes", dir,
          sharedImageHashes(s, dir))
        val docs = Tables.documents(s, dir).select("doc_id", "source")
        val pairs = sharedImagePairs(s, dir)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val clusters = graft.operators.Dedup.clusterPairs(pairs)
        // survivor = the component's min doc_id, which clusterPairs ALREADY
        // returns as cluster_id, and the universe here is the full corpus
        // (every component member is a doc row) — so is_kept is the row
        // predicate cid == doc_id and the former full-corpus
        // row_number-over-cid window (a sort + window pass over every
        // document) is dead weight (guide §2.4: an orderBy used only to
        // pick a minimum the data already carries). ext100 keeps its
        // window: its universe is FILTERED, so the component min can be
        // absent there and the rank must run over the survivors present.
        docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("is_kept", col("cid") === col("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("images_total"),
            sum(when(col("is_kept"), 1L).otherwise(0L)).as("images_kept"))
          .select(col("source"), col("images_total"), col("images_kept"),
            (col("images_total") - col("images_kept")).as("dropped"),
            round((col("images_total") - col("images_kept"))
              .cast("double") / col("images_total"), 6).as("dup_ratio"))
          .orderBy("source")
      },
      Some(s"""
        WITH RECURSIVE
        h AS (SELECT id, phash
              FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}')),
        pr AS (SELECT a.id AS doc_a, b.id AS doc_b
               FROM h a JOIN h b ON a.id < b.id
               WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
              UNION SELECT doc_b AS src, doc_a AS dst FROM pr),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        lab AS (SELECT d.doc_id, d.source,
                       COALESCE(c.cluster_id, d.doc_id) AS cid
                FROM documents d LEFT JOIN c USING (doc_id)),
        k AS (SELECT source, cid,
                     ROW_NUMBER() OVER (PARTITION BY cid ORDER BY doc_id) AS rk
              FROM lab)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS images_total,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS images_kept,
               CAST(COUNT(*) - SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS dropped,
               ROUND(CAST(COUNT(*) - SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS dup_ratio
        FROM k GROUP BY source ORDER BY source
      """)),

    // ------------------------------------------------------------ EXT106
    // Duplicated-SPAN REMOVAL — the remediation Lee et al. 2022 actually
    // apply downstream of detection (ext42/ext80/ext81 find the spans;
    // this entry CUTS them): every cross-document duplicated 64-char
    // window is excised from every document except the lowest-doc_id
    // canonical copy, overlapping windows merged into maximal intervals
    // first so nothing is double-cut, and each document's surviving text
    // is rebuilt as the ordered concatenation of its uncut segments
    // (built-in aggregate/substring fold — no UDF on the rebuild path).
    // The output carries md5(rebuilt text), so the oracle hash-checks the
    // RECONSTRUCTION itself, not just the removed-char arithmetic. At
    // corpus scale the cut list comes from the content-sampled detector
    // (spanRemoval is detector-agnostic); the exact enumeration here is
    // the same audit-tier discipline as ext80/ext81.
    QueryDef(
      "ext106_span_removal",
      (s, dir) => graft.operators.SubstringDedup.spanRemoval(
        Tables.documents(s, dir), "text", "doc_id", window = 64),
      Some("""
        WITH w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        d AS (SELECT h, MIN(doc_id) AS keep_doc FROM w
              GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        rd AS (SELECT DISTINCT w.doc_id, w.pos
               FROM w JOIN d USING (h) WHERE w.doc_id <> d.keep_doc),
        isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           <= 63
                      THEN 0 ELSE 1 END AS newgrp
          FROM rd),
        g AS (
          SELECT doc_id, pos,
                 SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM isl),
        cuts AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 63 AS e
          FROM g GROUP BY doc_id, grp),
        seg AS (
          SELECT doc_id, s, e,
                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
          FROM cuts),
        pieces AS (
          SELECT sg.doc_id,
                 string_agg(substr(dd.text, CAST(sg.pe + 1 AS INT),
                                   CAST(GREATEST(sg.s - sg.pe - 1, 0) AS INT)),
                            '' ORDER BY sg.s) AS head,
                 MAX(sg.e) AS last_e,
                 CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(sg.e - sg.s + 1) AS BIGINT) AS removed_chars
          FROM seg sg JOIN documents dd USING (doc_id)
          GROUP BY sg.doc_id),
        cl AS (
          SELECT dd.doc_id,
                 CAST(LENGTH(dd.text) AS BIGINT) AS n_chars,
                 COALESCE(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
                 COALESCE(p.removed_chars, CAST(0 AS BIGINT)) AS removed_chars,
                 CASE WHEN p.doc_id IS NULL THEN dd.text
                      ELSE p.head || substr(dd.text, CAST(p.last_e + 1 AS INT))
                 END AS cleaned
          FROM documents dd LEFT JOIN pieces p USING (doc_id))
        SELECT doc_id, n_chars, n_spans, removed_chars,
               CAST(LENGTH(cleaned) AS BIGINT) AS kept_chars,
               md5(cleaned) AS cleaned_digest
        FROM cl
      """), bench = false), // audit-tier exact enumeration, like ext80/ext81

    // ------------------------------------------------------------ EXT107
    // EITHER-modality multimodal retention — the OR-gate dual of ext103's
    // AND gate, closing the composition square: ext103 verifies a pair
    // only when image AND audio agree (precision-biased — the dedup
    // verdict); this entry drops a document when its TEXT OR its IMAGE
    // near-duplicates a survivor (recall-biased — the conservative
    // curation gate a mixed text+image corpus ships with, where EITHER
    // channel repeating is enough to call the item redundant). Edge set =
    // union of the corpus-wide word-3-gram J>=0.8 pair table and ext101's
    // Hamming-banded image pair table — BOTH memoized via
    // MaterializedPairs, so this entry pays zero new pair jobs — then the
    // same pointer-jumped clusters / min-id survivor / per-source rollup
    // as ext105. Text edges BRIDGE image families (and vice versa), so
    // kept counts here are <= ext105's per source — the gap is the
    // cross-modal signal. ORACLE-HASHED since r16: the text edges
    // brute-force straight from `documents` (the ext82 oracle shape),
    // the image edges off the image-hash aux, and DuckDB replays the
    // union, the recursive-CTE closure and the retention rollup — the
    // whole OR gate hash-gated, decode excepted; the OR superset-of-
    // either-modality drop containment is spec-pinned in ImageDedupSpec.
    QueryDef(
      "ext107_multimodal_retention_or",
      (s, dir) => {
        graft.util.OracleAux.export("image_hashes", dir,
          sharedImageHashes(s, dir))
        val docs = Tables.documents(s, dir).select("doc_id", "source")
        val textEdges = sharedSetSimPairs(s, dir)
          .select(col("doc_a"), col("doc_b"))
        val imageEdges = sharedImagePairs(s, dir)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val clusters = graft.operators.Dedup.clusterPairs(
          textEdges.union(imageEdges).distinct())
        // is_kept = cid == doc_id: the component-min survivor identity the
        // cluster labels already carry over the full-corpus universe —
        // see ext105 (the removed row_number window sorted every document
        // per rollup for a value the join row already had)
        docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("is_kept", col("cid") === col("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("items_total"),
            sum(when(col("is_kept"), 1L).otherwise(0L)).as("items_kept"))
          .select(col("source"), col("items_total"), col("items_kept"),
            (col("items_total") - col("items_kept")).as("dropped"),
            round((col("items_total") - col("items_kept"))
              .cast("double") / col("items_total"), 6).as("dup_ratio"))
          .orderBy("source")
      },
      Some(s"""
        WITH RECURSIVE
        d AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                  x -> x <> '') AS toks
              FROM documents),
        sg AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, len(toks) - 1),
                        i -> list_aggregate(toks[i:i+2], 'string_agg', ' ')))
                        AS g
               FROM d WHERE len(toks) >= 3),
        tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      len(list_intersect(a.g, b.g)) AS i,
                      len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
               FROM sg a, sg b WHERE a.doc_id < b.doc_id),
        te AS (SELECT doc_a, doc_b FROM tp
               WHERE (CASE WHEN u = 0 THEN 1.0
                           ELSE ROUND(CAST(i AS DOUBLE) / u, 6) END) >= 0.8),
        h AS (SELECT id, phash
              FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}')),
        ie AS (SELECT a.id AS doc_a, b.id AS doc_b
               FROM h a JOIN h b ON a.id < b.id
               WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        pe AS (SELECT * FROM te UNION SELECT * FROM ie),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pe
              UNION SELECT doc_b AS src, doc_a AS dst FROM pe),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        lab AS (SELECT d2.doc_id, d2.source,
                       COALESCE(c.cluster_id, d2.doc_id) AS cid
                FROM documents d2 LEFT JOIN c USING (doc_id)),
        k AS (SELECT source, cid,
                     ROW_NUMBER() OVER (PARTITION BY cid ORDER BY doc_id) AS rk
              FROM lab)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS items_total,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS items_kept,
               CAST(COUNT(*) - SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS dropped,
               ROUND(CAST(COUNT(*) - SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS dup_ratio
        FROM k GROUP BY source ORDER BY source
      """)),

    // ------------------------------------------------------------ EXT108
    // INCREMENTAL image dedup — ext47's incremental contract (dedupe the
    // delivery within itself, then against the existing corpus WITHOUT
    // re-shuffling or re-reading it) carried to the perceptual modality,
    // where the old side cannot be a left-anti on digests (near-dup is
    // Hamming, not equality): the newest 20% of images (the id tail — "the
    // delivery") probes the older 80%'s FINGERPRINT table via the
    // two-sided Hamming banded join. Only the delivery is decoded; the
    // old corpus contributes 8 bytes + id per image from the session's
    // memoized hash table (at scale: a persisted parquet fingerprint
    // table, the ext73 lifecycle discipline). Within-delivery drops
    // resolve through the same pointer-jumped clusters / min-id survivor
    // as ext105; delivery-vs-existing drops through the banded probe.
    // Output per source: delivered / kept / dropped_within /
    // dropped_existing — all three verdict classes live at every SF (full
    // families inside the tail yield within-drops and kept survivors; the
    // family straddling the 80% boundary yields existing-drops).
    // ORACLE-HASHED since r16 (the cut, the within-closure + survivor,
    // the against-existing probe and the verdict precedence replayed
    // brute-force in DuckDB off the image-hash aux);
    // ImageDedupSpec additionally pins the verdicts against the known
    // family structure and the two-sided join's recall against brute
    // force.
    QueryDef(
      "ext108_image_incremental_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "source")
        val hashes = sharedImageHashes(s, dir)
        graft.util.OracleAux.export("image_hashes", dir, hashes)
        val bound = hashes.agg(((max(col("id")) + 1L) * 4L / 5L).as("cut"))
        val withCut = hashes.crossJoin(broadcast(bound))
        val verdicts = graft.operators.ImageDedup.incrementalVerdicts(
          withCut.filter(col("id") >= col("cut")).select("id", "phash"),
          withCut.filter(col("id") < col("cut")).select("id", "phash"),
          maxDist = 3)
        verdicts.join(docs, verdicts("id") === docs("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("delivered"),
            sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("kept"),
            sum(when(col("verdict") === "dropped_within", 1L).otherwise(0L))
              .as("dropped_within"),
            sum(when(col("verdict") === "dropped_existing", 1L).otherwise(0L))
              .as("dropped_existing"))
          .orderBy("source")
      },
      // ORACLE-HASHED since r16: off the image-hash aux, DuckDB replays
      // the whole incremental protocol brute-force — the 80% cut, the
      // within-delivery closure + min-id survivor, the against-existing
      // probe, and the dropped_within-over-dropped_existing precedence —
      // then the per-source rollup
      Some(s"""
        WITH RECURSIVE
        h AS (SELECT id, phash
              FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}')),
        cut AS (SELECT (MAX(id) + 1) * 4 / 5 AS c FROM h),
        newh AS (SELECT id, phash FROM h, cut WHERE id >= c),
        oldh AS (SELECT id, phash FROM h, cut WHERE id < c),
        pr AS (SELECT a.id AS doc_a, b.id AS doc_b
               FROM newh a JOIN newh b ON a.id < b.id
               WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
              UNION SELECT doc_b AS src, doc_a AS dst FROM pr),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        surv AS (SELECT n.id, COALESCE(c.cluster_id, n.id) AS survivor
                 FROM newh n LEFT JOIN c USING (id)),
        ex AS (SELECT DISTINCT n.id
               FROM newh n JOIN oldh o
                 ON bit_count(xor(n.phash, o.phash)) <= 3),
        v AS (SELECT s.id,
                     CASE WHEN s.survivor <> s.id THEN 'dropped_within'
                          WHEN ex.id IS NOT NULL THEN 'dropped_existing'
                          ELSE 'kept' END AS verdict
              FROM surv s LEFT JOIN ex ON ex.id = s.id)
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS delivered,
               CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
                 AS BIGINT) AS kept,
               CAST(SUM(CASE WHEN verdict = 'dropped_within' THEN 1 ELSE 0 END)
                 AS BIGINT) AS dropped_within,
               CAST(SUM(CASE WHEN verdict = 'dropped_existing' THEN 1 ELSE 0 END)
                 AS BIGINT) AS dropped_existing
        FROM v JOIN documents d ON d.doc_id = v.id
        GROUP BY d.source ORDER BY d.source
      """)),

    // ------------------------------------------------------------ EXT109
    // AUDIO CLIP CONTAINMENT — "which tracks contain this clip, and
    // where": the Shazam-shaped retrieval ext102's whole-clip fingerprint
    // structurally cannot answer (its 65 segments are PROPORTIONAL to
    // duration, so a jingle inside a longer track lands on different
    // segment boundaries than the standalone jingle). Fixed-duration
    // window spectral hashes (one spectralHash64 per 0.512 s window, one
    // map-side decode pass) → silence windows dropped by the shared
    // popcount band → the SAME Hamming-banded candidate core at WINDOW
    // level → the SAME temporal-alignment vote as ext104 (matched windows
    // histogrammed by offset; only the best ±1 alignment counts), whose
    // winning offset IS the clip's start position in the track. Corpus =
    // AudioCorpus.trackFor: variable-length tracks where every id%4==3
    // track embeds clip id−3 at window offset 3, amplitude-scaled ×0.7 —
    // so matching is perceptual (bytes differ), the expected pair set is
    // known, and every reported offset is checkable. ORACLE-HASHED since
    // r16: the post-silence-filter window-hash table exports as aux and
    // DuckDB brute-forces the all-pairs Hamming candidates and replays
    // the whole temporal-alignment vote (per-offset distinct small-side
    // counts, best ±1 RANGE window, tie-break, coverage, side pick and
    // offset sign) — the decode+spectral-hash stays engine-side;
    // AudioContainmentSpec pins the pair set, offsets, coverage, the
    // scattered-coincidence rejection and the silence-window drop.
    QueryDef(
      "ext109_audio_containment",
      (s, dir) => {
        val wh = graft.operators.AudioContainment.keptWindowHashes(
          graft.sources.AudioCorpus.trackFor(
            Tables.documents(s, dir).select("doc_id"), "doc_id"),
          "wav", "doc_id",
          windowSec = graft.sources.AudioCorpus.TrackWindowSec)
        graft.util.OracleAux.export("audio_window_hashes", dir,
          wh.select("id", "win_idx", "whash"))
        graft.operators.AudioContainment.containmentPairsFromWindows(
          wh.localCheckpoint(true),
          hop = graft.sources.AudioCorpus.TrackWindowSec,
          maxDist = 2, minCoverage = 0.8)
          .orderBy("clip_id", "track_id")
      },
      Some(s"""
        WITH ${alignedOverlapOracleCtes(
          graft.util.OracleAux.glob("audio_window_hashes"),
          "win_idx", "whash", maxDist = 2, jitter = 1)}
        SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS clip_id,
               CASE WHEN na <= nb THEN id_b ELSE id_a END AS track_id,
               CASE WHEN na <= nb THEN -best_off ELSE best_off END
                 AS offset_windows,
               ROUND((CASE WHEN na <= nb THEN -best_off ELSE best_off END)
                 * ${graft.sources.AudioCorpus.TrackWindowSec}, 6)
                 AS offset_seconds,
               matched_units AS matched_windows,
               coverage
        FROM cov WHERE coverage >= 0.8 ORDER BY clip_id, track_id
      """)),

    // ------------------------------------------------------------ EXT110
    // VIDEO SHOT-BOUNDARY SEGMENTATION — the temporal-segmentation dual
    // of ext104's cross-video matching, and the sampling primitive a
    // video curation pipeline runs before frame extraction (one frame per
    // SHOT beats every-nth when shot lengths vary). Per-frame dHash (the
    // shared ImageOps gradient-sign core, minus the dedup path's MIRROR
    // canonicalization — a cross-video invariance whose min can flip
    // sides between visually identical frames and manufacture fake cuts
    // within a static scene) — then one per-video
    // window pass: hash discontinuity > cutDist opens a shot, shot index
    // = running cut count, rollup per (video, shot). No join anywhere;
    // the frames come from the session's MATERIALIZED decoded-frame table
    // (shared with ext111 — one decode pass feeds both analytics). Corpus
    // = VideoCorpus.scenesFor (2–5 independent block-noise scenes of 4–7
    // frames per video, in-scene jitter below both hash resolution and
    // the motion threshold), so every video's expected segmentation is
    // known. ORACLE-HASHED since r16: the sampled-frame dHash table
    // (VideoShots.frameHashes, the decode+hash pass) exports as aux and
    // DuckDB restates the lag / cut-threshold / running-sum segmentation
    // and the rollup; VideoShotsSpec additionally pins segmentation ==
    // constructed scene lengths, the single-scene and everyNth cases,
    // and undecodable-drop.
    QueryDef(
      "ext110_video_shots",
      (s, dir) => {
        graft.util.OracleAux.export("scene_frame_hashes", dir,
          graft.operators.VideoShots.frameHashes(
            sharedSceneFrames(s, dir), everyNth = 1))
        graft.operators.VideoShots.shotsFromFrames(
          sharedSceneFrames(s, dir), everyNth = 1, cutDist = 10)
          .orderBy("video_id", "shot_idx")
      },
      Some(s"""
        WITH fh AS (SELECT id, frame_idx, phash
                    FROM read_parquet('${graft.util.OracleAux.glob("scene_frame_hashes")}')),
        l AS (SELECT id, frame_idx,
                     CASE WHEN LAG(phash) OVER
                              (PARTITION BY id ORDER BY frame_idx)
                            IS NOT NULL
                           AND bit_count(xor(phash, LAG(phash) OVER
                              (PARTITION BY id ORDER BY frame_idx))) > 10
                          THEN 1 ELSE 0 END AS is_cut
              FROM fh),
        a AS (SELECT id, frame_idx,
                     CAST(SUM(is_cut) OVER (PARTITION BY id
                       ORDER BY frame_idx ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS shot_idx
              FROM l)
        SELECT id AS video_id, shot_idx,
               MIN(frame_idx) AS start_frame,
               MAX(frame_idx) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames
        FROM a GROUP BY id, shot_idx ORDER BY video_id, shot_idx
      """)),

    // ------------------------------------------------------------ EXT111
    // BATCH MOTION BACKFILL — the reference's LIVE motion pipeline
    // (A5/A6: gray → 3×3 Gaussian → absdiff → threshold 20 → connected
    // components ≥ 300 px) run over STORED video columns: the
    // reprocess-the-archive job every video platform runs when detection
    // logic or thresholds change, sharing the EXACT kernel entry point
    // (Kernels.motionRegionCount via Video.withMotion) with the streaming
    // path, so a backfill and the live detector can never disagree on
    // what counts as motion. Reads the SAME materialized decoded-frame
    // table as ext110 (zero extra decodes); one per-video lag window +
    // one rollup: (video_id, n_frames, frames_with_motion, motion_ratio,
    // total_regions). On the scene corpus the expected output is exact:
    // in-scene jitter (+6 single pixels) sits below threshold 20, every
    // scene cut is a full-frame change, so frames_with_motion == scenes−1
    // — which makes ext110 and ext111 mutually checking: n_shots ==
    // frames_with_motion + 1 for every video. ORACLE-HASHED since r16
    // (rollup replayed off the exported per-frame motion aux);
    // VideoShotsSpec pins that cross-invariant and the per-video counts.
    QueryDef(
      "ext111_batch_motion",
      // ORACLE-HASHED since r16: the per-frame motion table (video_id,
      // frame_idx, n_regions — the CV kernel's output, decode and kernel
      // engine-side as everywhere in the aux family) exports as aux and
      // DuckDB replays the per-video rollup, so the backfill's
      // frames-with-motion / ratio / total-regions arithmetic is
      // hash-gated while the kernel itself stays pinned by its goldens
      (s, dir) => {
        val motion = graft.sources.Video.withMotion(
          sharedSceneFrames(s, dir), keyCol = "video_id")
        graft.util.OracleAux.export("scene_motion_frames", dir,
          motion.select(col("video_id"), col("frame_idx"), col("n_regions")))
        motion.groupBy(col("video_id"))
          .agg(count(lit(1)).as("n_frames"),
            sum(when(col("n_regions") > 0, 1L).otherwise(0L))
              .as("frames_with_motion"),
            round(sum(when(col("n_regions") > 0, 1L).otherwise(0L)) /
              count(lit(1)).cast("double"), 6).as("motion_ratio"),
            sum(coalesce(col("n_regions"), lit(0))).as("total_regions"))
          .orderBy("video_id")
      },
      Some(s"""
        WITH m AS (SELECT video_id, frame_idx, n_regions
                   FROM read_parquet('${graft.util.OracleAux.glob("scene_motion_frames")}'))
        SELECT video_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               CAST(SUM(CASE WHEN n_regions > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS frames_with_motion,
               ROUND(CAST(SUM(CASE WHEN n_regions > 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS motion_ratio,
               CAST(SUM(COALESCE(n_regions, 0)) AS BIGINT) AS total_regions
        FROM m GROUP BY video_id ORDER BY video_id
      """)),

    // ------------------------------------------------------------ EXT112
    // KEYFRAME EXTRACTION — the step ext110's segmentation exists for:
    // one representative (middle) sampled frame per detected shot, the
    // one-frame-per-shot training-data sampling that beats every-nth when
    // shot lengths vary (a static interview contributes one frame, a
    // montage one per cut). Same per-video window partitioning as the
    // segmentation plus one rank/count pass — still zero joins — and the
    // THIRD consumer of the session's materialized decoded-frame table
    // (ext110 hashes it, ext111 runs the motion kernel over it, ext112
    // picks representatives: decode once, analyze many). Rows-only;
    // VideoShotsSpec pins keyframe == ceil-middle of every constructed
    // scene and one-keyframe-per-shot totals.
    QueryDef(
      "ext112_keyframes",
      // ORACLE-HASHED since r16: same scene_frame_hashes aux as ext110
      // (one export feeds both); DuckDB replays the segmentation plus
      // the deterministic ceil-middle keyframe rank
      (s, dir) => {
        graft.util.OracleAux.export("scene_frame_hashes", dir,
          graft.operators.VideoShots.frameHashes(
            sharedSceneFrames(s, dir), everyNth = 1))
        graft.operators.VideoShots.keyframes(
          sharedSceneFrames(s, dir), everyNth = 1, cutDist = 10)
          .orderBy("video_id", "shot_idx")
      },
      Some(s"""
        WITH fh AS (SELECT id, frame_idx, phash
                    FROM read_parquet('${graft.util.OracleAux.glob("scene_frame_hashes")}')),
        l AS (SELECT id, frame_idx,
                     CASE WHEN LAG(phash) OVER
                              (PARTITION BY id ORDER BY frame_idx)
                            IS NOT NULL
                           AND bit_count(xor(phash, LAG(phash) OVER
                              (PARTITION BY id ORDER BY frame_idx))) > 10
                          THEN 1 ELSE 0 END AS is_cut
              FROM fh),
        a AS (SELECT id, frame_idx,
                     CAST(SUM(is_cut) OVER (PARTITION BY id
                       ORDER BY frame_idx ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS shot_idx
              FROM l),
        r AS (SELECT id, shot_idx, frame_idx,
                     ROW_NUMBER() OVER (PARTITION BY id, shot_idx
                       ORDER BY frame_idx) AS rn,
                     CAST(COUNT(*) OVER (PARTITION BY id, shot_idx)
                       AS BIGINT) AS cnt
              FROM a)
        SELECT id AS video_id, shot_idx, frame_idx AS keyframe_idx,
               cnt AS shot_frames
        FROM r WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
        ORDER BY video_id, shot_idx
      """)),

    // ------------------------------------------------------------ EXT113
    // IMAGE QUALITY GATE — the multimodal analog of ext05's text quality
    // scoring, and the filter a curation pipeline runs BEFORE image dedup
    // (a flat gray thumbnail costs as much to store and train on as real
    // content; LAION filtered on size and image-level scores before CLIP
    // scoring). One map-side decode per image producing (width, height,
    // mean_luma, contrast, RMS-gradient sharpness, histogram entropy) +
    // a fixed-order keep/reason verdict — no shuffle but the final sort.
    // Corpus = ImageCorpus.gradedFor: id%5 grades clean / flat /
    // blurred / dark / tiny, so every verdict class is live at every SF
    // (the blurred grade keeps healthy contrast — the case separating the
    // RMS gradient from the blur-invariant total-variation form).
    // ORACLE-HASHED since r16: the per-image stats frame (the decode's
    // deterministic output, 6-dp-rounded per-item math) exports as aux
    // and DuckDB replays the FIXED-ORDER verdict rules — the relational
    // half that can silently rot (rule order, threshold comparisons
    // against rounded stats) gets a hash gate while the decode stays
    // engine-side; MediaQualitySpec pins verdict == grade for the whole
    // corpus, undecodable handling, and the blur/contrast separation on
    // constructed fixtures.
    QueryDef(
      "ext113_image_quality",
      (s, dir) => {
        // checkpoint BEFORE the global orderBy (r16, guide §7.2 duplicated
        // subtrees): the sort's range-partitioner SAMPLING pass executes
        // its child plan once for boundaries and once for real — without
        // the checkpoint that is the whole render+decode UDF chain twice
        // per run (measured 4.5 s vs 1.3 s for the stats pass alone)
        val stats = graft.operators.MediaQuality.imageStats(
          graft.sources.ImageCorpus.gradedFor(
            Tables.documents(s, dir).select("doc_id"), "doc_id"),
          "png", "doc_id").localCheckpoint(false)
        graft.util.OracleAux.export("image_quality_stats", dir, stats)
        graft.operators.MediaQuality.imageVerdicts(stats).orderBy("id")
      },
      Some(s"""
        WITH st AS (SELECT * FROM read_parquet(
               '${graft.util.OracleAux.glob("image_quality_stats")}')),
        v AS (SELECT *,
                     CASE WHEN NOT decodable THEN 'undecodable'
                          WHEN LEAST(width, height) < ${graft.operators.MediaQuality.DefaultMinSide}
                            THEN 'too_small'
                          WHEN mean_luma < ${graft.operators.MediaQuality.DefaultMinMeanLuma}
                            THEN 'too_dark'
                          WHEN contrast < ${graft.operators.MediaQuality.DefaultMinContrast}
                            THEN 'low_contrast'
                          WHEN sharpness < ${graft.operators.MediaQuality.DefaultMinSharpness}
                            THEN 'blurred' END AS reason
              FROM st)
        SELECT id, decodable, width, height, mean_luma, contrast,
               sharpness, entropy, reason, reason IS NULL AS keep
        FROM v ORDER BY id
      """)),

    // ------------------------------------------------------------ EXT114
    // AUDIO QUALITY GATE — ext113's audio sibling: one map-side WAV
    // decode per track producing (duration, RMS, peak, clipping_ratio,
    // frame-level silence_ratio) + the fixed-order verdict. The graded
    // corpus (id%5: clean / near-silent / clipped / mostly-silent /
    // too-short) keeps every failure class live; the mostly-silent grade
    // passes whole-track RMS while failing frame-level silence — the case
    // that justifies per-frame measurement. ORACLE-HASHED since r16
    // (verdict rules replayed off the exported per-track stats aux, the
    // ext113 discipline); MediaQualitySpec pins verdict == grade, the
    // silence/RMS separation, and stereo frame accounting.
    QueryDef(
      "ext114_audio_quality",
      (s, dir) => {
        // checkpoint before the global orderBy — same double-execution
        // economics as ext113 (the sort sampling pass would re-run the
        // WAV render+decode chain)
        val stats = graft.operators.MediaQuality.audioStats(
          graft.sources.AudioCorpus.gradedFor(
            Tables.documents(s, dir).select("doc_id"), "doc_id"),
          "wav", "doc_id").localCheckpoint(false)
        graft.util.OracleAux.export("audio_quality_stats", dir, stats)
        graft.operators.MediaQuality.audioVerdicts(stats).orderBy("id")
      },
      Some(s"""
        WITH st AS (SELECT * FROM read_parquet(
               '${graft.util.OracleAux.glob("audio_quality_stats")}')),
        v AS (SELECT *,
                     CASE WHEN NOT decodable THEN 'undecodable'
                          WHEN duration_sec < ${graft.operators.MediaQuality.DefaultMinDurationSec}
                            THEN 'too_short'
                          WHEN rms < ${graft.operators.MediaQuality.DefaultMinRms}
                            THEN 'near_silent'
                          WHEN silence_ratio > ${graft.operators.MediaQuality.DefaultMaxSilenceRatio}
                            THEN 'mostly_silent'
                          WHEN clipping_ratio > ${graft.operators.MediaQuality.DefaultMaxClippingRatio}
                            THEN 'clipped' END AS reason
              FROM st)
        SELECT id, decodable, duration_sec, rms, peak, clipping_ratio,
               silence_ratio, reason, reason IS NULL AS keep
        FROM v ORDER BY id
      """)),

    // ------------------------------------------------------------ EXT115
    // VIDEO QUALITY SUMMARY — per-video corpus health over the DECODED
    // frame table: n_frames, geometry, mean luma, low-information-frame
    // ratio (the popcount band ext104 filters on, here REPORTED per
    // video) and static-transition ratio (fraction of consecutive-frame
    // dHash distances <= 2: a static interview scores ~1, a montage ~0 —
    // the dial that decides every-nth vs per-shot frame sampling). The
    // FOURTH consumer of the session's materialized frame table (shots
    // hash it, motion kernels it, keyframes sample it, this summarizes
    // it) — zero extra decodes, one window + one agg partitioned by
    // video_id, no join. On the scene corpus static_ratio is exactly
    // (n_frames-1 - cuts)/(n_frames-1), making ext115 mutually checking
    // with ext110's shot count. ORACLE-HASHED since r16: the per-frame
    // stats substrate (micro-unit luma + dHash, all per-item math)
    // exports as aux and DuckDB replays the whole summary — lag
    // transitions, the exact-integer luma mean, both ratio averages;
    // every cross-row reduction in videoStats is order-independent by
    // construction (see its doc), which is what makes the replay
    // bit-exact. MediaQualitySpec pins the
    // cross-invariant and the static/low-info ratios on constructed
    // fixtures.
    QueryDef(
      "ext115_video_quality",
      (s, dir) => {
        val pf = graft.operators.MediaQuality.videoFrameStats(
          sharedSceneFrames(s, dir))
        graft.util.OracleAux.export("scene_frame_stats", dir, pf)
        graft.operators.MediaQuality.videoStatsFromFrames(pf)
          .orderBy("video_id")
      },
      Some(s"""
        WITH pf AS (SELECT video_id, frame_idx, luma_micro, fh, w, h
                    FROM read_parquet(
               '${graft.util.OracleAux.glob("scene_frame_stats")}')),
        l AS (SELECT *, LAG(fh) OVER (PARTITION BY video_id
                ORDER BY frame_idx) AS prev
              FROM pf)
        SELECT video_id,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               ANY_VALUE(w) AS width,
               ANY_VALUE(h) AS height,
               ROUND(SUM(luma_micro) / (COUNT(*) * 1000000.0), 6)
                 AS mean_luma,
               ROUND(AVG(CASE WHEN bit_count(fh) BETWEEN 4 AND 60
                 THEN 0.0 ELSE 1.0 END), 6) AS low_info_ratio,
               ROUND(COALESCE(AVG(CASE WHEN prev IS NOT NULL THEN
                 (CASE WHEN bit_count(xor(prev, fh)) <= 2
                  THEN 1.0 ELSE 0.0 END) END), 0.0), 6) AS static_ratio
        FROM l GROUP BY video_id ORDER BY video_id
      """)),

    // ------------------------------------------------------------ EXT116
    // PERCEPTUAL EVAL DECONTAMINATION — the multimodal analog of
    // ext86/ext87's text leakage guards (Dodge et al. 2021): for each
    // held-out eval image, is a perceptual near-duplicate in the training
    // split? Equality-based decontamination misses re-encoded / mirrored
    // copies — the forms scraped corpora actually contain — so the probe
    // is the TWO-SIDED Hamming banded join over fingerprint tables (both
    // sides band identically, pigeonhole recall, equi-join candidates,
    // never all-pairs; at scale both sides are persisted 8-byte-per-item
    // fingerprint tables — the audit never touches pixels). Split: whole
    // families (floor(id/3)%5==4) go to eval AND scattered singles
    // (id%7==3) leak family siblings into train — so contaminated
    // (singles) and clean (whole families) verdicts are both live at
    // every SF. Reads the session's MEMOIZED fingerprint table: zero new
    // decode passes. ORACLE-HASHED since r16 (eval/train re-split +
    // brute-force probe + (dist, id) tie-break replayed in DuckDB);
    // ImageDedupSpec additionally pins the verdict set against the
    // family structure and the nearest-evidence determinism.
    QueryDef(
      "ext116_image_decontamination",
      (s, dir) => {
        val hashes = sharedImageHashes(s, dir)
        graft.util.OracleAux.export("image_hashes", dir, hashes)
        val isEval = (floor(col("id") / 3) % 5 === 4) || (col("id") % 7 === 3)
        graft.operators.ImageDedup.leakageVerdicts(
          hashes.filter(isEval), hashes.filter(!isEval), maxDist = 3)
          .orderBy("eval_id")
      },
      // ORACLE-HASHED since r16: DuckDB re-splits the aux hash frame with
      // the same eval predicate, brute-forces the eval×train probe, and
      // replays the deterministic (dist, id) nearest tie-break
      Some(s"""
        WITH h AS (SELECT id, phash
                   FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}')),
        ev AS (SELECT id, phash FROM h
               WHERE CAST(floor(id / 3) AS BIGINT) % 5 = 4 OR id % 7 = 3),
        tr AS (SELECT id, phash FROM h
               WHERE NOT (CAST(floor(id / 3) AS BIGINT) % 5 = 4 OR id % 7 = 3)),
        j AS (SELECT e.id AS eval_id, t.id AS train_id,
                     CAST(bit_count(xor(e.phash, t.phash)) AS BIGINT) AS dist
              FROM ev e JOIN tr t
                ON bit_count(xor(e.phash, t.phash)) <= 3),
        n AS (SELECT eval_id, train_id, dist,
                     ROW_NUMBER() OVER (PARTITION BY eval_id
                       ORDER BY dist, train_id) AS rk
              FROM j)
        SELECT e.id AS eval_id,
               n.train_id IS NOT NULL AS contaminated,
               n.train_id AS nearest_train_id,
               n.dist
        FROM ev e LEFT JOIN (SELECT * FROM n WHERE rk = 1) n
          ON n.eval_id = e.id
        ORDER BY eval_id
      """)),

    // ------------------------------------------------------------ EXT117
    // VIDEO CLIP CONTAINMENT — closes the containment-family symmetry
    // ext109 opened ("which tracks contain this clip" for audio): which
    // VIDEOS contain this clip, and at which frame. ext104's symmetric
    // near-dup verdict cannot localize; this runs the SAME frame hashes,
    // low-information filter, Hamming-banded candidate core and
    // temporal-alignment vote, but measures coverage over the SHORTER
    // side's surviving frames and REPORTS the winning alignment's offset
    // as the clip's start frame. everyNth=1 (vs the dedup path's 2):
    // localization wants every frame — stride s quantizes the reported
    // offset to multiples of s (the audio path's hop-dial argument, in
    // frame units). Corpus = VideoCorpus.clipTracksFor: every id%4==3
    // video embeds clip id−3 at frame 5 under a uniform +6 luma lift, so
    // matching is perceptual (bytes differ; the gradient-sign dHash is
    // shift-invariant away from the 255 clamp — isolated frames may flip
    // their mirror-canonical winner, which the vote tolerates) and every
    // reported offset is checkable. ORACLE-HASHED since r16 (the ext109
    // discipline on the video axis: the post-low-info-filter frame-hash
    // table exports as aux, DuckDB brute-forces candidates and replays
    // the shared alignment vote); VideoDedupSpec pins the
    // planted pair set with exact offsets (coverage >= threshold, >= 80%
    // of pairs perfect), byte-divergence of the embedded copy, and
    // scattered-montage rejection vs aligned-embed acceptance.
    QueryDef(
      "ext117_video_containment",
      (s, dir) => {
        val fh = graft.operators.VideoDedup.keptFrameHashes(
          graft.sources.VideoCorpus.clipTracksFor(
            Tables.documents(s, dir).select("doc_id"), "doc_id"),
          "gvid", "doc_id", everyNth = 1)
        graft.util.OracleAux.export("clip_frame_hashes", dir,
          fh.select("id", "frame_idx", "phash"))
        graft.operators.VideoDedup.containmentPairsFromKept(
          fh.localCheckpoint(false), everyNth = 1, maxDist = 3,
          minCoverage = 0.8)
          .orderBy("clip_id", "track_id")
      },
      Some(s"""
        WITH ${alignedOverlapOracleCtes(
          graft.util.OracleAux.glob("clip_frame_hashes"),
          "frame_idx", "phash", maxDist = 3, jitter = 1)}
        SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS clip_id,
               CASE WHEN na <= nb THEN id_b ELSE id_a END AS track_id,
               CASE WHEN na <= nb THEN -best_off ELSE best_off END
                 AS offset_frames,
               matched_units AS matched_frames,
               coverage
        FROM cov WHERE coverage >= 0.8 ORDER BY clip_id, track_id
      """)),

    // ------------------------------------------------------------ EXT118
    // IMAGE CURATION FUNNEL — ext100's composition statement carried to
    // the image modality: decode gate → quality gate (ext113's verdicts)
    // → perceptual dedup survivor (ext101's banded pairs + transitive
    // clusters, min-id among QUALITY survivors) → eval decontamination
    // (ext116's two-sided probe vs the ids≡3 (mod 7) benchmark slice of
    // the session's MEMOIZED standard fingerprint table), rolled up per
    // documents.source. Funnel economics are real: the stats decode runs
    // over the full corpus ONCE (localCheckpoint'd, every stage flag
    // reads it), and the HASH decode runs only over quality survivors —
    // the gate pays for the dedup pass downstream of it, exactly why
    // production funnels order stages this way. Corpus =
    // ImageCorpus.funnelFor (family-keyed quality fates + corrupt ids +
    // clean families bit-identical to the standard corpus), so every
    // stage drop is live at every SF. ORACLE-HASHED since r16: the stage
    // flags (decodable/keep — the verdict RULES are already hash-gated by
    // ext113) and the survivor fingerprint table export as aux, and
    // DuckDB replays the funnel COMPOSITION — brute-force pairs,
    // recursive-CTE clusters, min-id survivor, the benchmark probe and
    // the per-source rollup — the part unique to this entry;
    // ImageDedupSpec additionally pins the per-source accounting against
    // an operator-independent reference computed from the corpus
    // structure.
    QueryDef(
      "ext118_image_funnel",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "source")
        // checkpoint the rendered corpus: the quality pass AND the
        // survivor hash pass both consume it — without this the PNG
        // render (the funnel's single heaviest map cost) ran once per
        // consumer (r16; the decode-once discipline applied to the
        // render seam)
        val imgs = graft.sources.ImageCorpus.funnelFor(
          docs.select("doc_id"), "doc_id").localCheckpoint(false)
        val stats = graft.operators.MediaQuality.imageVerdicts(
          graft.operators.MediaQuality.imageStats(imgs, "png", "doc_id"))
          .select(col("id").as("doc_id"), col("decodable"), col("keep"))
          .localCheckpoint(false)
        graft.util.OracleAux.export("funnel_image_stats", dir, stats)
        val keptIds = stats.filter(col("keep"))
          .select(col("doc_id").as("kid"))
        // hash decode over quality survivors only
        val h = graft.operators.ImageDedup.hashes(
          imgs.join(keptIds, col("doc_id") === col("kid")).drop("kid"),
          "png", "doc_id").localCheckpoint(false)
        graft.util.OracleAux.export("funnel_image_hashes", dir, h)
        graft.util.OracleAux.export("image_hashes", dir,
          sharedImageHashes(s, dir))
        val clusters = graft.operators.Dedup.clusterPairs(
          graft.operators.ImageDedup.hammingNearDupPairs(h, maxDist = 3)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        val unique = h.join(clusters, h("id") === clusters("doc_id"), "left")
          .filter(coalesce(col("cluster_id"), col("id")) === col("id"))
          .select(col("id"), col("phash")).localCheckpoint(false)
        val bench = sharedImageHashes(s, dir).filter(col("id") % 7 === 3)
        val leaks = graft.operators.ImageDedup.hammingJoinAgainst(
          unique, bench, maxDist = 3).select(col("id")).distinct()
        val clean = unique.select("id").join(leaks, Seq("id"), "left_anti")
        docs
          .join(stats, Seq("doc_id"), "left")
          .join(unique.select(col("id").as("doc_id"),
            lit(true).as("is_unique")), Seq("doc_id"), "left")
          .join(clean.select(col("id").as("doc_id"),
            lit(true).as("is_clean")), Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("decodable"), 1L).otherwise(0L)).as("n_decodable"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("is_unique"), 1L).otherwise(0L)).as("n_unique"),
            sum(when(col("is_clean"), 1L).otherwise(0L)).as("n_clean"))
          // checkpoint the per-source rollup (a handful of rows) before
          // the output sort: the range sampling pass would otherwise
          // re-run the whole 4-join funnel tree including the banded
          // leak probe (guide §7.2 duplicated subtrees)
          .localCheckpoint(false)
          .orderBy("source")
      },
      Some(s"""
        WITH RECURSIVE
        st AS (SELECT doc_id, decodable, keep FROM read_parquet(
               '${graft.util.OracleAux.glob("funnel_image_stats")}')),
        h AS (SELECT id, phash FROM read_parquet(
               '${graft.util.OracleAux.glob("funnel_image_hashes")}')),
        pr AS (SELECT a.id AS doc_a, b.id AS doc_b
               FROM h a JOIN h b ON a.id < b.id
               WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
              UNION SELECT doc_b AS src, doc_a AS dst FROM pr),
        r AS (SELECT src AS node, src AS lbl FROM e
              UNION SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
        c AS (SELECT node AS id, MIN(lbl) AS cluster_id FROM r GROUP BY node),
        uq AS (SELECT h.id, h.phash FROM h LEFT JOIN c USING (id)
               WHERE COALESCE(c.cluster_id, h.id) = h.id),
        bench AS (SELECT id, phash FROM read_parquet(
               '${graft.util.OracleAux.glob("image_hashes")}') WHERE id % 7 = 3),
        lk AS (SELECT DISTINCT u.id FROM uq u JOIN bench b
               ON bit_count(xor(u.phash, b.phash)) <= 3),
        cl AS (SELECT u.id FROM uq u LEFT JOIN lk ON lk.id = u.id
               WHERE lk.id IS NULL)
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN st.decodable THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_decodable,
               CAST(SUM(CASE WHEN st.keep THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_quality,
               CAST(SUM(CASE WHEN uq.id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_unique,
               CAST(SUM(CASE WHEN cl.id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_clean
        FROM documents d
        LEFT JOIN st ON st.doc_id = d.doc_id
        LEFT JOIN uq ON uq.id = d.doc_id
        LEFT JOIN cl ON cl.id = d.doc_id
        GROUP BY d.source ORDER BY d.source
      """)),

    // ------------------------------------------------------------ EXT119
    // AUDIO SILENCE-GAP SEGMENTATION — the audio sibling of ext110's shot
    // detection and the VAD-shaped primitive a speech-corpus pipeline
    // runs before cutting training utterances (energy-threshold VAD, the
    // classic pre-neural segmentation): one map-side decode exploding
    // each track to 512-sample-frame RMS rows → voiced filter → one
    // per-track lag window (gaps wider than the tolerated dropout open a
    // segment) → per-(track, segment) rollup with start/end frames and
    // duration. Same scale shape as ext110: NO join, skew bounded by the
    // longest single track; the frame grid is shared with ext114's
    // silence_ratio so the gate and the segmenter count the same frames.
    // Corpus = AudioCorpus.segmentedFor (1–4 frame-aligned voiced spans
    // with known gaps — exact expected segmentation). ORACLE-HASHED since
    // r16: the per-frame RMS grid (the decode's deterministic output,
    // 6-dp-rounded per-item math) exports as aux and DuckDB replays the
    // voiced filter, the lag-gap segment opening, the running-sum segment
    // index and the rollup — the ext110 discipline on the audio axis;
    // AudioSegmentationSpec pins segmentation == constructed spans,
    // dropout-tolerance vs gap-split, amplitude invariance of the
    // boundaries, and silence/undecodable emptiness.
    QueryDef(
      "ext119_audio_segments",
      (s, dir) => {
        val tracks = graft.sources.AudioCorpus.segmentedFor(
          Tables.documents(s, dir).select("doc_id"), "doc_id")
        graft.util.OracleAux.export("audio_frame_rms", dir,
          graft.operators.AudioSegmentation.frameRms(tracks, "wav", "doc_id"))
        graft.operators.AudioSegmentation.segments(tracks, "wav", "doc_id")
          .orderBy("id", "seg_idx")
      },
      Some(s"""
        WITH fr AS (SELECT id, frame_idx, rms, sample_rate FROM read_parquet(
               '${graft.util.OracleAux.glob("audio_frame_rms")}')),
        v AS (SELECT * FROM fr WHERE rms >= 0.01),
        l AS (SELECT id, frame_idx, sample_rate,
                     frame_idx - LAG(frame_idx) OVER
                       (PARTITION BY id ORDER BY frame_idx) AS gap
              FROM v),
        a AS (SELECT id, frame_idx, sample_rate,
                     CAST(SUM(CASE WHEN gap IS NULL OR gap > 2 THEN 1 ELSE 0
                       END) OVER (PARTITION BY id ORDER BY frame_idx
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS seg_idx
              FROM l)
        SELECT id, seg_idx,
               MIN(frame_idx) AS start_frame,
               MAX(frame_idx) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_voiced_frames,
               ROUND((MAX(frame_idx) - MIN(frame_idx) + 1) * 512.0
                 / ANY_VALUE(sample_rate), 6) AS duration_sec
        FROM a GROUP BY id, seg_idx ORDER BY id, seg_idx
      """)),

    // ------------------------------------------------------------ EXT120
    // BAND-BUCKET HEALTH — the observability dial for every Hamming-
    // banded family (ext101/102/104/108/109/116/117/118 all rest on
    // bounded bucket fanout): bucket sizes under the EXACT production
    // banding (ImageDedup.bandSlices, the shared definition), rolled into
    // a log2 size-class histogram per band with each class's candidate-
    // pair contribution n(n-1)/2 — the banded join's actual row cost,
    // readable BEFORE launching the join. A viral meme / default
    // thumbnail / black-frame flood shows up as a pairs_contrib spike in
    // the top class before it becomes a hot reducer; the AQE skew-split
    // and low-info-filter mitigations are sized from these classes. Runs
    // on the session's MEMOIZED 8-byte fingerprint table: two hash
    // aggregations, zero decodes, no join — at corpus scale this audit
    // costs less than one percent of the join it predicts. Rows-only;
    // ImageDedupSpec pins the histogram against an independently-computed
    // reference over the collected hashes (family buckets land in class
    // >= 1; singleton count measures achieved hash entropy).
    // ORACLE-HASHED since r16: off the exported image-hash aux, DuckDB
    // restates the exact production banding (arithmetic shift + 16-bit
    // mask ≡ the unsigned-shift slices after masking) and the histogram
    // rollup; size_class is the bucket size's exact bit length − 1 on
    // both sides (no float log — see bandBucketHealth's doc).
    QueryDef(
      "ext120_band_bucket_health",
      (s, dir) => {
        graft.util.OracleAux.export("image_hashes", dir,
          sharedImageHashes(s, dir))
        graft.operators.ImageDedup.bandBucketHealth(
          sharedImageHashes(s, dir), maxDist = 3)
          .orderBy("band", "size_class")
      },
      Some(s"""
        WITH h AS (SELECT phash
                   FROM read_parquet('${graft.util.OracleAux.glob("image_hashes")}')),
        sl AS (SELECT b.band, (h.phash >> b.lo) & 65535 AS v
               FROM h CROSS JOIN (VALUES (CAST(0 AS INTEGER), 0),
                 (CAST(1 AS INTEGER), 16), (CAST(2 AS INTEGER), 32),
                 (CAST(3 AS INTEGER), 48)) AS b(band, lo)),
        bk AS (SELECT band, v, CAST(COUNT(*) AS BIGINT) AS sz
               FROM sl GROUP BY band, v)
        SELECT band,
               CAST(length(bin(sz)) - 1 AS BIGINT) AS size_class,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(sz) AS BIGINT) AS n_items,
               CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS pairs_contrib
        FROM bk GROUP BY band, size_class ORDER BY band, size_class
      """)),

    // ------------------------------------------------------------ EXT121
    // PERSISTED FINGERPRINT-STORE LIFECYCLE — the concrete form of
    // ext108's "at scale this is a parquet table maintained by ingest"
    // parenthesis, the ext73 index-lifecycle discipline carried to the
    // perceptual modality: init the store from the oldest 60% of the
    // corpus's hashes (8 bytes + id per image, via the session's MEMOIZED
    // fingerprint table — zero decodes here), then run TWO successive
    // 20% deliveries through it. Each delivery dedupes within itself,
    // probes the PERSISTED table through the two-sided banded join, and
    // appends its survivors — so delivery 2's duplicates of delivery 1's
    // KEPT images drop as dropped_existing against rows that were not in
    // the store when the query began: the merge step is what this entry
    // proves, beyond ext108's single-delivery probe. Verdicts are
    // computed eagerly before each merge (the probe never observes its
    // own delivery). REPLAY-SAFE since r10: the store is partitioned by
    // delivery_id, each ingest probes the store MINUS its own partition
    // and merges via dynamic partition overwrite — so a re-run of this
    // entry against the same per-process dir (or a harness replaying a
    // delivery) recomputes identical verdicts and leaves the store
    // unchanged instead of stacking self-matching appends
    // (FingerprintStoreSpec pins both directions). Per-process store
    // dir + overwrite init, the ext73 convention. Rows-only;
    // FingerprintStoreSpec pins the cross-delivery verdict classes
    // against family structure and the final store contents ==
    // init ∪ kept₁ ∪ kept₂.
    QueryDef(
      "ext121_fingerprint_store",
      (s0, dir) => {
        // fixture-scale shuffle partitioning for the two delivery probes
        // (see [[ArcShufflePartitions]]); the shared hash memo re-binds
        // into the sibling session like ext133's
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        val hashes = graft.ScaleScope.bind(s, sharedImageHashes(s0, dir))
          .localCheckpoint(false)
        val n = hashes.count()
        val (c1, c2) = (n * 3 / 5, n * 4 / 5)
        val storeDir = s"${System.getProperty("java.io.tmpdir")}/graft-fpstore-ext121-" +
          ProcessHandle.current().pid()
        graft.operators.FingerprintStore.init(
          hashes.filter(col("id") < c1), storeDir)
        val v1 = graft.operators.FingerprintStore.ingest(
          s, storeDir, "d1", hashes.filter(col("id") >= c1 && col("id") < c2))
        val v2 = graft.operators.FingerprintStore.ingest(
          s, storeDir, "d2", hashes.filter(col("id") >= c2))
        v1.withColumn("delivery", lit(1L))
          .unionByName(v2.withColumn("delivery", lit(2L)))
          .orderBy("delivery", "id")
      },
      None, bench = false, eagerLifecycle = true),

    QueryDef(
      "ext122_video_prefilter_recall",
      (s, dir) => {
        // TWO-TIER video dedup recall audit — the ANN-recall pattern
        // (ext16/ext17/ext62) applied to the video prefilter: the pooled
        // majority signature collapses each video to ONE 64-bit row
        // (plus, since r10, one per segLen-sampled-frame SEGMENT — the
        // splice-recall dial, r9 verdict #2), the banded join runs at
        // |videos|×(1+segments) instead of |frames|, and the exact
        // alignment vote refines only candidates. Approximate by design
        // (a grid-misaligned splice can still dilute every segment
        // vote), so the audit runs BOTH paths over the SAME memoized
        // frame-hash table and reports the miss count — prefiltered ⊆
        // exact must hold (refine semantics are parity-pinned), so
        // extras == 0 is an invariant the row exposes. Every tier's
        // candidate volume rides along (n_cands_video = whole-video
        // signatures only, n_cands_segment = the aligned segment tier
        // ALONE, n_cands_two_tier = the union refine actually consumes
        // — r10 ADVICE renamed the latter from its misleading
        // n_cands_segment; n_cands_segment_hop = the overlapping-span
        // tier at segHop = ceil(segLen/2), the r10 verdict #2 dial for
        // grid-misaligned splices, REPORTED here so its extra rows are
        // priced per corpus before anyone turns it on) so the
        // recall/candidate trade is driver-visible per corpus.
        // segLen 3 here, proportional to the 12-frame synthetic clips
        // (6 sampled frames → 2 segments/video; production default 16).
        // Rows-only; VideoDedupSpec pins pair-for-pair parity on the
        // corpus, the alignLists kernel against the DataFrame core on
        // every fixture class, the splice the whole-video tier provably
        // misses being caught by the segment tier, and the
        // grid-misaligned splice the ALIGNED tier provably misses being
        // caught at hop=segLen/2.
        val fh = sharedDedupFrameHashes(s, dir)
        graft.util.OracleAux.export("video_frame_hashes", dir,
          fh.select("id", "frame_idx", "phash"))
        // each tier's candidate join runs ONCE (lazy localCheckpoint; the
        // counts materialize them) and the union is REUSED by refine —
        // without this the audit pays the signature aggregations and
        // banded joins three times over
        val candsVideo = graft.operators.VideoDedup.signatureCandidates(
          fh, everyNth = 2, sigMaxDist = 10, segLen = 0).localCheckpoint(false)
        val candsSeg = graft.operators.VideoDedup.segmentCandidates(
          fh, everyNth = 2, segLen = 3).localCheckpoint(false)
        val candsAll = candsVideo.unionByName(candsSeg).distinct()
          .localCheckpoint(false)
        // the audit's three lineage chains are INDEPENDENT given the
        // memoized frame-hash table — (a) the tier counts + refine,
        // (b) the exact path, (c) the hop-tier count — so they run as
        // overlapped jobs (guide §2.6: actions are only sequential
        // because the driver calls them sequentially; the scheduler
        // back-fills the fast chains into the exact path's tail).
        // Counts are pure cardinalities: overlap cannot change them.
        import scala.concurrent.{Await, Future}
        implicit val ec: scala.concurrent.ExecutionContext = overlapEc
        // the two candidate tiers are themselves independent — materialize
        // them as their own overlapped jobs and chain the union+refine off
        // both (r17: the previous single tiers-future ran cv → cs → union
        // → refine sequentially inside one thread)
        val cvF = Future(candsVideo.count())
        val csF = Future(candsSeg.count())
        val tiersF = cvF.zip(csF).map { case (nV, nSeg) =>
          val nAll = candsAll.count()
          val pre = graft.operators.VideoDedup.refineCandidates(
            fh, candsAll, everyNth = 2, maxDist = 3, minOverlap = 0.6)
            .select(col("vid_a"), col("vid_b")).localCheckpoint(false)
          (nV, nSeg, nAll, pre, pre.count())
        }
        val fullF = Future {
          val full = graft.operators.VideoDedup.nearDupPairsFromKept(
            fh, everyNth = 2, maxDist = 3, minOverlap = 0.6)
            .select(col("vid_a"), col("vid_b")).localCheckpoint(false)
          (full, full.count())
        }
        val hopF = Future(graft.operators.VideoDedup.segmentCandidates(
          fh, everyNth = 2, segLen = 3, segHop = 2).count())
        val timeout = scala.concurrent.duration.Duration(20, "min")
        awaitAll(Seq(tiersF, fullF, hopF), timeout)
        val (nCandsVideo, nCandsSeg, nCandsTwoTier, pre, nPre) =
          Await.result(tiersF, timeout)
        val (full, nFull) = Await.result(fullF, timeout)
        val nCandsSegHop = Await.result(hopF, timeout)
        val missed = full.join(pre, Seq("vid_a", "vid_b"), "left_anti").count()
        val extras = pre.join(full, Seq("vid_a", "vid_b"), "left_anti").count()
        val recall =
          if (nFull == 0) 1.0
          else java.math.BigDecimal.valueOf(
            (nFull - missed).toDouble / nFull)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        import s.implicits._
        Seq((nFull, nPre, missed, extras, recall, nCandsVideo, nCandsSeg,
          nCandsTwoTier, nCandsSegHop))
          .toDF("n_exact", "n_prefiltered", "n_missed", "n_extra", "recall",
            "n_cands_video", "n_cands_segment", "n_cands_two_tier",
            "n_cands_segment_hop")
      },
      // ORACLE-HASHED since r16: off ext104's frame-hash aux, DuckDB
      // replays BOTH tiers end-to-end — the exact path (brute-force
      // candidates + the shared alignment vote at jitter 2), the
      // whole-video and segment majority signatures with their per-tier
      // brute-force candidate joins (lossless twins of the banded
      // production joins), the hop tier's overlapping-span grid, and the
      // audit arithmetic (missed / recall / per-tier candidate counts).
      // n_extra restates the refine-parity invariant (refined ⊆ exact ⇒
      // 0): if the engine's refine kernel ever drifts from the DataFrame
      // vote, the engine reports n_extra > 0 and the hash gate fails.
      Some(s"""
        WITH ${alignedOverlapOracleCtes(
          graft.util.OracleAux.glob("video_frame_hashes"),
          "frame_idx", "phash", maxDist = 3, jitter = 2)},
        full_p AS (SELECT id_a, id_b FROM cov WHERE coverage >= 0.6),
        vsig AS (SELECT id, ${majorityTerms("h")} AS phash
                 FROM u GROUP BY id),
        vcand AS (SELECT a.id AS id_a, b.id AS id_b
                  FROM vsig a JOIN vsig b ON a.id < b.id
                    AND bit_count(xor(a.phash, b.phash)) <= 10),
        ssig AS (SELECT id, ${majorityTerms("h")} AS phash
                 FROM (SELECT id, CAST(floor(t / 6) AS BIGINT) AS sg, h
                       FROM u)
                 GROUP BY id, sg),
        scand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM ssig a JOIN ssig b ON a.id < b.id
                    AND bit_count(xor(a.phash, b.phash)) <= 4),
        hseg AS (SELECT id,
                        unnest(generate_series(
                          CAST(GREATEST(0, floor((uu - 1) / 2)) AS BIGINT),
                          CAST(floor(uu / 2) AS BIGINT))) AS sg,
                        h
                 FROM (SELECT id, CAST(floor(t / 2) AS BIGINT) AS uu, h
                       FROM u)),
        hsig AS (SELECT id, ${majorityTerms("h")} AS phash
                 FROM hseg GROUP BY id, sg),
        hcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM hsig a JOIN hsig b ON a.id < b.id
                    AND bit_count(xor(a.phash, b.phash)) <= 4),
        tt AS (SELECT * FROM vcand UNION SELECT * FROM scand),
        rf AS (SELECT f.* FROM full_p f JOIN tt USING (id_a, id_b))
        SELECT CAST((SELECT COUNT(*) FROM full_p) AS BIGINT) AS n_exact,
               CAST((SELECT COUNT(*) FROM rf) AS BIGINT) AS n_prefiltered,
               CAST((SELECT COUNT(*) FROM full_p)
                 - (SELECT COUNT(*) FROM rf) AS BIGINT) AS n_missed,
               CAST(0 AS BIGINT) AS n_extra,
               CASE WHEN (SELECT COUNT(*) FROM full_p) = 0 THEN 1.0
                    ELSE ROUND(CAST((SELECT COUNT(*) FROM rf) AS DOUBLE)
                      / (SELECT COUNT(*) FROM full_p), 6) END AS recall,
               CAST((SELECT COUNT(*) FROM vcand) AS BIGINT) AS n_cands_video,
               CAST((SELECT COUNT(*) FROM scand) AS BIGINT) AS n_cands_segment,
               CAST((SELECT COUNT(*) FROM tt) AS BIGINT) AS n_cands_two_tier,
               CAST((SELECT COUNT(*) FROM hcand) AS BIGINT) AS n_cands_segment_hop
      """)),

    // ------------------------------------------------------------ EXT123
    // Span removal ON THE PRODUCTION DETECTOR (r9 verdict #3): the same
    // excision + rebuild as ext106, but the cut list comes from ext42's
    // content-sampled (winnowing, 1/16) windows — the tier that actually
    // runs at corpus scale, where the exact enumeration's every-position
    // shuffle is the thing sampling exists to avoid. Sampling only ever
    // LOSES windows, so the sampled cut set is a conservative subset of
    // ext106's (every sampled cut interval sits inside an exact one —
    // spec-pinned; the delta is exactly ext80's recall-erosion curve,
    // 1−(15/16)^windows per run, made concrete in removed text). Fully
    // oracle-checked including md5(rebuilt text) — the DuckDB side
    // applies the identical substr(md5,1,1)='0' self-selection, so the
    // reconstruction is verified end-to-end on the production tier too.
    // Benched (unlike audit-tier ext106): the detector shuffles ~1/16 of
    // the window stream; the rebuild fold is bounded by n_chars/window.
    QueryDef(
      "ext123_span_removal_sampled",
      (s, dir) => graft.operators.SubstringDedup.spanRemoval(
        Tables.documents(s, dir), "text", "doc_id", window = 64,
        hexPrefix = "0"),
      Some("""
        WITH w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        sw AS (SELECT * FROM w WHERE substr(h, 1, 1) = '0'),
        d AS (SELECT h, MIN(doc_id) AS keep_doc FROM sw
              GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        rd AS (SELECT DISTINCT sw.doc_id, sw.pos
               FROM sw JOIN d USING (h) WHERE sw.doc_id <> d.keep_doc),
        isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           <= 63
                      THEN 0 ELSE 1 END AS newgrp
          FROM rd),
        g AS (
          SELECT doc_id, pos,
                 SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM isl),
        cuts AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 63 AS e
          FROM g GROUP BY doc_id, grp),
        seg AS (
          SELECT doc_id, s, e,
                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
          FROM cuts),
        pieces AS (
          SELECT sg.doc_id,
                 string_agg(substr(dd.text, CAST(sg.pe + 1 AS INT),
                                   CAST(GREATEST(sg.s - sg.pe - 1, 0) AS INT)),
                            '' ORDER BY sg.s) AS head,
                 MAX(sg.e) AS last_e,
                 CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(sg.e - sg.s + 1) AS BIGINT) AS removed_chars
          FROM seg sg JOIN documents dd USING (doc_id)
          GROUP BY sg.doc_id),
        cl AS (
          SELECT dd.doc_id,
                 CAST(LENGTH(dd.text) AS BIGINT) AS n_chars,
                 COALESCE(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
                 COALESCE(p.removed_chars, CAST(0 AS BIGINT)) AS removed_chars,
                 CASE WHEN p.doc_id IS NULL THEN dd.text
                      ELSE p.head || substr(dd.text, CAST(p.last_e + 1 AS INT))
                 END AS cleaned
          FROM documents dd LEFT JOIN pieces p USING (doc_id))
        SELECT doc_id, n_chars, n_spans, removed_chars,
               CAST(LENGTH(cleaned) AS BIGINT) AS kept_chars,
               md5(cleaned) AS cleaned_digest
        FROM cl
      """)),

    // ------------------------------------------------------------ EXT124
    // VIDEO SIGNATURE BAND HEALTH — ext120's observability dial pointed
    // at the joins ext122's two-tier prefilter actually runs: bucket
    // size-class histograms (with candidate-pair cost n(n−1)/2) under
    // the EXACT production bandings of both tiers — the whole-video
    // signatures at sigMaxDist 10 (11 narrow ~6-bit slices: the
    // collision-prone banding whose cost the r10 per-tier split
    // contained) and the segment signatures at their tight
    // segSigMaxDist 4 (5 wide ~13-bit slices). This is the dial that
    // would have SHOWN the r10 regression before it was paid: the
    // distance-10 banding's pairs_contrib per band is orders above the
    // distance-4 tier's on the same corpus, and a corpus whose top
    // size-class spikes here is one where sigMaxDist must drop or the
    // low-info filter tighten. A third row group (r11) prices the
    // segHop = segLen/2 overlapping-span tier the same way — its extra
    // signature rows land in these buckets, so the hop dial's cost is
    // visible here BEFORE ext122's n_cands_segment_hop is paid at
    // refine. Zero decodes — one hash agg per tier over the memoized
    // frame table's signatures. ORACLE-HASHED since r16: off ext104's
    // frame-hash aux, DuckDB recomputes BOTH signature tiers bit-for-bit
    // (the 64-term majority vote, the aligned and overlapping-span
    // segment grids) and replays the exact production banding + the
    // histogram rollup for each tier; VideoDedupSpec pins the
    // histogram cell-for-cell against an independently computed
    // reference over the collected signatures, hop tier included.
    QueryDef(
      "ext124_video_signature_health",
      (s, dir) => {
        val fh = sharedDedupFrameHashes(s, dir)
        graft.util.OracleAux.export("video_frame_hashes", dir,
          fh.select("id", "frame_idx", "phash"))
        graft.operators.ImageDedup.bandBucketHealth(
          graft.operators.VideoDedup.videoSignatures(fh), maxDist = 10)
          .withColumn("tier", lit("video_sig_d10"))
          .unionByName(
            graft.operators.ImageDedup.bandBucketHealth(
              graft.operators.VideoDedup.segmentSignatures(
                fh, everyNth = 2, segLen = 3), maxDist = 4)
              .withColumn("tier", lit("segment_sig_d4")))
          .unionByName(
            graft.operators.ImageDedup.bandBucketHealth(
              graft.operators.VideoDedup.segmentSignatures(
                fh, everyNth = 2, segLen = 3, segHop = 2), maxDist = 4)
              .withColumn("tier", lit("segment_sig_d4_hop2")))
          .orderBy("tier", "band", "size_class")
      },
      Some(s"""
        WITH fh AS (SELECT id, frame_idx, phash FROM read_parquet(
               '${graft.util.OracleAux.glob("video_frame_hashes")}')),
        vsig AS (SELECT ${majorityTerms("phash")} AS phash
                 FROM fh GROUP BY id),
        ssig AS (SELECT ${majorityTerms("phash")} AS phash
                 FROM (SELECT id, CAST(floor(frame_idx / 6) AS BIGINT) AS sg,
                              phash
                       FROM fh)
                 GROUP BY id, sg),
        hseg AS (SELECT id,
                        unnest(generate_series(
                          CAST(GREATEST(0, floor((u - 1) / 2)) AS BIGINT),
                          CAST(floor(u / 2) AS BIGINT))) AS sg,
                        phash
                 FROM (SELECT id, CAST(floor(frame_idx / 2) AS BIGINT) AS u,
                              phash
                       FROM fh)),
        hsig AS (SELECT ${majorityTerms("phash")} AS phash
                 FROM hseg GROUP BY id, sg)
        SELECT * FROM (
          ${bandHealthSelect("vsig", 10, "video_sig_d10")}
          UNION ALL
          ${bandHealthSelect("ssig", 4, "segment_sig_d4")}
          UNION ALL
          ${bandHealthSelect("hsig", 4, "segment_sig_d4_hop2")})
        ORDER BY tier, band, size_class
      """)),

    // ------------------------------------------------------------ EXT125
    // STREAMING WATCHLIST MONITOR AT CORPUS SCALE — the r11 rights/
    // compliance monitor (WatchlistMonitor) run over the containment
    // corpus as a batch frame (the monitor is a stateless map-side
    // transform, so batch and stream share the implementation — the
    // MemoryStream side is pinned in WatchlistMonitorSpec): the first 10
    // clips (doc_id % 4 == 0, doc_id < 40) are fingerprinted once with
    // ext109's window-hash arithmetic and broadcast; every OTHER track in
    // the corpus is scored map-side from one decode with the shared
    // temporal-alignment vote. Expected flags are the corpus's designed
    // embeds of watched clips: tracks doc_id % 4 == 3 with doc_id < 43,
    // each at window offset 3 — every other track (fresh tracks, embeds
    // of UNWATCHED clips, unwatched clips themselves) passes silently.
    // Zero shuffle, zero state: cost is |items| decodes × a broadcast
    // probe, the shape that holds when the item side is the 100 TB
    // firehose and the watchlist is a takedown list. ORACLE-HASHED since
    // r16: both sides' post-silence-filter window-hash tables export as
    // aux (ext109's shared arithmetic — the monitor's map-side kernel is
    // parity-pinned against it) and DuckDB brute-forces the clip×item
    // probe and replays the fixed-role alignment vote (clip units on the
    // a side, the monitor's convention) plus the flag criteria;
    // WatchlistMonitorSpec pins flag set, offsets and
    // batch-containment verdict parity.
    QueryDef(
      "ext125_watchlist_flags",
      (s, dir) => {
        val ids = Tables.documents(s, dir).select("doc_id")
        val watched = col("doc_id") % 4 === 0 && col("doc_id") < 40
        val watchTracks =
          graft.sources.AudioCorpus.trackFor(ids.filter(watched), "doc_id")
        val itemTracks =
          graft.sources.AudioCorpus.trackFor(ids.filter(!watched), "doc_id")
        graft.util.OracleAux.export("watch_window_hashes", dir,
          graft.operators.AudioContainment.keptWindowHashes(
            watchTracks, "wav", "doc_id",
            windowSec = graft.sources.AudioCorpus.TrackWindowSec)
            .select("id", "win_idx", "whash"))
        graft.util.OracleAux.export("item_window_hashes", dir,
          graft.operators.AudioContainment.keptWindowHashes(
            itemTracks, "wav", "doc_id",
            windowSec = graft.sources.AudioCorpus.TrackWindowSec)
            .select("id", "win_idx", "whash"))
        val watch = graft.streaming.WatchlistMonitor.audioWatchlist(
          watchTracks, "wav", "doc_id",
          windowSec = graft.sources.AudioCorpus.TrackWindowSec)
        graft.streaming.WatchlistMonitor.flagAudio(
          itemTracks, "wav", watch,
          windowSec = graft.sources.AudioCorpus.TrackWindowSec)
          .orderBy("doc_id", "clip_id")
      },
      Some(s"""
        WITH wc AS (SELECT id AS clip_id, win_idx AS tc, whash AS hc
                    FROM read_parquet(
               '${graft.util.OracleAux.glob("watch_window_hashes")}')),
        it AS (SELECT id AS doc_id, win_idx AS ti, whash AS hi
               FROM read_parquet(
               '${graft.util.OracleAux.glob("item_window_hashes")}')),
        wcn AS (SELECT clip_id, CAST(COUNT(*) AS BIGINT) AS nc
                FROM wc GROUP BY clip_id),
        itn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ni
                FROM it GROUP BY doc_id),
        p AS (SELECT w.clip_id, i.doc_id, w.tc, i.ti
              FROM wc w JOIN it i ON bit_count(xor(w.hc, i.hi)) <= 2),
        pc AS (SELECT p.*, c.nc, n.ni,
                      CASE WHEN c.nc <= n.ni THEN tc ELSE ti END AS small_t,
                      tc - ti AS off
               FROM p JOIN wcn c USING (clip_id) JOIN itn n USING (doc_id)),
        m AS (SELECT doc_id, clip_id,
                     CAST(COUNT(DISTINCT small_t) AS BIGINT) AS matched_units
              FROM pc GROUP BY doc_id, clip_id),
        po AS (SELECT doc_id, clip_id, nc, ni, off,
                      COUNT(DISTINCT small_t) AS cnt_o
               FROM pc GROUP BY doc_id, clip_id, nc, ni, off),
        wn AS (SELECT doc_id, clip_id, nc, ni, off,
                      SUM(cnt_o) OVER (PARTITION BY doc_id, clip_id
                        ORDER BY off
                        RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS win
               FROM po),
        bw AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, clip_id
                        ORDER BY win DESC, off ASC) AS rk
               FROM wn),
        cov AS (SELECT b.doc_id, b.clip_id,
                       CAST(b.win AS BIGINT) AS aligned_units,
                       b.off AS best_off, m.matched_units,
                       LEAST(1.0, ROUND(CAST(b.win AS DOUBLE)
                         / LEAST(b.nc, b.ni), 6)) AS coverage
                FROM bw b JOIN m ON m.doc_id = b.doc_id
                       AND m.clip_id = b.clip_id
                WHERE b.rk = 1)
        SELECT doc_id, clip_id,
               -best_off AS offset_units,
               ROUND(-best_off * ${graft.sources.AudioCorpus.TrackWindowSec},
                 6) AS offset_seconds,
               matched_units, aligned_units, coverage
        FROM cov WHERE coverage >= 0.8 ORDER BY doc_id, clip_id
      """)),

    // ------------------------------------------------------------ EXT126
    // BENCHMARK-CONTAMINATION AUDIT, exact tier — the train/eval overlap
    // check every LLM corpus ships through (Brown et al. 2020 §4, Dodge
    // et al. 2021), restated for Spark: the "benchmark" (here docs with
    // doc_id % 10 == 0 — an eval suite is small by contract) has its
    // 64-char window hashes collected and BROADCAST; the rest of the
    // corpus is scanned in ONE map-side pass that probes the broadcast
    // set and folds matched positions into per-benchmark islands in
    // place — zero shuffle, zero join on the corpus side, the n-gram
    // membership economics of production decontamination with exact
    // positions instead of a Bloom filter's yes/no. Output per
    // contaminated (doc, bench) pair: matched window count, island char
    // extents (total + longest run), and bench_coverage = the fraction
    // of the benchmark's distinct windows that leaked (the dial that
    // says "this eval is burned", vs the doc-side extents that say "cut
    // here"). Exact tier = every window hashed and probed (audit tier,
    // ext80's discipline — at corpus scale run ext127's sampled dial or
    // a held-out slice). Fully ORACLE-CHECKED including the island
    // arithmetic; ContaminationGuardSpec pins planted leaks
    // position-for-position.
    QueryDef(
      "ext126_contamination_exact",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val benchPred = col("doc_id") % 10 === 0
        val idx = graft.operators.ContaminationGuard.benchmarkIndex(
          docs.filter(benchPred), "text", "doc_id", window = 64)
        graft.operators.ContaminationGuard.flag(
          docs.filter(!benchPred), "text", "doc_id", idx)
          .orderBy("doc_id", "bench_id")
      },
      Some(contaminationOracle(sampled = false)), bench = false),

    // ------------------------------------------------------------ EXT127
    // BENCHMARK-CONTAMINATION GUARD, production (winnowing) tier — the
    // SAME guard on the 1/16 content-sampled windows, the dial that runs
    // against the full corpus: both sides keep a window iff its own md5
    // self-selects (content-based, so a leaked run selects the same
    // windows in the benchmark and in the training doc regardless of
    // position — a positional stride could never promise that), the
    // broadcast holds 1/16 of the benchmark entries, and a shared run of
    // ~window+16 chars is still expected to surface. Same output shape
    // as ext126; island extents are on SAMPLED positions, so chars are a
    // detection footprint, not the exact excision intervals — a hit
    // graduates to ext126's exact arithmetic on the flagged pair (two
    // bounded docs), never on the corpus. ORACLE-CHECKED: the sampling
    // test is md5-prefix arithmetic DuckDB reproduces verbatim.
    QueryDef(
      "ext127_contamination_sampled",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val benchPred = col("doc_id") % 10 === 0
        val idx = graft.operators.ContaminationGuard.benchmarkIndex(
          docs.filter(benchPred), "text", "doc_id", window = 64,
          hexPrefix = "0")
        graft.operators.ContaminationGuard.flag(
          docs.filter(!benchPred), "text", "doc_id", idx)
          .orderBy("doc_id", "bench_id")
      },
      Some(contaminationOracle(sampled = true))),

    // ------------------------------------------------------------ EXT128
    // DECONTAMINATION (benchmark-span EXCISION) — the remediation step
    // that closes the chain ext126/ext127 open: detect → refine → REMOVE.
    // Every benchmark-window island is cut out of every non-benchmark
    // document and the unique text around it kept (ext106's span-surgery
    // posture pointed at eval leakage — cutting the leaked span beats
    // dropping the document, which loses its clean majority; positions
    // leaked to several benchmarks are cut ONCE). The cut list comes from
    // the SAME single map-side broadcast-probe pass as ext126 — zero
    // joins on the corpus side — and the rebuild is the shared no-UDF
    // aggregate/substring fold, so ORACLE-CHECKED including
    // md5(rebuilt text): DuckDB re-derives the islands from a windows×
    // benchmark join and reconstructs every document. Every scanned doc
    // present; clean docs hash byte-identical. Exact tier (audit-tier
    // enumeration like ext106/ext126, bench-excluded); at corpus scale
    // the flagged set from ext127 bounds where excision runs.
    QueryDef(
      "ext128_decontaminate",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val benchPred = col("doc_id") % 10 === 0
        val idx = graft.operators.ContaminationGuard.benchmarkIndex(
          docs.filter(benchPred), "text", "doc_id", window = 64)
        graft.operators.ContaminationGuard.excise(
          docs.filter(!benchPred), "text", "doc_id", idx)
          .orderBy("doc_id")
      },
      Some("""
        WITH scanned AS (
          SELECT doc_id, text FROM documents WHERE NOT (doc_id % 10 = 0)),
        w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        bench AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 = 0),
        rd AS (SELECT DISTINCT w.doc_id, w.pos
               FROM w JOIN bench USING (h) WHERE NOT (w.doc_id % 10 = 0)),
        isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           <= 63
                      THEN 0 ELSE 1 END AS newgrp
          FROM rd),
        g AS (
          SELECT doc_id, pos,
                 SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM isl),
        cuts AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 63 AS e
          FROM g GROUP BY doc_id, grp),
        seg AS (
          SELECT doc_id, s, e,
                 COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
          FROM cuts),
        pieces AS (
          SELECT sg.doc_id,
                 string_agg(substr(dd.text, CAST(sg.pe + 1 AS INT),
                                   CAST(GREATEST(sg.s - sg.pe - 1, 0) AS INT)),
                            '' ORDER BY sg.s) AS head,
                 MAX(sg.e) AS last_e,
                 CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(sg.e - sg.s + 1) AS BIGINT) AS removed_chars
          FROM seg sg JOIN scanned dd USING (doc_id)
          GROUP BY sg.doc_id),
        cl AS (
          SELECT dd.doc_id,
                 CAST(LENGTH(dd.text) AS BIGINT) AS n_chars,
                 COALESCE(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
                 COALESCE(p.removed_chars, CAST(0 AS BIGINT)) AS removed_chars,
                 CASE WHEN p.doc_id IS NULL THEN dd.text
                      ELSE p.head || substr(dd.text, CAST(p.last_e + 1 AS INT))
                 END AS cleaned
          FROM scanned dd LEFT JOIN pieces p USING (doc_id))
        SELECT doc_id, n_chars, n_spans, removed_chars,
               CAST(LENGTH(cleaned) AS BIGINT) AS kept_chars,
               md5(cleaned) AS cleaned_digest
        FROM cl
        ORDER BY doc_id
      """), bench = false), // audit-tier exact enumeration, like ext106/ext126

    // ------------------------------------------------------------ EXT129
    // DECONTAMINATION POLICY RETENTION DELTA — the number a data lead
    // reads before choosing a posture: what does each remediation policy
    // COST in retained training data? Two policies over the same
    // detected contamination (the ext126/ext128 corpus-vs-benchmark
    // split): `drop_doc` discards every document holding ANY benchmark
    // window (the GPT-3/C4 playbook — simple, loses each leaked doc's
    // clean majority); `excise_span` cuts only the leaked islands and
    // keeps the text around them (ext128; a doc counts dropped only when
    // nothing remains). Per policy: docs retained/dropped and chars
    // retained/removed. ONE map-side excise pass (the ext128 broadcast
    // probe — per-doc islands give BOTH policies: n_spans>0 is drop_doc's
    // verdict, kept_chars its excise counterpart), ONE aggregation,
    // stack() into the two policy rows — no second scan, no join, so the
    // comparison costs one probe however large the corpus. The streaming
    // faces of the two policies are CorpusIngest.writeAudited (reject) /
    // writeAuditedExcising (excise); this entry prices that choice.
    // ORACLE-CHECKED: DuckDB re-derives the islands from the windows×
    // benchmark join and aggregates the same conditional sums.
    QueryDef(
      "ext129_decontam_policy",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val benchPred = col("doc_id") % 10 === 0
        val idx = graft.operators.ContaminationGuard.benchmarkIndex(
          docs.filter(benchPred), "text", "doc_id", window = 64)
        graft.operators.ContaminationGuard.excise(
          docs.filter(!benchPred), "text", "doc_id", idx)
          .agg(
            sum(when(col("n_spans") === 0, 1L).otherwise(0L)).as("dd_kept"),
            sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("dd_drop"),
            sum(when(col("n_spans") === 0, col("n_chars"))).as("dd_ckept"),
            sum(when(col("n_spans") > 0, col("n_chars"))).as("dd_crem"),
            sum(when(col("n_spans") === 0 || col("kept_chars") > 0, 1L)
              .otherwise(0L)).as("ex_kept"),
            sum(when(col("n_spans") > 0 && col("kept_chars") === 0, 1L)
              .otherwise(0L)).as("ex_drop"),
            sum(col("kept_chars")).as("ex_ckept"),
            sum(col("removed_chars")).as("ex_crem"))
          .selectExpr(
            """stack(2,
                 'drop_doc', dd_kept, dd_drop,
                   coalesce(dd_ckept, 0L), coalesce(dd_crem, 0L),
                 'excise_span', ex_kept, ex_drop,
                   coalesce(ex_ckept, 0L), coalesce(ex_crem, 0L))
               AS (policy, n_docs_retained, n_docs_dropped,
                   chars_retained, chars_removed)""")
          .orderBy("policy")
      },
      Some("""
        WITH scanned AS (
          SELECT doc_id, text FROM documents WHERE NOT (doc_id % 10 = 0)),
        w AS (
          SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
          FROM documents,
               UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
        bench AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 = 0),
        rd AS (SELECT DISTINCT w.doc_id, w.pos
               FROM w JOIN bench USING (h) WHERE NOT (w.doc_id % 10 = 0)),
        isl AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                           <= 63
                      THEN 0 ELSE 1 END AS newgrp
          FROM rd),
        g AS (
          SELECT doc_id, pos,
                 SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS grp
          FROM isl),
        cuts AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 63 AS e
          FROM g GROUP BY doc_id, grp),
        p AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(e - s + 1) AS BIGINT) AS removed_chars
          FROM cuts GROUP BY doc_id),
        perdoc AS (
          SELECT d.doc_id,
                 CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
                 COALESCE(p.n_spans, CAST(0 AS BIGINT)) AS n_spans,
                 COALESCE(p.removed_chars, CAST(0 AS BIGINT)) AS removed_chars
          FROM scanned d LEFT JOIN p USING (doc_id))
        SELECT 'drop_doc' AS policy,
               CAST(SUM(CASE WHEN n_spans = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_retained,
               CAST(SUM(CASE WHEN n_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_dropped,
               CAST(COALESCE(SUM(CASE WHEN n_spans = 0 THEN n_chars END),
                             0) AS BIGINT) AS chars_retained,
               CAST(COALESCE(SUM(CASE WHEN n_spans > 0 THEN n_chars END),
                             0) AS BIGINT) AS chars_removed
        FROM perdoc
        UNION ALL
        SELECT 'excise_span',
               CAST(SUM(CASE WHEN n_spans = 0 OR n_chars > removed_chars
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN n_spans > 0 AND n_chars = removed_chars
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(COALESCE(SUM(n_chars - removed_chars), 0) AS BIGINT),
               CAST(COALESCE(SUM(removed_chars), 0) AS BIGINT)
        FROM perdoc
        ORDER BY policy
      """), bench = false), // audit-tier exact enumeration, like ext126/ext128

    // ------------------------------------------------------------ EXT130
    // BLOOM → EXACT CONTAMINATION FUNNEL — the tier ext126's scaladoc
    // cites as what production pipelines actually run at firehose scale
    // (GPT-3/C4's 13-gram Bloom probes): when even the exact window-hash
    // map outgrows a comfortable broadcast, the corpus probes a Bloom
    // filter (~1.2 MB per million distinct benchmark windows at 1% FP,
    // however large the eval suite) for an attribution-free membership
    // verdict, and only the FLAGGED docs — a true superset of every doc
    // leaking ≥ window+minRun−1 (= 66) chars; Bloom filters have no
    // false negatives, and the run dial below is the one deliberate
    // narrowing of that guarantee — pay the
    // exact tier for attribution and island arithmetic. Output, one row
    // per bloom-flagged doc: the bloom's upper bound (n_might_windows,
    // first_might_pos) beside the graduated truth (n_bench_confirmed,
    // n_confirmed_windows) — rows with 0 confirmed are the priced false
    // positives. TWO knobs price the funnel: fpp sizes the filter, and
    // minRun = 3 requires three CONSECUTIVE might-windows before a doc
    // flags — the dial that makes a per-window Bloom usable on long
    // docs (isolated FP windows hit almost every multi-hundred-window
    // doc at fpp 0.01; a 3-run is ~fpp³ spurious, while any real leak
    // of ≥ window+2 chars still produces it). Exact-tier work is
    // semi-join-pruned to the flagged set BEFORE any hashing
    // (refineFlags' discipline). Rows-only: Spark's Bloom bit layout is
    // engine-specific (deterministic per item set + fpp, but DuckDB
    // cannot reproduce it); ContaminationGuardSpec pins the no-false-
    // negative superset, the per-doc upper bound, the minRun FP
    // suppression, and graduation equality with the directly-run exact
    // tier.
    QueryDef(
      "ext130_contamination_bloom",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val benchPred = col("doc_id") % 10 === 0
        val bench = docs.filter(benchPred)
        val corpus = docs.filter(!benchPred)
        val bloom = graft.operators.ContaminationGuard.bloomIndex(
          bench, "text")
        val flagged = graft.operators.ContaminationGuard.flagBloom(
          corpus, "text", "doc_id", bloom, minRun = 3)
          .localCheckpoint(true) // one probe pass feeds the join AND the prune
        val confirmed = graft.operators.ContaminationGuard.flag(
          corpus.join(broadcast(flagged.select("doc_id")),
            Seq("doc_id"), "left_semi"),
          "text", "doc_id",
          graft.operators.ContaminationGuard.benchmarkIndex(
            bench, "text", "doc_id"))
        flagged.join(
          broadcast(confirmed.groupBy("doc_id").agg(
            count(lit(1)).as("n_bench_confirmed"),
            sum("n_matched_windows").as("n_confirmed_windows"))),
          Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_might_windows"),
            col("first_might_pos"),
            coalesce(col("n_bench_confirmed"), lit(0L))
              .as("n_bench_confirmed"),
            coalesce(col("n_confirmed_windows"), lit(0L))
              .as("n_confirmed_windows"))
          .orderBy("doc_id")
      },
      None, bench = false), // exact-tier graduation work, like ext126/ext128

    // ------------------------------------------------------------ EXT131
    // RETROACTIVE WATCHLIST SWEEP — the other half of ext125's
    // enforcement story (r12 verdict #1): the live monitor scores new
    // ARRIVALS against the watchlist, but a takedown claim filed today
    // must also find YESTERDAY's landed corpus. This entry runs the
    // watermarked sweep (WatchlistMonitor.sweepWatchlist) over a landed
    // table of the containment corpus's embed tracks (every id % 4 == 3
    // track embeds clip id−3 at window offset 3 — AudioCorpus.trackFor),
    // across two watch days plus an idempotency re-run:
    //  day 1: clips 0..36 (%4==0) join the list → their embeds flag;
    //  day 2: clips 40..76 join → the sweep computes the DELTA itself
    //         from the persisted <out>_swept watermark, broadcasts ONLY
    //         the new clips, and pays one map-side decode-and-vote pass
    //         over the landed table — zero shuffle, the broadcast-probe
    //         economics that hold when "landed" is 100 TB;
    //  re-run of day 2: empty delta, zero passes, zero appended rows —
    //         the idempotency the watermark exists for.
    // Output: the flags table (track doc_id, clip_id, offset_units,
    // coverage) — each embed flags its clip at offset 3, coverage 1.0,
    // exactly the live monitor's verdict for the same pair (shared flag
    // transform, parity spec-pinned in WatchlistMonitorSpec). Rows-only
    // like ext125 (no audio stack in DuckDB).
    QueryDef(
      "ext131_watchlist_sweep",
      (s, dir) => withScratch("watchsweep-ext131") { base =>
        import graft.streaming.WatchlistMonitor
        val winSec = graft.sources.AudioCorpus.TrackWindowSec
        val ids = Tables.documents(s, dir).select("doc_id")
        val landed = s"$base/landed"
        graft.sources.AudioCorpus.trackFor(
          ids.filter(col("doc_id") % 4 === 3 && col("doc_id") < 83), "doc_id")
          .write.parquet(landed)
        val out = s"$base/flags"
        def loadClips(cids: Seq[Long]): Seq[WatchlistMonitor.WatchClip] =
          WatchlistMonitor.audioWatchlist(
            graft.sources.AudioCorpus.trackFor(
              ids.filter(
                if (cids.isEmpty) lit(false) else col("doc_id").isin(cids: _*)),
              "doc_id"),
            "wav", "doc_id", windowSec = winSec)
        def sweep(watched: Seq[Long]) = WatchlistMonitor.sweepWatchlist(
          s, landed, watched, loadClips,
          (b: org.apache.spark.sql.DataFrame,
              w: Seq[WatchlistMonitor.WatchClip]) =>
            WatchlistMonitor.flagAudio(b, "wav", w, windowSec = winSec), out)
        val day1 = (0L until 40L by 4).toSeq
        val day2 = (0L until 80L by 4).toSeq
        sweep(day1)
        sweep(day2) // delta-only: broadcasts clips 40..76 alone
        sweep(day2) // idempotent re-run: appends nothing
        // eager checkpoint BEFORE withScratch deletes the flags table —
        // the returned frame must not lazily read the scratch files
        s.read.parquet(out)
          .select(col("doc_id"), col("clip_id"),
            col("offset_units"), col("coverage"))
          .localCheckpoint(true)
          .orderBy("doc_id")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121

    // ------------------------------------------------------------ EXT132
    // BLOOM INGEST → GRADUATION FUNNEL, end-to-end (r12 verdict "what's
    // missing"): ext130 prices the funnel as a BATCH query; this entry
    // runs its deployed shape — the streaming decontaminating ingest
    // (CorpusIngest.writeAuditedBloom: the saved-and-RELOADED BloomIndex
    // probed map-side at the door, quality gate in front, suspects
    // rejected as contaminated_maybe with the qualifying run's start)
    // followed by the maintenance-window graduation
    // (graduateBloomRejects: the exact tier over the bounded rejects —
    // never the corpus — confirming true leaks with attribution and
    // RE-ADMITTING cleared false positives, the path a deterministic
    // FP-able gate owes its corpus). Two dials, each a full
    // ingest+graduation cycle over its own landing table:
    //  production (fpp 0.01, minRun 3, full corpus): the firehose
    //    setting — suspects ≈ true leaks, exact-tier work ≈ zero;
    //  noisy (fpp 0.5, minRun 1, docs < 100): the worst case run on a
    //    bounded slice — (near-)every doc suspects, graduation clears
    //    the FPs back into the corpus; what the fpp knob costs, priced.
    // Output: (dial, disposition, n_docs) where disposition classes
    // every streamed doc_id — landed_at_door (passed the gate; exact
    // duplicates of a landed text count here, their content landed),
    // quality_reject, suspect_confirmed (graduated to a real leak),
    // suspect_readmitted (cleared FP, landed by graduation). Corpus
    // economics: the stream pays one bloom probe per doc (megabyte
    // broadcast), the graduation pays the exact scan only on suspects —
    // at the production dial that is ~the true-leak count however large
    // the corpus. Rows-only (Spark's Bloom bit layout is engine-
    // specific); CorpusIngestSpec pins gate classes, run starts,
    // graduation attribution, re-admission, and re-run idempotency.
    QueryDef(
      "ext132_bloom_ingest_funnel",
      (s0, dir) => withScratch("bloomfunnel-ext132") { base =>
        import graft.operators.ContaminationGuard
        import graft.streaming.CorpusIngest
        // fixture-scale state partitioning for the two streamed funnels —
        // see [[ArcShufflePartitions]]
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        val docs = Tables.documents(s, dir)
        val benchPred = col("doc_id") % 10 === 0
        val bench = docs.filter(benchPred).localCheckpoint(true)
        def funnel(dial: String, fpp: Double, minRun: Int,
            corpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          val staged = s"$base/$dial/staged"
          corpus
            .withColumn("ingest_ts",
              lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
            .select("doc_id", "text", "source", "ingest_ts")
            .write.parquet(staged)
          // the deployed restart shape: build once, persist, probe the
          // LOADED bits (parameter bundle rides with the filter)
          val idxDir = s"$base/$dial/bloom_idx"
          ContaminationGuard.bloomIndex(bench, "text", fpp = fpp)
            .save(s, idxDir)
          val idx = ContaminationGuard.loadBloomIndex(s, idxDir)
          val table = s"$base/$dial/corpus"
          CorpusIngest.writeAuditedBloom(
            s.readStream.schema(s.read.parquet(staged).schema).parquet(staged),
            table, s"$base/$dial/ckpt", idx, minRun = minRun)
            .awaitTermination()
          val nConfirmed = CorpusIngest.graduateBloomRejects(
              s, table, bench, "text", "doc_id")
            .select("doc_id").distinct().count()
          // disposition counts come from per-class AGGREGATES, never a
          // corpus-side join: every class except landed_at_door is read
          // off the bounded rejects/graduation tables, and the door
          // count is arithmetic — at 100 TB the quality-reject class is
          // corpus-proportional, so joining (or broadcasting) its id set
          // would be the one data-sized structure in an otherwise
          // broadcast-probe pipeline. Exact duplicates of a landed text
          // dedup silently at the door and count as landed.
          // no Try: graduateBloomRejects just read this same table, so
          // by here it provably exists and reads — a swallowed failure
          // could only turn into silently wrong counts (landed ==
          // corpus, negative readmitted)
          // DOC grain with suspect precedence, so the classes PARTITION
          // the rejected doc_ids: rejects are keyed per
          // (digest, doc_id), so a doc_id redelivered with edited text
          // carries multiple rows — possibly under DIFFERENT reasons —
          // and dispositions class DOCS (nConfirmed below is already
          // distinct-doc grain). A doc with any contaminated_maybe row
          // entered graduation, so it classes as suspect; quality
          // counts only docs rejected EXCLUSIVELY for quality. (In this
          // entry each doc streams exactly once per funnel, so the
          // precedence is vacuous — it keeps the arithmetic a true
          // partition if the helper is ever fed redeliveries.)
          val rejectedDocs =
            s.read.parquet(s"${table}_rejects")
              .groupBy("doc_id")
              .agg(max(when(col("reject_reason") === "contaminated_maybe",
                1).otherwise(0)).as("suspect"))
              .groupBy("suspect").agg(count(lit(1)).as("n"))
              .collect() // bounded: at most two rows
              .map(r => r.getAs[Int]("suspect") -> r.getAs[Long]("n"))
              .toMap
          val nSuspect = rejectedDocs.getOrElse(1, 0L)
          val nQuality = rejectedDocs.getOrElse(0, 0L)
          import s.implicits._
          Seq(
            (dial, "landed_at_door", corpus.count() - nQuality - nSuspect),
            (dial, "quality_reject", nQuality),
            (dial, "suspect_confirmed", nConfirmed),
            (dial, "suspect_readmitted", nSuspect - nConfirmed))
            .toDF("dial", "disposition", "n_docs")
        }
        // the two funnels are fully independent (own staged dir, own
        // bloom index, own checkpoint/table) — run them as overlapped
        // jobs (guide §2.6); each funnel's internal steps stay sequential
        import scala.concurrent.{Await, Future}
        implicit val ec: scala.concurrent.ExecutionContext = overlapEc
        val prodF = Future(funnel("production", fpp = 0.01, minRun = 3,
          docs.filter(!benchPred)))
        val noisyF = Future(funnel("noisy", fpp = 0.5, minRun = 1,
          docs.filter(!benchPred && col("doc_id") < 100)))
        val timeout = scala.concurrent.duration.Duration(20, "min")
        awaitAll(Seq(prodF, noisyF), timeout)
        Await.result(prodF, timeout)
          .unionByName(Await.result(noisyF, timeout))
          .orderBy("dial", "disposition")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121/ext131

    // ------------------------------------------------------------ EXT133
    // FINGERPRINT-STORE COMPACTION LIFECYCLE (r13) — ext121 proves the
    // ingest/merge half; this entry proves the MAINTENANCE half in its
    // deployed shape, driver-visible: one-partition-per-delivery-forever
    // is a small-file trajectory at ingest cadence, so the store folds
    // old deliveries into versioned `compacted-N` bases behind an
    // atomically-rewritten manifest (live + explicit `retired:` lines),
    // retains the folded inputs for one full generation (pinned readers
    // keep resolving real files), and reclaims only by explicit
    // evidence at the NEXT compact. The entry runs the full arc —
    // init → two deliveries → compact with the in-flight delivery
    // protected BY NAME (not mtime: coarse-timestamp filesystems
    // tie-rank) → replay of the kept delivery against the compacted
    // store (idempotent: its partition survived, the probe still
    // excludes it) → a fresh delivery probing base ∪ kept → a second
    // compact that reclaims the retired generation and folds again —
    // and emits (step, phase, n_live_partitions, n_rows) after each
    // phase: the partition count collapsing 3→2 at each compact while
    // n_rows NEVER moves except at deliveries is the whole maintenance
    // contract in one table. Store reads here are manifest-PINNED (the
    // concurrent-reader snapshot; mid-compaction readers resolve one
    // layout, never the duplicated union). Rows-only (stateful
    // lifecycle); FingerprintStoreSpec pins compaction content
    // preservation, retention, re-adoption, the ack protocol, racing
    // writers, and the lifecycle state-machine fuzz; the entry's exact
    // partition-count arc (1,2,3,2,2,3,2) is spec-pinned on sf0.001.
    QueryDef(
      "ext133_fingerprint_compaction",
      (s0, dir) => withScratch("fpstore-ext133") { storeDir =>
        import graft.operators.FingerprintStore
        // fixture-scale shuffle partitioning for the delivery/compact
        // protocol jobs (see [[ArcShufflePartitions]]): measured 16.6 s at
        // the catalog's 32 partitions vs ~13 s at fixture scale — the delta
        // is 32 tasks per tiny anti-join/manifest stage, not protocol
        // work. The session's SHARED hash memo is re-bound into the
        // sibling session through its (fingerprint-sized) RDD so the
        // decode pass is still paid once per session while every
        // downstream job runs at arc scale.
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        val hashes = graft.ScaleScope.bind(s, sharedImageHashes(s0, dir))
          .localCheckpoint(false)
        val n = hashes.count()
        val (c1, c2, c3) = (n * 2 / 5, n * 3 / 5, n * 4 / 5)
        def snap(step: Long, phase: String): (Long, String, Long, Long) =
          // partitions from the MANIFEST, not a distinct over the rows:
          // a zero-survivor delivery is live-listed but contributes no
          // rows, and the column claims to report the store layout
          (step, phase,
            FingerprintStore.livePartitions(s, storeDir).size.toLong,
            FingerprintStore.read(s, storeDir, pinToManifest = true)
              .count())
        def deliver(tag: String, lo: Long, hi: Long): Unit =
          // count(), not collect(): the verdict frame is already eagerly
          // materialized by ingest's own checkpoint — this just consumes
          // it without pulling a delivery-sized row set to the driver
          FingerprintStore.ingest(s, storeDir, tag,
            hashes.filter(col("id") >= lo && col("id") < hi))
            .count(): Unit
        FingerprintStore.init(hashes.filter(col("id") < c1), storeDir)
        val arc = scala.collection.mutable.ArrayBuffer(snap(1, "init"))
        deliver("d1", c1, c2); arc += snap(2, "deliver_d1")
        deliver("d2", c2, c3); arc += snap(3, "deliver_d2")
        // folds __init__ + d1 into compacted-1; d2's replay window is
        // open, so it is protected by NAME
        FingerprintStore.compact(s, storeDir, keepRecent = 0,
          protect = Set("d2"))
        arc += snap(4, "compact_protect_d2")
        deliver("d2", c2, c3); arc += snap(5, "replay_d2")
        deliver("d3", c3, n + 1); arc += snap(6, "deliver_d3")
        // reclaims the retired generation, folds d2 + compacted-1
        FingerprintStore.compact(s, storeDir, keepRecent = 0,
          protect = Set("d3"))
        arc += snap(7, "compact2_protect_d3")
        // the arc rows are plain collected values by here, so
        // withScratch's cleanup is safe to run on return
        import s.implicits._
        arc.toSeq
          .toDF("step", "phase", "n_live_partitions", "n_rows")
          .orderBy("step")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121/ext131

    // ------------------------------------------------------------ EXT134
    // STREAMING WRITE-BACK COMPACTION ARC (r13 verdict #2) — ext133
    // proves the store's maintenance half under the BATCH writer; this
    // entry proves the same arc in its deployed STREAMING shape, the one
    // maintenance composition that had no catalog entry: the perceptual
    // ingest's epoch-keyed write-back ([[graft.streaming.PerceptualIngest
    // .writeDeduped]] with writeBackTo) folds its own epoch partitions on
    // micro-batch cadence (writeBackCompactEvery = 2, keepRecent = 1),
    // with the CURRENT epoch — the only batch that can ever replay —
    // passed to the fold as protected BY NAME from inside foreachBatch's
    // exclusive-writer window. Six epochs arrive as six AvailableNow
    // waves over a file-source stream (each wave appends one staged
    // parquet file and re-runs the query on the same checkpoint); the
    // images are the synthetic corpus rendered for six mutually-far
    // doc_ids, so every epoch lands exactly one fresh fingerprint.
    // The cadence counts DATA-BEARING batches only (r14 verdict #5,
    // DataBatchCadence): the first wave's watermark-advance no-data
    // commit batch (b1) does NOT consume a cadence slot, so the fold
    // fires on waves 2, 4 and 6 — every 2 batches OF WORK, durable
    // across the per-wave query restarts via the counter beside the
    // checkpoint. Wave 2's firing is then absorbed by the fold's own
    // lone-input guard (one foldable partition is pure churn → files
    // byte-identical), so the first REAL fold lands on wave 4 and the
    // reclaiming fold on wave 6. After each wave the entry snapshots
    // (step, phase, n_live_partitions, n_compacted_bases,
    // n_disk_partitions, n_rows) from the MANIFEST-pinned store: live
    // partitions walk 1→2→3→2→3→2 (fold_1 collapses {b0,b2,b3} into
    // compacted-1 keeping the protected b4; fold_2 collapses
    // {compacted-1,b4,b5} into compacted-2 keeping b6) while DISK
    // partitions walk 1→2→3→5→6→5 — fold_1 RETAINS its folded inputs
    // for pinned readers (5 on disk vs 2 live) and fold_2 reclaims that
    // retired generation by explicit evidence while retiring its own
    // (5 on disk, not 8) — and n_rows moves ONLY at epochs (1..6): the
    // small-file discipline holding under the streaming writer without
    // ever touching landed data. Rows-only (stateful lifecycle);
    // ImageIngestSpec pins fold/provenance/warm-start on the same
    // composition and the entry's exact arc on sf0.001.
    QueryDef(
      "ext134_writeback_compaction",
      (s0, dir) => withScratch("wbcompact-ext134") { base =>
        import graft.operators.FingerprintStore
        // fixture-scale state partitioning for the six one-image waves —
        // see [[ArcShufflePartitions]]
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        // six mutually-far images (families doc_id/3 = 0,10,…,50 —
        // Hamming ≈ 32 apart), keyed off the documents table so the
        // entry reads its corpus ids from `dir` like every sibling
        val imgIds = Tables.documents(s, dir).select("doc_id")
          .filter(col("doc_id") % 30 === 0 && col("doc_id") < 180)
          .orderBy("doc_id")
          .collect().map(_.getLong(0)).toSeq // bounded: exactly 6 ids
        val staged = s"$base/staged"
        val store = s"$base/store"
        import s.implicits._
        def stageEpoch(i: Int): Unit =
          graft.sources.ImageCorpus.forIds(
            Seq(imgIds(i)).toDF("doc_id"), "doc_id")
            .select(col("doc_id").as("img_id"),
              lit("camA").as("source"),
              lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
                .as("ingest_ts"),
              col("png"))
            .coalesce(1)
            .write.mode("append").parquet(staged)
        def runWave(): Unit =
          graft.streaming.ImageIngest.writeDeduped(
            s.readStream.schema(s.read.parquet(staged).schema)
              .parquet(staged),
            s"$base/t", s"$base/ckpt", maxDist = 3,
            watermarkDelay = "10 minutes",
            writeBackTo = Some(store),
            writeBackCompactEvery = 2, writeBackKeepRecent = 1)
            .awaitTermination()
        def snap(step: Long,
            phase: String): (Long, String, Long, Long, Long, Long) = {
          val live = FingerprintStore.livePartitions(s, store)
          // disk partitions INCLUDE the retained (retired) generation the
          // manifest no longer lists — disk > live is the retention
          // window pinned readers resolve through, and disk collapsing
          // at the next fold is the reclaim
          val p = new org.apache.hadoop.fs.Path(store)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          val disk = fs.listStatus(p).count(st =>
            st.isDirectory && st.getPath.getName.startsWith("delivery_id="))
          (step, phase, live.size.toLong,
            live.count(FingerprintStore.isCompactedBase).toLong,
            disk.toLong,
            FingerprintStore.read(s, store, pinToManifest = true).count())
        }
        val phases = Seq("seed", "fire_noop", "append_1", "fold_1",
          "append_2", "fold_2_reclaim")
        val arc = phases.zipWithIndex.map { case (phase, i) =>
          stageEpoch(i); runWave()
          snap(i + 1L, phase)
        }
        // arc rows are plain collected values — withScratch's cleanup
        // is safe to run on return
        arc.toDF("step", "phase", "n_live_partitions", "n_compacted_bases",
            "n_disk_partitions", "n_rows")
          .orderBy("step")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121/ext131

    // ------------------------------------------------------------ EXT135
    // ANN RETRAIN TRIGGER ARC (r14) — the last maintenance composition
    // with no catalog entry: ext73 proves the index CRUD lifecycle and
    // ext88 measures the recall decay a stale quantizer causes, but the
    // operator that CLOSES that loop — `VectorIndex.retrainIfDrifted`'s
    // two-dial drift probe → staged rebuild → marker-bracketed atomic
    // swap — was ScalaTest-only. The entry runs the trigger's whole
    // decision arc over the embeddings table, one probe per step:
    // (1) the build corpus itself — BOTH dials quiet, nothing touched
    // (byte-identical below threshold, spec-pinned); (2) a
    // sign-preserving RANK COLLAPSE (dims 1-4 ×9, the rest ×0.01 — the
    // encoder-collapse failure mode where embeddings degrade onto a
    // low-rank subspace; a uniform ×5 scale measured psi 0.002 and a
    // balanced anisotropic stretch 0.06, because PSI reads the
    // occupancy HISTOGRAM, which reshuffled-but-balanced assignments
    // leave flat — occupancy must CONCENTRATE, and projecting 8
    // centroids onto 4 effective dims starves the lists that collide:
    // measured psi 0.58/0.82 at sf0.001/0.01, 6-8× the threshold) —
    // signs preserved, so the octant dial's psi is EXACTLY 0 by
    // construction and the firing is the coarse-LIST dial seeing
    // occupancy move off the stale centroids (the recall-decay
    // mechanism ext88 measures) → retrain + swap; (3) the same
    // collapsed corpus again — the trigger SELF-RESETS (the rebuild
    // stored a new
    // two-dial reference, psi back under threshold); (4) abs() of every
    // coordinate — the whole corpus collapses onto sign-octant 7, so the
    // OCTANT dial provably fires against the near-uniform reference (the
    // returned psi is the max of both dials) → retrain; (5) quiet again.
    // Each probe is ONE corpus pass (the fused driftHistograms — both
    // dials from a single scan, the r14 one-pass shape) plus, when a
    // dial fires, the staged rebuild; emitted per step: (step, phase,
    // psi 6dp, retrained, n_live_lists from the codes/ directory
    // listing). Rows-only (float PSI and kmeans training are
    // engine-specific); VectorIndexSpec pins the entry's exact
    // fire/disarm arc at sf0.001 plus crash-heal, no-op byte-identity
    // and rebuild-equals-fresh-build on the operator itself.
    QueryDef(
      "ext135_ann_retrain_trigger",
      (s, dir) => withScratch("annretrain-ext135") { idxDir =>
        import graft.operators.VectorIndex
        val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
          .localCheckpoint(false)
        val collapsed = emb.select(col("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i < 4, x * lit(9.0)).otherwise(x * lit(0.01)))
            .as("embedding"))
          .localCheckpoint(false)
        val absed = collapsed.select(col("vec_id"),
          transform(col("embedding"), x => abs(x)).as("embedding"))
          .localCheckpoint(false)
        def listDirs(): Long = {
          val p = new org.apache.hadoop.fs.Path(s"$idxDir/codes")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.listStatus(p).count(st => st.isDirectory &&
            st.getPath.getName.startsWith("list=")).toLong
        }
        VectorIndex.buildIvfPq(emb, "vec_id", "embedding", idxDir,
          nLists = 8, m = 8, ksub = 16)
        def probe(step: Long, phase: String,
            corpus: org.apache.spark.sql.DataFrame)
            : (Long, String, Double, Boolean, Long) = {
          val (psi, did) = VectorIndex.retrainIfDrifted(s, idxDir, corpus,
            "vec_id", "embedding", threshold = 0.1,
            nLists = 8, m = 8, ksub = 16)
          (step, phase, math.rint(psi * 1e6) / 1e6, did, listDirs())
        }
        val arc = Seq(
          probe(1, "probe_build_corpus_quiet", emb),
          probe(2, "collapse_fires_list_dial", collapsed),
          probe(3, "collapsed_reference_disarmed", collapsed),
          probe(4, "abs_fires_octant_dial", absed),
          probe(5, "absed_reference_disarmed", absed))
        // arc rows are plain collected values — withScratch's cleanup is
        // safe to run on return
        import s.implicits._
        arc.toDF("step", "phase", "psi", "retrained", "n_live_lists")
          .orderBy("step")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121/ext131

    // ------------------------------------------------------------ EXT136
    // LANDED-TABLE SMALL-FILE COMPACTION ARC (r14) — the last table in
    // the ingest estate with NO maintenance story: the audited landing
    // sinks append one parquet file per source-partition per micro-batch
    // (a year of 30-second batches is ~10⁶ files per source dir; every
    // downstream scan pays a task per file), and while the fingerprint
    // store folds behind its manifest (ext133/134), the graduated
    // markers rewrite, the sweep watermark fold-compacts and the ANN
    // index swaps generations, the landing table itself just accumulated.
    // `TableCompaction.compactLanded` closes the set WITHOUT giving the
    // table a manifest — its value is that any engine (the DuckDB oracle
    // included) reads it as a plain partitioned dir — so the protocol is
    // an intent JOURNAL instead: per partition dir, FFD-bin the files
    // smaller than targetBytes, rewrite the bins in one job per distinct
    // per-dir schema — ONE job total for a fixed-schema landing table,
    // and never a job that unions schemas across dirs — with map-side
    // bin routing off input_file_name against a broadcast literal map
    // keyed by the scan's own SparkPath rendering (exact on every
    // filesystem and encoding; unmapped file raise_errors, never a
    // silently mis-binned row), one shuffle keyed by bin, one staged
    // file per bin under a dot-invisible staging dir, then atomically
    // publish the journal naming every (target, staged, sources) triple,
    // then per bin rename-in and delete sources. Files ≥ targetBytes are
    // never read or moved (byte-identical, the ext73 untouched-partition
    // discipline) so the rewrite cost is bounded by the small-file
    // bytes; a crash heals FORWARD from the journal on the next run
    // (transient duplicate inside the crash window, never a loss — the
    // sweep watermark's at-least-once posture), and rewriting
    // row-to-file identity is safe because the landing path's
    // idempotence is content-based (digest anti-joins, k:/r: dedup
    // keys), never file-based — a `_spark_metadata` file-sink table,
    // where the log PINS file names, is REFUSED loudly. The entry runs
    // the arc: three micro-batch-shaped partitioned appends → compact
    // (files collapse to one per source dir, rows untouched) → a fourth
    // delivery → compact → a third compact that proves idempotence
    // (zero bins, zero bytes), emitting (step, phase, n_files, n_rows,
    // n_bins_rewritten): files collapse only at compacts, rows move only
    // at deliveries. Rows-only (filesystem lifecycle);
    // TableCompactionSpec pins contents-unchanged (incl. the dir-encoded
    // partition column staying OUT of the data bytes), untouched-file
    // byte-identity, both crash-heal paths through the production
    // staging seam, delete-only zero-row bins, the file-sink refusal,
    // and the entry's exact arc at sf0.001.
    QueryDef(
      "ext136_landed_compaction",
      (s0, dir) => withScratch("landcompact-ext136") { table =>
        import graft.operators.TableCompaction
        // fixture-scale shuffle partitioning for the bin-rewrite jobs —
        // see [[ArcShufflePartitions]]
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        val docs = Tables.documents(s, dir)
          .select("doc_id", "text", "source").localCheckpoint(false)
        def snap(step: Long, phase: String,
            bins: Long): (Long, String, Long, Long, Long) =
          (step, phase, TableCompaction.committedDataFiles(s, table),
            s.read.parquet(table).count(), bins)
        def deliver(b: Int): Unit =
          // repartition(2) so each micro-batch-shaped append lands
          // multiple files per source dir, the real sink's trajectory
          docs.filter(col("doc_id") % 4 === b).repartition(2)
            .write.mode("append").partitionBy("source").parquet(table)
        val arc = scala.collection.mutable
          .ArrayBuffer[(Long, String, Long, Long, Long)]()
        deliver(0); arc += snap(1, "deliver_b0", 0)
        deliver(1); arc += snap(2, "deliver_b1", 0)
        deliver(2); arc += snap(3, "deliver_b2", 0)
        val c1 = TableCompaction.compactLanded(s, table)
        arc += snap(4, "compact_1", c1.binsWritten)
        deliver(3); arc += snap(5, "deliver_b3", 0)
        val c2 = TableCompaction.compactLanded(s, table)
        arc += snap(6, "compact_2", c2.binsWritten)
        val c3 = TableCompaction.compactLanded(s, table)
        arc += snap(7, "compact_noop", c3.binsWritten)
        // the arc rows are plain collected values by here, so
        // withScratch's cleanup is safe to run on return
        import s.implicits._
        arc.toSeq
          .toDF("step", "phase", "n_files", "n_rows", "n_bins_rewritten")
          .orderBy("step")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121/ext131

    // ------------------------------------------------------------ EXT137
    // REJECTS RETENTION + MARKER COMPACTION ARC (r14) — the maintenance
    // pass compactGraduated's contract has referenced since r11 ("run
    // after each rejects-retention pass") without the repo having one:
    // every audited ingest posture appends one rejects row per rejected
    // delivery FOREVER, and unlike the graduated markers — where losing
    // a row is safe-by-direction — losing a rejects row outside the
    // policy silently un-audits a suspect. `Retention.expireOlderThan`
    // is therefore a STAGED REWRITE behind a `.retention_pending` marker
    // (the VectorIndex generation-swap discipline): stage the kept rows
    // dot-invisibly, publish the marker, swap, delete the marker — a
    // crash at any point heals FORWARD on the next call (staged rows are
    // the committed intent once the marker exists), and plain readers
    // see the untouched table until the swap's own blink, which is why
    // retention shares the graduation's single-writer maintenance
    // window. Zero shuffle: one map-side filter pass, and the rewrite
    // consolidates the append-cadence small files as a side effect. The
    // entry runs the DEPLOYED composition end-to-end on a bounded slice:
    // the bloom-gated decontaminating ingest (fpp 0.5, minRun 1 — the
    // noisy dial, so the rejects table actually fills) over a corpus
    // whose ingest_ts spans two days → graduation (suspects confirmed or
    // re-admitted, markers written) → retention expiring day 1 →
    // compactGraduated dropping exactly the markers whose suspects the
    // policy removed → a re-run of the same policy proving idempotence
    // (zero expired). Emits (step, phase, n_rejects, n_markers,
    // rows_expired): rejects fall only at the retention step, markers
    // only at the compaction step, the no-op expires nothing. Rows-only
    // (Bloom bit layout engine-specific, stateful lifecycle);
    // RetentionSpec pins the policy semantics, every crash-heal path
    // through the production staging seam, the compactGraduated
    // composition row-for-row, and the entry's exact arc at sf0.001.
    QueryDef(
      "ext137_rejects_retention",
      (s0, dir) => withScratch("retention-ext137") { base =>
        import graft.operators.{ContaminationGuard, Retention}
        import graft.streaming.CorpusIngest
        // fixture-scale state partitioning for the one-batch funnel and
        // the staged retention rewrites — see [[ArcShufflePartitions]]
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 10 === 0)
          .localCheckpoint(true)
        val day1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
        val day2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
        val staged = s"$base/staged"
        // bounded slice; one file so the whole corpus rides one
        // micro-batch (both days share the first batch's unset
        // watermark — neither can be dropped as late)
        docs.filter(col("doc_id") % 10 === 1)
          .withColumn("ingest_ts",
            when(col("doc_id") % 20 === 1, lit(day1)).otherwise(lit(day2)))
          .select("doc_id", "text", "source", "ingest_ts")
          .coalesce(1).write.parquet(staged)
        val idxDir = s"$base/bloom_idx"
        ContaminationGuard.bloomIndex(bench, "text", fpp = 0.5)
          .save(s, idxDir)
        val table = s"$base/corpus"
        CorpusIngest.writeAuditedBloom(
          s.readStream.schema(s.read.parquet(staged).schema)
            .parquet(staged),
          table, s"$base/ckpt",
          ContaminationGuard.loadBloomIndex(s, idxDir), minRun = 1)
          .awaitTermination()
        def count(path: String): Long =
          if (!graft.util.CommittedTable.hasData(s, path)) 0L
          else s.read.parquet(path).count()
        def snap(step: Long, phase: String,
            expired: Long): (Long, String, Long, Long, Long) =
          (step, phase, count(s"${table}_rejects"),
            count(s"${table}_graduated"), expired)
        val arc = scala.collection.mutable
          .ArrayBuffer(snap(1, "ingest", 0))
        CorpusIngest.graduateBloomRejects(s, table, bench, "text",
          "doc_id").count(): Unit
        arc += snap(2, "graduate", 0)
        val r1 = Retention.expireOlderThan(
          s, s"${table}_rejects", "ingest_ts", day2)
        arc += snap(3, "retain_day1", r1.rowsExpired)
        CorpusIngest.compactGraduated(s, table)
        arc += snap(4, "compact_markers", 0)
        val r2 = Retention.expireOlderThan(
          s, s"${table}_rejects", "ingest_ts", day2)
        arc += snap(5, "retain_noop", r2.rowsExpired)
        // the arc rows are plain collected values by here, so
        // withScratch's cleanup is safe to run on return
        import s.implicits._
        arc.toSeq
          .toDF("step", "phase", "n_rejects", "n_markers", "rows_expired")
          .orderBy("step")
      },
      None, bench = false, eagerLifecycle = true), // stateful lifecycle entry, like ext121/ext131

    // ------------------------------------------------------------ EXT138
    // BACKLOG-SHARDED COMPACTION ARC (r15) — ext136 proves the landed-
    // table compaction at maintenance cadence; this entry proves the
    // NEGLECTED-table path: a backlog whose file count exceeds what one
    // run should hold driver-side. `TableCompaction.compactBacklog`
    // probes the count with an early-exit listing (never holds more
    // than budgetFiles+1 entries), and an over-budget root recurses per
    // partition subtree — each subtree a fully independent scoped run
    // (own journal, own staging, own heal; prior unsharded runs' crash
    // state at intermediate roots heals on the way down) — so the whole
    // backlog clears in ONE call with driver metadata bounded by one
    // subtree's share. The entry stages a 240-file backlog (6 source
    // dirs × 40 byte-identical copies of one seed parquet — identical
    // copies are the adversarial case: the fold must preserve the row
    // MULTISET, never unify them; 240 not 600 per r15 verdict #3 — the
    // protocol's steps are scale-invariant and the 600-file fixture's
    // extra wall was pure lane cost) and runs the arc: backlog → sharded
    // compact under budget 60 (root over budget, each 40-file subtree
    // under — 6 scoped runs, 6 bins, 6 files left) → no-op re-run
    // (idempotent, zero bins). n_rows never moves. Rows-only
    // (filesystem lifecycle); TableCompactionSpec pins the 10⁴-file
    // version under a 600-file budget, the flat-dir fallback, the
    // crash-heal seam, the nested-file-sink refusal, and the entry's
    // exact arc at sf0.001.
    QueryDef(
      "ext138_backlog_compaction",
      (s0, dir) => withScratch("backlog-ext138") { base =>
        import graft.operators.TableCompaction
        // fixture-scale shuffle partitioning for the six scoped bin
        // rewrites — see [[ArcShufflePartitions]]
        val s = graft.ScaleScope.sibling(s0, ArcShufflePartitions)
        val table = s"$base/landed"
        val seedDir = s"$base/seed"
        // the seed row comes from the documents table so the entry
        // reads its corpus from `dir` like every sibling (1 row, 1 file)
        Tables.documents(s, dir).select("doc_id", "source")
          .filter(col("doc_id") === 0)
          .coalesce(1).write.parquet(seedDir)
        val p = new org.apache.hadoop.fs.Path(base)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val seed = fs.globStatus(
          new org.apache.hadoop.fs.Path(seedDir, "part-*.parquet")).head
        val bytes = {
          val in = fs.open(seed.getPath)
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          in.close(); out.toByteArray
        }
        for (d <- 0 until 6; i <- 0 until 40) {
          val f = fs.create(new org.apache.hadoop.fs.Path(
            f"$table%s/src=s$d%d/part-$i%05d.parquet"), true)
          f.write(bytes); f.close()
        }
        def snap(step: Long, phase: String,
            bins: Long): (Long, String, Long, Long, Long) =
          (step, phase, TableCompaction.committedDataFiles(s, table),
            bins, s.read.parquet(table).count())
        val arc = scala.collection.mutable.ArrayBuffer(
          snap(1, "backlog", 0L))
        val c1 = TableCompaction.compactBacklog(s, table,
          targetBytes = 64L << 20, budgetFiles = 60)
        arc += snap(2, "shard_compact", c1.binsWritten)
        val c2 = TableCompaction.compactBacklog(s, table,
          targetBytes = 64L << 20, budgetFiles = 60)
        arc += snap(3, "noop_rerun", c2.binsWritten)
        // arc rows are plain collected values — withScratch's cleanup
        // is safe to run on return
        import s.implicits._
        arc.toSeq
          .toDF("step", "phase", "n_files", "n_bins_written", "n_rows")
          .orderBy("step")
      },
      None, bench = false, eagerLifecycle = true) // filesystem lifecycle entry, like ext136
  )

  /** Shared ext126/ext127 oracle — the guard's broadcast probe restated
    * as a DuckDB join + gaps-and-islands (same md5/substr window
    * convention as ext80's oracle; `sampled` adds the 1/16 md5-prefix
    * self-selection to BOTH sides, exactly like the Spark tiers). */
  private def contaminationOracle(sampled: Boolean): String = {
    val keep = if (sampled) "WHERE substr(h, 1, 1) = '0'" else ""
    s"""
      WITH w0 AS (
        SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 64)) AS h
        FROM documents,
             UNNEST(range(1, GREATEST(length(text) - 62, 1))) AS t(i)),
      w AS (SELECT * FROM w0 $keep),
      bench AS (SELECT DISTINCT doc_id AS bench_id, h FROM w
                WHERE doc_id % 10 = 0),
      bsz AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_bench
              FROM bench GROUP BY bench_id),
      m AS (SELECT w.doc_id, bench.bench_id, w.pos, w.h
            FROM w JOIN bench USING (h)
            WHERE NOT (w.doc_id % 10 = 0)),
      isl AS (
        SELECT doc_id, bench_id, pos, h,
               CASE WHEN pos - LAG(pos) OVER
                 (PARTITION BY doc_id, bench_id ORDER BY pos) <= 63
               THEN 0 ELSE 1 END AS newgrp
        FROM m),
      g AS (
        SELECT doc_id, bench_id, pos, h,
               SUM(newgrp) OVER
                 (PARTITION BY doc_id, bench_id ORDER BY pos) AS grp
        FROM isl),
      runs AS (
        SELECT doc_id, bench_id, grp, MAX(pos) - MIN(pos) + 64 AS ext
        FROM g GROUP BY doc_id, bench_id, grp),
      agg AS (
        SELECT doc_id, bench_id,
               CAST(COUNT(*) AS BIGINT) AS n_matched_windows,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hit
        FROM m GROUP BY doc_id, bench_id),
      runagg AS (
        SELECT doc_id, bench_id,
               CAST(SUM(ext) AS BIGINT) AS contaminated_chars,
               CAST(MAX(ext) AS BIGINT) AS longest_run_chars
        FROM runs GROUP BY doc_id, bench_id)
      SELECT a.doc_id, a.bench_id, a.n_matched_windows,
             r.contaminated_chars, r.longest_run_chars,
             ROUND(CAST(a.n_hit AS DOUBLE) / b.n_bench, 6) AS bench_coverage
      FROM agg a
      JOIN runagg r USING (doc_id, bench_id)
      JOIN bsz b USING (bench_id)
      ORDER BY a.doc_id, a.bench_id
    """
  }
}
