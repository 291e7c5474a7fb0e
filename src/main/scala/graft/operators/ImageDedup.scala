package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cv.ImageOps

/** Perceptual near-duplicate detection over IMAGE binary columns — the
  * multimodal sibling of the text/embedding dedup family (closes the
  * "dedup is text-only" gap): dHash fingerprints + a Hamming-banded
  * self-join, so candidate generation is an equi-join on band values and
  * NEVER all-pairs.
  *
  * Scale shape (the ext08 band trick transplanted to Hamming space):
  *  - hashing is one map-side pass per image (decode → 9×8 luma grid →
  *    64-bit dHash), no shuffle;
  *  - the 64-bit hash is cut into `maxDist + 1` contiguous bit-slices; by
  *    pigeonhole, two hashes within Hamming distance `maxDist` agree on at
  *    least one slice EXACTLY, so an equi-join on (slice index, slice
  *    value) has perfect recall at the threshold. Each image emits
  *    `maxDist + 1` rows — linear fanout, shuffle keyed by slice value;
  *  - verification is `bit_count(a XOR b) <= maxDist` per candidate —
  *    codegen'd integer ops, no second look at pixels.
  * A near-identical image cluster all lands in one band bucket: the skew
  * story is identical to MinHash-LSH band buckets. AQE's OptimizeSkewedJoin
  * splits such a bucket's reducer partition when its shuffle bytes exceed
  * BOTH `spark.sql.adaptive.skewJoin.skewedPartitionFactor` (default 5)
  * × the median partition AND `…skewedPartitionThresholdInBytes` (default
  * 256 MB), re-planning it as partial-partition sub-joins sized by
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — demonstrated, with
  * exactness preserved, by ImageDedupSpec's hot-bucket test (thresholds
  * scaled to spec bytes; the same code path governs at 256 MB). The
  * candidate count stays observable via the returned frame.
  *
  * Undecodable blobs hash to NULL and are dropped from pairing (they can
  * never be perceptual duplicates of anything); count them upstream with a
  * contract rule if ingest quality matters.
  */
object ImageDedup {

  /** Encoded image bytes (PNG/BMP/GIF — whatever `ImageOps.decode` reads)
    * → 64-bit dHash, NULL if undecodable. A Scala UDF is the sanctioned
    * tool here: no built-in expression decodes images, and the work is
    * genuinely per-row imperative pixel math (SURVEY §2 UDF policy).
    */
  // asNondeterministic on the decode UDFs is an optimizer fence (see
  // AudioContainment.windowHashUdf): without it the decode+hash chain is
  // inlined into the isNotNull filter and the projection — two to three
  // full image decodes per row.
  private val dHashUdf = udf { bytes: Array[Byte] =>
    if (bytes == null) None
    else ImageOps.decode(bytes).map(ImageOps.dHash64)
  }.asNondeterministic()

  /** dHash column for an encoded-image column. */
  def dHash(imageCol: Column): Column = dHashUdf(imageCol)

  /** Encoded image bytes → MIRROR-CANONICAL DCT pHash
    * ([[ImageOps.pHash64MirrorCanonical]]), NULL if undecodable — the
    * dedup family's fingerprint since r9: a horizontally mirrored re-post
    * (the most common image-dedup evasion in scraped corpora) hashes
    * identically to its original, and the DCT base survives stronger
    * re-encoding than the gradient-sign dHash. */
  private val fingerprintUdf = udf { bytes: Array[Byte] =>
    if (bytes == null) None
    else ImageOps.decode(bytes).map(ImageOps.pHash64MirrorCanonical)
  }.asNondeterministic()

  /** The dedup fingerprint column for an encoded-image column — used by
    * BOTH the batch pair join ([[hashes]]) and the streaming suppressor
    * ([[graft.streaming.ImageIngest]]), so batch and stream agree
    * bit-for-bit on hashes AND band buckets. */
  def fingerprint(imageCol: Column): Column = fingerprintUdf(imageCol)

  /** (id, phash) for every decodable image. */
  def hashes(images: DataFrame, imageCol: String, idCol: String): DataFrame =
    images.select(col(idCol).as("id"), fingerprint(col(imageCol)).as("phash"))
      .filter(col("phash").isNotNull)

  /** Hamming distance at or under which two image fingerprints are
    * near-duplicates (the image pair joins and the leakage probe). */
  private[graft] val MaxDist = 3

  /** Verified near-duplicate image pairs (id_a < id_b, Hamming `dist`
    * <= [[MaxDist]]) via [[hammingNearDupPairs]] over the dHash column.
    */
  def nearDupPairs(images: DataFrame, imageCol: String,
      idCol: String): DataFrame =
    hammingNearDupPairs(hashes(images, imageCol, idCol), MaxDist)

  /** The modality-agnostic core: verified pairs within Hamming `maxDist`
    * over any (id, phash LONG) frame — images (dHash), audio
    * ([[AudioDedup]]'s temporal fingerprint), or any other 64-bit
    * perceptual hash. Banding, recall guarantee and verification exactly
    * as in the class doc.
    */
  /** The (band index, slice value) structs for a 64-bit hash column under
    * `maxDist` banding — ONE definition shared by the batch pair join and
    * the streaming suppressor ([[graft.streaming.ImageIngest]]), so batch
    * and stream agree bit-for-bit on which bucket a hash lands in.
    */
  def bandSlices(hash: Column, maxDist: Int): Column = {
    require(maxDist >= 0 && maxDist <= 31, s"maxDist=$maxDist out of [0,31]")
    val nBands = maxDist + 1
    // contiguous bit-slices of near-equal width covering all 64 bits
    array((0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val w = (b + 1) * 64 / nBands - lo
      struct(lit(b).as("b"),
        // unsigned shift then mask w bits; w == 64 would overflow the
        // mask literal, but nBands >= 1 caps w at 64 only when maxDist=0
        (if (w >= 64) hash
         else shiftrightunsigned(hash, lo)
           .bitwiseAND(lit((1L << w) - 1))).as("v"))
    }: _*)
  }

  def hammingNearDupPairs(hashFrame: DataFrame, maxDist: Int): DataFrame = {
    val h = hashFrame.select(col("id"), col("phash")).localCheckpoint(false)
    val banded = h.select(col("id"), col("phash"),
      explode(bandSlices(col("phash"), maxDist)).as("s"))
      .select(col("id"), col("phash"), col("s.b"), col("s.v"))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.phash").as("h_a"), col("y.phash").as("h_b"))
      // VERIFY BEFORE THE DEDUP SHUFFLE (r17, guide §2.3): the distance
      // check is two codegen'd integer ops per row, while the distinct is
      // a full exchange of every banded candidate — at wide thresholds
      // (sigMaxDist 10 ⇒ ~6-bit slices) bucket collisions make candidates
      // outnumber true matches 50:1 (measured 2.6M candidates → 5k pairs
      // on the ext122 video tier), so filtering first shrinks the
      // exchange by that factor. A row-level deterministic filter
      // commutes with distinct: the surviving set is identical.
      .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= maxDist)
      .distinct() // a pair may agree on several bands
    cands
      .withColumn("dist",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** TWO-SIDED Hamming banded join — for each left (id, phash), every
    * right-side hash within `maxDist`: both sides band identically, so the
    * pigeonhole recall guarantee of the self-join holds across frames, and
    * candidates remain an equi-join on (band, slice value) — never
    * all-pairs. This is the probe an INCREMENTAL pipeline runs: the left
    * is today's delivery (freshly decoded), the right a persisted
    * fingerprint table (8 bytes + id per image — the old corpus is never
    * re-decoded, ext47's digest contract in Hamming space). Output:
    * (id, match_id, dist), one row per qualifying cross pair.
    */
  def hammingJoinAgainst(left: DataFrame, right: DataFrame,
      maxDist: Int): DataFrame = {
    def banded(f: DataFrame, idAs: String, hashAs: String) =
      f.select(col("id").as(idAs), col("phash").as(hashAs),
        explode(bandSlices(col("phash"), maxDist)).as("s"))
        .select(col(idAs), col(hashAs), col("s.b"), col("s.v"))
    banded(left, "lid", "lhash").as("x")
      .join(banded(right, "rid", "rhash").as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v"))
      .select(col("x.lid").as("id"), col("y.rid").as("match_id"),
        col("x.lhash").as("h_a"), col("y.rhash").as("h_b"))
      // verify before the dedup shuffle — see [[hammingNearDupPairs]]
      .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= maxDist)
      .distinct() // a pair may agree on several bands
      .withColumn("dist",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .select(col("id"), col("match_id"), col("dist"))
  }

  /** INCREMENTAL perceptual dedup verdicts (ext47's incremental contract,
    * perceptual modality) — MODALITY-GENERIC like [[hammingNearDupPairs]]:
    * any (id, 64-bit hash) frames work, so the same operator runs image
    * deliveries against an image fingerprint table and audio deliveries
    * against [[AudioDedup]]'s spectral hashes. A new delivery of hashes
    * is deduped (a) WITHIN
    * itself — banded pairs → transitive clusters → min-id survivor — and
    * (b) against the EXISTING corpus's fingerprint table via
    * [[hammingJoinAgainst]]. One verdict row per delivered id:
    * (id, verdict, matched_id, dist) where verdict ∈ kept /
    * dropped_within / dropped_existing; matched_id is the image the row
    * defers to (its cluster's survivor for within-drops, the nearest
    * existing image for existing-drops, NULL for kept) and dist is the
    * Hamming distance of that existing match (NULL otherwise — cluster
    * membership is transitive, not pairwise). Precedence: a non-survivor
    * is dropped_within even if it also matches the old corpus (it defers
    * inside its own delivery first, exactly ext47's dedupe-then-anti
    * order); its survivor may then still drop against the old corpus.
    */
  /** BAND-BUCKET HEALTH audit — the cost predictor an operator reads
    * BEFORE launching any Hamming-banded join at corpus scale: bucket
    * sizes under the exact production banding ([[bandSlices]], shared
    * definition, so the audit predicts the join it guards), rolled into a
    * log₂ size-class histogram per band with each class's candidate-pair
    * contribution (Σ n·(n−1)/2 — the join's actual row cost). The
    * banded-join scale story rests on bounded bucket fanout; this makes
    * the bound OBSERVABLE: a corpus whose top size-class explodes (a viral
    * meme, a default thumbnail, a black-frame flood) shows up here as a
    * pairs_contrib spike before it becomes a hot reducer, and the
    * AQE-skew-split + low-information-filter mitigations can be sized
    * from the reported classes. Runs entirely on the 8-byte fingerprint
    * table (two hash aggregations, no decode, no join).
    *
    * Output: (band, size_class, n_buckets, n_items, pairs_contrib) where
    * size_class = floor(log₂ bucket size) — buckets of size 1 (class 0)
    * contribute zero pairs but are reported: their count is the measure
    * of hash entropy actually achieved. The class is computed EXACTLY as
    * the bucket size's bit length − 1 (r16): a float `log(2, n)` puts
    * exact powers of two on an ulp boundary (ln 8 / ln 2 floors to 2 on
    * some libms), so the histogram would disagree with any independent
    * integer implementation — the DuckDB oracle included — on exactly
    * the bucket sizes a health audit most cares about.
    */
  def bandBucketHealth(hashFrame: DataFrame, maxDist: Int = 3): DataFrame =
    hashFrame
      .select(explode(bandSlices(col("phash"), maxDist)).as("s"))
      .groupBy(col("s.b").as("band"), col("s.v"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band"),
        (length(bin(col("sz"))) - 1).cast("long").as("size_class"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_items"),
        sum(col("sz") * (col("sz") - 1) / 2).cast("long").as("pairs_contrib"))

  /** Perceptual EVAL-SET DECONTAMINATION verdicts — the multimodal analog
    * of the text leakage guards (ext86/ext87's train⋈eval n-gram audits,
    * Dodge et al. 2021's C4 benchmark-contamination methodology): for each
    * held-out eval image, is a perceptual near-duplicate present in the
    * training corpus? Equality-based decontamination misses re-encoded /
    * resized / mirrored copies — exactly the forms scraped training sets
    * contain — so the probe is [[hammingJoinAgainst]] over the two
    * fingerprint tables: both sides band identically, pigeonhole recall at
    * the threshold, candidates an equi-join, never all-pairs. MODALITY-
    * GENERIC like the rest of the banded core (audio spectral hashes work
    * unchanged). At scale both inputs are persisted fingerprint tables
    * (8 bytes + id per item) — the audit never touches pixels.
    *
    * One verdict row per eval id: (eval_id, contaminated, nearest_train_id,
    * dist) — nearest by (distance, id) so the evidence row is
    * deterministic; clean rows carry NULLs.
    */
  def leakageVerdicts(evalHashes: DataFrame,
      trainHashes: DataFrame): DataFrame = {
    val nearest = hammingJoinAgainst(evalHashes, trainHashes, MaxDist)
      .groupBy(col("id"))
      .agg(min_by(col("match_id"), struct(col("dist"), col("match_id")))
        .as("nearest_train_id"),
        min(col("dist")).as("dist"))
    evalHashes.select(col("id"))
      .join(nearest, Seq("id"), "left")
      .select(col("id").as("eval_id"),
        col("nearest_train_id").isNotNull.as("contaminated"),
        col("nearest_train_id"), col("dist"))
  }

  def incrementalVerdicts(newHashes: DataFrame,
      existingHashes: DataFrame): DataFrame = {
    val newH = newHashes.select(col("id"), col("phash")).localCheckpoint(false)
    val clusters = Dedup.clusterPairs(
      hammingNearDupPairs(newH, MaxDist)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
    val survivorOf = newH.select(col("id"))
      .join(clusters, newH("id") === clusters("doc_id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("survivor"))
    val existing = hammingJoinAgainst(newH, existingHashes, MaxDist)
      .groupBy(col("id"))
      .agg(min_by(col("match_id"), struct(col("dist"), col("match_id")))
        .as("nearest_existing"),
        min(col("dist")).as("existing_dist"))
    survivorOf.join(existing, Seq("id"), "left")
      .select(col("id"),
        when(col("survivor") =!= col("id"), lit("dropped_within"))
          .when(col("nearest_existing").isNotNull, lit("dropped_existing"))
          .otherwise(lit("kept")).as("verdict"),
        when(col("survivor") =!= col("id"), col("survivor"))
          .otherwise(col("nearest_existing")).as("matched_id"),
        when(col("survivor") === col("id"), col("existing_dist")).as("dist"))
  }
}
