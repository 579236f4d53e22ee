package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions, SimilarityFunctions, TextFunctions}

/** Deduplication operators for training-data pipelines.
  *
  * Scale posture (100 TB): every variant is candidate-generation via
  * bucketing (a shuffle on a short key) followed by per-bucket work —
  * never an all-pairs cross join. The only self-joins are on LSH
  * bucket keys, whose fan-out is controlled by band/bit parameters;
  * skewed buckets (boilerplate shingles, zero vectors) are the known
  * hazard and AQE skew-join handles residuals.
  *
  * Pair volume is quadratic in per-bucket multiplicity BY DEFINITION
  * (D copies of one document are D·(D-1)/2 pairs), so a corpus with
  * heavy boilerplate or mass duplication makes the pair OUTPUT itself
  * explode — measured: a 10× fully-replicated corpus multiplied
  * near-dup pair runtime ~100× (see BASELINE.md sf1 notes). The
  * `maxBucketSize` cap on each near-dup operator drops buckets larger
  * than the cap before the self-join — the standard "too-common
  * bucket" guard: mega-buckets are boilerplate, and their pairs are
  * junk that exact-dedup (cheap, linear) already catches. */
object Dedup {

  /** Keep only bucket keys whose membership is within `cap`: an
    * unordered `count(*) OVER (PARTITION BY bucket)` — ONE shuffle of
    * the exploded frame on the bucket key (no sort: the frame is the
    * whole partition), where the previous aggregate-then-join shape
    * shuffled the frame twice (once into the count aggregate, once
    * into the join). Measured on q_dedup_minhash_capped at sf0.1:
    * steady-state 1.06 → 0.95 s, mid trial 1.41 → 1.17 s (WindowExec
    * still sorts each partition on the keys, so the win is the saved
    * exchange, not the whole aggregate). The downstream self-join
    * shuffles on the same key and reuses this layout. */
  private def capBuckets(
      exploded: DataFrame, keyCols: Seq[String], cap: Option[Int]): DataFrame =
    cap match {
      case Some(n) =>
        val w = Window.partitionBy(keyCols.map(col): _*)
        exploded
          .withColumn("__bucket_n", count(lit(1)).over(w))
          .filter(col("__bucket_n") <= n)
          .drop("__bucket_n")
      case None => exploded
    }

  /** Exact duplicate groups by raw text: one row per distinct text
    * with the surviving (minimum) id and the multiplicity. A single
    * hash-aggregate shuffle on the dedup key; with map-side partial
    * aggregation this is the cheapest possible exact dedup. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup by canonical fingerprint (md5 of normalized text):
    * keeps the first row per fingerprint. Shuffles on the 16-byte
    * digest instead of full document text — at 100 TB that is the
    * difference between shuffling 100 TB and shuffling ~3 GB/billion
    * docs.
    *
    * Documented pre-step:
    * [[graft.functions.TextFunctions.normalizeText]] — the
    * fingerprint folds case and whitespace but NOT Unicode form, so
    * visually identical NFC/NFD strings hash apart unless the column
    * is normalized first (pinned by ExtensionSpec's
    * NFC-vs-NFD-collapse case). */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol).asc)
    df.withColumn("fp", fp)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** MinHash+LSH near-duplicate candidate pairs:
    * shingle → k-hash MinHash signature → `bands` bands of `k/bands`
    * rows → band-bucket self-join. Returns distinct (id_a < id_b)
    * pairs that collide in >=1 band, with their exact shingle-Jaccard
    * attached for threshold filtering.
    *
    * The signature is computed by the native [[graft.functions.MinHashSignature]]
    * expression (one tight loop, no per-hash array allocations); band
    * buckets use the codegen'd murmur `hash` builtin. The join is a
    * shuffle on (band index, band hash) — uniform by construction
    * unless the corpus shares boilerplate; cap pathological buckets
    * upstream by filtering near-empty docs.
    */
  /** (id, band_idx, band_hash) rows for every document — the LSH
    * candidate-generation key shared by the self-join
    * ([[minhashPairs]]) and cross-corpus ([[dedupAgainst]]) paths.
    * One pass: native tokenize+shingle+hash (ShingleHashes), the
    * MinHash signature over the pre-hashed shingles (no per-shingle
    * strings), then `bands` murmur band hashes exploded to rows. */
  private def bandExplode(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val sh = HashExpressions.shingleHashes(col(textCol), shingleN)
    df.select(
        col(idCol).as("id"),
        HashExpressions.minhashSignature(sh, numHashes).as("sig"))
      .select(
        col("id"),
        posexplode(array((0 until bands).map { j =>
          hash(slice(col("sig"), j * rowsPerBand + 1, rowsPerBand), lit(j))
        }: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Band-bucket size census — the observability behind the
    * `maxBucketSize` knob: the distribution of LSH bucket sizes
    * ((bucket_size, n_buckets) histogram rows), run BEFORE a
    * near-dup pass to see where the pair fan-out (Σ size²) would
    * come from and where to set the cap. Buckets key on the RAW
    * signature band slice (not its murmur band hash), so the census
    * is exactly the collision structure the oracle replays —
    * hash-collision-free by construction.
    *
    * Scale posture: same one-pass signature sweep as the dedup
    * operators, shuffling (band_idx, 4-long slice) pairs; two
    * map-side-combined aggregates; output is histogram-sized. */
  def bucketCensus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val sh = HashExpressions.shingleHashes(col(textCol), shingleN)
    df.select(col(idCol).as("id"),
        HashExpressions.minhashSignature(sh, numHashes).as("sig"))
      .select(posexplode(array((0 until bands).map { j =>
        slice(col("sig"), j * rowsPerBand + 1, rowsPerBand)
      }: _*)).as(Seq("band_idx", "bv")))
      .groupBy("band_idx", "bv").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
  }

  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.0,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // Candidate generation shuffles ONLY (id, band) pairs — never the
    // shingle arrays. At scale the banded self-join fan-out dominates;
    // keeping its payload to 24 bytes/row instead of the whole shingle
    // set is the difference between shuffling ids and shuffling the
    // corpus. Shingle sets are re-attached afterwards, for surviving
    // candidates only.
    // NOT materialized before the self-join (unlike [[hammingPairs]]):
    // measured at sf0.1, eagerly persisting the banded frame here costs
    // an extra job and replaces the broadcast self-join with a
    // sort-merge join, which outweighs the duplicated (cheap, codegen'd)
    // shingle→MinHash sweep. The hamming path differs because its
    // upstream (image/audio decode) is orders of magnitude more
    // expensive per row than xxhash shingling.
    val exploded0 = bandExplode(df, idCol, textCol, shingleN, numHashes, bands)
    val exploded = capBuckets(exploded0, Seq("band_idx", "band_hash"), maxBucketSize)

    val a = exploded.select(col("id").as("id_a"), col("band_idx"), col("band_hash"))
    val b = exploded.select(col("id").as("id_b"), col("band_idx"), col("band_hash"))
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // Exact-jaccard rescoring (over hashed shingles): shingle only the
    // candidate rows — the join prunes the text scan to surviving ids,
    // a tiny fraction of the corpus, so re-deriving shingle hashes
    // after the join is far cheaper than carrying or caching them
    // corpus-wide.
    val texts = df.select(col(idCol).as("id"), col(textCol).as("t"))
    val shA = HashExpressions.shingleHashes(col("t_a"), shingleN)
    val shB = HashExpressions.shingleHashes(col("t_b"), shingleN)
    val jaccard = (size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB)).cast("double"))
    candidates
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b")), "id_b")
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-duplicate pairs within `maxHamming` bits.
    * Candidate generation by the pigeonhole block trick: split the 64
    * bits into `maxHamming + 1` blocks — any pair within the radius
    * must agree exactly on >=1 block, so a self-join per block bucket
    * finds all of them without an all-pairs scan. Verification is the
    * codegen'd `bit_count(a ^ b)`.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame = {
    // 1-gram ShingleHashes = hashed token set, computed in one native pass
    val sim = HashExpressions.simhash64(HashExpressions.shingleHashes(col(textCol), 1))
    hammingPairs(df.select(col(idCol).as("id"), sim.as("simhash")),
      "id", "simhash", maxHamming, maxBucketSize)
  }

  /** Generic pigeonhole Hamming pairing over ANY 64-bit fingerprint
    * column — the candidate machinery [[simhashPairs]] always used,
    * factored out so other modalities reuse it (e.g. image aHashes
    * from [[graft.multimodal.Multimodal.extractImageHashes]]). Splits
    * each hash into `maxHamming + 1` blocks (two hashes within
    * Hamming h must agree on ≥ 1 block — the pigeonhole guarantee),
    * equi-joins on (block index, block value), verifies with
    * `bit_count`. Never a cross join; `maxBucketSize` caps
    * degenerate blocks (all-zero fingerprints are the classic
    * offender). */
  def hammingPairs(
      hashes: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val blocks = maxHamming + 1
    val blockBits = 64 / blocks
    val prep = hashes.select(col(idCol).as("id"), col(hashCol).as("__h"))

    val blockCols = (0 until blocks).map { j =>
      // block j = bits [j*blockBits, (j+1)*blockBits) (last takes the tail)
      val width = if (j == blocks - 1) 64 - j * blockBits else blockBits
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("__h"), j * blockBits).bitwiseAND(lit(mask)).as(s"blk$j")
    }
    val withBlocks = prep.select((col("id") +: col("__h") +: blockCols): _*)
    val exploded0 = withBlocks.select(
      col("id"), col("__h"),
      posexplode(array((0 until blocks).map(j => col(s"blk$j")): _*)).as(Seq("blk_idx", "blk_val")))
    // Same once-not-twice materialization as [[minhashPairs]]: the
    // self-join's two subtrees would otherwise each recompute the
    // upstream fingerprint pipeline — for the multimodal callers that
    // is a full PNG/WAV/MP4 build + real decoder pass per side
    // (measured: the whole image-dups plan ran the decode twice, once
    // under the BroadcastExchange). (id, hash, block) rows only.
    val exploded = Stage("hamming blocks", Stage.Persist(eager = true))(
      capBuckets(exploded0, Seq("blk_idx", "blk_val"), maxBucketSize))

    val a = exploded.select(col("id").as("id_a"), col("__h").as("h_a"),
      col("blk_idx"), col("blk_val"))
    val b = exploded.select(col("id").as("id_b"), col("__h").as("h_b"),
      col("blk_idx"), col("blk_val"))
    // Hamming verify BEFORE the pair-dedup: bit_count on the joined
    // row is nearly free, and rejected candidates then never enter
    // the dropDuplicates shuffle — the distinct carries only verified
    // pairs (hamming is a function of the pair, so filtering first
    // cannot change the surviving set).
    a.join(b, Seq("blk_idx", "blk_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  /** Edit-distance near-duplicate pairs: MinHash-LSH candidates
    * re-scored with exact Levenshtein distance — the fuzzy-matching
    * gate for short-to-medium fields (titles, names, template'd
    * docs). Levenshtein is O(|a|·|b|) PER PAIR: the LSH step is what
    * makes it feasible (bounded candidates, never all pairs), and on
    * long free text prefer the Jaccard rescore — distance grows with
    * length and the quadratic cost with it. Both engines' levenshtein
    * is the standard unit-cost DP, so the oracle matches exactly. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 10,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val texts = df.select(col(idCol).as("id"), col(textCol).as("t"))
    minhashPairs(df, idCol, textCol, shingleN, numHashes, bands,
      jaccardThreshold = 0.0, maxBucketSize = maxBucketSize)
      .select("id_a", "id_b")
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b")), "id_b")
      // exact pre-filter: a length difference of d needs >= d edits,
      // so pairs that can't pass skip the O(|a|·|b|) DP entirely —
      // results identical, the dominant per-pair cost avoided for
      // length-mismatched candidates
      .filter(abs(length(col("t_a")) - length(col("t_b"))) <= maxDistance)
      // threshold form: the DP banded to the bound — O(|a|·d) per
      // pair instead of O(|a|·|b|), returning -1 past the bound.
      // Distances WITHIN the bound are exact, so the plain-levenshtein
      // oracle + post-filter still matches hash-for-hash.
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDistance))
      .filter(col("dist") >= 0 && col("dist") <= maxDistance)
      .select("id_a", "id_b", "dist")
  }

  /** Character/word n-gram Jaccard similarity pairs — MinHash-LSH
    * candidates re-scored with exact n-gram Jaccard (the LSH step
    * bounds the pair count; the exact score removes LSH false
    * positives). */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    minhashPairs(df, idCol, textCol, shingleN = n, jaccardThreshold = threshold)

  /** One-time corpus index for INCREMENTAL dedup ([[dedupAgainst]]):
    * one row per (document, band) carrying the document's canonical
    * fingerprint and its LSH band bucket — everything a new batch
    * needs to probe the corpus without touching corpus text.
    *
    * Production shape at 100 TB: build this ONCE per corpus (one scan,
    * no join), write it bucketed by `(band_idx, band_hash)`
    * (TableIO.writeBucketed) — each daily batch's probe join then
    * shuffles only the batch side, and the corpus is never re-scanned,
    * re-shingled, or self-paired per batch. Appending a deduped batch
    * to the corpus appends its index rows the same way. */
  def corpusIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val sh = HashExpressions.shingleHashes(col(textCol), shingleN)
    corpus.select(
        col(idCol).as("id"),
        TextFunctions.fingerprint(col(textCol)).as("fp"),
        HashExpressions.minhashSignature(sh, numHashes).as("sig"))
      .select(
        col("id"), col("fp"),
        posexplode(array((0 until bands).map { j =>
          hash(slice(col("sig"), j * rowsPerBand + 1, rowsPerBand), lit(j))
        }: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Incremental / cross-corpus dedup — the daily-ingest shape: drop
    * every row of `newDf` that duplicates (exactly or nearly) a row
    * of `corpusDf`, WITHOUT ever pairing the corpus with itself.
    * Returns the surviving `newDf` rows unchanged (all columns).
    *
    * Two stages, mirroring the self-join operators:
    *   1. EXACT — left-anti join of the batch against the corpus's
    *      distinct canonical fingerprints (16-byte md5 keys): the
    *      overwhelmingly common case (verbatim re-crawls) dies here
    *      without shingling cost on either side.
    *   2. NEAR — the batch survivors' LSH band buckets probe the
    *      corpus index; band collisions are re-scored with exact
    *      shingle-Jaccard (corpus TEXT is read only for surviving
    *      candidates — a batch-sized fraction), and any match ≥
    *      `jaccardThreshold` drops the batch row.
    *
    * Pass a precomputed [[corpusIndex]] via `index` to make per-batch
    * corpus-side work O(probed buckets) instead of O(corpus): with it,
    * the corpus is signatured exactly once EVER, not once per batch
    * (ExtensionSpec pins that no signature expression is applied to
    * the corpus when an index is supplied). `maxBucketSize` caps
    * corpus-side mega-buckets (boilerplate) exactly like the
    * self-join operators.
    *
    * Within-batch duplicates are deliberately NOT removed — that is
    * [[minhashPairs]] + [[keepOnePerCluster]] composed on the batch,
    * a separate (and independently parameterized) decision. */
  def dedupAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.5,
      maxBucketSize: Option[Int] = None,
      index: Option[DataFrame] = None,
      pruneIndexToProbe: Boolean = false): DataFrame = {
    val idx = index.getOrElse(
      corpusIndex(corpusDf, idCol, textCol, shingleN, numHashes, bands))

    // stage 1: exact fingerprint anti-join (distinct corpus fps — the
    // index repeats each fp once per band; dedup to one 16-byte key).
    // With pruneIndexToProbe the STORE side is reduced FIRST by a
    // broadcast semi-join on the batch's own fingerprint set, so the
    // distinct shuffles only the matched survivors (batch-bounded)
    // instead of the whole corpus index — the O(batch) posture a
    // standing-store probe needs (a daily batch must never force a
    // corpus-sized Exchange; see [[graft.plans.IncrementalRelease]]).
    val fpd = newDf
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
    val idxFps =
      if (pruneIndexToProbe)
        idx.join(broadcast(fpd.select(col("__fp").as("fp")).distinct()),
          Seq("fp"), "left_semi")
      else idx
    val corpusFps = idxFps.select(col("fp").as("__fp")).distinct()
    val afterExact = fpd.join(corpusFps, Seq("__fp"), "left_anti")

    // stage 2: LSH probe of the corpus buckets by the batch survivors.
    // Texts for the rescore come from the ORIGINAL frame — afterExact
    // embeds the fingerprint anti-join, and sourcing the candidate
    // texts from it would execute that anti-join a second time
    // (candidates are already fp-survivors, so the original texts are
    // equivalent and cheaper)
    val matched = matchesCore(afterExact, newDf, corpusDf, idCol, textCol,
        shingleN, numHashes, bands, jaccardThreshold, maxBucketSize,
        index = Some(idx), pruneIndexToProbe = pruneIndexToProbe)
      .select("id")
      .distinct()
    afterExact
      .join(matched, afterExact(idCol) === matched("id"), "left_anti")
      .drop("__fp")
  }

  /** The matched (id, cid) PAIRS of [[dedupAgainst]]'s near stage —
    * for callers that need the corpus partner, not just survival (the
    * incremental release maps each dropped batch doc to its
    * from-scratch cluster representative through the partner id, so
    * the incremental ledger's `dup_of_` reasons replay a from-scratch
    * run's exactly). Same plan shape as [[dedupAgainst]]: batch band
    * buckets probe the (capped) corpus index with an equi-join, and
    * only surviving candidates' texts are joined for the exact-
    * Jaccard rescore. No exact-fingerprint stage — an identical text
    * collides in every band and rescores at jaccard 1, so exact dups
    * surface as pairs here too when not already removed upstream. */
  def dedupAgainstMatches(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.5,
      maxBucketSize: Option[Int] = None,
      index: Option[DataFrame] = None,
      pruneIndexToProbe: Boolean = false): DataFrame =
    matchesCore(newDf, newDf, corpusDf, idCol, textCol, shingleN,
      numHashes, bands, jaccardThreshold, maxBucketSize, index,
      pruneIndexToProbe)

  /** [[dedupAgainstMatches]] with the band-probe frame and the
    * rescore-text frame split: `bandDf` drives the bucket probe (it
    * may embed upstream filters), `textDf` supplies candidate texts
    * by id (a cheaper superset scan is fine — candidates restrict
    * it). */
  private def matchesCore(
      bandDf: DataFrame,
      textDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      jaccardThreshold: Double,
      maxBucketSize: Option[Int],
      index: Option[DataFrame],
      pruneIndexToProbe: Boolean = false): DataFrame = {
    val idx = index.getOrElse(
      corpusIndex(corpusDf, idCol, textCol, shingleN, numHashes, bands))
    // With pruneIndexToProbe the batch band frame feeds BOTH the
    // store-prune semi-join and the candidate equi-join — materialize
    // it once (batch-sized (id, band) rows) instead of paying the
    // batch signature sweep twice; single-consumer path stays lazy.
    val newBands0 = bandExplode(bandDf, idCol, textCol, shingleN, numHashes, bands)
    val newBands =
      if (pruneIndexToProbe)
        Stage("probe bands", Stage.Persist(eager = true))(newBands0)
      else newBands0
    // pruneIndexToProbe: reduce the (corpus-sized) index to the band
    // buckets the batch actually probes BEFORE the bucket-cap window —
    // a broadcast semi-join on the batch's distinct band keys, so
    // neither the cap's window nor the candidate equi-join ever
    // shuffles the store side. The semi-join keeps whole buckets, so
    // cap decisions on probed buckets are identical to the unpruned
    // form (pruned-away buckets are never probed) — pair output is
    // unchanged by construction. The batch-side band keys are
    // recomputed for the prune (one extra batch-sized signature sweep;
    // the corpus-sized Exchange it saves dominates at any real scale).
    val idxProbed =
      if (pruneIndexToProbe) prunedIndexProbe(idx, newBands)
      else idx
    val idxCapped = capBuckets(idxProbed, Seq("band_idx", "band_hash"), maxBucketSize)
    val candidates = newBands
      .join(idxCapped.select(col("id").as("cid"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select("id", "cid")
      .dropDuplicates("id", "cid")
    // exact-jaccard rescore: texts joined for surviving candidates only
    val newTexts = textDf.select(col(idCol).as("id"), col(textCol).as("t_n"))
    val corpusTexts = corpusDf.select(col(idCol).as("cid"), col(textCol).as("t_c"))
    val shN = HashExpressions.shingleHashes(col("t_n"), shingleN)
    val shC = HashExpressions.shingleHashes(col("t_c"), shingleN)
    val jaccard = (size(array_intersect(shN, shC)).cast("double") /
      size(array_union(shN, shC)).cast("double"))
    candidates
      .join(newTexts, "id")
      .join(corpusTexts, "cid")
      .filter(jaccard >= jaccardThreshold)
      .select("id", "cid")
  }

  /** The store-side probe prune of [[matchesCore]] — the PRODUCTION
    * expression (exposed so PlanGuardSpec pins THIS frame, not a
    * replica): the corpus-sized index reduced to the band buckets the
    * batch probes by a broadcast semi-join on the batch's distinct
    * band keys, BEFORE any window/equi-join can shuffle the store
    * side. */
  private[graft] def prunedIndexProbe(
      idx: DataFrame, newBands: DataFrame): DataFrame =
    idx.join(broadcast(
      newBands.select("band_idx", "band_hash").distinct()),
      Seq("band_idx", "band_hash"), "left_semi")

  /** Benchmark decontamination — flag corpus documents that share any
    * word `shingleN`-gram with an evaluation set (the standard
    * n-gram-overlap test-set-leakage check run before training).
    * Returns one row per contaminated corpus document with the number
    * of distinct shared shingle hashes (`n_shared` ≥ 1); anti-join the
    * result against the corpus to drop them.
    *
    * Scale posture: the eval side collapses to its DISTINCT shingle
    * hashes — benchmarks are tiny relative to a training corpus, so
    * that set broadcasts and the corpus-side explode never shuffles
    * for the probe: one broadcast-hash-join over exploded 8-byte
    * hashes, then one (doc_id)-keyed count aggregate over matches
    * only (a vanishing fraction of the corpus). Corpus text is
    * shingled by the same native [[HashExpressions.shingleHashes]]
    * sweep as the near-dup operators — hashes, never gram strings, on
    * the wire.
    *
    * Pass a precomputed [[evalShingleSet]] via `evalShingles` when
    * probing MANY batches against the same eval set (the streaming
    * path): the eval side is then shingled once ever, not once per
    * probe. */
  def contaminationMatches(
      corpus: DataFrame,
      evalDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      evalShingles: Option[DataFrame] = None): DataFrame = {
    val evalSh = evalShingles.getOrElse(evalShingleSet(evalDf, textCol, shingleN))
    corpus
      .select(col(idCol).as("doc_id"),
        explode(HashExpressions.shingleHashes(col(textCol), shingleN)).as("sh"))
      .join(broadcast(evalSh), "sh")
      // shingleHashes emits DISTINCT hashes per document, so this
      // count IS the distinct shared-shingle count — no extra dedup.
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Contamination SCRUBBING — the rewrite pass
    * [[contaminationMatches]] only detects: every word-`shingleN`-gram
    * window shared with the eval set marks its `shingleN` covered
    * token positions, covered tokens are removed, and each document
    * reassembles from its surviving tokens in order (one row per doc
    * that kept at least one token: id, clean_text, n_kept). The
    * production decontamination posture when dropping whole documents
    * is too lossy — benchmark text is excised, the surrounding
    * document survives.
    *
    * Matching is the same case-insensitive hash space as every
    * near-dup operator; the REBUILT text keeps the original token
    * case and single-space joins (whitespace is not preserved —
    * scrubbing operates on the tokenized view, the same contract as
    * [[stripRepeatedLines]]' trimmed lines). Documents shorter than
    * `shingleN` tokens match as their whole-text shingle and are
    * scrubbed entirely when shared.
    *
    * Scale posture: eval shingle sets are small (benchmarks, not
    * corpora) and broadcast; the corpus pays one positional-window
    * projection ([[HashExpressions.shingleHashesAll]], codegen'd),
    * the covered-position explode fans out only MATCHED windows, and
    * the one text-carrying shuffle is the per-document reassembly. */
  def scrubContamination(
      corpus: DataFrame,
      evalDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5): DataFrame =
    exciseHotSpans(corpus, broadcast(evalShingleSet(evalDf, textCol, shingleN)),
      idCol, textCol, shingleN)

  /** Self-corpus repeated-span EXCISION — the exact-substring-dedup
    * pass (Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"; RefinedWeb runs it after fuzzy dedup):
    * every word-`spanN`-gram window whose hash appears in at least
    * `minDocs` DISTINCT documents ([[duplicatedSpans]]' definition)
    * is excised from EVERY document, and documents reassemble from
    * surviving tokens in order — [[stripRepeatedLines]]' semantics at
    * span granularity, for boilerplate that does not respect line
    * breaks (templated sentences, license paragraphs reflowed into
    * prose, SEO chrome). Documents shorter than `spanN` tokens hash
    * as their whole text and drop out entirely when that text repeats
    * (pure-boilerplate docs, same contract as line dedup). Returns
    * (id, clean_text, n_kept); tokenized-view rebuild contract as
    * [[scrubContamination]].
    *
    * Scale posture: the hot set is the duplicated TAIL (hash-keyed
    * distinct-doc counts with map-side partials, `minDocs` filter
    * inside the aggregate), joined as a plain equi semi-join — NOT
    * force-broadcast like the eval probe, because a 100 TB crawl's
    * duplicated tail can exceed driver memory; AQE broadcasts it when
    * small. Only matched windows explode into covered positions; the
    * one text-carrying shuffle is the per-document reassembly. */
  def scrubRepeatedSpans(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      spanN: Int = 8,
      minDocs: Int = 2): DataFrame =
    exciseHotSpans(corpus,
      duplicatedSpans(corpus, textCol, spanN, minDocs)
        .select(col("span_hash").as("sh")),
      idCol, textCol, spanN)

  /** Shared excision tail: positional windows → hot semi-join →
    * covered-position expansion → token anti-join → ordered rebuild.
    * `hotSh` is a one-column (`sh`) frame of span hashes to excise;
    * the caller decides its broadcast posture. */
  private def exciseHotSpans(
      corpus: DataFrame,
      hotSh: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int): DataFrame = {
    val base = corpus
      .select(col(idCol), col(textCol),
        TextFunctions.tokenCount(col(textCol)).as("__nt"))
      .filter(col("__nt") > 0)
    val covered = base
      .select(col(idCol), col("__nt"),
        posexplode(HashExpressions.shingleHashesAll(col(textCol), shingleN))
          .as(Seq("__wpos", "sh")))
      .join(hotSh, Seq("sh"), "left_semi")
      .select(col(idCol), explode(sequence(col("__wpos").cast("long"),
        least(col("__wpos") + lit(shingleN - 1), col("__nt") - 1))).as("__pos"))
      .distinct()
    base
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__tok")))
      .withColumn("__pos", col("__pos").cast("long"))
      .join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          x => x("__tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** The eval set's distinct shingle hashes (column `sh`) — the
    * reusable probe side of [[contaminationMatches]]; persist it when
    * probing repeatedly (streaming / multi-batch decontamination). */
  def evalShingleSet(
      evalDf: DataFrame, textCol: String, shingleN: Int = 5): DataFrame =
    evalDf
      .select(explode(HashExpressions.shingleHashes(col(textCol), shingleN)).as("sh"))
      .distinct()

  /** Connected components over near-duplicate PAIRS — the dedup
    * endgame: pairs only say "a matches b"; keep-one-per-cluster
    * needs the transitive closure (a~b, b~c ⇒ one cluster {a,b,c}).
    * Returns one row per id that appears in any pair, labeled with
    * its component representative `rep` = the minimum id in the
    * component — deterministic, so the DuckDB oracle's recursive-CTE
    * closure reproduces it exactly.
    *
    * Spark-first construction: iterative min-label propagation with
    * pointer doubling — each pass takes the elementwise min across
    * edges, then composes labels through themselves, converging in
    * O(log diameter) passes of integer-key shuffles. Convergence is
    * detected by the exact label-sum invariant (labels only
    * decrease). Near-dup components are shallow in practice
    * (duplicates of a duplicate are duplicates); `maxIter` guards the
    * pathological chain and the operator THROWS if unconverged rather
    * than returning a silently incomplete clustering.
    *
    * Iteration state management: each pass's result is a
    * [[Stage.Persist]] cut ([[passCut]]) — cut loose from its
    * (otherwise exponentially nesting) logical plan, RDD lineage
    * intact and linear, so every block is recomputable after executor
    * loss (unlike a [[Stage.Local]] cut, whose truncated lineage makes
    * lost blocks fatal) and superseded passes are freed
    * ([[Stage.free]]) with no "cannot be recomputed" hazard. With
    * `checkpointDir` set, passes instead write reliable checkpoints
    * (`df.checkpoint()`) to that directory — the cluster-durability
    * option for long jobs on preemptible executors; checkpoint files
    * live until the application ends (or
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` reclaims
    * them).
    *
    * The RETURNED frame's backing blocks stay persisted so downstream
    * consumers (the keep-one-per-cluster join) read it warm; they are
    * freed with the enclosing [[Stage.scope]], or early by
    * [[Stage.free]] — the result stays valid (it recomputes from
    * lineage), the storage is just dropped.
    *
    * NOTE: being iterative, this EXECUTES during construction (the
    * result is a materialized scan, not a lazy plan) — budget it
    * like an action, not a transformation. */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // `eager` forces computation NOW — only needed when the next
    // consumer would otherwise read the frame twice in one job (the
    // union below); everywhere else the following aggregate action
    // materializes the persisted blocks on first touch with no extra
    // job.
    def cut(name: String, df: DataFrame, eager: Boolean = false): DataFrame =
      passCut(name, df, eager, checkpointDir)
    // Materialize the normalized pair set ONCE before the two-way
    // union: the upstream pair generation (an LSH self-join + rescore)
    // would otherwise execute twice, once per union branch.
    val normPairs = cut("cc pairs", pairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull), eager = true)
    // Static edge set, built once with two fusions baked in:
    //  - SELF-LOOPS (s,s) for every node: the per-pass neighbor-min
    //    aggregate then includes the node's own label, replacing the
    //    old separate least()-join-back against labels — one join +
    //    one aggregate per pass instead of two joins + one aggregate.
    //  - pre-partitioned by the join key `dst`, so every pass's
    //    edges-join-labels shuffles ONLY the labels side; the edge
    //    layout is computed once and reused from the persisted blocks
    //    (the Persist rebuild carries outputPartitioning).
    val edges = cut("cc edges", {
      val und = normPairs
        .union(normPairs.select(col("dst").as("src"), col("src").as("dst")))
      und.union(und.select(col("src"), col("src").as("dst")))
        .distinct()
        .repartition(col("dst"))
    })
    Stage.free(normPairs)
    var labels = cut("cc labels", edges.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id")))
    // Convergence via the label-sum invariant: every rep is
    // non-increasing, so the exact total (DECIMAL(38,0) — no long
    // overflow, no float drift) strictly decreases until fixpoint.
    // One cheap aggregate per pass instead of a join-and-count
    // against the previous labels.
    def repSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = repSum(labels)
    // zero pairs (clean corpus) => zero components. SUM over an empty
    // frame is NULL — doubling as the emptiness probe keeps init at
    // one job instead of an isEmpty take plus the sum.
    if (prevSum == null) {
      Stage.free(labels)
      Stage.free(edges)
      return labels.select("id", "rep")
    }
    var converged = false
    var i = 0
    try {
      while (!converged && i < maxIter) {
        // Fused neighbor-min: the self-loops in `edges` make the
        // min-over-neighbors aggregate include each node's own label,
        // so `least(rep, min(nrep))` and the join back to labels
        // collapse into this single join + aggregate.
        val stepped = cut("cc step", edges
          .join(labels.select(col("id").as("nid"), col("rep").as("nrep")),
            col("dst") === col("nid"))
          .groupBy("src").agg(min("nrep").as("rep"))
          .withColumnRenamed("src", "id"))
        // pointer doubling: compose rep through itself (rep(rep(v))) so
        // labels hop 2^k positions after k passes — convergence in
        // O(log diameter) passes instead of O(diameter), which is what
        // keeps long chains from serializing the whole job. `stepped`
        // is materialized so its two appearances in this self-join
        // compute the aggregate once (second stage reads the persisted
        // blocks) — previously it was lazy and the whole neighbor-min
        // pipeline ran twice per pass.
        val updated = cut("cc labels", stepped.as("a")
          .join(stepped.select(col("id").as("rid"), col("rep").as("rrep")),
            col("a.rep") === col("rid"), "left")
          .select(col("a.id").as("id"),
            coalesce(col("rrep"), col("a.rep")).as("rep")))
        val newSum = repSum(updated)
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
        Stage.free(stepped)
        Stage.free(labels) // superseded pass's blocks
        labels = updated
        i += 1
      }
    } finally {
      Stage.free(edges)
      if (!converged) Stage.free(labels) // throwing below — don't strand blocks
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter label-propagation passes " +
        "(component diameter exceeds maxIter) — raise maxIter")
    labels.select("id", "rep")
  }

  /** An iterative pass's cut: a [[Stage.Persist]] stage, or — under
    * the caller's `checkpointDir` — a reliable checkpoint, which stays
    * outside [[Stage]] because its files outlive any scope. */
  private[operators] def passCut(
      name: String, df: DataFrame, eager: Boolean,
      checkpointDir: Option[String]): DataFrame =
    if (checkpointDir.isDefined) df.checkpoint() // eager, durable, lineage-free
    else Stage(name, Stage.Persist(eager))(df)

  /** The dedup ENDGAME, composed end to end: given near-duplicate
    * pairs (from any of the candidate generators here), compute the
    * transitive closure and keep exactly one row per duplicate
    * cluster — the member with the minimum id — plus every row that
    * was never paired. One [[connectedComponents]] run + one
    * broadcast-friendly left-anti join against the (one row per
    * DROPPED duplicate) exclusion set; the corpus itself is never
    * shuffled.
    *
    * With `releaseAfter` (the default) the drop set — a single id
    * column, a small fraction of the already-small components
    * labeling — is materialized into its own persisted blocks and the
    * full components result is released IMMEDIATELY, so dropping the
    * returned frame without action strands at most the tiny drop set
    * (pass the result to [[Stage.free]] to free that too). Set it false
    * to keep the whole components labeling warm instead (e.g. when
    * the caller reuses the same closure for other joins) — then the
    * caller (or its [[Stage.scope]]) frees it. */
  def keepOnePerCluster(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      releaseAfter: Boolean = true): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB, maxIter, checkpointDir)
    val dropIds0 = comp.filter(col("id") =!= col("rep")).select(col("id"))
    val dropIds =
      if (releaseAfter) {
        val materialized = Stage("cc drop ids", Stage.Persist(eager = true))(dropIds0)
        Stage.free(comp)
        materialized
      } else dropIds0
    df.join(dropIds, df(idCol) === dropIds("id"), "left_anti")
  }

  /** [[keepOnePerCluster]]'s quality-aware sibling — the survivor
    * policy real pipelines actually want: per duplicate cluster keep
    * the member with the HIGHEST `score` (ties on minimum id — a
    * total order when the score column is computed identically on
    * both sides, as every graft score is), drop the rest, pass every
    * never-paired row through.
    *
    * Scale posture: scoring joins the CLUSTER LABELING (duplicate-
    * cluster-sized, broadcast) against one corpus projection, so the
    * per-cluster window runs over clustered rows only; the corpus
    * pays one scan plus the same broadcast left-anti drop-set join
    * as [[keepOnePerCluster]] — it is never shuffled. */
  def keepBestPerCluster(
      df: DataFrame,
      idCol: String,
      score: Column,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val comp = connectedComponents(pairs, idA, idB, maxIter, checkpointDir)
    val scored = df.select(col(idCol).as("id"), score.as("__score"))
      .join(broadcast(comp), "id")
    val w = Window.partitionBy(col("rep"))
      .orderBy(col("__score").desc, col("id").asc)
    val dropIds0 = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col("id"))
    val dropIds = {
      val materialized = Stage("cc drop ids", Stage.Persist(eager = true))(dropIds0)
      Stage.free(comp)
      materialized
    }
    df.join(dropIds, df(idCol) === dropIds("id"), "left_anti")
  }

  /** Embedding-space [[dedupAgainst]] — incremental near-dup removal
    * for the vector modality: drop every `newDf` row whose embedding
    * is within cosine `threshold` of ANY corpus row, without pairing
    * the corpus with itself. Sign-LSH bucket probe (same hyperplanes
    * as [[embeddingNearDupPairs]]) + exact cosine on bucket
    * collisions only; `maxBucketSize` caps corpus-side mega-buckets
    * (zero/degenerate vectors are the classic offender). Returns the
    * surviving `newDf` rows unchanged. The production shape mirrors
    * the text path: persist the corpus's (id, bucket, norm, vec)
    * projection bucketed by `bucket` and each batch's probe join
    * shuffles only the batch. */
  def embeddingDedupAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      numPlanes: Int = 10,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Option[Int] = None,
      index: Option[DataFrame] = None): DataFrame = {
    val planes = SimilarityFunctions.hyperplanes(numPlanes, dim, seed)
    val cIdx = capBuckets(
      index.getOrElse(
        embeddingCorpusIndex(corpusDf, idCol, vecCol, numPlanes, dim, seed)),
      Seq("bucket"), maxBucketSize)
    val nSide = newDf.select(col(idCol).as("id"), col(vecCol).as("nvec"),
      SimilarityFunctions.norm(col(vecCol)).as("nnrm"),
      SimilarityFunctions.lshBucket(col(vecCol), planes).as("bucket"))
    val denom = col("nnrm") * col("cnrm")
    val matched = nSide.join(cIdx, Seq("bucket"))
      .withColumn("cosine",
        when(denom > 0.0,
          SimilarityFunctions.dot(col("nvec"), col("cvec")) / denom)
          .otherwise(lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select("id")
      .distinct()
    newDf.join(matched, newDf(idCol) === matched("id"), "left_anti")
  }

  /** The corpus-side projection [[embeddingDedupAgainst]] probes:
    * (cid, cvec, cnrm, bucket). Build ONCE and persist (or write to
    * parquet bucketed by `bucket`) when the same corpus serves many
    * batches — e.g. as a frozen side of
    * [[graft.streaming.StreamOps.eachBatch]] — so the corpus is never
    * re-projected per batch. */
  def embeddingCorpusIndex(
      corpusDf: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int = 10,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = SimilarityFunctions.hyperplanes(numPlanes, dim, seed)
    corpusDf.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      SimilarityFunctions.norm(col(vecCol)).as("cnrm"),
      SimilarityFunctions.lshBucket(col(vecCol), planes).as("bucket"))
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucket join, then
    * exact cosine filter. `numPlanes` trades recall vs bucket size
    * (2^numPlanes expected buckets). */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      numPlanes: Int = 10,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val planes = SimilarityFunctions.hyperplanes(numPlanes, dim, seed)
    // norms computed once per row before the bucket join, not once per pair
    val prep = capBuckets(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        SimilarityFunctions.norm(col(vecCol)).as("nrm"),
        SimilarityFunctions.lshBucket(col(vecCol), planes).as("bucket")),
      Seq("bucket"), maxBucketSize)
    val a = prep.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("bucket"))
    val b = prep.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("bucket"))
    val denom = col("nrm_a") * col("nrm_b")
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(denom > 0.0,
          SimilarityFunctions.dot(col("vec_a"), col("vec_b")) / denom)
          .otherwise(lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Semantic near-duplicate pairs, SemDeDup-shaped (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): candidate generation is k-means
    * CLUSTER-scoped instead of LSH-bucket-scoped — every vector
    * cell-assigns to its nearest centroid (FROZEN, caller-trained,
    * e.g. [[graft.operators.Similarity.kmeansCentroidsDistributed]]),
    * pairs are emitted only within a cell, and exact cosine ≥
    * `threshold` decides. Versus [[embeddingNearDupPairs]]: LSH
    * buckets fracture a dense semantic neighborhood across 2^planes
    * buckets (high precision, recall capped by bucket granularity);
    * k-means cells follow the data's own density, which is exactly
    * the paper's point — semantic duplicates concentrate inside
    * clusters. Compose with [[connectedComponents]] +
    * [[keepOnePerCluster]] for the keep-one policy, like the LSH
    * pair generators.
    *
    * Scale posture: one scan cell-assigns (closure UDF, no shuffle),
    * the self-join is an EQUI-join on the cell id, `maxClusterSize`
    * caps pathological mega-cells (same discipline and same
    * [[capBuckets]] implementation as every other pair generator —
    * raise `nlist` to shrink cells before reaching for the cap). */
  def semanticNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double = 0.9,
      maxClusterSize: Option[Int] = None): DataFrame = {
    require(centroids.nonEmpty, "no centroids")
    val prep = capBuckets(
      df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        SimilarityFunctions.norm(col(vecCol)).as("nrm"),
        Similarity.assignCellUdf(centroids)(col(vecCol)).as("cell")),
      Seq("cell"), maxClusterSize)
    val a = prep.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"), col("cell"))
    val b = prep.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"), col("cell"))
    val denom = col("nrm_a") * col("nrm_b")
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(denom > 0.0,
          SimilarityFunctions.dot(col("vec_a"), col("vec_b")) / denom)
          .otherwise(lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Incremental [[semanticNearDupPairs]] — drop every `newDf` row
    * whose embedding is within cosine `threshold` of ANY corpus row
    * IN ITS k-means cell (frozen centroids), without pairing the
    * corpus with itself: the SemDeDup twin of
    * [[embeddingDedupAgainst]], for pipelines whose standing corpus
    * is already cell-partitioned (e.g. a persisted
    * [[graft.sources.AnnIndex]] plain-IVF table — its `assigned`
    * table IS this join's corpus side, stored bucketed by cell, so
    * the probe shuffles only the batch). Returns surviving `newDf`
    * rows unchanged. */
  def semanticDedupAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      threshold: Double = 0.9,
      maxClusterSize: Option[Int] = None,
      index: Option[DataFrame] = None): DataFrame = {
    require(centroids.nonEmpty, "no centroids")
    val cIdx = capBuckets(
      index.getOrElse(semanticCorpusIndex(corpusDf, idCol, vecCol, centroids)),
      Seq("cell"), maxClusterSize)
    val nSide = newDf.select(col(idCol).as("id"), col(vecCol).as("nvec"),
      SimilarityFunctions.norm(col(vecCol)).as("nnrm"),
      Similarity.assignCellUdf(centroids)(col(vecCol)).as("cell"))
    val denom = col("nnrm") * col("cnrm")
    val matched = nSide.join(cIdx, Seq("cell"))
      .withColumn("cosine",
        when(denom > 0.0,
          SimilarityFunctions.dot(col("nvec"), col("cvec")) / denom)
          .otherwise(lit(0.0)))
      .filter(col("cosine") >= threshold)
      .select("id")
      .distinct()
    newDf.join(matched, newDf(idCol) === matched("id"), "left_anti")
  }

  /** [[semanticDedupAgainst]]'s corpus-side projection:
    * (cid, cvec, cnrm, cell) under the FROZEN centroids — the same
    * shape as a persisted [[graft.sources.AnnIndex]] plain-IVF
    * `assigned` table plus the norm. Build once per corpus. */
  def semanticCorpusIndex(
      corpusDf: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "no centroids")
    corpusDf.select(col(idCol).as("cid"), col(vecCol).as("cvec"),
      SimilarityFunctions.norm(col(vecCol)).as("cnrm"),
      Similarity.assignCellUdf(centroids)(col(vecCol)).as("cell"))
  }

  /** Bloom-prefiltered exact incremental dedup — the cheapest daily-
    * ingest gate: drop batch rows whose canonical fingerprint
    * ([[TextFunctions.fingerprint]]) already exists in the standing
    * corpus, with NO corpus shuffle anywhere in the plan.
    *
    * A plain fingerprint anti-join repartitions BOTH sides on the
    * 16-byte key — at 100 TB that shuffles the whole corpus to answer
    * a question that is "no" for almost every batch row. Instead:
    *  1. the corpus folds into a Bloom filter over its fingerprints
    *     (one `treeAggregate` scan, fixed memory, mergeable partials);
    *  2. the batch probes the broadcast filter — bloom-NEGATIVE rows
    *     are definitively new (no false negatives) and skip the join
    *     entirely; the surviving candidate fingerprints are the true
    *     duplicates plus an `fpp` fraction of the batch;
    *  3. that tiny candidate set broadcasts INTO a corpus-side
    *     left-semi probe (corpus scanned map-side, never shuffled) to
    *     confirm which candidates really exist, and the confirmed set
    *     broadcasts back for the final batch-side anti-join.
    * The result is EXACTLY the anti-join's answer (false positives
    * are weeded out in step 3), which is what lets the DuckDB oracle
    * gate it with plain SQL; the bloom parameters affect cost only.
    *
    * Pass a precomputed `bloom` (from [[corpusBloom]], persisted
    * across batches) and the corpus is scanned once per batch — or
    * zero times when the confirm probe reads a compacted fingerprint
    * table instead of raw text. */
  def bloomDedupAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      expectedItems: Long = 1L << 20,
      fpp: Double = 0.01,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame = {
    val corpusFps = corpusDf.select(TextFunctions.fingerprint(col(textCol)).as("__fp"))
    val filter = bloom.getOrElse(corpusBloom(corpusDf, textCol, expectedItems, fpp))
    val bc = newDf.sparkSession.sparkContext.broadcast(filter)
    // UDF rationale: Spark's BloomFilterMightContain expression is
    // internal to runtime join filtering — functions._ exposes no
    // sketch probe — so a deterministic Scala UDF is the only route.
    // It is a per-row bit probe on an already-computed fingerprint,
    // off every aggregate hot path.
    val mightContain = udf((s: String) => s != null && bc.value.mightContainString(s))
    val withFp = newDf.withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
    val candidateFps = withFp
      .filter(mightContain(col("__fp")))
      .select("__fp")
      .distinct()
    // Corpus-side confirm: broadcast the candidates, semi-probe the
    // corpus map-side; `hits` is at most the candidate set.
    val hits = corpusFps
      .join(broadcast(candidateFps), Seq("__fp"), "left_semi")
      .distinct()
    // One batch-side anti-join against the broadcast confirmed set
    // handles bloom-negatives (never in `hits`) and bloom false
    // positives (probed, not confirmed) alike.
    withFp
      .join(broadcast(hits), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** The corpus fingerprint Bloom filter for [[bloomDedupAgainst]] —
    * build once, persist, reuse across every daily batch. Size
    * `expectedItems` at the corpus cardinality: ~9.6 bits/item at
    * fpp=0.01 puts a billion-document corpus at ~1.2 GB, a broadcast
    * a 1000-executor cluster handles routinely. */
  def corpusBloom(
      corpusDf: DataFrame,
      textCol: String,
      expectedItems: Long = 1L << 20,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    corpusDf.select(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .stat.bloomFilter("__fp", expectedItems, fpp)

  /** Per-document content-defined chunks: one row per (id, chunk
    * index, chunk hash) from [[HashExpressions.cdcChunkHashes]] — the
    * storable chunk index for chunk-level dedup and partial-overlap
    * lookups. Pure projection + explode; text never shuffles. */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maskBits: Int = 5): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(HashExpressions.cdcChunkHashes(col(textCol), maskBits))
          .as(Seq("chunk_idx", "chunk_hash")))

  /** Partial-duplicate document pairs via content-defined chunking:
    * documents sharing at least `minShared` distinct CDC chunks —
    * catches the re-crawl/quote/template overlaps that whole-document
    * near-dup misses when the surrounding text differs, because CDC
    * boundaries align on the shared passage regardless of what
    * precedes it.
    *
    * Scale posture: the same bucketed-candidate shape as every other
    * near-dup operator — a self-join on the 8-byte chunk hash (per-doc
    * DISTINCT chunks, so pair counts are distinct-overlap counts),
    * with [[capBuckets]] available for chunks shared corpus-wide
    * (boilerplate passages — the quadratic hazard, same knob as
    * minhash's `maxBucketSize`), then one pair-keyed count aggregate. */
  def cdcChunkPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maskBits: Int = 5,
      minShared: Int = 1,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, maskBits)
      .select("id", "chunk_hash").distinct()
    val capped = capBuckets(chunks, Seq("chunk_hash"), maxBucketSize)
    val a = capped.select(col("id").as("id_a"), col("chunk_hash"))
    val b = capped.select(col("id").as("id_b"), col("chunk_hash"))
    a.join(b, Seq("chunk_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_chunks"))
      .filter(col("n_shared_chunks") >= minShared)
  }

  /** Incremental partial-duplicate detection — [[cdcChunkPairs]]'s
    * cross-corpus form, completing the incremental family (exact
    * [[bloomDedupAgainst]], minhash [[dedupAgainst]], embedding
    * [[embeddingDedupAgainst]]): batch documents sharing at least
    * `minShared` distinct CDC chunks with ANY corpus document, as
    * (id, cid, n_shared) match rows. The corpus side is its (id,
    * chunk_hash) index — pass a precomputed/persisted one via
    * `index` and per-batch corpus work is the hash join probe alone,
    * never a re-chunking; `maxBucketSize` caps corpus-wide
    * boilerplate chunks before the join, exactly like the self-join
    * variant. */
  def cdcChunkPairsAgainst(
      newDf: DataFrame,
      corpusDf: DataFrame,
      idCol: String,
      textCol: String,
      maskBits: Int = 5,
      minShared: Int = 1,
      maxBucketSize: Option[Int] = None,
      index: Option[DataFrame] = None): DataFrame = {
    val corpusChunks = capBuckets(
      index.getOrElse(
        cdcChunks(corpusDf, idCol, textCol, maskBits)
          .select(col("id"), col("chunk_hash")).distinct())
        .select(col("id").as("cid"), col("chunk_hash")),
      Seq("chunk_hash"), maxBucketSize)
    cdcChunks(newDf, idCol, textCol, maskBits)
      .select("id", "chunk_hash").distinct()
      .join(corpusChunks, Seq("chunk_hash"))
      .groupBy("id", "cid")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: documents where
    * |shingles(A) ∩ shingles(B)| / min(|A|, |B|) ≥ `threshold` —
    * the quote/subset detector. Jaccard normalizes by the UNION, so a
    * small document quoted inside a large one scores near zero and
    * minhash-LSH (tuned for Jaccard) rarely even surfaces the pair;
    * containment normalizes by the smaller side and flags it.
    *
    * Candidate generation is a self-join on the raw 8-byte shingle
    * hash (per-doc DISTINCT — [[HashExpressions.shingleHashes]]),
    * which is broader than banded minhash ON PURPOSE: containment
    * candidates must include any-shared-shingle pairs. That makes
    * [[capBuckets]]'s `maxBucketSize` the load-bearing knob here —
    * corpus-wide shingles (stopword runs, boilerplate) are exactly
    * the buckets the cap exists to drop — and the pair aggregate
    * counts only surviving collisions. Returns (id_a, id_b,
    * n_shared, containment) with containment = shared/min-size. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 5,
      threshold: Double = 0.8,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      HashExpressions.shingleHashes(col(textCol), shingleN).as("sh"))
    val sizes = base.select(col("id"), size(col("sh")).cast("long").as("n_sh"))
    val exploded = capBuckets(
      base.select(col("id"), explode(col("sh")).as("h")), Seq("h"), maxBucketSize)
    val a = exploded.select(col("id").as("id_a"), col("h"))
    val b = exploded.select(col("id").as("id_b"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_shared", "containment")
  }

  /** Append a new batch to a standing MinHash+LSH [[corpusIndex]] —
    * the daily index-maintenance step that keeps [[dedupAgainst]]'s
    * per-batch corpus work at O(probed buckets) FOREVER: signature
    * the (already-deduped) new rows once, union onto the stored
    * index, write back. Pure union of (id, band, hash, fp) rows —
    * no shuffle beyond the new batch's own signatures. */
  def appendToIndex(
      index: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    index.unionByName(
      corpusIndex(newDf, idCol, textCol, shingleN, numHashes, bands))

  /** Cross-document duplicated-span census — the exact-substring
    * contamination sweep (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better") at word-`spanN`-gram granularity:
    * every span hash appearing in at least `minDocs` DISTINCT
    * documents, with its document frequency. The boilerplate
    * detector: spans shared by thousands of documents are templates,
    * licenses, and navigation chrome.
    *
    * [[HashExpressions.shingleHashes]] emits DISTINCT hashes per
    * document, so a plain `count(*)` per hash IS the document
    * frequency — one native hashing pass over the scan, one explode,
    * one hash-aggregate shuffle of 8-byte keys with map-side
    * partials. Text never leaves the scan stage, and the `minDocs`
    * filter runs inside the aggregate's output — the result is the
    * (tiny) duplicated tail, not the corpus-sized full census. */
  def duplicatedSpans(
      df: DataFrame,
      textCol: String,
      spanN: Int = 8,
      minDocs: Int = 2): DataFrame =
    df.select(explode(HashExpressions.shingleHashes(col(textCol), spanN)).as("span_hash"))
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Cross-document line-level dedup — the RefinedWeb/CCNet "line
    * dedup" pass that [[duplicatedSpans]] only DETECTS: a line
    * (delimiter-separated segment, trimmed, empties dropped) that
    * appears in at least `minDocFreq` DISTINCT documents is
    * boilerplate (headers, navigation, license blocks) and is removed
    * from EVERY document; each document is then reassembled from its
    * surviving lines in original order. Returns one row per document
    * that kept at least one line: (id, clean_text, n_kept) —
    * documents whose every line was shared drop out entirely (they
    * were pure boilerplate).
    *
    * Scale posture: lines shuffle ON THEIR 64-BIT HASH, never the
    * line text — the document-frequency aggregate is a hash-keyed
    * count-distinct with map-side partials, and the removal is a
    * hash-keyed LEFT ANTI join (AQE broadcasts the hot set when it is
    * small, which at web scale it is: lines with df ≥ K are the tiny
    * duplicated tail). The only text-carrying shuffle is the final
    * per-document reassembly, keyed by the document id — the same
    * volume as the input corpus, once. Hash collisions can delete an
    * innocent line; at 64 bits that is the same accepted trade as
    * [[exactByFingerprint]]. */
  def stripRepeatedLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocFreq: Int = 2,
      delim: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val lines = explodeLines(df, idCol, textCol, delim)
    val hot = lines
      .groupBy(col("__lh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__lh")
    reassembleLines(lines.join(hot, Seq("__lh"), "left_anti"), idCol, delim)
  }

  /** (id, __pos, __line, __lh) per trimmed non-empty line. */
  private def explodeLines(
      df: DataFrame, idCol: String, textCol: String, delim: String): DataFrame =
    df.select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(delim))).as(Seq("__pos", "__line")))
      .withColumn("__line", trim(col("__line")))
      .filter(length(col("__line")) > 0)
      .withColumn("__lh", xxhash64(col("__line")))

  /** Rebuild (id, clean_text, n_kept) from surviving exploded lines. */
  private def reassembleLines(
      kept: DataFrame, idCol: String, delim: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(
        concat_ws(delim, transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x("__line"))).as("clean_text"),
        count(lit(1)).as("n_kept"))

  /** One-pass dedup diagnostics bundle: the [[connectedComponents]]
    * labeling computed ONCE and every downstream view derived from
    * it. `components` is the raw (id, rep) labeling (persisted — the
    * caller calls [[Stage.free]] when done), `clusterSizes` one row per
    * duplicate cluster (rep = the keep-min-id survivor, n_members),
    * `survivors` the corpus minus dropped duplicates (identical to
    * [[keepOnePerCluster]]).
    *
    * This closes the "census + components + keep-one each regenerate
    * the pairs" composition cost: the pair generation (usually an
    * LSH self-join + rescore, the expensive part) executes exactly
    * once, inside the closure's eager edge materialization; the three
    * views are cheap aggregates/anti-joins over the persisted
    * labeling. */
  case class DedupDiagnostics(
      components: DataFrame,
      clusterSizes: DataFrame,
      survivors: DataFrame)

  def dedupDiagnostics(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DedupDiagnostics = {
    val comp = connectedComponents(pairs, idA, idB, maxIter, checkpointDir)
    val sizes = comp.groupBy(col("rep"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("rep").as("survivor_id"), col("n_members"))
    // alias the drop-set id: when the caller's idCol is literally
    // "id" (simhashPairs et al. emit `id`), an unaliased col("id")
    // is ambiguous between df and the components frame and the join
    // throws AnalysisException
    val survivors = df.join(
      comp.filter(col("id") =!= col("rep"))
        .select(col("id").as("__dup_id")),
      df(idCol) === col("__dup_id"), "left_anti")
    DedupDiagnostics(comp, sizes, survivors)
  }

  /** Reusable line document-frequency index for INCREMENTAL line
    * dedup — the same build-once/probe-many shape as [[corpusIndex]]:
    * one row per distinct line hash with its corpus document
    * frequency. Persist it, union new batches' indexes in (df counts
    * ADD per hash — the same counter-addition closure as cmsMerge),
    * probe with [[stripRepeatedLinesAgainst]]. */
  def lineIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n"): DataFrame =
    explodeLines(df, idCol, textCol, delim)
      .groupBy(col("__lh"))
      .agg(countDistinct(col(idCol)).as("line_df"))
      .select(col("__lh").as("line_hash"), col("line_df"))

  /** The FORGETTABLE granularity of the line index: one row per
    * distinct (document, line hash) pair — the per-document
    * provenance [[lineIndex]]'s aggregated (line_hash, line_df) form
    * throws away. A persisted index that must honor
    * right-to-be-forgotten deletes ([[graft.sources.DedupIndexStore]])
    * stores THIS shape: subtracting a document is an id anti-join,
    * and the df aggregate is recovered exactly at read time
    * (`count(*)` per hash ≡ `countDistinct(id)` when every document
    * appears in exactly one stored segment — the same append-only
    * ingest contract [[lineIndexMerge]] already requires). The
    * provenance rows are the price of exact deletion: O(lines) ids
    * instead of O(distinct lines) counters — still hash-keyed 16-byte
    * rows, never line text. */
  def lineProvenance(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n"): DataFrame =
    explodeLines(df, idCol, textCol, delim)
      .select(col(idCol).cast("long").as("id"), col("__lh").as("line_hash"))
      .distinct()

  /** Union per-batch [[lineIndex]] tables into one corpus index —
    * document-frequency ADDITION per line hash, which equals the
    * whole-corpus [[lineIndex]] exactly when every document appears
    * in exactly one batch (the append-only ingest contract; the same
    * counter-addition closure as `Profile.cmsMerge`, and the closure
    * StreamingSpec's per-batch [[graft.streaming.StreamOps.publishBatch]]
    * parity case gates). */
  def lineIndexMerge(parts: DataFrame): DataFrame =
    parts.groupBy(col("line_hash"))
      .agg(sum(col("line_df")).as("line_df"))

  /** Strip lines from a NEW BATCH that the CORPUS already marks as
    * boilerplate (corpus document frequency ≥ `minDocFreq`) — the
    * daily-ingest twin of [[stripRepeatedLines]]: O(batch) work
    * against a prebuilt [[lineIndex]], history never rescanned.
    * Within-batch repetition is deliberately NOT counted here (run
    * [[stripRepeatedLines]] on the batch first when that matters —
    * the two compose).
    *
    * Scale posture: the hot set (index rows at df ≥ K — the tiny
    * duplicated tail) anti-joins the batch's hashed lines; the only
    * text shuffle is the batch-sized reassembly. */
  def stripRepeatedLinesAgainst(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      minDocFreq: Int = 2,
      delim: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val hot = index.filter(col("line_df") >= minDocFreq)
      .select(col("line_hash").as("__lh"))
    reassembleLines(
      explodeLines(batch, idCol, textCol, delim)
        .join(hot, Seq("__lh"), "left_anti"),
      idCol, delim)
  }
}
