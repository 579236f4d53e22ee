package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.operators.{Classifier, Dedup, Search, Similarity, Stage}
import graft.operators.Stage.{Local, Persist}
import Catalog.{Q, pq}

/** The LLM-training-data-pipeline operators (north-star extensions,
  * SURVEY.md §7.5): dedup, similarity search, text analysis,
  * multimodal plumbing — each a [[CatalogEntry]] over the
  * `documents`/`embeddings` fixtures, carrying its DuckDB oracle — the
  * vector queries' double-fold arithmetic and seeded LSH hyperplanes
  * are mirrored bit-exactly in generated SQL, and the FNV/SplitMix64
  * near-dup queries (minhash/simhash/ngram) are replayed hash-for-hash
  * via [[HashSql]].
  */
object ExtensionQueries {

  /** events with `ts` normalized to a UTC-session TIMESTAMP regardless
    * of the generator's physical parquet type — see
    * [[ParityQueries.events]] for the nanos-vs-micros story. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    ParityQueries.events(spark, dir)

  // ------------------------------------------------------------ text analysis

  private val qTextStats: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.meanTokenLen(col("text")).as("mean_token_len"),
      TextFunctions.fingerprint(col("text")).as("fp"))

  private val qTextLangid: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.langId(col("text")).as("lang_pred"))

  private val qTextSubwords: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.subwordCount(col("text")).as("n_subwords"))

  /** Real BPE vocabulary training — 8 merge rounds over the corpus
    * word table ([[graft.operators.Bpe.train]]; the learned merge
    * table replaces [[qTextSubwords]]'s regex proxy as the actual
    * tokenizer-training artifact). The oracle unrolls the 8 rounds as
    * chained DuckDB CTEs — the PageRank replay technique — each stage
    * recomputing the argmax pair and re-merging with `replace`'s
    * shared left-to-right non-overlapping semantics. */
  private val qTextBpe: Q = (s, dir) =>
    graft.operators.Bpe.train(pq(s, dir, "documents"), "text", numMerges = 8)

  /** The inference half of BPE — every corpus word with its subword
    * segmentation after the 8 learned merges
    * ([[graft.operators.Bpe.trainAndSegment]]). Oracle: the SAME
    * unrolled CTE chain as [[qTextBpe]], read out at the final word
    * state `w8` instead of the merge rows — one oracle program
    * continuously proving both halves agree. */
  private val qTextBpeSegment: Q = (s, dir) =>
    graft.operators.Bpe.trainAndSegment(pq(s, dir, "documents"), "text", numMerges = 8)

  private val qTextVocab: Q = (s, dir) =>
    TextFunctions.vocabulary(pq(s, dir, "documents"), "doc_id", "text", k = 50)

  /** Per-document OOV rate against the corpus's own top-20 vocabulary
    * (stand-in for a tokenizer vocab): the top-k collect is bounded
    * and deterministic (freq desc, token asc), the scoring pass a
    * zero-shuffle projection. */
  private val qTextOov: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val vocab = TextFunctions.vocabulary(docs, "doc_id", "text", k = 20)
      .select("token").collect().map(_.getString(0)).toSeq.sorted
    TextFunctions.oovRate(docs, "doc_id", "text", vocab)
  }

  /** PII redaction over the corpus. The fixture is synthetic prose,
    * so each row is suffixed with a BUILT payload derived from its
    * doc_id that exercises every redaction class — email, phone,
    * IPv4, IPv6, SSN-shape, card-shape, bare digit-run — and the
    * oracle constructs the identical payload and applies the
    * identical RE2-safe pattern chain (same order), so every class
    * is hash-gated on real matches, not just pass-through prose. */
  private val qTextRedact: Q = (s, dir) => {
    val last4 = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
    val pii = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      lit(" tel +1 (555) 010-"), last4,
      lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"),
      lit(" v6 2001:db8::"), (col("doc_id") % 9999).cast("string"),
      lit(" ssn 123-45-"), last4,
      lit(" card 4111 1111 1111 "), last4,
      lit(" acct 00"), lpad((col("doc_id") % 100000000).cast("string"), 8, "0"))
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.redact(pii).as("clean_text"))
  }

  /** Mixed-Unicode-form probe appended to each document for
    * q_text_normalize: NFD sequences that NFC must compose
    * (e+U+0301 → é, A+U+030A → Å), one pre-composed é (already-NFC
    * identity path), and control chars the strip must remove. Built
    * from CODEPOINTS on both sides — Spark chars here, `chr()` calls
    * in the DuckDB mirror — so the JSON-dumped oracle SQL stays pure
    * ASCII and no serialization layer can re-normalize the fixture
    * out from under the test. */
  private val normProbe: Seq[Either[String, Int]] = Seq(
    Left(" Cafe"), Right(0x301),
    Left(" A"), Right(0x30A), Left("ngstrom"),
    Left(" d"), Right(0xe9), Left("j"), Right(0xe0), // pre-composed déjà
    Right(0x1), Left(" ctl"), Right(0x7f), Left(" end"))
  private val normProbeStr: String = normProbe.map {
    case Left(s) => s
    case Right(cp) => new String(Character.toChars(cp))
  }.mkString
  private val normProbeSql: String = normProbe.map {
    case Left(s) => s"'$s'"
    case Right(cp) => s"chr($cp)"
  }.mkString(" || ")

  /** Unicode normalization (NFC) + control strip over a payload that
    * mixes NFD, pre-composed, and control-bearing text — the
    * front-of-pipeline canonicalization every downstream text op
    * assumes (see [[TextFunctions.normalizeText]]). Oracled against
    * DuckDB's `nfc_normalize` over the codepoint-identical payload;
    * n_clean makes the hash sensitive to composition (NFD probes
    * LOSE length under NFC). */
  private val qTextNormalize: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.normalizeText(concat(col("text"), lit(normProbeStr)))
        .as("clean_text"))
      .withColumn("n_clean", length(col("clean_text")).cast("bigint"))

  /** HTML/markup boilerplate strip over a built page (script/style/
    * comment blocks, tags, entities around each document's text) —
    * the raw-crawl-to-prose step feeding quality scoring and dedup.
    * Replayed in DuckDB from the SAME pattern/replacement constants
    * ([[TextFunctions.boilerplateSteps]]). The template constants
    * must stay single-quote-free — they interpolate into a DuckDB
    * string literal. */
  private val htmlPrefix = "<html><head><title>T</title>" +
    "<style>p{color:red}</style>" +
    "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
    "<body><!-- nav --><div class=\"main\"><p>"
  private val htmlSuffix = "</p><p>Tom &amp; Jay say &quot;hi&quot; " +
    "&#39;now&#39;&nbsp;then</p></div></body></html>"
  private val qTextBoilerplate: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.stripBoilerplate(
        concat(lit(htmlPrefix), col("text"), lit(htmlSuffix))).as("clean_text"))
      .withColumn("n_clean", length(col("clean_text")).cast("bigint"))

  /** The canonical pre-training corpus filter: language gate +
    * composite quality threshold + token-length band, in one pass —
    * every predicate codegen'd builtins over the text column, so the
    * whole filter runs inside one WholeStageCodegen over the scan.
    *
    * The `__mid` column is a pushdown barrier: without it, Catalyst
    * pushes the filter beneath the projection and the heavy text
    * expressions get evaluated TWICE — once in the pushed filter over
    * every row, once in the projection over survivors (codegen
    * subexpression elimination is per-operator, never across a
    * filter/project boundary). A nondeterministic column in the
    * projection pins the filter above it (predicates push through a
    * projection only when every projected field is deterministic), so
    * scoring runs exactly once per row; referencing `__mid` in the
    * filter (`>= 0` is vacuous — the id is nonnegative by contract)
    * keeps column pruning from deleting the barrier. Measured at
    * sf0.1: 1.23 s → 0.96 s. Results are identical — `__mid` is
    * dropped and never influences a value. */
  private val qPipelineFilter: Q = (s, dir) =>
    pq(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        monotonically_increasing_id().as("__mid"))
      .filter(col("__mid") >= 0 && col("lang_pred") === "en" &&
        col("quality") >= 0.5 && col("n_tokens").between(5, 1000))
      .drop("__mid")

  /** Contamination SCRUBBING ([[graft.operators.Dedup.scrubContamination]],
    * word 4-grams, same eval split as [[qTextDecontam]]): benchmark
    * spans are EXCISED from every corpus document instead of the
    * document being dropped — matched windows map back to covered
    * token positions, survivors reassemble in order. The oracle
    * replays windows → eval-hash match → covered-position expansion →
    * anti-join → ordered reassembly. */
  private val qTextDecontamScrub: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    Dedup.scrubContamination(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", shingleN = 4)
      .select("doc_id", "clean_text", "n_kept")
  }

  /** The quality gate DISTILLED into a trainable linear model
    * ([[graft.operators.Classifier.trainLogisticFx]]): labels are
    * [[qPipelineFilter]]'s en/quality/length predicate, features
    * [[qTextFeatureHash]]'s 256-dim hashing trick, and three
    * full-batch fixed-point GD passes produce bit-deterministic
    * weights — the CCNet-style "replace the hand gate with a
    * classifier" loop, oracled end to end (the DuckDB mirror unrolls
    * the three passes as CTE stages over the identical integer
    * arithmetic). */
  private val qQualityDistill: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    Classifier.trainLogisticFx(
      Search.hashedFeatures(docs, "doc_id", "text", dims = 256, seed = 11L),
      distillLabels(docs), dims = 256, iters = 3)
  }

  /** [[qQualityDistill]]'s weights applied back over the corpus
    * ([[graft.operators.Classifier.scoreFx]]): fixed-point margin +
    * fast-sigmoid probability per document — train and serve under
    * one oracle, so the scoring join is pinned too. */
  private val qQualityDistillScore: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    // persisted at the query level: the hashing-trick feature pass is
    // the expensive text sweep here, and it feeds BOTH the training
    // loop and the terminal scoring join — without the persist it ran
    // twice (train materializes eagerly, so the cache is hot before
    // the scoring plan is consumed)
    val feats = Stage("distill features", Persist())(
      Search.hashedFeatures(docs, "doc_id", "text", dims = 256, seed = 11L))
    val w = Classifier.trainLogisticFx(
      feats, distillLabels(docs), dims = 256, iters = 3)
    Classifier.scoreFx(docs, "doc_id", feats, w)
  }

  /** WARM-START continuation ([[qQualityDistill]]'s incremental
    * twin): three cold passes on the corpus split (doc_id % 5 ≠ 0),
    * then two continued passes on the new-batch split alone, seeded
    * from the corpus weights — the daily-ingest posture where
    * history is never re-scanned. The oracle chains two unrolled GD
    * chains, the second's w0 = the first's w3. */
  private val qQualityDistillWarm: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val cold = Classifier.trainLogisticFx(
      Search.hashedFeatures(corpus, "doc_id", "text", dims = 256, seed = 11L),
      distillLabels(corpus), dims = 256, iters = 3)
    Classifier.trainLogisticFx(
      Search.hashedFeatures(batch, "doc_id", "text", dims = 256, seed = 11L),
      distillLabels(batch), dims = 256, iters = 2, initWeights = Some(cold))
  }

  /** Distillation EVAL — did the linear model learn the gate it was
    * distilled from? Confusion counts of [[qQualityDistillScore]]'s
    * prediction (prob_fx > ½·2^20) against the gate labels, plus
    * floor-permille accuracy — one row, all integers. The honest
    * closing of the train→serve→measure loop under the same oracle
    * discipline. */
  private val qQualityDistillEval: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    // same one-pass discipline as [[qQualityDistillScore]] — here the
    // GATE-LABEL text sweep (langId + quality + length) also feeds two
    // consumers (the training loop and the confusion join), so both
    // expensive sweeps are persisted and run once each
    val feats = Stage("distill features", Persist())(
      Search.hashedFeatures(docs, "doc_id", "text", dims = 256, seed = 11L))
    val labels = Stage("distill labels", Persist())(distillLabels(docs))
    val w = Classifier.trainLogisticFx(
      feats, labels, dims = 256, iters = 3)
    val scored = Classifier.scoreFx(docs, "doc_id", feats, w)
    val pred = scored.select(col("doc_id"),
      (col("prob_fx") > lit(1L << 19)).cast("long").as("yhat"))
    labels.select(col("doc_id"), col("label").cast("long").as("y"))
      .join(pred, Seq("doc_id"))
      .agg(
        sum(when(col("y") === 1 && col("yhat") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("yhat") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && col("yhat") === 0, 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0 && col("yhat") === 0, 1L).otherwise(0L)).as("tn"))
      .withColumn("accuracy_permille",
        expr("(tp + tn) * 1000 div (tp + fp + fn + tn)"))
  }

  /** The pipeline gate as a 0/1 label frame — [[qPipelineFilter]]'s
    * predicate over every document. */
  private def distillLabels(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      (TextFunctions.langId(col("text")) === "en" &&
        TextFunctions.qualityScore(col("text")) >= 0.5 &&
        TextFunctions.tokenCount(col("text")).between(5, 1000))
        .cast("int").as("label"))

  /** Self-corpus repeated-span EXCISION
    * ([[graft.operators.Dedup.scrubRepeatedSpans]], word 6-grams in
    * ≥2 distinct docs): the exact-substring-dedup pass — templated
    * spans are cut from every document, survivors reassemble in
    * order. The oracle derives the hot set from the same distinct-
    * per-doc shingle replay the detector query uses, then replays
    * the excision chain of [[qTextDecontamScrub]]. */
  private val qDedupScrubSpans: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    Dedup.scrubRepeatedSpans(docs, "doc_id", "text", spanN = 6, minDocs = 2)
      .select("doc_id", "clean_text", "n_kept")
  }

  /** The FULL pre-training cleaning pipeline, composed end to end —
    * the flagship "would a reference user switch" query: language +
    * quality + length gate ([[qPipelineFilter]]'s predicate) → exact
    * dedup by canonical fingerprint
    * ([[graft.operators.Dedup.exactByFingerprint]], keep-min-id) →
    * capped MinHash near-dup pairs → transitive closure with one
    * survivor per cluster ([[graft.operators.Dedup.keepOnePerCluster]]).
    * Returns the surviving (doc_id, n_tokens). Every stage reuses an
    * individually-oracled operator; THIS oracle replays the whole
    * chain as one CTE pyramid, so a drift anywhere in the composition
    * (a filter reordered, a fingerprint scope change, pairs computed
    * over the wrong survivor set) hash-mismatches even though each
    * piece passes alone. */
  private val qPipelineClean: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val gated = docs
      .select(col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("__lang"),
        TextFunctions.qualityScore(col("text")).as("__q"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        monotonically_increasing_id().as("__mid"))
      .filter(col("__mid") >= 0 && col("__lang") === "en" &&
        col("__q") >= 0.5 && col("n_tokens").between(5, 1000))
      .select("doc_id", "text", "n_tokens")
    // materialized ONCE: the exact-survivor frame feeds the banded
    // pair generation (which scans it three times — two self-join
    // sides + the rescore text re-attach) and the final keep-one
    // anti-join, and each lazy re-scan re-ran the lang/quality gate
    // sweep above (guide §5 — one pass per expensive frame)
    val exact = Stage("clean exact", Local)(
      Dedup.exactByFingerprint(gated, "doc_id", "text")
        .select("doc_id", "text", "n_tokens"))
    val pairs = Dedup.minhashPairs(exact, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(12)).select("id_a", "id_b")
    Dedup.keepOnePerCluster(exact, "doc_id", pairs)
      .select("doc_id", "n_tokens")
  }

  /** Gopher-style within-document repetition metrics over word
    * 2-grams — the degenerate-text filter that runs before any
    * cross-document dedup. */
  private val qTextRepetition: Q = (s, dir) =>
    TextFunctions.repetitionStats(pq(s, dir, "documents"), "doc_id", "text", n = 2)

  /** Benchmark decontamination: the doc_id % 50 == 0 rows stand in
    * for an eval set; every other document sharing any word 4-gram
    * with it is flagged with its shared-shingle count (4 bites on the
    * fixture's vocabulary — 19 flagged docs at sf0.01 — where 5 is
    * near-vacuous and 3 flags half the corpus). Same hashed shingles
    * as the near-dup operators, so [[HashSql]] replays the overlap
    * hash-for-hash. */
  private val qTextDecontam: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    Dedup.contaminationMatches(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", shingleN = 4)
  }

  /** Concat-and-chunk sequence packing: per-source token stream in
    * doc_id order, cut every 512 tokens — each document's start
    * offset and landing chunk. */
  private val qPackChunks: Q = (s, dir) =>
    graft.operators.Packing.concatChunks(
      pq(s, dir, "documents"), "doc_id", "source", "text", capacity = 512)

  /** URL canonicalization over deterministic synthetic URLs derived
    * from (source, doc_id) — uppercase host, default port, utm/fbclid
    * params, and a fragment all present so every normalization step
    * bites on every row. */
  private val qUrlCanonical: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.canonicalizeUrl(concat(
        lit("https://"), upper(col("source")), lit(".Example.COM:443/Docs/"),
        col("doc_id").cast("string"), lit("/?utm_source=feed&id="),
        col("doc_id").cast("string"), lit("&utm_campaign=x&fbclid=abc#frag")))
        .as("url"))

  private val qTextQuality: Q = (s, dir) =>
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
      TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  // ------------------------------------------------------------------- dedup

  private val qDedupExact: Q = (s, dir) =>
    Dedup.exactGroups(pq(s, dir, "documents"), "doc_id", "text")

  private val qDedupFingerprint: Q = (s, dir) =>
    Dedup.exactByFingerprint(pq(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "fp")

  private val qDedupMinhash: Q = (s, dir) =>
    Dedup.minhashPairs(pq(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("id_a", "id_b", "jaccard")

  private val qDedupSimhash: Q = (s, dir) =>
    Dedup.simhashPairs(pq(s, dir, "documents"), "doc_id", "text", maxHamming = 3)

  private val qDedupNgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(pq(s, dir, "documents"), "doc_id", "text",
      n = 2, threshold = 0.4)

  /** The 100 TB mega-bucket guard, oracle-gated: q_dedup_minhash's
    * parameters with `maxBucketSize = 2` — band buckets holding more
    * than 2 docs (boilerplate / mass duplication) are dropped BEFORE
    * the self-join, so their quadratic pair fan-out never happens
    * (sf1 measured 466→9.5 s under 10× replication, BASELINE.md). The
    * cap bites on this fixture (fewer pairs than q_dedup_minhash) and
    * the DuckDB mirror applies the identical count filter, so the
    * load-bearing knob is continuously hash-checked, not anecdotal. */
  private val qDedupMinhashCapped: Q = (s, dir) =>
    Dedup.minhashPairs(pq(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(2))
      .select("id_a", "id_b", "jaccard")

  private val qDedupEditdist: Q = (s, dir) =>
    Dedup.editDistancePairs(pq(s, dir, "documents"), "doc_id", "text",
      maxDistance = 10)

  /** Incremental CDC: the %10 batch (plus re-keyed corpus rows so
    * full-overlap matches exist at every scale, as in q_dedup_bloom)
    * probed against the corpus chunk index — flagged (id, cid) match
    * rows with shared-chunk counts. */
  private val qDedupCdcIncremental: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val batch = docs.filter(col("doc_id") % 10 >= 8)
      .unionByName(
        docs.filter(col("doc_id") % 10 < 8 && col("doc_id") % 40 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
    Dedup.cdcChunkPairsAgainst(
      batch, docs.filter(col("doc_id") % 10 < 8),
      "doc_id", "text", maskBits = 3, minShared = 2, maxBucketSize = Some(8))
  }

  /** Containment near-dup pairs (shared/min-size >= 0.6 over word
    * 5-gram shingles, shingle buckets capped at 16) — the
    * quote/subset detector Jaccard-tuned LSH misses. */
  private val qDedupContainment: Q = (s, dir) =>
    Dedup.containmentPairs(pq(s, dir, "documents"), "doc_id", "text",
      shingleN = 5, threshold = 0.6, maxBucketSize = Some(16))

  /** Partial-duplicate pairs via content-defined chunking: documents
    * sharing >= 2 distinct CDC chunks (maskBits=3 ≈ 8-token chunks),
    * with corpus-wide chunks (> 8 docs — short boilerplate runs)
    * capped out before the pair join — the same mega-bucket knob as
    * q_dedup_minhash_capped, here load-bearing from day one. */
  private val qDedupCdc: Q = (s, dir) =>
    Dedup.cdcChunkPairs(pq(s, dir, "documents"), "doc_id", "text",
      maskBits = 3, minShared = 2, maxBucketSize = Some(8))

  /** End-to-end text-dedup endgame: minhash near-dup pairs →
    * transitive closure → keep min-id per cluster + all unpaired
    * docs. Same pair parameters as q_dedup_minhash. */
  private val qDedupKeepOne: Q = (s, dir) =>
    Dedup.keepOnePerCluster(
      pq(s, dir, "documents"), "doc_id",
      Dedup.minhashPairs(pq(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5))
      .select("doc_id")

  /** Incremental dedup of a "daily batch" (doc_id % 10 >= 8) against
    * the standing corpus (doc_id % 10 < 8): exact-fingerprint
    * anti-join, then LSH band probe + jaccard rescore — the corpus is
    * never self-paired. Survivor ids of the batch. Same minhash
    * parameters as q_dedup_minhash, so the cross pairs it must drop
    * are exactly that query's pairs straddling the split (6 of them
    * at sf0.01). */
  private val qDedupIncremental: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    Dedup.dedupAgainst(
      docs.filter(col("doc_id") % 10 >= 8),
      docs.filter(col("doc_id") % 10 < 8),
      "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("doc_id")
  }

  /** Bloom-prefiltered exact incremental dedup on the same daily-batch
    * split as [[qDedupIncremental]] (doc_id % 10 >= 8 batch vs < 8
    * corpus): batch survivors whose canonical fingerprint is absent
    * from the corpus, with the corpus never shuffled (bloom
    * treeAggregate + broadcast probes only). Semantically EXACT — the
    * bloom only prefilters and its false positives are confirmed away
    * — so the oracle is the plain fingerprint anti-join, identical
    * under ANY fpp. */
  private val qDedupBloom: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    // the batch carries re-keyed copies of corpus rows (% 40 == 0,
    // id + 1e6) so the drop path bites on the fixture at every scale
    // — the fixture corpus itself has no cross-split exact dupes
    val batch = docs.filter(col("doc_id") % 10 >= 8)
      .unionByName(
        docs.filter(col("doc_id") % 10 < 8 && col("doc_id") % 40 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
    Dedup.bloomDedupAgainst(
      batch,
      docs.filter(col("doc_id") % 10 < 8),
      "doc_id", "text", expectedItems = 1L << 17, fpp = 0.01)
      .select("doc_id")
  }

  /** Cross-document duplicated-span census: hashed word 8-grams
    * appearing in >= 2 distinct documents with their doc frequency —
    * the exact-substring/boilerplate sweep over the corpus. */
  private val qSpanDupes: Q = (s, dir) =>
    Dedup.duplicatedSpans(pq(s, dir, "documents"), "text", spanN = 8, minDocs = 2)

  /** Per-language median-quality gate: keep documents at or above
    * their language's exact median composite quality score — the
    * profiling-driven corpus filter (threshold aggregate broadcast
    * back over one corpus pass). */
  private val qQualityGate: Q = (s, dir) =>
    graft.operators.Profile.quantileGate(
      pq(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality")),
      col("quality"), "lang", q = 0.5)

  /** Corpus snapshot diff: the "old" snapshot drops doc_id % 11 == 3,
    * the "new" one drops % 13 == 5 and rewrites text for % 17 == 0 —
    * the diff reports exactly the added / removed / changed keys
    * between the two derived versions. */
  private val qSnapshotDiff: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    graft.operators.Reconcile.snapshotDiff(
      docs.filter(col("doc_id") % 11 =!= 3),
      docs.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 17 === 0, upper(col("text"))).otherwise(col("text"))),
      "doc_id", Seq("text"))
  }

  /** [[qSnapshotDiff]]'s column-attribution sibling
    * ([[graft.operators.Reconcile.rowDiff]]): same two synthetic
    * snapshot versions plus a second mutated column (`lang`), so the
    * `changed_cols` attribution exercises every subset — text-only,
    * lang-only, both. */
  private val qSnapshotRowdiff: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    graft.operators.Reconcile.rowDiff(
      docs.filter(col("doc_id") % 11 =!= 3),
      docs.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 17 === 0, upper(col("text"))).otherwise(col("text")))
        .withColumn("lang",
          when(col("doc_id") % 19 === 0, lit("xx")).otherwise(col("lang"))),
      "doc_id", Seq("text", "lang"))
  }

  /** One-scan declarative quality gate ([[graft.operators.Checks]]):
    * six constraints over lineitem fold into a single `.agg(...)` —
    * two of them (the 0.05 discount cap, l_orderkey-alone uniqueness)
    * deliberately fail so the report's violation counts and `passed`
    * flag are load-bearing, not vacuously true. */
  private val qCheckSuite: Q = (s, dir) => {
    import graft.operators.Checks
    Checks.suite(pq(s, dir, "lineitem"), Seq(
      Checks.notNull("l_shipdate"),
      Checks.inRange("l_quantity", 1, 50),
      Checks.inRange("l_discount", 0, 0.05),
      Checks.nonNegative("l_extendedprice"),
      Checks.acceptedValues("l_returnflag", Seq("A", "N", "R")),
      Checks.matches("l_linestatus", "^[OF]$"),
      Checks.uniqueRows("l_orderkey", "l_linenumber"),
      Checks.uniqueRows("l_orderkey")))
  }

  /** Referential-integrity gate ([[Checks.foreignKey]]): two healthy
    * FKs (orders→customer, lineitem→supplier) plus one checked
    * against a deliberately thinned parent (customers with
    * c_custkey % 3 = 0 only) so the orphan-count branch is exercised
    * with real violations. */
  private val qCheckFk: Q = (s, dir) => {
    import graft.operators.Checks
    val orders = pq(s, dir, "orders")
    val customer = pq(s, dir, "customer")
    Checks.foreignKey(orders, Seq("o_custkey"), customer, Seq("c_custkey"))
      .unionByName(Checks.foreignKey(
        pq(s, dir, "lineitem"), Seq("l_suppkey"),
        pq(s, dir, "supplier"), Seq("s_suppkey")))
      .unionByName(Checks.foreignKey(
        orders, Seq("o_custkey"),
        customer.filter(col("c_custkey") % 3 === 0), Seq("c_custkey"),
        name = "foreign_key(o_custkey->thinned_customer)"))
  }

  /** Re-identification risk over customer
    * ([[graft.operators.Profile.privacyRisk]]): QI =
    * (nation, market segment), sensitive attribute = the
    * thousand-dollar account-balance bucket; k=10, l=8 so both flags
    * split the cells at sf0.01. */
  private val qPrivacyRisk: Q = (s, dir) =>
    graft.operators.Profile.privacyRisk(
      pq(s, dir, "customer")
        .withColumn("bal_bucket",
          floor(col("c_acctbal") / 1000).cast("long"))
        .withColumn("c_nationkey", col("c_nationkey").cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 10, l = 8)

  /** Incremental aggregate maintenance
    * ([[graft.operators.Incremental]]): lineitem splits into a
    * "corpus" (6/7ths) and a "delta" (1/7th); the query aggregates
    * the corpus once, then `refresh`es with the delta. The oracle is
    * the DIRECT aggregate over the whole table — so the row hash
    * continuously proves the mergeable-state closure property
    * `merge(agg(a), agg(b)) == agg(a ∪ b)` that makes O(delta)
    * refreshes sound at corpus scale. */
  private val qAggIncremental: Q = (s, dir) => {
    import graft.operators.Incremental
    import Incremental.Measure
    val li = pq(s, dir, "lineitem")
      .withColumn("qty_d", col("l_quantity").cast("decimal(18,2)"))
    val keys = Seq("l_returnflag", "l_linestatus")
    val ms = Seq(Measure("count"), Measure("sum", "qty_d"),
      Measure("min", "l_shipdate"), Measure("max", "l_shipdate"))
    val state = Incremental.aggregate(li.filter(col("l_orderkey") % 7 =!= 0), keys, ms)
    Incremental.refresh(state, li.filter(col("l_orderkey") % 7 === 0), keys, ms)
      .withColumn("sum_qty", col("sum_qty_d").cast("double"))
      .drop("sum_qty_d")
  }

  /** Keyed pseudonymization of customer names
    * ([[TextFunctions.pseudonymize]]): stable 64-bit tokens under one
    * salt, unlinkable across salts. Oracle replays
    * fnv64(utf8) XOR salt through the staged SplitMix64 CTEs
    * hash-for-hash. */
  private val qPseudonymize: Q = (s, dir) =>
    pq(s, dir, "customer").select(
      col("c_custkey"),
      TextFunctions.pseudonymize(col("c_name"), PseudoSalt).as("pseudonym"))

  private val PseudoSalt = 0x5eedfacecafeL

  /** CDC change-log compaction ([[graft.operators.Reconcile.compactLog]]):
    * a synthetic Debezium-style log over orders — v0 for every key,
    * an update (+10, next day) for keys %5=0, a tombstone (2 days
    * later) for keys %7=0. Current state = latest non-deleted version
    * per key; keys whose latest record is the tombstone vanish. */
  private val qCdcCompact: Q = (s, dir) => {
    val o = pq(s, dir, "orders").select("o_orderkey", "o_totalprice", "o_orderdate")
    val day = expr("INTERVAL 1 DAY")
    val v1 = o.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderdate").as("ts"), lit(0L).as("seq"), lit(false).as("deleted"))
    val v2 = o.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey"),
      (col("o_totalprice") + 10).as("o_totalprice"),
      (col("o_orderdate") + day).as("ts"), lit(1L).as("seq"), lit(false).as("deleted"))
    val v3 = o.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey"),
      lit(0.0).as("o_totalprice"),
      (col("o_orderdate") + day + day).as("ts"), lit(2L).as("seq"), lit(true).as("deleted"))
    graft.operators.Reconcile.compactLog(
      v1.unionByName(v2).unionByName(v3), "o_orderkey", "ts", "seq",
      deleteCol = Some("deleted"))
  }

  /** Deterministic hash-based train/val/test split (80/10/10). */
  private val qSampleSplit: Q = (s, dir) =>
    graft.operators.Sampling.hashSplit(pq(s, dir, "documents"), "doc_id")
      .select("doc_id", "split_bucket", "split")

  /** LEAKAGE-GUARDED train/test split — the composition every eval
    * pipeline needs and most skip, in BOTH leak modalities: after the
    * deterministic 80/10/10 [[graft.operators.Sampling.hashSplit]],
    * every train/val document that is (a) an exact or LEXICAL near
    * duplicate (the [[Dedup.dedupAgainst]] fingerprint +
    * banded-MinHash probe, jaccard ≥ 0.5) of ANY held-out test
    * document, or (b) a SEMANTIC near duplicate of one
    * ([[Dedup.semanticDedupAgainst]] — embedding cosine ≥ 0.3 within
    * a k-means cell under centroids trained on the TEST side, the
    * SemDeDup incremental shape) is dropped. Lexical overlap misses
    * paraphrased eval items entirely — embedding-space
    * decontamination is the standard second modality, and a
    * benchmark-protecting split without it is half a guard. Output:
    * (doc_id, split) for the test set plus train/val rows surviving
    * BOTH probes.
    *
    * Parameters swept in DuckDB first (the vacuous-gate discipline):
    * threshold 0.3 sits in this embedding space's near-dup band
    * (max same-cell cosine ≈ 0.47); nlist = 8 over the ~50-row
    * sf0.01 test side gives 5–7-row cells, and
    * `maxClusterSize = 6` BINDS non-degenerately — 3 of 8 cells are
    * excised and the semantic drop count halves (80 → 40), so the
    * oracle's cell-cap QUALIFY replay is load-bearing in both
    * directions.
    *
    * Scale posture: the test side is split-bounded (~10% of the
    * corpus — and in practice a fixed eval set), so its banded index
    * AND its cell-partitioned semantic index are the small probe
    * sides; train/val pays one signature pass + one cell-assign scan
    * and two equi-joins, never an all-pairs comparison. */
  private val qSplitDecontam: Q = (s, dir) => {
    val split = graft.operators.Sampling.hashSplit(
      pq(s, dir, "documents"), "doc_id")
    val test = split.filter(col("split") === "test")
    val batch = split.filter(col("split") =!= "test")
      .select("doc_id", "text", "split")
    val lexOk = Dedup.dedupAgainst(batch, test.select("doc_id", "text"),
        "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("doc_id", "split")
    val emb = pq(s, dir, "embeddings")
    val testEmb = emb.join(
      test.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val batchEmb = emb.join(
      batch.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val cents = Similarity.kmeansCentroidsDistributed(
      testEmb, "vec_id", "embedding", nlist = 8, iters = 2)
    // subtract semantic HITS (embedded docs that did NOT survive the
    // probe) rather than intersecting with survivors: a train/val doc
    // with no embeddings row is "no semantic evidence", not a leak —
    // an inner join on survivors would silently drop it (and diverge
    // from the oracle, which computes sem_hit only over embedded docs)
    val semOk = Dedup.semanticDedupAgainst(
        batchEmb, testEmb, "vec_id", "embedding", cents,
        threshold = 0.3, maxClusterSize = Some(6))
      .select(col("vec_id").as("doc_id"))
    val semHits = batchEmb.select(col("vec_id").as("doc_id"))
      .join(semOk, Seq("doc_id"), "left_anti")
    lexOk.join(semHits, Seq("doc_id"), "left_anti")
      .unionByName(test.select("doc_id", "split"))
  }

  /** Per-source dominance cap: at most 12 documents per source,
    * chosen by SplitMix64 hash order — the "no host swamps the
    * mixture" gate. */
  private val qSampleCap: Q = (s, dir) =>
    graft.operators.Sampling.capPerGroup(
      pq(s, dir, "documents"), "doc_id", "source", k = 12)
      .select("doc_id", "source")

  /** Stratified rebalance: keep 40% of 'en', all of 'de', 80% of
    * everything else — deterministic per (doc_id, lang). */
  private val qSampleStratified: Q = (s, dir) =>
    graft.operators.Sampling.stratifiedHashSample(
      pq(s, dir, "documents"), "doc_id", "lang",
      pctByStratum = Map("en" -> 40, "de" -> 100), defaultPct = 80)
      .select("doc_id", "lang")

  /** The data-mixture targets for [[qSampleMix]] — shared constant so
    * the Spark query and the DuckDB mirror quantize the identical
    * rates ('zh' intentionally absent ⇒ dropped). */
  private val mixTargets: Seq[(String, Double)] =
    Seq("en" -> 0.3, "de" -> 0.3, "es" -> 0.2, "fr" -> 0.2)

  /** Temperature sampling at T=2 toward 300 rows: low-resource
    * languages keep a larger share than their natural proportion
    * (w ∝ sqrt(count) — the IEEE-exact temperature, so the oracle
    * replays the rate arithmetic bit-for-bit). */
  private val qSampleTemperature: Q = (s, dir) =>
    graft.operators.Sampling.temperatureSample(
      pq(s, dir, "documents"), "doc_id", "lang",
      targetRows = 300, temperature = 2.0, oracleExact = true)
      .select("doc_id", "lang")

  /** Domain-mix sampling: downsample the corpus toward the 30/30/20/20
    * language mixture, keeping the most-underrepresented language
    * whole; 'zh' (no target) is dropped entirely. */
  private val qSampleMix: Q = (s, dir) =>
    graft.operators.Sampling.mixToTarget(
      pq(s, dir, "documents"), "doc_id", "lang", mixTargets)
      .select("doc_id", "lang")

  private val qDedupEmbedding: Q = (s, dir) =>
    Dedup.embeddingNearDupPairs(pq(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.2, numPlanes = 6)

  /** Embedding-modality incremental dedup: the vec_id % 10 >= 8 batch
    * probed against the rest of the embeddings table (same split shape
    * and same LSH parameters as q_dedup_embedding, so the cross-split
    * near-dup pairs are the ones it must drop). Runs CAPPED — the
    * production daily-ingest posture: `maxBucketSize = 12` (the census
    * value) drops corpus mega-buckets before the probe join, which is
    * what keeps one degenerate bucket (all-zero embeddings, a
    * template'd corpus) from turning the probe quadratic at scale.
    * The cap BINDS at sf0.01 (one 13-row corpus bucket is excised;
    * 3 batch ids that matched only there now survive) and the oracle
    * replays it via the bucket-cap QUALIFY, so a regression that
    * silently drops the cap hash-mismatches. Survivor ids. */
  private val qDedupIncrementalEmb: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    Dedup.embeddingDedupAgainst(
      emb.filter(col("vec_id") % 10 >= 8),
      emb.filter(col("vec_id") % 10 < 8),
      "vec_id", "embedding", threshold = 0.2, numPlanes = 6,
      maxBucketSize = Some(12))
      .select("vec_id")
  }

  /** Incremental SemDeDup ([[Dedup.semanticDedupAgainst]]): the
    * vec_id % 10 >= 8 batch probed against the rest WITHIN k-means
    * cells under frozen corpus-trained centroids — the same split as
    * [[qDedupIncrementalEmb]] with cell-scoped candidates instead of
    * LSH buckets. Runs the full production scale posture:
    * `nlist = 32` (the documented "raise nlist to shrink cells
    * BEFORE reaching for the cap" lever — ~12-row cells at sf0.01
    * instead of ~50-row cells at nlist=8) plus
    * `maxClusterSize = Some(12)` (the census value) so a dense
    * semantic mega-cell can never go quadratic. The 0.3 cut is the
    * near-dup band of this synthetic embedding space (per-batch max
    * same-cell cosine tops out ≈0.5; the old 0.9 cut matched NOTHING
    * at sf0.01, so the gate was vacuously "everything survives").
    * Both knobs BIND at sf0.01 — uncapped would keep 62 batch ids,
    * capped keeps 85, and 15 batch ids are still dropped through the
    * surviving cells — so the oracle's cell-cap QUALIFY replay is
    * load-bearing in both directions. Survivor ids. */
  private val qDedupIncrementalSem: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") % 10 < 8)
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 32, iters = 2)
    Dedup.semanticDedupAgainst(
      emb.filter(col("vec_id") % 10 >= 8), corpus,
      "vec_id", "embedding", cents, threshold = 0.3,
      maxClusterSize = Some(12))
      .select("vec_id")
  }

  /** SemDeDup-shaped semantic near-dup pairs
    * ([[Dedup.semanticNearDupPairs]]): candidate generation scoped
    * by distributed-k-means cells (frozen centroids) instead of LSH
    * buckets — same exact-cosine ≥ 0.2 decision as
    * [[qDedupEmbedding]], so the two queries differ ONLY in their
    * candidate sets, which is the recall comparison the pair makes.
    *
    * Runs over a deterministic 25% [[graft.operators.Sampling
    * .hashSample]] of the corpus (round 12): the UNCAPPED cell
    * self-join is the recall REFERENCE — its semantics need no cap,
    * but its pair output is quadratic in cell occupancy, which on the
    * 10×-replicated sf1 fixture measured 77× (every document's
    * copies land in one cell). Hash-sampling the INPUT bounds the
    * pair output (25% of rows ⇒ ~6% of pairs) while keeping the
    * recall-reference semantics intact on the sampled population —
    * the production shape for "audit the capped path's recall on a
    * slice", and what lets this query stay sf1-benchable instead of
    * being the catalog's one documented exclude. The capped
    * production twin ([[qDedupSemanticCapped]]) still runs over the
    * FULL corpus. */
  private val qDedupSemantic: Q = (s, dir) => {
    val emb = Stage("semantic sample", Persist())(graft.operators.Sampling.hashSample(
      pq(s, dir, "embeddings"), "vec_id", pct = 25))
    // nlist ∝ corpus (constant expected cell occupancy): a fixed cell
    // count makes the within-cell pair output quadratic in density —
    // the worst growth curve in the r15 catalog (16× at 10× rows);
    // at the oracle scales (125–500 sampled rows) this resolves to
    // the old nlist=8, so the fixture semantics are unchanged there
    val nlist = Similarity.adaptiveNlist(emb.count(), targetCell = 64)
    val cents = Similarity.kmeansCentroidsDistributed(
      emb, "vec_id", "embedding", nlist = nlist, iters = 2)
    Dedup.semanticNearDupPairs(emb, "vec_id", "embedding", cents,
      threshold = 0.2)
  }

  /** The CAPPED gated twin of [[qDedupSemantic]] — the
    * q_dedup_minhash / q_dedup_minhash_capped discipline applied to
    * the cell-scoped family: same SemDeDup pair semantics under a
    * frozen corpus-trained model, with the production mega-cell
    * guard ON — nlist=32 (the "shrink cells first" lever) plus
    * `maxClusterSize = 12` (the census value). The cap BINDS at
    * sf0.01 (8 of 32 cells survive; 126 pairs vs 958 uncapped) and
    * the oracle replays it via the cell-cap QUALIFY. Unlike the
    * uncapped twin (sf1-excluded: the replicated fixture puts every
    * document's 10 copies in one cell, ~100x pair output), this
    * shape stays IN the sf1 bench — over-cap cells are excised, not
    * joined, which is exactly the degenerate-cell posture a 100 TB
    * corpus needs. */
  private val qDedupSemanticCapped: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val cents = Similarity.kmeansCentroidsDistributed(
      emb, "vec_id", "embedding", nlist = 32, iters = 2)
    Dedup.semanticNearDupPairs(emb, "vec_id", "embedding", cents,
      threshold = 0.2, maxClusterSize = Some(12))
  }

  /** Transitive closure of the (oracled) embedding near-dup pairs:
    * one row per paired id with its component's minimum id as `rep` —
    * the keep-one-per-cluster assignment. */
  private val qDedupComponents: Q = (s, dir) =>
    Dedup.connectedComponents(
      Dedup.embeddingNearDupPairs(pq(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.2, numPlanes = 6))

  /** Cluster-size census of the embedding near-dup components: how
    * many clusters of each size exist, SINGLETONS INCLUDED (every
    * unpaired vector is its own size-1 cluster) — the one-table
    * answer to "how duplicated is this corpus", and the sanity gauge
    * on any dedup threshold change (a size histogram that suddenly
    * grows a 10 000-member cluster means the threshold, not the
    * data). Rides the same closure the components query oracles, but
    * with `maxBucketSize` SET (unlike the pair-auditing components
    * query): a census is exactly the query you run on a
    * mass-duplicated corpus, where uncapped LSH buckets go quadratic
    * — the 10×-replicated sf1 fixture measured 15.7× for 10× rows
    * uncapped. Cap 12 binds on the 4 largest of the 64 sf0.01
    * buckets (sizes 13–16), so the capped replay is load-bearing in
    * the oracle itself, not just at scale; rows from dropped
    * mega-buckets are still COUNTED (as singletons unless paired
    * through a surviving bucket), so the census stays total. */
  private val qDedupClusterSizes: Q = (s, dir) => {
    val comps = Dedup.connectedComponents(
      Dedup.embeddingNearDupPairs(pq(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.2, numPlanes = 6, maxBucketSize = Some(12)))
    val labeled = pq(s, dir, "embeddings").select(col("vec_id"))
      .join(comps, col("vec_id") === col("id"), "left")
      .select(coalesce(col("rep"), col("vec_id")).as("rep"))
    labeled.groupBy("rep").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
  }

  /** The one-stop dedup report ([[graft.operators.Dedup.dedupDiagnostics]]):
    * one row per duplicate cluster — the keep-min-id survivor and the
    * member count — with the pair generation (capped MinHash) and the
    * transitive closure computed ONCE and shared by every view. The
    * oracle replays pairs → closure → per-rep census. */
  private val qDedupReport: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(12)).select("id_a", "id_b")
    // no release here: the result is LAZY and reads the persisted
    // labeling when the driver consumes it; both harnesses sweep
    // leftover blocks after each query (Bench.runOnce / Verify).
    Dedup.dedupDiagnostics(docs, "doc_id", pairs)
      .clusterSizes.select("survivor_id", "n_members")
  }

  // -------------------------------------------------------------- similarity

  private def queryVec(s: SparkSession, dir: String): Array[Float] =
    pq(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  /** PQ-compressed ANN: codebooks trained on the hash-cut unbiased
    * sample ([[Similarity.hashOrderedSample]]), corpus encoded to 8
    * nibble codes, ADC-scored top-10
    * ([[Similarity.pqTopK]] — the 32× index-compression scale path). */
  private val qSimPqTopK: Q = (s, dir) =>
    Similarity.pqTopK(pq(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), k = 10)

  /** IVF-PQ batch retrieval: sample-Lloyd coarse cells prune each
    * query to 2 of 8 cells; candidates score from their PQ codes only
    * ([[Similarity.ivfPqTopKBatch]] — the FAISS-IVFPQ shape). Same
    * query/corpus split as q_sim_batch_topk. */
  private val qSimIvfPqBatch: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val sample = Similarity.hashOrderedSample(corpus, "vec_id", "embedding", 256)
    val cents = Similarity.refineCentroids(sample, 8, 2)
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8)
    Similarity.ivfPqTopKBatch(queries, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, cents, cb, nprobe = 2)
  }

  /** The PERSISTED-index twin of [[qSimIvfPqBatch]]
    * ([[graft.sources.AnnIndex]]): build the three-table IVF-PQ
    * index to disk (staging-swapped), load it back, and answer the
    * same batch through `ivfPqTopKBatchCoded` — gated by the SAME
    * DuckDB oracle as the inline path, so the whole
    * write→read→query chain must reproduce training + encode + ADC
    * bit-for-bit. */
  private val qSimIndexTopK: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val idxDir = s"$twinRoot/annidx/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWrite(s, idxDir, corpus,
      "vec_id", "embedding", nlist = 8, m = 8)
    graft.sources.AnnIndex.queryBatch(
      graft.sources.AnnIndex.read(s, idxDir),
      queries, "vec_id", "embedding", k = 5, nprobe = 2)
  }

  /** PQ narrow + exact decide: ADC shortlist of 40, true-cosine
    * top-10 (`pqTopK(rerank = 4)`). */
  private val qSimPqRerank: Q = (s, dir) =>
    Similarity.pqTopK(pq(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), k = 10, rerank = 4)

  private val qSimBruteTopK: Q = (s, dir) =>
    Similarity.bruteForceTopK(pq(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), k = 10)

  private val qSimLshTopK: Q = (s, dir) =>
    Similarity.lshTopK(pq(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), k = 10,
      numPlanes = 8, probeHamming = 3)

  private val qSimIvfTopK: Q = (s, dir) =>
    Similarity.ivfTopK(pq(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(s, dir), k = 10, nlist = 16, nprobe = 4)

  /** IVF top-k with centroids refined by the DISTRIBUTED k-means —
    * the 100 TB centroid path (per iteration: one scan + an
    * nlist×dim keyed partial-aggregated shuffle; only nlist×dim
    * quantized sums ever reach the driver), oracle-gated like the
    * sample-based variant. */
  private val qSimIvfDistributed: Q = (s, dir) => {
    val corpus = pq(s, dir, "embeddings").filter(col("vec_id") =!= 0)
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 8, iters = 2)
    Similarity.ivfTopKWithCentroids(
      corpus, "vec_id", "embedding", queryVec(s, dir), k = 10, cents, nprobe = 4)
  }

  /** Batch-query ANN — one retrieval job answering MANY queries:
    * vec_id 1..5 are the query set, vec_id >= 6 the corpus; centroids
    * from the distributed k-means, probe top-2 cells per query, exact
    * cosine top-5 per query via a window. */
  private val qSimBatchTopK: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 8, iters = 2)
    Similarity.ivfTopKBatch(queries, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, cents, nprobe = 2)
  }

  /** Persisted PLAIN-IVF index (exact vectors, no PQ loss): the same
    * centroids/split as [[qSimBatchTopK]], but the corpus is
    * cell-assigned, WRITTEN as an AnnIndex two-table directory,
    * READ BACK, and queried through the pre-assigned scorer — under
    * the SAME oracle as the inline query, so the whole
    * write→read→query chain is hash-gated to be bit-identical. */
  private val qSimIndexIvf: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 8, iters = 2)
    // deterministic per-SF path under the build's target/ (the same
    // discipline as qSimIndexTopK) — repeated correctness/bench runs
    // overwrite via the staged swap instead of accumulating fresh
    // /tmp trees that nothing ever sweeps
    val idxDir = s"$twinRoot/annidx_ivf/${new java.io.File(dir).getName}"
    val idx = graft.sources.AnnIndex.buildAndWriteIvf(
      s, idxDir, corpus, "vec_id", "embedding", cents)
    graft.sources.AnnIndex.queryBatchIvf(
      idx, queries, "vec_id", "embedding", k = 5, nprobe = 2)
  }

  /** INCREMENTAL index append ([[graft.sources.AnnIndex.appendToIvf]]):
    * centroids train on the BASE half of the corpus only (even
    * vec_ids ≥ 6 — the frozen model of a live index), the base is
    * built+persisted, then the odd half arrives as a later batch and
    * is cell-assigned against the frozen centroids and published as a
    * new segment — no corpus re-assign, no retrain. The oracle is the
    * inline batch-IVF replay over base∪batch with base-trained
    * centroids, so hash-green here IS the closure property: append ≡
    * from-scratch rebuild under the same model. */
  private val qSimIndexAppend: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 8, iters = 2)
    val idxDir = s"$twinRoot/annidx_append/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWriteIvf(
      s, idxDir, base, "vec_id", "embedding", cents)
    graft.sources.AnnIndex.appendToIvf(s, idxDir, batch, "vec_id", "embedding")
    val idx = graft.sources.AnnIndex.readIvf(s, idxDir)
    graft.sources.AnnIndex.queryBatchIvf(
      idx, queries, "vec_id", "embedding", k = 5, nprobe = 2)
  }

  /** [[qSimIndexAppend]]'s IVF-PQ twin
    * ([[graft.sources.AnnIndex.append]]): the full compressed-index
    * append chain — centroids AND codebooks train on the even half
    * (frozen model), the odd half is PQ-encoded against them and
    * published as a new coded segment, and the whole chain answers
    * under the bit-exact training-replay oracle over base∪batch. */
  private val qSimIndexAppendPq: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val idxDir = s"$twinRoot/annidx_append_pq/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWrite(
      s, idxDir, base, "vec_id", "embedding", nlist = 8, m = 8)
    graft.sources.AnnIndex.append(s, idxDir, batch, "vec_id", "embedding")
    graft.sources.AnnIndex.queryBatch(graft.sources.AnnIndex.read(s, idxDir),
      queries, "vec_id", "embedding", k = 5, nprobe = 2)
  }

  /** Tombstone DELETE on a persisted index
    * ([[graft.sources.AnnIndex.deleteIds]]) — the
    * right-to-be-forgotten chain: build+persist the plain-IVF index
    * over the full corpus, publish the `vec_id % 7 == 0` ids as one
    * atomic tombstone segment (O(deletion), corpus table untouched),
    * read back (the loader subtracts tombstones before anything sees
    * the table), and answer the standard 5-query batch. The oracle is
    * the inline batch-IVF replay with centroids trained on the FULL
    * corpus (the frozen pre-delete model) but scoring restricted to
    * surviving rows — at sf0.01 every query's top-5 contains at least
    * one deleted id, so an index that leaked a tombstoned row
    * hash-mismatches immediately. */
  private val qSimIndexDelete: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 8, iters = 2)
    val idxDir = s"$twinRoot/annidx_delete/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWriteIvf(
      s, idxDir, corpus, "vec_id", "embedding", cents)
    graft.sources.AnnIndex.deleteIds(s, idxDir,
      corpus.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val idx = graft.sources.AnnIndex.readIvf(s, idxDir)
    graft.sources.AnnIndex.queryBatchIvf(
      idx, queries, "vec_id", "embedding", k = 5, nprobe = 2)
  }

  /** Index STALENESS monitor ([[graft.sources.AnnIndex.driftAudit]]):
    * appends freeze centroids forever by design, so a drifted daily
    * batch lands in bad cells and recall decays silently — this is
    * the write-side audit that flags when compaction + retrain is
    * due. The corpus builds the index (seg 0 = the build-time
    * distribution), then a DELIBERATELY DRIFTED batch appends as
    * seg 1: each vector REVERSED (`reverse(embedding)` — a pure
    * permutation, no float arithmetic, so the oracle replays the
    * drifted vectors bit-for-bit with `list_reverse`) under offset
    * ids. Per segment: rows, rows assigned below the fused-cosine
    * 0.12 cut, the exact-integer far-ppm, and the ≥2× drift flag —
    * which FIRES on seg 1 (swept first: 28 000 vs 140 000 ppm at
    * sf0.01, a 5× separation) and stays off on seg 0. */
  private val qSimIndexDrift: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val cents = Similarity.kmeansCentroidsDistributed(
      emb, "vec_id", "embedding", nlist = 8, iters = 2)
    val idxDir = s"$twinRoot/annidx_drift/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWriteIvf(
      s, idxDir, emb, "vec_id", "embedding", cents)
    graft.sources.AnnIndex.appendToIvf(s, idxDir,
      emb.select((col("vec_id") + 1000000L).as("vec_id"),
        reverse(col("embedding")).as("embedding")),
      "vec_id", "embedding")
    graft.sources.AnnIndex.driftAudit(s, idxDir, nearCut = 0.12, driftFactor = 2)
  }

  /** [[qSimIndexDrift]]'s IVF-PQ twin
    * ([[graft.sources.AnnIndex.driftAuditPq]]): the staleness
    * monitor for the COMPRESSED family, computed from the coded
    * table alone — each row's PQ reconstruction scored against its
    * assigned centroid with the exact ADC fold, so the audit needs
    * no vectors (at 100 TB the 32×-compressed table is often all
    * that is on hand). The drifted batch models the classic
    * silent-embedder-swap incident: near-ONE-HOT vectors (a
    * degenerate featurizer) under offset ids — a pure permutation of
    * the model's span would NOT register through 8-cell/16-codeword
    * quantization (measured: reversed vectors read inside the null
    * band), but out-of-span degenerate vectors reconstruct
    * anti-aligned with their assigned centroid, so the exact-integer
    * CDF at cut 0.0 separates 68k vs 232k ppm at sf0.01 (3.4×) and
    * the ≥2× flag FIRES on seg 1, stays off on seg 0. The one-hot
    * construction is exact in both engines (0.0/1.0 literals keyed
    * by `vec_id % 64`). */
  private val qSimIndexDriftPq: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val idxDir = s"$twinRoot/annidx_drift_pq/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWrite(
      s, idxDir, emb, "vec_id", "embedding", nlist = 8, m = 8)
    val onehot = transform(sequence(lit(0), lit(63)),
      d => when(d === pmod(col("vec_id"), lit(64)).cast("int"), lit(1.0f))
        .otherwise(lit(0.0f)))
    graft.sources.AnnIndex.append(s, idxDir,
      emb.select((col("vec_id") + 1000000L).as("vec_id"),
        onehot.as("embedding")),
      "vec_id", "embedding")
    graft.sources.AnnIndex.driftAuditPq(s, idxDir, nearCut = 0.0, driftFactor = 2)
  }

  /** [[qSimIndexDrift]]'s sign-LSH twin
    * ([[graft.sources.AnnIndex.driftAuditLsh]]) — the write-side
    * staleness monitor for the THIRD persisted index family, read
    * from the bucketed table alone: build on the full corpus (seg 0,
    * the baseline histogram), append a CLEAN batch (the same vectors
    * under offset ids — identical bucket distribution, the exact-zero
    * negative control), then append the one-hot `vec_id % 64`
    * degenerate-featurizer batch (the [[qSimIndexDriftPq]] fixture —
    * its buckets are plane-sign patterns the real corpus never
    * concentrates on). Per segment: the exact-integer L1 divergence
    * of its bucket-occupancy ppm histogram vs seg 0's, and the
    * absolute-bar flag: seg 1 reads l1 = 0 / flag off, seg 2 reads a
    * large l1 / flag on — both branches at every fixture scale. The
    * oracle replays the seeded hyperplanes as literals, the sign
    * folds, the per-(seg, bucket) integer histogram, and the folded
    * L1 identity Σ_{b∈s}(|ppm_s − ppm_0| − ppm_0) + Σ ppm_0. */
  private val qSimIndexDriftLsh: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val idxDir = s"$twinRoot/annidx_drift_lsh/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWriteLsh(
      s, idxDir, emb, "vec_id", "embedding", numPlanes = 8)
    graft.sources.AnnIndex.appendToLsh(s, idxDir,
      emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val onehot = transform(sequence(lit(0), lit(63)),
      d => when(d === pmod(col("vec_id"), lit(64)).cast("int"), lit(1.0f))
        .otherwise(lit(0.0f)))
    graft.sources.AnnIndex.appendToLsh(s, idxDir,
      emb.select((col("vec_id") + 2000000L).as("vec_id"),
        onehot.as("embedding")),
      "vec_id", "embedding")
    graft.sources.AnnIndex.driftAuditLsh(s, idxDir)
  }

  /** RETRAIN remediation ([[graft.sources.AnnIndex.retrainPq]]) — the
    * fix path [[qSimIndexDrift]]'s flag calls for, as one oracled
    * chain: build the IVF-PQ index on the even half (the frozen
    * model), append the odd half (coded under that now-stale model),
    * tombstone the `% 7` ids (the GDPR set), then retrain — survivors
    * read back THROUGH the tombstones, centroids + codebooks retrain
    * on them under [[graft.sources.AnnIndex.buildAndWrite]]'s exact
    * recipe, every survivor re-encodes, and the tree swaps in fenced
    * (tombstones GC'd). The batch then answers under the
    * training-replay oracle of a FRESH build on the retained corpus
    * ([[simIvfPqSqlWith]] with both predicates = the survivor set) —
    * hash-green IS the answer-equivalence that makes retrain the safe
    * drift response: no leaked tombstone (at sf0.01 every query's
    * top-5 would contain a deleted id), no stale-model carryover (the
    * appended half retrained, not re-encoded under the old books). */
  private val qSimIndexRetrain: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val idxDir = s"$twinRoot/annidx_retrain/${new java.io.File(dir).getName}"
    graft.sources.AnnIndex.buildAndWrite(s, idxDir,
      corpus.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      nlist = 8, m = 8)
    graft.sources.AnnIndex.append(s, idxDir,
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    graft.sources.AnnIndex.deleteIds(s, idxDir,
      corpus.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val idx = graft.sources.AnnIndex.retrainPq(
      s, idxDir, corpus, "vec_id", "embedding", nlist = 8, m = 8)
    graft.sources.AnnIndex.queryBatch(
      idx, queries, "vec_id", "embedding", k = 5, nprobe = 2)
  }

  /** Batch-query LSH ANN — the centroid-free batch retrieval path:
    * same query/corpus split as q_sim_batch_topk, Hamming-ball probe
    * (h=2 over 8 planes = 37 probe buckets per query) via equi-join
    * on the bucket id, exact cosine top-5 per query. */
  private val qSimLshBatch: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    Similarity.lshTopKBatch(
      emb.filter(col("vec_id").between(1, 5)),
      emb.filter(col("vec_id") >= 6),
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, numPlanes = 8, probeHamming = 2)
  }

  /** Persisted sign-LSH index ([[graft.sources.AnnIndex.buildAndWriteLsh]]
    * → [[graft.sources.AnnIndex.queryBatchLsh]]) — build, swap in,
    * read back, query: the whole chain under the SAME oracle as its
    * inline twin [[qSimLshBatch]] (identical planes/ball/cosine), the
    * q_sim_index_ivf discipline for the third index family. */
  private val qSimIndexLsh: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val idxDir = s"$twinRoot/annidx_lsh/${new java.io.File(dir).getName}"
    val idx = graft.sources.AnnIndex.buildAndWriteLsh(
      s, idxDir, emb.filter(col("vec_id") >= 6), "vec_id", "embedding",
      numPlanes = 8)
    graft.sources.AnnIndex.queryBatchLsh(
      idx, emb.filter(col("vec_id").between(1, 5)), "vec_id", "embedding",
      k = 5, probeHamming = 2)
  }

  /** Recall audit ([[Similarity.recallAudit]]): per query, recall@5
    * of the nprobe=2 IVF answer against the all-cells (= exhaustive)
    * answer under the shared centroids — the measurement that sets
    * the nprobe dial. Oracled end to end: probed top-k, exact top-k,
    * and the intersection arithmetic all replay in SQL. */
  private val qSimRecallAudit: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 8, iters = 2)
    Similarity.recallAudit(queries, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, cents, nprobe = 2)
  }

  /** [[qSimRecallAudit]]'s sign-LSH twin
    * ([[Similarity.recallAuditLsh]]) — the measurement that SETS the
    * Hamming radius of [[Similarity.lshTopKBatch]], closing the
    * read-side symmetry across the three index families (IVF and
    * IVF-PQ had their recall dial; the LSH radius was chosen blind):
    * recall@5 of the radius-1 ball against exhaustive, over the same
    * query/corpus split and the same frozen 8 hyperplanes as
    * `q_sim_lsh_batch`, at the production radius 2 — where this
    * fixture reads recall 0.0-0.6 per query (the knee is higher):
    * exactly the evidence that sets the dial. */
  private val qSimRecallAuditLsh: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    Similarity.recallAuditLsh(
      emb.filter(col("vec_id").between(1, 5)),
      emb.filter(col("vec_id") >= 6),
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, numPlanes = 8, probeHamming = 2)
  }

  /** Margin-based pair mining ([[Similarity.marginMinedPairs]] — the
    * Artetxe & Schwenk ratio margin): src = vec_id 1..5 mined against
    * the vec_id ≥ 6 corpus under the shared distributed-k-means
    * centroids; every forward candidate scored, no threshold, so the
    * oracle checks the margin arithmetic on the full candidate set. */
  private val qSimMarginPairs: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    val src = emb.filter(col("vec_id").between(1, 5))
    val tgt = emb.filter(col("vec_id") >= 6)
    val cents = Similarity.kmeansCentroidsDistributed(
      tgt, "vec_id", "embedding", nlist = 8, iters = 2)
    Similarity.marginMinedPairs(src, tgt, "vec_id", "embedding",
      "vec_id", "embedding", k = 4, cents, nprobe = 2)
  }

  /** Hard-negative mining over the batch-ANN split: for each query
    * (vec_id 1..5), the 5 most-similar corpus vectors (vec_id >= 6)
    * with a DIFFERENT label — q_sim_lsh_batch's retrieval with the
    * same-label candidates filtered out before the top-k cut. */
  private val qSimHardNegatives: Q = (s, dir) => {
    val emb = pq(s, dir, "embeddings")
    Similarity.hardNegatives(
      emb.filter(col("vec_id").between(1, 5)),
      emb.filter(col("vec_id") >= 6),
      "vec_id", "embedding", "label",
      "vec_id", "embedding", "label",
      k = 5, numPlanes = 8, probeHamming = 2)
  }

  /** Per-label embedding centroid (mean pooling, exact quantized
    * fold — bit-reproducible under any partitioning). */
  private val qEmbedCentroids: Q = (s, dir) =>
    Similarity.groupCentroids(
      pq(s, dir, "embeddings").filter(col("vec_id") =!= 0), "label", "embedding")

  /** Embedding QC: the 3 least-centroid-similar vectors per label
    * (cosine to the label's exact-quantized mean centroid) — the
    * mislabel/off-distribution surfacing pass. */
  private val qEmbedOutliers: Q = (s, dir) =>
    Similarity.centroidOutliers(
      pq(s, dir, "embeddings").filter(col("vec_id") =!= 0),
      "vec_id", "label", "embedding", k = 3)
      .select(col("id").as("vec_id"), col("grp").as("label"), col("cosine"))

  // --------------------------------------------------------------- ingestion

  /** JSONL ingestion end to end through [[graft.sources.FormatDirIO]]:
    * a JSONL twin of the `documents` fixture is materialized (from the
    * fixture parquet — derived, not synthesized) under the repo's
    * target dir, then a transport plan reads it back through the
    * json-format IO and applies rename + derived-column specs. The
    * `coalesce(1)` is fixture-twin materialization only — a real
    * ingest keeps the source's parallelism. */
  private val qIngestJsonl: Q = (s, dir) => {
    val twin = jsonlTwinDir(dir)
    pq(s, dir, "documents").select("doc_id", "text", "lang")
      .coalesce(1)
      .write.mode("overwrite").json(s"$twin/documents.jsonl")
    val io = new graft.sources.FormatDirIO(
      s, originalDir = twin, targetDir = s"$twin/out", readFormat = "json")
    val plan = graft.plans.TransportPlan.of(
      "docs_ingested" -> graft.plans.TableMap(
        originalTable = Some("documents"),
        columns = Seq(
          graft.plans.Rename("doc_id", "doc_id"),
          graft.plans.Rename("lang_tag", "lang"),
          graft.plans.Derived("n_tokens", TextFunctions.tokenCount(col("text"))))))
    new graft.operators.Transportor(io, plan).frame("docs_ingested")
  }

  /** Twin root under the repo's build dir, resolved from the working
    * directory (sbt and the driver both run from the repo root) — no
    * hardcoded checkout path, so a relocated clone still verifies. */
  private[queries] val twinRoot: String = new java.io.File("target").getAbsolutePath

  /** Twin location keyed by the sf dir's basename so concurrent runs
    * at different scales never clobber each other. The ORACLE carries
    * the `__SF_BASENAME__` placeholder, which Verify substitutes with
    * the basename of the sf dir it actually ran at (see Verify.main)
    * — the oracle then compares against the same JSONL bytes the
    * Spark query ingested at ANY scale, not a baked-in sf0.01. */
  private def jsonlTwinDir(dir: String): String =
    s"$twinRoot/jsonl/${new java.io.File(dir).getName}"

  /** CSV sibling of [[qIngestJsonl]], exercising the csv format path
    * and FormatDirIO's explicit-schema read (no inference drift: both
    * engines see BIGINT/VARCHAR exactly as declared). Text is left
    * out of the CSV twin on purpose — the quoting dialect is the
    * format's own concern, not the transport's, and the JSONL twin
    * already round-trips the full text column. */
  private val qIngestCsv: Q = (s, dir) => {
    val twin = s"$twinRoot/csvtwin/${new java.io.File(dir).getName}"
    pq(s, dir, "documents").select("doc_id", "lang", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(s"$twin/documents.csv")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, n_chars BIGINT")
    val io = new graft.sources.FormatDirIO(
      s, originalDir = twin, targetDir = s"$twin/out", readFormat = "csv",
      readOptions = Map("header" -> "true"),
      schemas = Map("documents" -> schema))
    val plan = graft.plans.TransportPlan.of(
      "docs_csv" -> graft.plans.TableMap(
        originalTable = Some("documents"),
        columns = Seq(
          graft.plans.Rename("doc_id", "doc_id"),
          graft.plans.Rename("lang_tag", "lang"),
          graft.plans.Derived("n_chars_x2", col("n_chars") * 2))))
    new graft.operators.Transportor(io, plan).frame("docs_csv")
  }

  // --------------------------------------------------------------- profiling

  private val qProfile: Q = (s, dir) =>
    graft.operators.Profile.profile(pq(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))

  private val qProfileQuantiles: Q = (s, dir) =>
    graft.operators.Profile.quantiles(pq(s, dir, "orders"),
      Seq("o_totalprice", "o_custkey"))

  /** Equi-width 10-bucket histogram of order totals — the value-
    * distribution profiling pass. */
  private val qProfileHistogram: Q = (s, dir) =>
    graft.operators.Profile.histogram(pq(s, dir, "orders"), "o_totalprice", bins = 10)

  /** Z-value (Morton) layout key over (custkey, orderkey) low 16
    * bits — the write-layout key that makes two-column range filters
    * prune parquet row groups (see [[graft.sources.Layout]]); the
    * catalog row gates the bit-interleave arithmetic itself. */
  private val qZorderValue: Q = (s, dir) =>
    pq(s, dir, "orders").select(
      col("o_orderkey"),
      graft.sources.Layout.zValue(
        col("o_custkey").bitwiseAND(lit(0xFFFFL)),
        col("o_orderkey").bitwiseAND(lit(0xFFFFL))).as("zval"))

  /** Length-quartile curriculum buckets over n_chars — quantile cut
    * points broadcast into one comparison-chain scan, never a global
    * ntile sort. */
  private val qProfileBuckets: Q = (s, dir) =>
    graft.operators.Profile.quantileBuckets(
      pq(s, dir, "documents").select("doc_id", "n_chars"), "n_chars", n = 4)

  /** Robust MAD outliers on order totals (|x − median| > 1.9·MAD — uniform-ish totals cap at 2·MAD, so the classic 3 never fires on this fixture) —
    * the anomaly flag a migration runs before trusting a numeric
    * column. */
  private val qProfileOutliers: Q = (s, dir) =>
    graft.operators.Profile.madOutliers(pq(s, dir, "orders"), "o_totalprice", k = 1.9)
      .select("o_orderkey", "value", "med", "mad")

  /** The numeric columns [[qProfileCorr]] correlates — shared with
    * the oracle generator so both sides derive the identical pair
    * list. All money/rate columns, so the cents quantization is
    * orders of magnitude inside the long-product bound. */
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Exact-sum Pearson correlation matrix over lineitem's numeric
    * columns ([[graft.operators.Profile.correlation]]). */
  private val qProfileCorr: Q = (s, dir) =>
    graft.operators.Profile.correlation(pq(s, dir, "lineitem"), corrCols)

  /** Per-document top-3 TF-IDF terms (ratio score — see
    * `TextFunctions.topTfidfTerms`). */
  private val qTextTfidf: Q = (s, dir) =>
    TextFunctions.topTfidfTerms(pq(s, dir, "documents"), "doc_id", "text", k = 3)

  /** Top-40 word bigrams with doc frequency — the n-gram LM count
    * table. */
  private val qTextBigrams: Q = (s, dir) =>
    TextFunctions.vocabularyNgrams(pq(s, dir, "documents"), "doc_id", "text", n = 2, k = 40)

  /** Weekly cohort retention triangle over the events stream. */
  private val qEventsRetention: Q = (s, dir) =>
    graft.operators.Funnel.cohortRetention(events(s, dir), "user_id", "ts")

  /** Bigram-LM perplexity scoring: the model fit on the 80% train
    * split (doc_id % 10 < 8), every >= 2-token document scored with
    * its avg negative log-likelihood ([[TextFunctions.lmScore]]). */
  private val qTextPerplexity: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    TextFunctions.lmScore(docs, docs.filter(col("doc_id") % 10 < 8), "doc_id", "text")
  }

  /** Event-type co-occurrence lift per user
    * ([[graft.operators.Funnel.cooccurrenceLift]] — market-basket
    * mining; lift is PMI's ratio argument, kept transcendental-free
    * so the oracle is exact). */
  private val qEventsCooccur: Q = (s, dir) =>
    graft.operators.Funnel.cooccurrenceLift(
      events(s, dir), "user_id", "event_type")

  /** LSH band-bucket size histogram ([[Dedup.bucketCensus]] — the
    * observability behind the maxBucketSize cap). */
  private val qDedupBucketCensus: Q = (s, dir) =>
    Dedup.bucketCensus(pq(s, dir, "documents"), "doc_id", "text")

  /** ORC ingestion through the declarative transport (the
    * [[qIngestCsv]] twin for the columnar format Spark reads
    * natively; DuckDB has no ORC reader, so the oracle replays the
    * transform over the parquet SOURCE the twin was derived from —
    * content-identical by construction). */
  private val qIngestOrc: Q = (s, dir) => {
    val twin = s"$twinRoot/orctwin/${new java.io.File(dir).getName}"
    pq(s, dir, "documents").select("doc_id", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").orc(s"$twin/documents.orc")
    val io = new graft.sources.FormatDirIO(
      s, originalDir = twin, targetDir = s"$twin/out", readFormat = "orc")
    val plan = graft.plans.TransportPlan.of(
      "docs_orc" -> graft.plans.TableMap(
        originalTable = Some("documents"),
        columns = Seq(
          graft.plans.Rename("doc_id", "doc_id"),
          graft.plans.Rename("src_tag", "source"),
          graft.plans.Derived("n_chars_p1", col("n_chars") + 1))))
    new graft.operators.Transportor(io, plan).frame("docs_orc")
  }

  /** Per-source distinct-document KMV sketch, k=16
    * ([[graft.operators.Profile.kmvSketch]] over
    * `mix64(text_fnv64(canonical_text))` — the same canonicalization
    * as [[TextFunctions.fingerprint]]). Unlike the DataSketches HLL
    * variant ([[graft.operators.Profile.distinctSketch]], which stays
    * in the library ScalaTest-banded — its estimator has no SQL twin),
    * every column here INCLUDING the estimate replays bit-for-bit in
    * DuckDB: the sketch is the k smallest distinct mix64 hashes and
    * the estimator is exact integer math. k=16 so the fixture's
    * ~25-docs-per-source groups exercise the estimator branch, not
    * just the exact-count fallback. */
  private val qProfileKmv: Q = (s, dir) => {
    import graft.functions.HashExpressions
    val canonical = trim(regexp_replace(lower(col("text")),
      TextFunctions.wsClass + "+", " "))
    graft.operators.Profile.kmvSketch(
      pq(s, dir, "documents")
        .withColumn("__h", HashExpressions.mix64(HashExpressions.textFnv64(canonical))),
      "source", col("__h"), k = 16)
      .select("source", "n_kept", "kth", "estimate")
  }

  /** Cross-source 3-gram overlap matrix
    * ([[graft.operators.Profile.kmvOverlap]] over shingle hashes,
    * k=64): for every source pair, the KMV Jaccard estimate of their
    * shingle-set overlap — the "how much of crawl A's phrasing
    * reappears in crawl B" contamination diagnostic, in integer
    * permille so the oracle replays the estimator exactly. */
  private val qProfileKmvOverlap: Q = (s, dir) => {
    val shingled = pq(s, dir, "documents")
      .select(col("source"),
        graft.functions.HashExpressions.shingleHashes(col("text"), 3).as("__sh"))
      .select(col("source"), explode(col("__sh")).as("__h"))
    graft.operators.Profile.kmvOverlap(shingled, "source", col("__h"), k = 64)
  }

  /** KMV merge closure under the driver gate: per-(source, batch)
    * sketches (doc_id parity as the fake ingest batch) unioned back
    * per source ([[graft.operators.Profile.kmvMerge]]) — and the
    * oracle is [[qProfileKmv]]'s DIRECT single-pass SQL verbatim,
    * because merged ≡ whole-corpus is exactly the closure property
    * the incremental-profile design rests on. A merge bug of any
    * kind hash-mismatches immediately. */
  private val qProfileKmvMerge: Q = (s, dir) => {
    import graft.functions.HashExpressions
    val canonical = trim(regexp_replace(lower(col("text")),
      TextFunctions.wsClass + "+", " "))
    val parts = graft.operators.Profile.kmvSketchBy(
      pq(s, dir, "documents")
        .withColumn("__h", HashExpressions.mix64(HashExpressions.textFnv64(canonical)))
        .withColumn("__batch", pmod(col("doc_id"), lit(2))),
      Seq("source", "__batch"), col("__h"), k = 16)
    graft.operators.Profile.kmvMerge(parts, k = 16, by = Seq("source"))
      .select("source", "n_kept", "kth", "estimate")
  }

  /** Count-Min frequency sketch over token OCCURRENCES
    * ([[graft.operators.Profile.cmsCells]], depth 4 × width 1024,
    * hashes = [[graft.functions.HashExpressions.tokenHashes]]):
    * probe the corpus's 30 most frequent tokens (exact count desc,
    * hash asc) and report exact vs CMS estimate side by side — the
    * estimate is provably ≥ exact, and the oracle replays
    * hash→salt→mix→cell→min in unsigned-HUGEINT SQL, so ANY counter
    * or coordinate slip hash-mismatches. */
  private val qProfileCms: Q = (s, dir) => {
    import graft.functions.HashExpressions
    val tok = pq(s, dir, "documents")
      .select(explode(HashExpressions.tokenHashes(col("text"))).as("__h"))
    val cells = graft.operators.Profile.cmsCells(
      tok, col("__h"), depth = 4, width = 1024, seed = 7L)
    val probes = tok.groupBy(col("__h")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("__h").asc).limit(30)
    graft.operators.Profile.cmsEstimate(cells, probes, col("__h"),
      keepCols = Seq("__h", "exact_cnt"), depth = 4, width = 1024, seed = 7L)
      .select(col("__h").as("token_hash"), col("exact_cnt"), col("cms_est"))
  }

  /** CMS merge closure under the driver gate: per-batch cell tables
    * (doc_id parity as the fake ingest batch) added back together
    * ([[graft.operators.Profile.cmsMerge]]) and probed identically —
    * the oracle is [[qProfileCms]]'s DIRECT single-pass SQL verbatim,
    * because merged ≡ whole-corpus is the counter-addition closure
    * the incremental-frequency design rests on (the same
    * continuously-gated closure as `q_profile_kmv_merge`). */
  private val qProfileCmsMerge: Q = (s, dir) => {
    import graft.functions.HashExpressions
    val docs = pq(s, dir, "documents")
    val tokB = docs.select(pmod(col("doc_id"), lit(2)).as("__batch"),
      explode(HashExpressions.tokenHashes(col("text"))).as("__h"))
    val parts = graft.operators.Profile.cmsCells(
      tokB, col("__h"), depth = 4, width = 1024, seed = 7L,
      groupCols = Seq("__batch"))
    val merged = graft.operators.Profile.cmsMerge(parts)
    val tok = docs.select(explode(HashExpressions.tokenHashes(col("text"))).as("__h"))
    val probes = tok.groupBy(col("__h")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("__h").asc).limit(30)
    graft.operators.Profile.cmsEstimate(merged, probes, col("__h"),
      keepCols = Seq("__h", "exact_cnt"), depth = 4, width = 1024, seed = 7L)
      .select(col("__h").as("token_hash"), col("exact_cnt"), col("cms_est"))
  }

  /** CMS-guided φ-heavy-hitters over token occurrences
    * ([[graft.operators.Profile.cmsHeavyHitters]], φ = 1/32, same
    * depth-4 × width-1024 sketch and seed as [[qProfileCms]]): every
    * distinct token whose CMS estimate reaches N/32 of the N total
    * occurrences — a guaranteed SUPERSET of the true heavy hitters
    * (estimates only overcount). The fixture's near-uniform 30-token
    * vocabulary straddles the threshold, so the cut is non-trivial in
    * both directions; the oracle replays sketch-build, the
    * Σcnt/depth total, the all-distinct probe pass, and the
    * integer-exact `est·32 ≥ N` compare. */
  private val qProfileCmsHh: Q = (s, dir) => {
    import graft.functions.HashExpressions
    val tok = pq(s, dir, "documents")
      .select(explode(HashExpressions.tokenHashes(col("text"))).as("__h"))
    graft.operators.Profile.cmsHeavyHitters(tok, col("__h"),
      phiInverse = 32, depth = 4, width = 1024, seed = 7L)
      .select(col("item_hash").as("token_hash"), col("cms_est"))
  }

  /** Cross-document LINE-level dedup — the RefinedWeb/CCNet pass —
    * over BUILT multi-line payloads: every standalone ' a ' token
    * becomes a line break (one literal non-overlapping `replace`,
    * identical in both engines), then
    * [[graft.operators.Dedup.stripRepeatedLines]] drops every line
    * appearing in ≥ 2 distinct documents and reassembles survivors in
    * original order. The oracle replays split → trim → document-
    * frequency → anti-join → ordered string_agg, so a boundary,
    * ordering, or frequency slip anywhere hash-mismatches. */
  private val qDedupLines: Q = (s, dir) =>
    Dedup.stripRepeatedLines(
      pq(s, dir, "documents")
        .select(col("doc_id"),
          replace(col("text"), lit(" a "), lit("\n")).as("text")),
      "doc_id", "text", minDocFreq = 2)
      .select("doc_id", "clean_text", "n_kept")

  /** INCREMENTAL line dedup — the daily-ingest twin of
    * [[qDedupLines]] ([[graft.operators.Dedup.lineIndex]] +
    * [[graft.operators.Dedup.stripRepeatedLinesAgainst]]): the even
    * half of the corpus builds the line document-frequency index
    * once, the odd half arrives as the new batch and pays O(batch)
    * work — lines the CORPUS marks boilerplate (df ≥ 2) are stripped,
    * within-batch repetition deliberately passes through (that is the
    * batch's own [[qDedupLines]] run; the two compose). */
  private val qDedupLinesIncremental: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
      .select(col("doc_id"),
        replace(col("text"), lit(" a "), lit("\n")).as("text"))
    val idx = Dedup.lineIndex(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
    Dedup.stripRepeatedLinesAgainst(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), idx,
      "doc_id", "text", minDocFreq = 2)
      .select("doc_id", "clean_text", "n_kept")
  }

  /** Corpus-wide RIGHT-TO-BE-FORGOTTEN
    * ([[graft.sources.DedupIndexStore]] +
    * [[graft.operators.Profile.manifestStatesRebuild]]) — the
    * AnnIndex tombstone contract generalized to every standing
    * artifact a deleted document lives in, gated by ONE oracle
    * proving post-delete answers ≡ a never-ingested corpus. The
    * chain: the %10<8 corpus ingests as TWO segments (%10<4, then
    * 4..7 — an append, so suppression must span segments) into both a
    * persisted MinHash corpus index and a persisted line-provenance
    * index; the corpus docs with doc_id%7==3 are tombstoned
    * (O(deletion) — the corpus tables are not rewritten); then three
    * post-delete answers publish under one (part, k, v) schema:
    *
    *   - `dedup`: the %10>=8 batch probed through the post-delete
    *     persisted index ([[Dedup.dedupAgainst]]) — survivor ids.
    *     The FULL corpus (deleted docs included) is passed as the
    *     text side deliberately: a leaked tombstoned id would find
    *     its text and wrongly drop a batch row, so the leak canary is
    *     armed in both stages. Binding at sf0.01: one batch doc's
    *     only near-dup matches are deleted docs, so it survives here
    *     and not in q_dedup_incremental.
    *   - `line`: the df-histogram of the post-delete line index
    *     (df → n_lines) over the multi-line fixture — deleting 10%+
    *     of the corpus cools hot lines below the boilerplate cut.
    *   - `manifest`: counters/sketches CANNOT subtract, so this leg
    *     runs the documented rebuild-from-retained path
    *     ([[graft.operators.Profile.kmvRebuild]] /
    *     [[graft.operators.Profile.cmsRebuild]] /
    *     [[graft.operators.Profile.manifestStatesRebuild]]):
    *     per-segment states rebuilt minus the tombstone set, merged
    *     — per-source n_docs:total_tokens:uniq_est:dup_permille.
    *
    * The oracle computes all three parts from a corpus that NEVER
    * ingested the deleted docs — hash-green means delete ≡ never
    * ingested across dedup, line, and manifest surfaces at once. */
  private val qForget: Q = (s, dir) => {
    import graft.sources.DedupIndexStore
    val docs = pq(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val lineDocs = docs.select(col("doc_id"), col("source"),
      replace(col("text"), lit(" a "), lit("\n")).as("text"))
    val sfName = new java.io.File(dir).getName
    val mhDir = s"$twinRoot/forget_minhash/$sfName"
    val lnDir = s"$twinRoot/forget_lines/$sfName"

    val segA = col("doc_id") % 10 < 4
    val dead = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    // the minhash and line stores live in separate directories with no
    // cross-reads — run the two build→append→delete chains
    // concurrently (guide §2.6); order WITHIN each chain is load-
    // bearing (auto-numbered segments in one store)
    Stage.parallel(
      () => {
        DedupIndexStore.buildMinhash(s, mhDir, corpus.filter(segA),
          "doc_id", "text")
        DedupIndexStore.appendMinhash(s, mhDir, corpus.filter(!segA),
          "doc_id", "text")
        DedupIndexStore.deleteIds(s, mhDir, dead, "doc_id")
        ()
      },
      () => {
        DedupIndexStore.buildLines(s, lnDir,
          lineDocs.filter(segA && col("doc_id") % 10 < 8), "doc_id", "text")
        DedupIndexStore.appendLines(s, lnDir,
          lineDocs.filter(!segA && col("doc_id") % 10 < 8), "doc_id", "text")
        DedupIndexStore.deleteIds(s, lnDir, dead, "doc_id")
        ()
      })

    val dedupPart = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        index = Some(DedupIndexStore.readMinhash(s, mhDir)))
      .select(lit("dedup").as("part"),
        col("doc_id").cast("string").as("k"), lit("survivor").as("v"))
    val linePart = DedupIndexStore.readLines(s, lnDir)
      .groupBy(col("line_df")).agg(count(lit(1)).as("n_lines"))
      .select(lit("line").as("part"),
        col("line_df").cast("string").as("k"),
        col("n_lines").cast("string").as("v"))
    val states = graft.operators.Profile.manifestStatesRebuild(
        docs.filter(segA), "doc_id", dead, "source", "text")
      .unionByName(graft.operators.Profile.manifestStatesRebuild(
        docs.filter(!segA && col("doc_id") % 10 < 8), "doc_id", dead,
        "source", "text"))
    val manifestPart = graft.operators.Profile.manifestMerge(states)
      .select(lit("manifest").as("part"), col("source").as("k"),
        concat_ws(":", col("n_docs"), col("total_tokens"),
          col("uniq_est"), col("dup_est_permille")).as("v"))
    dedupPart.unionByName(linePart).unionByName(manifestPart)
  }

  /** Store-maintenance audit
    * ([[graft.sources.DedupIndexStore.maintenanceAudit]]) as a
    * continuously-gated catalog row — the compaction-due trigger that
    * pairs the ANN drift audit's MODEL staleness with STORAGE
    * staleness, with BOTH trigger axes firing and a clean control in
    * one result:
    *
    *   - `minhash_segments`: build + three appends (4 segments) +
    *     a `% 31` tombstone set (34 000 ppm), audited at
    *     maxSegments=3 → due on the SEGMENT axis (small files), ppm
    *     under the default bar;
    *   - `lines_tombstones`: build + one append (2 segments) + a
    *     `% 6` tombstone set (168 000 ppm), default thresholds → due
    *     on the TOMBSTONE axis (forgotten rows still on disk — the
    *     compliance clock);
    *   - `minhash_clean`: the SAME minhash store under default
    *     thresholds → not due (both flag branches exercised at every
    *     fixture scale — the fractions are doc_id-modulo, scale-free).
    *
    * The oracle recomputes every cell from the twin store directories
    * themselves (the q_layout_prune precedent): segment counts from
    * the `seg=N` path components via `filename=true`, live counts as
    * the distinct-id anti-join against the tombstone table, and the
    * exact-integer ppm + threshold replay — so a store layout drift,
    * a lost tombstone, OR a trigger-arithmetic drift all
    * hash-mismatch. */
  private val qStoreMaintenance: Q = (s, dir) => {
    import graft.sources.DedupIndexStore
    val docs = pq(s, dir, "documents")
    val sfName = new java.io.File(dir).getName
    val mhDir = s"$twinRoot/maint_minhash/$sfName"
    val lnDir = s"$twinRoot/maint_lines/$sfName"

    val d10 = col("doc_id") % 10
    val lineDocs = docs.select(col("doc_id"), col("source"),
      replace(col("text"), lit(" a "), lit("\n")).as("text"))
    val stDir = s"$twinRoot/maint_state/$sfName"
    // THREE independent store chains in three directories — run them
    // concurrently (guide §2.6); order WITHIN each chain is load-
    // bearing (auto-numbered segments in one store)
    Stage.parallel(
      () => {
        DedupIndexStore.buildMinhash(s, mhDir, docs.filter(d10 < 4), "doc_id", "text")
        DedupIndexStore.appendMinhash(s, mhDir, docs.filter(d10 >= 4 && d10 < 6), "doc_id", "text")
        DedupIndexStore.appendMinhash(s, mhDir, docs.filter(d10 >= 6 && d10 < 8), "doc_id", "text")
        DedupIndexStore.appendMinhash(s, mhDir, docs.filter(d10 >= 8), "doc_id", "text")
        DedupIndexStore.deleteIds(s, mhDir,
          docs.filter(col("doc_id") % 31 === 0).select("doc_id"), "doc_id")
        ()
      },
      () => {
        DedupIndexStore.buildLines(s, lnDir,
          lineDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        DedupIndexStore.appendLines(s, lnDir,
          lineDocs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        DedupIndexStore.deleteIds(s, lnDir,
          docs.filter(col("doc_id") % 6 === 0).select("doc_id"), "doc_id")
        ()
      },
      // a RELEASE-STATE delta table ([[graft.plans.IncrementalRelease]]
      // layout: doc_id-keyed `rows` segments + tombstones, legacy tree)
      // under the same audit — the compaction-due trigger extends to
      // the incremental release's standing state tables, not just the
      // index stores. Two appends + a % 6 forget (168 000 ppm) → due on
      // the tombstone axis.
      () => {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(stDir), s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(stDir), true)
        val stateRows = docs.select(col("doc_id"), col("source"))
        graft.sources.Segments.publishToStore(s, stDir, "rows",
          stateRows.filter(d10 < 5))
        graft.sources.Segments.publishToStore(s, stDir, "rows",
          stateRows.filter(d10 >= 5))
        graft.sources.Segments.deleteIds(s, stDir,
          docs.filter(col("doc_id") % 6 === 0).select("doc_id"), "doc_id")
        ()
      })

    def tag(label: String, audit: DataFrame): DataFrame =
      audit.select(lit(label).as("store"), col("n_segments"),
        col("n_docs_live"), col("n_docs_tombstoned"),
        col("tombstone_ppm"), col("compaction_due"))
    tag("minhash_segments",
        DedupIndexStore.maintenanceAudit(s, mhDir, "bands", maxSegments = 3))
      .unionByName(tag("lines_tombstones",
        DedupIndexStore.maintenanceAudit(s, lnDir, "lines")))
      .unionByName(tag("minhash_clean",
        DedupIndexStore.maintenanceAudit(s, mhDir, "bands")))
      .unionByName(tag("state_rows",
        DedupIndexStore.maintenanceAudit(s, stDir, "rows", idCol = "doc_id")))
  }

  /** Whole-document next-fit packing into 256-token bins, 8 shard
    * groups ([[graft.operators.Packing.packBins]] — documents never
    * straddle a bin; the padding-aware loader shape). The oracle
    * replays the greedy fold as a per-group recursive CTE, so a
    * boundary off by one token anywhere in the sweep
    * hash-mismatches. */
  private val qPackBins: Q = (s, dir) =>
    graft.operators.Packing.packBins(
      pq(s, dir, "documents").withColumn("__g", pmod(col("doc_id"), lit(8))),
      "doc_id", "__g", "text", capacity = 256)

  /** Packing-efficiency audit over [[qPackBins]]'s result
    * ([[graft.operators.Packing.binStats]]): per shard group, bin
    * counts, real-token totals, and integer utilization permille —
    * the padding-waste metric the packing exists to optimize. */
  private val qPackBinsStats: Q = (s, dir) =>
    graft.operators.Packing.binStats(qPackBins(s, dir), capacity = 256)

  /** [[qPackBins]] on REAL tokenizer counts — the shape a production
    * loader runs once bins must fit an actual model context window:
    * train the in-engine BPE ([[graft.operators.Bpe.train]], 8
    * merges), segment the corpus under the learned table
    * ([[graft.operators.Bpe.segment]]), cost each document as its
    * total subword count, and run the identical per-group next-fit
    * walk ([[graft.operators.Packing.packBinsByCount]], capacity
    * 256). Whitespace-token bins over- or under-fill a real context
    * window; this is the corrected twin (BASELINE.md carries the
    * measured ws-vs-BPE utilization gap). Documents with no
    * `[a-z0-9]+` word cost 0 (the tokenizer sees nothing).
    *
    * Oracle: [[textBpeCtes]] — the SAME unrolled merge replay the
    * q_text_bpe pair already gates — chained into the per-doc subword
    * sum and the recursive pack walk, so a drift in EITHER the
    * tokenizer or the packing moves the hash.
    *
    * Scale posture: training collects only the vocabulary-sized word
    * table (bounded, [[graft.operators.Bpe.defaultMaxVocab]]); the 8
    * learned merges ride the segmentation projection as a literal
    * replace chain (codegen'd below
    * [[graft.operators.Bpe.maxCodegenMerges]]); costing is one
    * doc-keyed aggregate; the walk is the single-Exchange per-group
    * sweep. */
  private val qPackBinsBpe: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val merges = graft.operators.Bpe.train(docs, "text", numMerges = 8)
      .orderBy("merge_idx")
      .select("left_sym", "right_sym").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val counts = graft.operators.Bpe.segment(docs, "doc_id", "text", merges)
      .groupBy("doc_id")
      .agg(sum(size(col("subwords"))).cast("long").as("bpe_tokens"))
    val costed = docs
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("__g"))
      .join(counts, Seq("doc_id"), "left")
      .withColumn("bpe_tokens", coalesce(col("bpe_tokens"), lit(0L)))
    graft.operators.Packing.packBinsByCount(
      costed, "doc_id", "__g", "bpe_tokens", capacity = 256)
  }

  /** Hashing-trick featurization over the corpus
    * ([[graft.operators.Search.hashedFeatures]], 256 dims): sparse
    * signed-count vectors with no vocabulary table, the cheap linear-
    * classifier featurizer. The oracle replays salt→mix→index-bits→
    * sign-bit→signed-sum in unsigned-HUGEINT SQL. */
  private val qTextFeatureHash: Q = (s, dir) =>
    graft.operators.Search.hashedFeatures(
      pq(s, dir, "documents"), "doc_id", "text", dims = 256, seed = 11L)

  /** DSIR-style importance weights for data selection
    * ([[graft.operators.Sampling.dsirLogWeights]], 1024 hashed
    * buckets): sources src0/src1 as the TARGET domain, the other 18
    * sources as the raw pool; every raw document scores
    * Σ log p_target(bucket) − log p_raw(bucket) over its token
    * occurrences — the importance-resampling selection signal. The
    * oracle replays hash → salt → mix → bucket, both add-one-smoothed
    * distributions, the per-bucket quantized log ratio, and the
    * exact integer sum. */
  private val qSampleDsir: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    graft.operators.Sampling.dsirLogWeights(
      docs.filter(!col("source").isin("src0", "src1")),
      docs.filter(col("source").isin("src0", "src1")),
      "doc_id", "text", dims = 1024, seed = 11L)
      .select("doc_id", "n_tokens", "logw_q", "logw")
  }

  /** Length-weighted corpus sampling toward 200 expected rows
    * ([[graft.operators.Sampling.weightedSample]] with n_chars as
    * the weight — longer documents proportionally likelier). */
  private val qSampleWeighted: Q = (s, dir) =>
    graft.operators.Sampling.weightedSample(
      pq(s, dir, "documents"), "doc_id", "n_chars", targetRows = 200)
      .select("doc_id", "n_chars")

  /** RAG-style chunking: 40-token windows striding by 32 (8-token
    * overlap) over every document ([[graft.operators.Packing.splitChunks]]). */
  private val qPackSplit: Q = (s, dir) =>
    graft.operators.Packing.splitChunks(pq(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 40, overlapTokens = 8)

  /** Hourly ingest-volume anomalies per event type at 1.5σ
    * ([[graft.operators.Profile.countAnomalies]] — the k is chosen so
    * the near-uniform fixture still flags its tail hours; production
    * monitors run 3σ). */
  private val qEventsAnomaly: Q = (s, dir) => {
    val ev = events(s, dir).withColumn("hour", expr("unix_micros(ts) div 3600000000"))
    graft.operators.Profile.countAnomalies(ev, "event_type", "hour", k = 1.5)
  }

  /** Inverted index over the corpus: token → document frequency +
    * ascending posting list ([[graft.operators.Search.invertedIndex]]). */
  private val qTextPostings: Q = (s, dir) =>
    graft.operators.Search.invertedIndex(pq(s, dir, "documents"), "doc_id", "text")

  /** The BM25 probe query: one rare term (high idf) + two common
    * ones, so the ranking exercises both idf spread and length
    * normalization. */
  private val bm25Terms: Seq[String] = Seq("dup", "data", "query")

  /** BM25 top-50 retrieval for the probe query
    * ([[graft.operators.Search.bm25TopK]], fixed-point scores). */
  private val qTextBm25: Q = (s, dir) =>
    graft.operators.Search.bm25TopK(
      pq(s, dir, "documents"), "doc_id", "text", bm25Terms)

  /** Per-document unigram entropy, fixed-point
    * ([[graft.functions.HashExpressions.unigramEntropyQ]] — the
    * information-density quality signal; one native pass, no
    * shuffle). `entropy` is nats derived from the integer `ent_q`. */
  private val qTextEntropy: Q = (s, dir) =>
    pq(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.HashExpressions.unigramEntropyQ(col("text")).as("__e"))
      .select(col("doc_id"),
        col("__e").getItem(0).as("n_tokens"),
        col("__e").getItem(1).as("ent_q"))
      .withColumn("entropy",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise((col("ent_q").cast("double") / lit((1L << 20).toDouble)) /
            col("n_tokens").cast("double")))

  /** Per-dimension embedding profile — n / min / max / mean /
    * variance from fixed-point exact sums
    * ([[graft.operators.Embeddings.dimStats]], the whitening-input
    * inspection pass). */
  private val qEmbedDimstats: Q = (s, dir) =>
    graft.operators.Embeddings.dimStats(pq(s, dir, "embeddings"), "embedding")

  /** Asymmetric per-dim int8 quantization of the embedding table
    * ([[graft.operators.Embeddings.quantizeInt8]] — SQ8 codes as the
    * canonical comma-joined string). */
  private val qEmbedQuantize: Q = (s, dir) =>
    graft.operators.Embeddings.quantizeInt8(
      pq(s, dir, "embeddings"), "vec_id", "embedding")

  /** Exact corpus Gram matrix, upper triangle
    * ([[graft.operators.Embeddings.gramUpperTri]] — the PCA /
    * whitening input, native per-row product sweep + dimension-sized
    * aggregation). */
  private val qEmbedGram: Q = (s, dir) =>
    graft.operators.Embeddings.gramUpperTri(pq(s, dir, "embeddings"), "embedding")

  /** Quality-aware near-dup survivor selection: same minhash pair
    * generation and closure as [[qDedupKeepOne]], but each cluster
    * keeps its HIGHEST-quality member (ties on min doc_id) — the
    * survivor policy production pipelines actually run
    * ([[graft.operators.Dedup.keepBestPerCluster]]). */
  private val qDedupKeepBest: Q = (s, dir) =>
    Dedup.keepBestPerCluster(
      pq(s, dir, "documents"), "doc_id",
      TextFunctions.qualityScore(col("text")),
      Dedup.minhashPairs(pq(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5))
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))

  /** Distribution drift between the first and second half of the
    * order history: per-bin PSI terms over o_totalprice
    * ([[graft.operators.Profile.psiDrift]], 25k-wide bins, split at
    * 1998-01-01). */
  private val qProfileDrift: Q = (s, dir) => {
    val o = pq(s, dir, "orders")
    val split = to_timestamp(lit("1998-01-01"))
    graft.operators.Profile.psiDrift(
      o.filter(col("o_orderdate") < split),
      o.filter(col("o_orderdate") >= split),
      "o_totalprice", binWidth = 25000.0)
  }

  /** First-PC projection of the embedding table
    * ([[graft.operators.Embeddings.pcaProject]] — max-norm
    * fixed-point power iteration on the Gram matrix, 8 rounds, then
    * the bit-exact dot fold per vector). */
  private val qEmbedPca: Q = (s, dir) =>
    graft.operators.Embeddings.pcaProject(
      pq(s, dir, "embeddings"), "vec_id", "embedding")

  /** PMI-scored collocations — top-50 word bigrams by pointwise
    * mutual information among those seen ≥5 times
    * ([[graft.operators.Search.collocations]], the phrase-mining
    * pass; fixed-point scores). */
  private val qTextColloc: Q = (s, dir) =>
    graft.operators.Search.collocations(pq(s, dir, "documents"), "text")

  /** Hourly ingest-volume trend per event type: 6-hour trailing
    * moving sum/max/average over the per-hour counts
    * ([[graft.operators.Profile.rollingCounts]] — the trend line
    * behind [[qEventsAnomaly]]'s point alarms). */
  private val qEventsRolling: Q = (s, dir) => {
    val ev = events(s, dir).withColumn("hour", expr("unix_micros(ts) div 3600000000"))
    graft.operators.Profile.rollingCounts(ev, "event_type", "hour", window = 6)
  }

  /** SCD-2 history build over the event log: each user's consecutive
    * runs of the same event_type collapse into validity intervals
    * with `valid_from`/`valid_to`/`is_current`
    * ([[graft.operators.Reconcile.scd2]], ties broken by event_id).
    * Validity bounds are epoch MICROS: DuckDB reads parquet
    * timestamps at µs precision, so the oracle mirrors µs —
    * `unix_micros` here, `epoch_us` there (ordering is unaffected;
    * ties break on event_id identically both sides). */
  private val qScd2: Q = (s, dir) =>
    graft.operators.Reconcile.scd2(
      events(s, dir).withColumn("ts_us", expr("unix_micros(ts)")),
      "user_id", "event_type", "ts_us", "event_id")

  /** Zone-map manifest of a Z-ordered 8-file documents twin
    * ([[graft.sources.Layout.zoneMaps]] over [[graft.sources.Layout.zOrderByRange]]
    * output): per-file row count + min/max of both clustering
    * columns — the file-pruning index of the write-side layout
    * story. The oracle recomputes the same statistics from the same
    * twin files (`filename=true`), so the check covers both the
    * manifest math and the layout plumbing. */
  private val qLayoutZonemaps: Q = (s, dir) => {
    val twin = s"$twinRoot/ztwin/${new java.io.File(dir).getName}"
    graft.sources.Layout.zOrderByRange(
      pq(s, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", numPartitions = 8)
      .write.mode("overwrite").parquet(s"$twin/documents.parquet")
    graft.sources.Layout.zoneMaps(
      s.read.parquet(s"$twin/documents.parquet"), Seq("doc_id", "n_chars"))
  }

  /** Zone-map pruning over the same z-ordered twin as
    * [[qLayoutZonemaps]] ([[graft.sources.Layout.pruneFiles]]): which
    * files must a `doc_id BETWEEN 100 AND 260` scan read? The oracle
    * recomputes the manifest from the twin files and replays the
    * interval-overlap test — so the hash gates the entire
    * layout→stats→skip chain, the mechanism partition pruning rests
    * on at 100 TB. */
  private val qLayoutPrune: Q = (s, dir) => {
    val twin = s"$twinRoot/ztwin/${new java.io.File(dir).getName}"
    graft.sources.Layout.zOrderByRange(
      pq(s, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", numPartitions = 8)
      .write.mode("overwrite").parquet(s"$twin/documents.parquet")
    graft.sources.Layout.pruneFiles(
      graft.sources.Layout.zoneMaps(
        s.read.parquet(s"$twin/documents.parquet"), Seq("doc_id", "n_chars")),
      "doc_id", lit(100L), lit(260L))
  }

  /** Hourly event counts per type, gap-filled to a dense per-type
    * hourly grid ([[graft.operators.Resample.gapFill]]): every hour
    * between each type's first and last event appears, absent hours
    * as zero. */
  private val qEventsGapfill: Q = (s, dir) => {
    val hourly = events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    graft.operators.Resample.gapFill(hourly, "event_type", "h", "1 hour",
      Map("n" -> 0L))
  }

  /** Dense per-type hourly counts as integer ticks — the shared
    * front half of the EWMA and changepoint queries
    * ([[graft.operators.Resample.gapFillTicks]]). */
  private def denseHourlyTicks(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .withColumn("tick", expr("unix_micros(ts) div 3600000000"))
      .groupBy("event_type", "tick").agg(count(lit(1)).as("n"))
    graft.operators.Resample.gapFillTicks(hourly, "event_type", "tick",
      Map("n" -> 0L))
  }

  /** Exponentially-smoothed hourly ingest trend per event type
    * ([[graft.operators.Resample.ewmaSmooth]], decay 3/4 over a
    * 6-tick tail, on the gap-filled grid): integer numerator and
    * denominator plus their one-divide smoothed value — the alert
    * baseline that reacts to recent hours without the hard cliff a
    * plain moving average has at its window edge. */
  private val qEventsEwma: Q = (s, dir) =>
    graft.operators.Resample.ewmaSmooth(
      denseHourlyTicks(s, dir), "event_type", "tick", "n",
      decayNum = 3, decayDen = 4, window = 6)

  /** Sliding mean-shift changepoint scan over the same dense grid
    * ([[graft.operators.Resample.meanShiftScore]], 24-tick frames):
    * each interior hour compares the day before against the day
    * after in exact integer mass; |shift| ≥ 25 flags the tail of the day-over-day swing distribution (~3% of interior hours at sf0.01 — both branches of the flag are exercised at every fixture scale).
    * The two-sample scan form keeps changepoint detection one
    * declarative window pass — no sequential CUSUM recurrence. */
  private val qEventsChangepoint: Q = (s, dir) =>
    graft.operators.Resample.meanShiftScore(
      denseHourlyTicks(s, dir), "event_type", "tick", "n",
      window = 24, minShift = 25L)

  /** Per-type OLS trend of hourly ingest volume over the dense grid
    * ([[graft.operators.Profile.linearTrend]]): slope and
    * first-tick level from exact integer moments (emitted as
    * num/den longs, so the fit itself is oracle-exact) — the
    * capacity-planning line behind the EWMA's short-term baseline. */
  private val qEventsTrend: Q = (s, dir) =>
    graft.operators.Profile.linearTrend(
      denseHourlyTicks(s, dir), "event_type", "tick", "n")

  /** Benford first-digit audit of order totals per priority class
    * ([[graft.operators.Checks.benford]] on exact cents): 9 digits ×
    * each priority with observed counts, exact permille deviations,
    * and the suspicious flag at 30 permille (a tolerance the fixture straddles: the top-heavy TPC-H price range over-represents digits 1-5 while 8 and 9 sit inside it, so both flag branches are exercised) — the fabricated-amounts screen as a
    * data-quality surface. */
  private val qQualityBenford: Q = (s, dir) =>
    graft.operators.Checks.benford(
      pq(s, dir, "orders").select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents")),
      "o_orderpriority", "cents", tolerancePermille = 30)

  /** Per-user inter-arrival profile: gap count, total, max, and the
    * EXACT median gap ([[graft.operators.Profile.weightedMedian]]
    * with unit weights over the lag differences) — burstiness in
    * one frame (a bursty user's mean gap dwarfs their median; a
    * metronomic one's agree), with the median rank-selected rather
    * than interpolated so the row is oracle-exact. */
  private val qEventsInterarrival: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("event_id").asc)
    val gaps = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(byUser))
      .filter(col("gap").isNotNull)
    val med = graft.operators.Profile.weightedMedian(
      gaps.withColumn("one", lit(1L)), "user_id", "gap", "one", "event_id")
      .select(col("user_id"), col("median_value").as("median_gap"))
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sum_gap"),
        max("gap").as("max_gap"))
      .join(med, Seq("user_id"))
  }

  /** Hourly user-growth curve: users bucketed by FIRST-seen hour,
    * new and cumulative counts per hour — the acquisition view next
    * to [[qEventsRetention]]'s cohort triangle. The cumulative
    * window is global but runs over the HOUR DOMAIN (the corpus
    * collapses in the per-user min and per-hour count first), the
    * bounded-domain exception the samplers' zero-shuffle rule
    * carves out. */
  private val qEventsGrowth: Q = (s, dir) => {
    val firstDay = events(s, dir)
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts) div 3600000000")).as("hour"))
    firstDay.groupBy("hour").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(
        Window.orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Hour-of-day seasonal spike detection over the dense grid
    * ([[graft.operators.Profile.seasonalAnomalies]], period 24,
    * threshold 2000‰): each hour judged against ITS OWN
    * hour-of-day baseline — the diurnal-aware complement to the
    * global-mean alarm in [[qEventsAnomaly]]. */
  private val qEventsSeasonal: Q = (s, dir) =>
    graft.operators.Profile.seasonalAnomalies(
      denseHourlyTicks(s, dir), "event_type", "tick", "n",
      period = 24, thresholdPermille = 2000)

  /** First/last-touch conversion attribution over the event log
    * ([[graft.operators.Funnel.attribution]]): every purchase
    * reports the first and last non-purchase event since the user's
    * previous purchase, plus the touch count — windowed assignment,
    * so each touch credits exactly one conversion. */
  private val qEventsAttribution: Q = (s, dir) =>
    graft.operators.Funnel.attribution(
      events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id")),
      "user_id", "event_type", "ts_us", "event_id", "purchase")

  /** Robust per-source center statistics
    * ([[graft.operators.Profile.weightedMedian]] /
    * [[graft.operators.Profile.modeBy]]): the exact lower median
    * document length (rank selection, not interpolation), the
    * character-MASS median (the length half the corpus's characters
    * sit at or below — the budget-relevant center for size-skewed
    * sources), and the modal language with deterministic ties. */
  private val qProfileRobust: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val med = graft.operators.Profile.weightedMedian(
      docs.withColumn("one", lit(1L)), "source", "n_chars", "one", "doc_id")
    val mass = graft.operators.Profile.weightedMedian(
        docs, "source", "n_chars", "n_chars", "doc_id")
      .select(col("source"), col("median_value").as("mass_median"))
    val mode = graft.operators.Profile.modeBy(docs, "source", "lang")
    med.join(mass, Seq("source")).join(mode, Seq("source"))
  }

  /** Golden-record survivorship per customer over the order log
    * ([[graft.operators.FuzzyJoin.goldenRecord]]): each field takes
    * the customer's latest NON-NULL value independently — status and
    * priority are deterministically nulled on modular orderkey bands so
    * the per-field independence actually bites (a newer row with a
    * NULL priority must not erase the older known one). */
  private val qGoldenRecord: Q = (s, dir) =>
    graft.operators.FuzzyJoin.goldenRecord(
      pq(s, dir, "orders").select(
        col("o_custkey"),
        unix_date(col("o_orderdate").cast("date")).as("o_day"),
        col("o_orderkey"),
        when(col("o_orderkey") % 3 =!= 0, col("o_orderstatus")).as("status"),
        when(col("o_orderkey") % 5 =!= 0, col("o_orderpriority")).as("priority"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents")),
      "o_custkey", "o_day", "o_orderkey",
      Seq("status", "priority", "price_cents"))

  /** Functional-dependency audit over orders
    * ([[graft.operators.Checks.functionalDependency]]): the key FD
    * o_orderkey → o_custkey (holds — 0 violations) beside the
    * deliberately false o_custkey → o_orderstatus (every multi-order
    * customer with mixed statuses violates) — both flag branches of
    * the report in one frame. */
  private val qCheckFd: Q = (s, dir) => {
    val o = pq(s, dir, "orders")
    graft.operators.Checks.functionalDependency(o, Seq("o_orderkey"), "o_custkey")
      .unionByName(graft.operators.Checks.functionalDependency(
        o, Seq("o_custkey"), "o_orderstatus"))
  }

  /** Matryoshka-style truncation audit of the embedding table: the
    * fraction of each vector's energy (squared norm) its 32- and
    * 16-dim prefixes retain — the per-vector answer to "what does
    * cutting the dimension cost", computed with the same ordered
    * double fold as every vector query so the oracle replays it
    * bit-for-bit ([[graft.functions.SimilarityFunctions.dot]] on
    * `slice`d arrays; zero-norm vectors report 0). */
  private val qEmbedTruncation: Q = (s, dir) => {
    import graft.functions.SimilarityFunctions
    val full = SimilarityFunctions.dot(col("embedding"), col("embedding"))
    def energy(k: Int) = {
      val p = slice(col("embedding"), 1, k)
      when(full > 0.0, SimilarityFunctions.dot(p, p) / full).otherwise(0.0)
        .as(s"energy$k")
    }
    pq(s, dir, "embeddings").select(col("vec_id"), energy(32), energy(16))
  }

  /** Schema-evolution-safe union of two order vintages
    * ([[graft.operators.Reconcile.unionEvolved]]): the "old" files
    * carry an INT key and a FLOAT price and lack the priority
    * column; the union widens int→long and float→double, null-fills
    * the missing column, and would fail fast on an irreconcilable
    * type — the multi-vintage read path without a migration
    * rewrite. */
  private val qUnionEvolved: Q = (s, dir) => {
    val o = pq(s, dir, "orders")
    val vintageOld = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_totalprice").cast("float").as("o_totalprice"))
    val vintageNew = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    graft.operators.Reconcile.unionEvolved(Seq(vintageOld, vintageNew))
  }

  /** NESTED schema evolution: the old vintage's `meta` struct carries
    * cust:int; the new vintage widens cust to long AND adds a
    * priority field — unionEvolved reconciles the column to
    * struct(cust:long, priority:string) with the old rows' priority
    * NULL, no rewrite. Output flattened to scalars (the struct
    * machinery is what's under test; scalar columns keep the hash
    * compare engine-neutral). */
  private val qUnionEvolvedNested: Q = (s, dir) => {
    val o = pq(s, dir, "orders")
    val vOld = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        struct(col("o_custkey").cast("int").as("cust")).as("meta"))
    val vNew = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"),
        struct(col("o_custkey").as("cust"),
          col("o_orderpriority").as("priority")).as("meta"))
    graft.operators.Reconcile.unionEvolved(Seq(vOld, vNew))
      .select(col("o_orderkey"), col("meta.cust").as("cust"),
        col("meta.priority").as("priority"))
  }

  /** Conversion latency: each purchase's distance to the user's most
    * recent prior non-purchase event (a ROWS-framed conditional max
    * — never a self-join); NULL for conversions with no prior touch.
    * The reaction-time distribution behind attribution's credit
    * assignment. */
  private val qEventsConvLatency: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("event_id").asc)
    events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"), col("event_type"))
      .withColumn("last_touch_t",
        max(when(col("event_type") =!= "purchase", col("t")))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_event_id"),
        col("t").as("conv_ts_us"),
        (col("t") - col("last_touch_t")).as("latency_us"))
  }

  /** Language-ID confidence margins: the winning marker score minus
    * the runner-up per document — the "how sure was the classifier"
    * column a routing threshold needs next to the bare prediction
    * (margin 0 = a tie the alphabetical tie-break decided; filter
    * `margin >= 2` for the confidently-routed subset). Integer
    * scores throughout. */
  private val qTextLangMargin: Q = (s, dir) => {
    val scores = TextFunctions.langMarkers.map { case (_, ms) =>
      TextFunctions.langScore(col("text"), ms)
    }
    val sorted = sort_array(array(scores: _*), asc = false)
    pq(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      sorted.getItem(0).as("best"),
      sorted.getItem(1).as("second"),
      (sorted.getItem(0) - sorted.getItem(1)).as("margin"))
  }

  /** Tokenizer fertility per language under the trained BPE
    * ([[graft.operators.Bpe.trainAndSegment]], 8 corpus-wide
    * merges): subwords-per-word mass ratio — the tokenizer-equity
    * number multilingual mixes are balanced on (a language the
    * merges never learned pays more subwords per word). Exact
    * integer masses, one final divide; the oracle replays the full
    * unrolled merge recursion and the per-language join. */
  private val qTextFertility: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val seg = graft.operators.Bpe.trainAndSegment(docs, "text", 8)
    val lw = docs
      .select(col("lang"),
        explode(TextFunctions.tokens(lower(col("text")))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("lang", "word").agg(count(lit(1)).as("lfreq"))
    lw.join(seg.select("word", "n_subwords"), "word")
      .groupBy("lang")
      .agg(sum(col("lfreq") * col("n_subwords")).as("subword_mass"),
        sum(col("lfreq")).as("word_mass"))
      .withColumn("fertility",
        col("subword_mass").cast("double") / col("word_mass").cast("double"))
  }

  /** Per-source Gini concentration of character mass
    * ([[graft.operators.Profile.giniIndex]]): how unevenly each
    * source's characters spread over its documents — the
    * budget-domination screen for a training mixture, exact integer
    * moments plus the one final divide. */
  private val qProfileGini: Q = (s, dir) =>
    graft.operators.Profile.giniIndex(
      pq(s, dir, "documents"), "source", "n_chars")

  /** Cross-source quantile mapping of document length onto src0's
    * distribution ([[graft.operators.Profile.quantileMap]]): every
    * document's length re-expressed as the equally-ranked length in
    * the reference source — interpolation-free histogram
    * equalization, the calibration every mixed-corpus threshold
    * implicitly assumes. */
  private val qQualityQuantileMap: Q = (s, dir) =>
    graft.operators.Profile.quantileMap(
      pq(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "source", "n_chars", "doc_id", refGroup = "src0")

  /** Discovered session paths over the event log
    * ([[graft.operators.Funnel.sessionPaths]], 30-min gap): each
    * session rendered as its ordered event-type sequence, counted
    * per distinct path, paths seen ≥ 5 times — the empirical
    * funnel-discovery table. */
  private val qEventsPaths: Q = (s, dir) =>
    graft.operators.Funnel.sessionPaths(
      events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id")),
      "user_id", "event_type", "ts_us", "event_id",
      gapUs = 1800000000L, minCount = 5L)

  /** Interval-overlap join of browse sessions against transaction
    * sessions ([[graft.operators.RangeJoin.intervalOverlap]]): each
    * user's click/view activity runs (30-min inactivity gap, padded
    * ±30 min to their inactivity envelope) paired with their
    * purchase/signup runs that overlap in time — the binned
    * construction, oracle-checked against DuckDB's naive inequality
    * join, so the first-shared-bin dedup is continuously re-proven
    * exact. */
  private val qIntervalOverlap: Q = (s, dir) => {
    def sessions(types: Seq[String], p: String): DataFrame =
      graft.operators.Funnel.withSessionSeq(
        events(s, dir).filter(col("event_type").isin(types: _*))
          .select(col("user_id").as(s"${p}u"),
            unix_micros(col("ts")).as(s"${p}t"), col("event_id").as(s"${p}id")),
        s"${p}u", s"${p}t", s"${p}id", 1800000000L, s"${p}seq")
        .groupBy(s"${p}u", s"${p}seq")
        .agg((min(col(s"${p}t")) - 1800000000L).as(s"${p}lo"),
          (max(col(s"${p}t")) + 1800000000L).as(s"${p}hi"))
    graft.operators.RangeJoin.intervalOverlap(
      sessions(Seq("click", "view"), "b"),
      sessions(Seq("purchase", "signup"), "x"),
      Seq("bu" -> "xu"), "blo", "bhi", "xlo", "xhi",
      binWidth = 3600000000L)
      .select(col("bu").as("user_id"), col("bseq").as("browse_seq"),
        col("xseq").as("transact_seq"), col("blo"), col("bhi"),
        col("xlo"), col("xhi"),
        (least(col("bhi"), col("xhi")) - greatest(col("blo"), col("xlo")))
          .as("overlap_us"))
  }

  /** Small-file compaction plan over a fresh z-ordered twin's
    * manifest ([[graft.sources.Layout.compactionPlan]]): adjacent
    * files in min-doc_id order grouped into ~150-row merge runs. The
    * oracle recomputes the manifest from the same twin files and
    * replays the integer cumulative-sum grouping, covering layout
    * plumbing + plan math end to end. */
  private val qLayoutCompaction: Q = (s, dir) => {
    val twin = s"$twinRoot/ctwin/${new java.io.File(dir).getName}"
    graft.sources.Layout.zOrderByRange(
      pq(s, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", numPartitions = 8)
      .write.mode("overwrite").parquet(s"$twin/documents.parquet")
    val manifest = graft.sources.Layout.zoneMaps(
      s.read.parquet(s"$twin/documents.parquet"), Seq("doc_id"))
    graft.sources.Layout.compactionPlan(
      manifest, "file_idx", "n_rows", "min_doc_id", target = 150L)
  }

  /** Per-source percentile calibration of document length
    * ([[graft.operators.Profile.percentileRank]]): a raw score means
    * different things from different sources; its within-source
    * percent_rank is the comparable quantity a global threshold
    * should cut on. Exact `(rank-1)/(n-1)` both engines. */
  private val qQualityCalibrated: Q = (s, dir) =>
    graft.operators.Profile.percentileRank(
      pq(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "source", "n_chars")

  /** Budgeted per-source selection
    * ([[graft.operators.Sampling.budgetPerGroup]]): longest documents
    * first until 30% of each source's character mass is spent —
    * the data-mixture shape "best rows under a per-domain token
    * budget", all-integer so the oracle replays it exactly. */
  private val qSampleBudget: Q = (s, dir) =>
    graft.operators.Sampling.budgetPerGroup(
      pq(s, dir, "documents").select("doc_id", "source", "n_chars"),
      "doc_id", "source", "n_chars", "n_chars", budgetPermille = 300)

  /** The part-name domain shared by the fuzzy-match queries: distinct
    * names with `min(p_partkey)` as a deterministic dense id (entity
    * resolution resolves VALUES, not rows — the domain is orders of
    * magnitude smaller than the table). */
  private def partNames(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "part").groupBy("p_name").agg(min("p_partkey").as("name_id"))

  /** Exact trigram-Jaccard similarity self-join over the distinct
    * part-name domain ([[graft.operators.FuzzyJoin.similarPairs]],
    * t = 0.25 — an exact binary fraction, so threshold compares are
    * bit-identical across engines). The oracle runs the QUADRATIC
    * pairwise scan; a hash match therefore proves the prefix filter
    * lost no pair. */
  private val qFuzzyJoin: Q = (s, dir) =>
    graft.operators.FuzzyJoin.similarPairs(
      partNames(s, dir), "name_id", "p_name", threshold = 0.25)

  /** The fuzzy REFER ([[graft.operators.FuzzyJoin.bestMatches]]):
    * names observed in the odd-partkey shard matched against the
    * even-partkey shard's canonical domain — per left name, the
    * single best match at Jaccard ≥ 0.25 (ties → min right id).
    * The oracle replays the quadratic cross scan + the same
    * (jaccard DESC, right_id) window rank. */
  private val qFuzzyLookup: Q = (s, dir) => {
    val part = pq(s, dir, "part")
    val leftDom = part.filter(col("p_partkey") % 2 === 1)
      .groupBy("p_name").agg(min("p_partkey").as("left_id"))
    val rightDom = part.filter(col("p_partkey") % 2 === 0)
      .groupBy("p_name").agg(min("p_partkey").as("right_id"))
    graft.operators.FuzzyJoin.bestMatches(
      leftDom, "left_id", "p_name", rightDom, "right_id", "p_name",
      threshold = 0.25)
  }

  /** Jaro-Winkler fuzzy lookup ([[graft.operators.FuzzyJoin.jwBestMatches]]):
    * the part-name domain dirtied with a trailing 'x' resolves back to
    * the canonical domain under 2-char prefix blocking at jw ≥ 0.85.
    * The oracle blocks and scores with DuckDB's own
    * `jaro_winkler_similarity` — the native expression is verified
    * BIT-for-bit against an independent implementation of the same
    * published algorithm. */
  private val qFuzzyJw: Q = (s, dir) => {
    val part = pq(s, dir, "part")
    val leftDom = part.groupBy(concat(col("p_name"), lit("x")).as("probe"))
      .agg(min("p_partkey").as("left_id"))
    val rightDom = part.groupBy("p_name")
      .agg(min("p_partkey").as("right_id"))
    graft.operators.FuzzyJoin.jwBestMatches(
      leftDom, "left_id", "probe", rightDom, "right_id", "p_name",
      threshold = 0.85, prefixLen = 2)
  }

  /** The fuzzy refer THROUGH the declarative engine
    * ([[graft.plans.FuzzyRefer]]): part names dirtied with a trailing
    * character resolve back to the canonical name domain at
    * Jaccard ≥ 0.5 and pull the canonical min retail price;
    * default −1.0 on miss. The oracle replays the quadratic
    * best-match scan plus the row-level left join. */
  private val qReferFuzzy: Q = (s, dir) => {
    val io = new graft.sources.ParquetDirIO(s, dir, dir)
    val plan = graft.plans.TransportPlan.of(
      "part_fz" -> graft.plans.TableMap(
        originalTable = Some("part"),
        columns = Seq(
          graft.plans.Rename("p_partkey", "p_partkey"),
          graft.plans.Derived("obs_name", concat(col("p_name"), lit("x"))),
          graft.plans.FuzzyRefer(
            target = "canon_price",
            accordingColumn = "obs_name",
            searchSource = graft.plans.SearchSource.Original,
            searchTable = "part",
            searchColumn = "p_name",
            wantedColumn = "p_retailprice",
            threshold = 0.5,
            default = Some(-1.0d),
            broadcastLookup = true))))
    new graft.operators.Transportor(io, plan).frame("part_fz")
  }

  /** Entity resolution end to end: fuzzy pairs → connected
    * components → every part row labeled with its name cluster's
    * canonical id ([[graft.operators.FuzzyJoin.resolveEntities]]).
    * The oracle replays the quadratic pair scan + recursive-CTE
    * closure (integer min-label fixpoint — exact by construction). */
  private val qEntityResolution: Q = (s, dir) => {
    val ents = graft.operators.FuzzyJoin.resolveEntities(
      partNames(s, dir), "name_id", "p_name", threshold = 0.25)
    // Collect-free: the domain-sized mapping stays a DISTRIBUTED
    // frame and enters the corpus join through a broadcast exchange
    // of its persisted blocks — no driver materialization anywhere
    // on the mapping path (PlanGuardSpec pins the no-LocalTableScan
    // shape), so the same code runs with an unbounded value domain
    // (drop the broadcast hint past the AQE threshold). The blocks
    // are swept by the harness after the write; a production caller
    // releases after its own action, or passes checkpointDir for the
    // zero-release lineage-free path.
    pq(s, dir, "part").select("p_partkey", "p_name")
      .join(partNames(s, dir), Seq("p_name"))
      .join(broadcast(ents), Seq("name_id"))
      .select("p_partkey", "p_name", "entity_id")
  }

  /** Fixed-point PageRank over the customer-nation → supplier-nation
    * trade graph (edge weight = lineitem count) — the link-graph
    * quality-weighting signal, here exercised on the densest graph the
    * fixtures induce. All-integer recurrence, so the oracle replays
    * it without any float tolerance ([[graft.operators.Graph]]). */
  /** The customer-nation → supplier-nation trade graph shared by both
    * rank queries (edge weight = lineitem count). */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    pq(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(pq(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(pq(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(pq(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  private val qGraphPagerank: Q = (s, dir) =>
    graft.operators.Graph.pageRank(tradeEdges(s, dir), weightCol = Some("w"))

  /** Per-nation degree profile of the trade graph
    * ([[graft.operators.Graph.degreeStats]]): out/in degree and
    * weight mass plus the reciprocal-partner count — the structural
    * summary next to [[qGraphPagerank]]'s importance ranks. */
  private val qGraphDegrees: Q = (s, dir) =>
    graft.operators.Graph.degreeStats(
      tradeEdges(s, dir), "src", "dst", weightCol = Some("w"))

  private val pprSeeds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  /** Personalized PageRank from nations 0-4: all teleport/dangling
    * mass returns to the seed set, so ranks measure trade proximity
    * to those five economies. */
  private val qGraphPpr: Q = (s, dir) =>
    graft.operators.Graph.pageRank(tradeEdges(s, dir), weightCol = Some("w"),
      seeds = pprSeeds)

  /** Markov next-event transition matrix per user
    * ([[graft.operators.Funnel.transitionMatrix]], ties broken by
    * event_id). */
  private val qEventsTransitions: Q = (s, dir) =>
    graft.operators.Funnel.transitionMatrix(
      events(s, dir), "user_id", "event_type", "ts", "event_id")

  /** Per-nation triangle counts over the undirected trade graph
    * ([[graft.operators.Graph.triangleCounts]]). */
  private val qGraphTriangles: Q = (s, dir) =>
    graft.operators.Graph.triangleCounts(tradeEdges(s, dir))

  /** Serpentine weight-balanced sharding of each language's documents
    * into 4 shards by n_chars ([[graft.operators.Packing.balancedShards]]). */
  private val qPackShards: Q = (s, dir) =>
    graft.operators.Packing.balancedShards(pq(s, dir, "documents"),
      "doc_id", "n_chars", numShards = 4, groupCol = Some("lang"))

  // -------------------------------------------------------------- multimodal

  private val qMultimodalMeta: Q = (s, dir) =>
    Multimodal.pack(pq(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "media_type", "byte_len")

  private val qMultimodalDecode: Q = (s, dir) =>
    Multimodal.features(s, pq(s, dir, "documents"), "doc_id", "text")

  /** Audio-metadata extraction through the REAL header parsers: each
    * document materializes as a genuine byte payload — even doc_ids a
    * canonical RIFF/WAVE (rate/channels cycling per id, text bytes as
    * PCM data), odd ids an ID3v2-tagged MPEG-1 Layer III frame
    * (bitrate/rate/mode cycling) — which [[Multimodal.extractAudio]]
    * then parses back byte-for-byte ([[Multimodal.tryDecodeWav]],
    * [[Multimodal.tryDecodeMp3]]). The oracle replays the
    * construction contract in integer SQL, so a parser that misreads
    * any header field hash-mismatches immediately. */
  private val qMultimodalAudio: Q = (s, dir) => {
    import s.implicits._
    val items = pq(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val payload =
          if (id % 2 == 0) {
            val k = id / 2
            Multimodal.wavBytes(
              (8000 + (k % 5) * 4000).toInt, (1 + k % 2).toInt, 16, bytes)
          } else {
            val k = (id - 1) / 2
            Multimodal.mp3Bytes(
              (1 + k % 14).toInt, (k % 3).toInt, k % 2 == 0,
              ((id % 7) * 10).toInt, bytes)
          }
        Multimodal.MediaItem(id, "", payload, payload.length.toLong)
      }
    Multimodal.extractAudio(items).toDF()
  }

  /** IMAGE near-duplicate pairs over REAL decoded pixels — the
    * multimodal dedup chain end to end: every doc_id materializes as
    * a genuine PNG ([[Multimodal.pngBytes]]) whose 8×8-blockwise
    * grayscale content follows a fixed integer recipe — three
    * variants per pattern: the base 32×32, the SAME pattern at 48×48
    * (identical [[Multimodal.aHash]] — rescaled near-dup), and a
    * one-cell-perturbed 32×32 (small positive Hamming). The payloads
    * are decoded by the REAL ImageIO reader, perceptually hashed, and
    * paired with the generic pigeonhole
    * [[Dedup.hammingPairs]] (maxHamming 3). The oracle replays
    * recipe→cells→mean→bits→blocks→bit_count in integer SQL, so a
    * decoder or hash that misreads any pixel hash-mismatches. */
  /** Shared image-aHash frame for the perceptual-dedup queries: the
    * BUILT PNG payloads decoded by the real ImageIO reader and
    * average-hashed. */
  private def imageAhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = pq(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val a = (id / 3) % 100003
        val v = id % 3
        def g(gx: Int, gy: Int): Int =
          (((gx * (a + 3) + gy * (2 * a + 1)) * 37 + 11 * a) % 256).toInt
        def g2(gx: Int, gy: Int): Int =
          if (gx == 0 && gy == 0) ((g(0, 0) + 120) % 256) else g(gx, gy)
        val payload = v match {
          case 0 => Multimodal.pngBytes(32, 32, g)
          case 1 => Multimodal.pngBytes(48, 48, g)
          case _ => Multimodal.pngBytes(32, 32, g2)
        }
        Multimodal.MediaItem(id, "", payload, payload.length.toLong)
      }
    Multimodal.extractImageHashes(items).toDF()
      .filter(col("decoded")).select("doc_id", "ahash")
  }

  private val qMultimodalImageDups: Q = (s, dir) =>
    Dedup.hammingPairs(imageAhashes(s, dir), "doc_id", "ahash", maxHamming = 3)

  /** Shared audio-fingerprint frame for the audio-dedup query: every
    * doc_id materializes as a REAL 16-bit PCM RIFF/WAVE
    * ([[graft.multimodal.Multimodal.wavBytes]], 640 mono samples from
    * a fixed integer recipe) — three variants per trio: the base
    * signal, the SAME signal at double volume (identical
    * [[graft.multimodal.Multimodal.audioHash]] — the energy-contour
    * hash compares adjacent frames, so uniform gain cancels), and a
    * one-frame spike perturbation (≤2 flipped bits). The payloads are
    * parsed back by the real RIFF walk and fingerprinted; the oracle
    * replays recipe→samples→frame-energies→contour-bits→blocks in
    * integer SQL. */
  private def audioAhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = pq(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val a = (id / 3) % 100003
        val v = id % 3
        val n = 640
        val bb = java.nio.ByteBuffer.allocate(n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) {
          val raw = ((a + 1) * (i + 1) * 37 + 11 * a) % 2003 - 1001
          val sv = v match {
            case 1 => raw * 2
            case 2 => if (i / 10 == 20) raw + 4000 else raw
            case _ => raw
          }
          bb.putShort(sv.toShort)
          i += 1
        }
        val payload = Multimodal.wavBytes(8000, 1, 16, bb.array())
        Multimodal.MediaItem(id, "", payload, payload.length.toLong)
      }
    Multimodal.extractAudioHashes(items).toDF()
      .filter(col("decoded")).select("doc_id", "ahash")
  }

  /** AUDIO near-duplicate pairs over real parsed PCM — the
    * audio-modality leg of the multimodal dedup matrix: decode →
    * energy-contour fingerprint → the SAME generic pigeonhole
    * [[Dedup.hammingPairs]] as image aHashes and text SimHashes. */
  private val qMultimodalAudioDups: Q = (s, dir) =>
    Dedup.hammingPairs(audioAhashes(s, dir), "doc_id", "ahash", maxHamming = 3)

  /** The IMAGE dedup endgame — [[qMultimodalImageDups]]'s perceptual
    * pairs fed through the same transitive-closure + keep-min-id
    * machinery as the text endgame (`q_dedup_keep_one`): decode →
    * aHash → Hamming pairs → connected components → one survivor per
    * visual cluster, never-paired images pass through. Pins that the
    * cross-modality composition actually composes: the closure
    * operator is modality-blind once pairs exist. */
  private val qMultimodalKeepOne: Q = (s, dir) =>
    Dedup.keepOnePerCluster(
      pq(s, dir, "documents"), "doc_id", qMultimodalImageDups(s, dir))
      .select("doc_id")

  /** MULTI-SIGNAL dedup — the production near-dup shape when a
    * document is a (text, image) record: a pair from EITHER signal
    * (text MinHash near-dup, `q_dedup_minhash` parameters; or image
    * perceptual near-dup, [[qMultimodalImageDups]]) makes two records
    * duplicates, the union of both edge sets closes transitively, one
    * survivor per cluster. The closure machinery is signal-blind, so
    * composing signals is a pair-frame union — no new operator.
    *
    * BOTH generators run with `maxBucketSize = 12` (the census cap):
    * when the signals compose, a handful of cross-signal edges glue
    * the per-signal mega-clusters into one giant high-diameter
    * component, and the closure's pass count — log2(diameter) —
    * explodes with it (measured at sf0.1: uncapped union 24 s vs
    * the capped 5 s, on a fixture whose aHash mega-groups reach 21
    * members). Mega-buckets are boilerplate by definition; the cap is
    * the documented posture everywhere pairs feed a closure. */
  private val qDedupMultisignal: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val textPairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(12))
      .select("id_a", "id_b")
    val imagePairs = Dedup.hammingPairs(imageAhashes(s, dir),
      "doc_id", "ahash", maxHamming = 3, maxBucketSize = Some(12))
      .select("id_a", "id_b")
    Dedup.keepOnePerCluster(
      docs, "doc_id", textPairs.unionByName(imagePairs).dropDuplicates())
      .select("doc_id")
  }

  /** MP4 container metadata over BUILT payloads — the same oracle
    * contract as [[qMultimodalAudio]]: every row's ISO-BMFF payload
    * is constructed from (doc_id, text) by a fixed deterministic
    * recipe ([[graft.multimodal.Multimodal.mp4Bytes]] — real box
    * sizes, real big-endian fields), run through the REAL box-walk
    * parser, and the oracle replays each parsed field from the
    * construction parameters as integer SQL. */
  private val qMultimodalVideo: Q = (s, dir) => {
    import s.implicits._
    val brands = Array("isom", "mp42", "dash")
    val scales = Array(600, 1000, 25, 30000, 90000)
    val codecs = Array("avc1", "hvc1", "mp4a", "vp09", "av01")
    val items = pq(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val n = (1 + id % 3).toInt
        val ccs = (0 until n).map(i => codecs(((id + i) % 5).toInt))
        val payload = Multimodal.mp4Bytes(brands((id % 3).toInt),
          scales((id % 5).toInt), bytes.length.toLong * 7 + id % 97, ccs, bytes)
        Multimodal.MediaItem(id, "", payload, payload.length.toLong)
      }
    Multimodal.extractVideo(items).toDF()
  }

  /** Shared video-fingerprint frame for the video-dedup query: every
    * doc_id materializes as a REAL minimal MP4 whose first trak
    * carries a per-sample `stsz` size table
    * ([[graft.multimodal.Multimodal.mp4Bytes]], 320 sample sizes from
    * a fixed integer recipe) — three variants per trio: the base
    * size rhythm, the SAME rhythm at 3× the bitrate (identical
    * [[graft.multimodal.Multimodal.videoHash]] — the size-contour
    * hash compares adjacent buckets, so uniform bitrate scaling
    * cancels), and a one-bucket spike perturbation (≤2 flipped
    * bits). The payloads are parsed back by the real box walk and
    * fingerprinted; the oracle replays
    * recipe→sizes→bucket-sums→contour-bits→blocks in integer SQL. */
  private def videoVhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = pq(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val a = (id / 3) % 100003
        val v = id % 3
        val n = 320
        val sizes = (0 until n).map { i =>
          val raw = ((a + 1) * (i + 1) * 53 + 7 * a) % 9001 + 100
          (v match {
            case 1 => raw * 3
            case 2 => if (i / 5 == 20) raw + 40000 else raw
            case _ => raw
          }).toInt
        }
        val payload = Multimodal.mp4Bytes(
          "isom", 600, 1000L, Seq("avc1"), Array.empty, sizes)
        Multimodal.MediaItem(id, "", payload, payload.length.toLong)
      }
    Multimodal.extractVideoHashes(items).toDF()
      .filter(col("decoded")).select("doc_id", "vhash")
  }

  /** VIDEO near-duplicate pairs over real parsed sample-size tables —
    * the video leg of the multimodal dedup matrix: box-walk →
    * size-contour fingerprint → the SAME generic pigeonhole
    * [[Dedup.hammingPairs]] as image aHashes, audio contours, and
    * text SimHashes. With this, all four modalities pair through one
    * operator. */
  private val qMultimodalVideoDups: Q = (s, dir) =>
    Dedup.hammingPairs(videoVhashes(s, dir), "doc_id", "vhash", maxHamming = 3)

  /** Shared built-transcript frame for the chat surface: every doc_id
    * serializes as a REAL JSON chat transcript built from (doc_id,
    * text) by a fixed recipe — the document's JSON-safe words (its
    * lowercased whitespace tokens that fully match `[a-z0-9]+`) are
    * sliced into `k = 2 + id%5` alternating user/assistant turns
    * (slice boundaries `⌊j·n/k⌋`, the contour-bucket discipline);
    * `id%7 == 0` prepends a system turn. Three violation classes are
    * injected deterministically so the validator sees real negatives:
    * `id%17 == 0` gives the opening turn an unknown `tool` role,
    * `id%11 == 0` doubles the user role on turn 1, `id%13 == 0`
    * empties the final turn. The payload is then parsed back by
    * Spark's native `from_json` ([[graft.operators.Chat.parseTurns]])
    * and the oracle replays recipe→roles→slice-sizes in integer SQL. */
  private def chatTranscripts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pq(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val words = text.toLowerCase(java.util.Locale.ROOT)
          .split(TextFunctions.wsClass + "+")
          .filter(_.matches("[a-z0-9]+"))
        val n = words.length
        val k = (2 + id % 5).toInt
        def role(j: Int): String =
          if (j == 0 && id % 17 == 0) "tool"
          else if (j == 1 && id % 11 == 0) "user"
          else if (j % 2 == 0) "user" else "assistant"
        def content(j: Int): String =
          if (j == k - 1 && id % 13 == 0) ""
          else words.slice((j.toLong * n / k).toInt, ((j + 1).toLong * n / k).toInt)
            .mkString(" ")
        val turns =
          (if (id % 7 == 0) Seq(("system", "be concise")) else Nil) ++
            (0 until k).map(j => (role(j), content(j)))
        val json = turns
          .map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
          .mkString("[", ",", "]")
        (id, json)
      }
      .toDF("doc_id", "transcript")
  }

  /** SFT transcript parsing — Spark-native JSON schema-on-read over
    * built chat payloads: `from_json` + `posexplode` to typed turn
    * rows, each reduced to its role and whitespace-token count. */
  private val qChatParse: Q = (s, dir) =>
    graft.operators.Chat.parseTurns(chatTranscripts(s, dir), "doc_id", "transcript")
      .select(col("doc_id"), col("turn_idx"), col("role"),
        TextFunctions.tokenCount(col("content")).as("n_tokens"))

  /** SFT transcript validation — the conversational-contract gate
    * ([[graft.operators.Chat.validateTurns]]): role whitelist, system
    * position, strict alternation, no empty turns, per-role token
    * accounting. The built corpus carries all three violation classes
    * (unknown role / doubled user / empty final turn), so every flag
    * has real negatives at every scale. */
  private val qChatValidate: Q = (s, dir) =>
    graft.operators.Chat.validateTurns(
      graft.operators.Chat.parseTurns(chatTranscripts(s, dir), "doc_id", "transcript"),
      "doc_id")

  /** SFT batch assembly — the chat surface's endgame composition:
    * conversations that pass the [[qChatValidate]] gate are costed at
    * Σ turn tokens + 4 per turn (the chat-template overhead a real
    * serializer adds for role headers/separators), packed WHOLE into
    * 512-token training bins by the next-fit packer (a conversation
    * never straddles a sequence — no cross-conversation attention),
    * with each conversation's loss-mask mass (assistant tokens — the
    * only positions that produce gradient) carried through so a
    * loader can weigh bins by trainable tokens, not raw fill. */
  private val qChatPack: Q = (s, dir) => {
    import graft.operators.{Chat, Packing}
    // one-pass discipline (guide §5): the parsed-turn frame feeds the
    // BPE costing AND the contract gate (2 subtrees = 2 transcript
    // builds without the cut), and the costed frame is read twice
    // (pack input + the loss re-attach)
    val turns = Stage("chat turns", Local)(
      Chat.parseTurns(chatTranscripts(s, dir), "doc_id", "transcript"))
    // BPE-costed under the FROZEN release tokenizer (the ws-token
    // unit misjudges a context window by the measured 3.74x)
    val conv = Stage("chat costed", Local)(turns
      .withColumn("__tok",
        when(col("content").isNull, lit(0L))
          .otherwise(graft.operators.Bpe.tokenCountCol(
            col("content"), releaseMerges(s, dir))))
      .groupBy("doc_id")
      .agg((sum(col("__tok")) + lit(4L) * count(lit(1))).as("n_tokens"),
        sum(when(col("role") === "assistant", col("__tok")).otherwise(0L))
          .as("loss_tokens"))
      .join(Chat.validateTurns(turns, "doc_id")
        .filter(col("valid")).select("doc_id"), "doc_id")
      .withColumn("grp", pmod(col("doc_id"), lit(8L))))
    Packing.packBinsByCount(conv, "doc_id", "grp", "n_tokens", capacity = 512)
      .select(col("id").as("doc_id"), col("grp"), col("n_tokens"), col("bin_id"))
      .join(conv.select("doc_id", "loss_tokens"), "doc_id")
  }

  /** Per-source dataset-card rollup
    * ([[graft.operators.Profile.corpusManifest]]): doc/token mass,
    * exact-dup rate via the canonical fingerprint, DECIMAL-summed
    * mean quality, dominant predicted language + share. */
  private val qCorpusManifest: Q = (s, dir) =>
    graft.operators.Profile.corpusManifest(
      pq(s, dir, "documents"), "source", "text")

  /** Mixture epoch allocation
    * ([[graft.operators.Sampling.epochAllocation]]) over the corpus
    * manifest's source axis: configured weights (here a deterministic
    * per-source recipe standing in for the mixture config), a 2M
    * token budget, integer draw sizes and repeat factors, the >4
    * epochs oversampling guard. */
  private val qSampleEpochs: Q = (s, dir) =>
    graft.operators.Sampling.epochAllocation(
      pq(s, dir, "documents"), "source", "text",
      weightCol = lit(100L) + pmod(length(col("source")).cast("long") * 37L, lit(200L)),
      budgetTokens = 2000000L)

  /** Preference-pair QA over built (prompt, chosen, rejected)
    * triples: each document's whitespace tokens split into thirds,
    * with three deterministic violation classes — `id%17 == 0`
    * inflates chosen 8× (length-ratio violation), `id%13 == 0`
    * empties chosen, `id%9 == 0` copies the FINAL chosen into
    * rejected (identical pair — applied last, so it composes with
    * the other two). The oracle rebuilds the identical strings with
    * `list_slice`/`repeat` and replays every flag. */
  /** SFT-corpus near-dup — the dedup leg of the chat surface:
    * conversations reconstruct their trainable text (turn contents in
    * turn order — what the loss actually sees; roles and template
    * tokens excluded) and pair through the standard capped MinHash
    * ([[Dedup.minhashPairs]], the `q_dedup_minhash` parameters).
    * Instruction corpora are famously duplicate-heavy in exactly this
    * projection: same Q/A pair re-serialized under different role
    * layouts (system prompt present or not, doubled turns) must still
    * collide, which dropping the role/template overhead guarantees. */
  private val qChatDedup: Q = (s, dir) => {
    import graft.operators.Chat
    val turns = Chat.parseTurns(chatTranscripts(s, dir), "doc_id", "transcript")
    val convo = turns.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("content")))),
        t => t("content")), " ").as("text"))
    Dedup.minhashPairs(convo, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(12))
  }

  /** The composed INGEST pipeline — raw crawl record to per-source
    * post-clean manifest in one oracled chain: built HTML-wrapped
    * payloads (with `id%23` U+FFFD encoding damage) pass the
    * encoding gate ([[graft.functions.TextFunctions.encodingOk]],
    * inline — no report/self-join), strip boilerplate, NFC-normalize,
    * clear the language + quality + length gate, and roll up to
    * (source, n_docs, total_tokens, mean_quality). Every stage is an
    * operator already oracled standalone; the CTE-pyramid oracle
    * makes COMPOSITION drift hash-mismatch even when each stage
    * passes alone (the q_pipeline_clean discipline). The gate stage
    * keeps the `__mid` pushdown barrier so the heavy text scoring
    * runs once per row, not once in a pushed filter and again in the
    * projection. */
  private val qPipelineIngest: Q = (s, dir) => {
    val id = col("doc_id")
    val raw = pq(s, dir, "documents").select(id, col("source"),
      concat(lit(htmlPrefix), col("text"), lit(htmlSuffix),
        when(id % 23 === 0, lit("\uFFFD")).otherwise(lit(""))).as("raw"))
    val cleaned = raw
      .filter(TextFunctions.encodingOk(col("raw")))
      .select(id, col("source"),
        TextFunctions.normalizeText(
          TextFunctions.stripBoilerplate(col("raw"))).as("text"))
    val gated = cleaned
      .select(id, col("source"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        monotonically_increasing_id().as("__mid"))
      .filter(col("__mid") >= 0 && col("lang_pred") === "en" &&
        col("quality") >= 0.5 && col("n_tokens").between(5, 1000))
    gated.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      (sum(col("quality").cast("decimal(18,9)")).cast("double") /
        count(lit(1))).as("mean_quality"))
  }

  /** The materialized mixture draw
    * ([[graft.operators.Sampling.applyEpochAllocation]]): the
    * [[qSampleEpochs]] allocation executed into an actual copy list —
    * whole-document repetition with fractional rates resolved by the
    * salted hash residual. */
  private val qSampleEpochsApply: Q = (s, dir) =>
    graft.operators.Sampling.applyEpochAllocation(
      pq(s, dir, "documents"), "doc_id", "source", "text",
      weightCol = lit(100L) + pmod(length(col("source")).cast("long") * 37L, lit(200L)),
      budgetTokens = 2000000L)

  /** Encoding-health QA
    * ([[graft.functions.TextFunctions.encodingReport]]) over
    * deterministically CORRUPTED text: four injection classes
    * (`id%7` double-encoding mojibake, `id%11` U+FFFD replacement
    * chars, `id%13` a stray C0 control, `id%17` NBSP) appended to the
    * clean ASCII corpus so every counter and the all-clear flag see
    * real positives; the oracle rebuilds the identical corruption
    * with `chr()` codepoints and counts with the same RE2 classes. */
  private val qTextEncoding: Q = (s, dir) => {
    val id = col("doc_id")
    val corrupted = pq(s, dir, "documents").select(id,
      concat(col("text"),
        when(id % 7 === 0, lit(" \u00C3\u00A9\u00C3\u00A8")).otherwise(lit("")),
        when(id % 11 === 0, lit("\uFFFD\uFFFD")).otherwise(lit("")),
        when(id % 13 === 0, lit("\u0001")).otherwise(lit("")),
        when(id % 17 === 0, lit("\u00A0")).otherwise(lit(""))).as("text"))
    TextFunctions.encodingReport(corrupted, "doc_id", "text")
  }

  /** Incremental corpus manifest — batch states over the even-id and
    * odd-id halves merged into the full-corpus manifest
    * ([[graft.operators.Profile.manifestStates]] /
    * [[graft.operators.Profile.manifestMerge]]); the oracle computes
    * the manifest from the FULL corpus directly, so the gate itself
    * proves the closure (merge of batch states ≡ from-scratch
    * build). */
  private val qManifestMerge: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    val a = graft.operators.Profile.manifestStates(
      docs.filter(col("doc_id") % 2 === 0), "source", "text")
    val b = graft.operators.Profile.manifestStates(
      docs.filter(col("doc_id") % 2 === 1), "source", "text")
    graft.operators.Profile.manifestMerge(a.unionByName(b))
  }

  /** Curriculum phase manifest
    * ([[graft.operators.Sampling.curriculumSchedule]]): per-source
    * quality ntile phases + the salted SplitMix64 within-phase
    * shuffle key. */
  private val qCurriculum: Q = (s, dir) =>
    graft.operators.Sampling.curriculumSchedule(
      pq(s, dir, "documents"), "doc_id", "source", "text", phases = 4)

  /** The ZERO-SHUFFLE twin of [[qChatValidate]]
    * ([[graft.operators.Chat.validateTranscripts]] — higher-order
    * array functions over the parsed turn array, one codegen'd
    * projection, no explode/window/aggregate). Shares
    * [[qChatValidate]]'s oracle verbatim, so the DuckDB gate itself
    * pins the two implementations equal corpus-wide. */
  private val qChatGate: Q = (s, dir) =>
    graft.operators.Chat.validateTranscripts(
      chatTranscripts(s, dir), "doc_id", "transcript")

  /** Agentic tool-use protocol validation over built transcripts
    * ([[graft.operators.Chat.validateToolUse]]): every doc_id builds
    * a REAL JSON agentic trace — `id%4 == 0` conversations issue
    * `1 + id%2` tool calls (names from the {search, calc} registry)
    * answered by a tool turn; three violation classes are injected
    * deterministically: `id%19 == 0` (non-calling convs) inserts an
    * ORPHAN tool turn, `id%23 == 0` (calling convs) drops the tool
    * result (unanswered calls), `id%29 == 0` (calling convs) calls
    * the unregistered name `rogue`. Parsed back by `from_json` with
    * the nested tool_calls schema; the oracle regenerates the turn
    * table from the recipe and replays the same lag/lead flag
    * aggregates. */
  private val qChatTools: Q = (s, dir) => {
    import s.implicits._
    val transcripts = pq(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val hasCall = id % 4 == 0
        val orphan = id % 19 == 0 && !hasCall
        val unanswered = id % 23 == 0 && hasCall
        val rogue = id % 29 == 0 && hasCall
        val k = (1 + id % 2).toInt
        def callJson(j: Int): String = {
          val nm = if (rogue && j == 0) "rogue"
            else if ((id + j) % 2 == 0) "search" else "calc"
          s"""{"name":"$nm"}"""
        }
        val user = """{"role":"user","content":"q"}"""
        val aFinal = """{"role":"assistant","content":"done"}"""
        val toolT = """{"role":"tool","content":"result"}"""
        val aCall = s"""{"role":"assistant","content":"","tool_calls":${
          (0 until k).map(callJson).mkString("[", ",", "]")}}"""
        val turns =
          if (hasCall && !unanswered) Seq(user, aCall, toolT, aFinal)
          else if (hasCall) Seq(user, aCall, aFinal)
          else if (orphan) Seq(user, toolT, aFinal)
          else Seq(user, aFinal)
        (id, turns.mkString("[", ",", "]"))
      }
      .toDF("doc_id", "transcript")
    graft.operators.Chat.validateToolUse(
      graft.operators.Chat.parseToolTurns(transcripts, "doc_id", "transcript"),
      "doc_id", allowedTools = Seq("search", "calc"))
  }

  /** The agentic SFT corpus for the composed endgame pipeline
    * ([[qPipelineSft]]): every document builds a REAL JSON transcript
    * of `m = 1 + id%3` user/assistant pairs whose contents are the
    * document's filtered word list cut into telescoping slices
    * (floor boundaries, Σ slices = all words — the chatTranscripts
    * arithmetic), `id%7` adding a "be concise" system prelude and
    * `id%4` conversations ending in a genuine tool round-trip: the
    * last assistant turn issues `1 + id%2` calls from the
    * {search, calc} registry WHILE carrying its content slice (models
    * emit text alongside calls), then a tool "result" turn, then a
    * final assistant slice — so S = 2m+1 content slices for agentic
    * conversations, 2m otherwise. Six deterministic violation
    * classes, three per gate: `id%17` unknown role ("narrator"),
    * `id%11` doubled user, `id%13` empty FINAL turn (contract gate);
    * `id%19` orphan tool turn after the first user (contract-clean —
    * only the protocol gate catches it), `id%23` dropped tool result
    * (unanswered calls), `id%29` unregistered call name "rogue"
    * (protocol-only again). Violations compose across classes and
    * across gates. */
  private def sftTranscripts(s: SparkSession, dir: String): DataFrame =
    sftTranscriptsOf(s, pq(s, dir, "documents"))

  /** [[sftTranscripts]] over an arbitrary (doc_id, text) frame — the
    * re-rootable form the release pipeline builds its conversations
    * from (cleaned, deduplicated, decontaminated survivor text). */
  private[graft] def sftTranscriptsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val words = text.toLowerCase(java.util.Locale.ROOT)
          .split(TextFunctions.wsClass + "+")
          .filter(_.matches("[a-z0-9]+"))
        val n = words.length
        val m = (1 + id % 3).toInt
        val agentic = id % 4 == 0
        val orphan = id % 19 == 0 && !agentic
        val unanswered = id % 23 == 0 && agentic
        val rogue = id % 29 == 0 && agentic
        val S = if (agentic) 2 * m + 1 else 2 * m
        def slice(j: Int): String =
          words.slice((j.toLong * n / S).toInt, ((j + 1).toLong * n / S).toInt)
            .mkString(" ")
        def roleOf(j: Int): String =
          if (j == 0 && id % 17 == 0) "narrator"
          else if (j == 1 && id % 11 == 0) "user"
          else if (j % 2 == 0) "user" else "assistant"
        val kc = (1 + id % 2).toInt
        val callsJson = (0 until kc).map { j =>
          val nm = if (rogue && j == 0) "rogue"
            else if ((id + j) % 2 == 0) "search" else "calc"
          s"""{"name":"$nm"}"""
        }.mkString("[", ",", "]")
        val content0: Seq[(String, String, Option[String])] =
          (0 until 2 * m).map(j => (roleOf(j), slice(j),
            if (agentic && j == 2 * m - 1) Some(callsJson) else None))
        val withOrphan =
          if (orphan) content0.take(1) ++ Seq(("tool", "result", None)) ++ content0.drop(1)
          else content0
        val tail: Seq[(String, String, Option[String])] =
          if (agentic && !unanswered)
            Seq(("tool", "result", None), ("assistant", slice(2 * m), None))
          else if (agentic) Seq(("assistant", slice(2 * m), None))
          else Nil
        val sysPre: Seq[(String, String, Option[String])] =
          if (id % 7 == 0) Seq(("system", "be concise", None)) else Nil
        val all0 = sysPre ++ withOrphan ++ tail
        val all =
          if (id % 13 == 0) all0.init :+ all0.last.copy(_2 = "") else all0
        val json = all.map { case (r, c, calls) =>
          s"""{"role":"$r","content":"$c"""" +
            calls.map(cs => s""","tool_calls":$cs""").getOrElse("") + "}"
        }.mkString("[", ",", "]")
        (id, json)
      }
      .toDF("doc_id", "transcript")
  }

  /** The composed SFT ENDGAME pipeline — raw agentic transcript to
    * packed training bins in one oracled chain, the conversation
    * surface's q_pipeline_clean: parse ([[graft.operators.Chat
    * .parseToolTurns]], ONE parse feeding both gates) → conversational
    * contract gate ([[graft.operators.Chat.validateTurns]] with the
    * tool role admitted — protocol nesting is the NEXT gate's job) →
    * tool-protocol gate ([[graft.operators.Chat.validateToolUse]]) →
    * trainable-text capped MinHash near-dup keep-one (the
    * q_chat_dedup projection: turn contents in turn order, roles and
    * template tokens excluded; [[Dedup.keepOnePerCluster]] over
    * capped [[Dedup.minhashPairs]]) → whole-conversation next-fit
    * packing at 512 with chat-template overhead (+4/turn) and
    * loss-mask (assistant-token) mass carried per bin. The
    * CTE-pyramid oracle replays every stage, so COMPOSITION drift —
    * a gate reordered, a flag weakened, dedup run pre-gate —
    * hash-mismatches even when each stage passes alone.
    *
    * Scale posture: the parse is a zero-shuffle projection; each gate
    * is one doc-keyed window + one map-side-combinable fold; dedup
    * shuffles banded 24 B signatures, never transcripts, with
    * maxBucketSize=12 capping degenerate buckets; packing is the
    * single-Exchange per-group sweep. Nothing corpus-sized reaches
    * the driver. */
  private val qPipelineSft: Q = (s, dir) => {
    import graft.operators.{Chat, Packing}
    // materialized ONCE: the parsed-turn frame (a per-document
    // transcript build + real JSON parse — the expensive sweep here)
    // feeds THREE consumers (contract gate, tool gate, admitted join),
    // and a lazy plan re-built the transcripts once per subtree
    // (guide §5; the release pipeline stages the same frame for the
    // same reason)
    val turns = Stage("sft turns", Local)(
      Chat.parseToolTurns(sftTranscripts(s, dir), "doc_id", "transcript"))
    val contractOk = Chat.validateTurns(turns, "doc_id",
        roles = Chat.allowedRoles :+ "tool")
      .filter(col("valid")).select("doc_id")
    val toolOk = Chat.validateToolUse(turns, "doc_id", Seq("search", "calc"))
      .filter(col("valid")).select("doc_id")
    val admitted = contractOk.join(toolOk, "doc_id")
    val aturns = turns.join(admitted, "doc_id")
    // the conversation texts feed the banded self-join (three scans)
    // plus the keep-one anti-join — one aggregate pass, not four
    val convo = Stage("sft convo", Local)(aturns.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("content")))),
        t => t("content")), " ").as("text")))
    val pairs = Dedup.minhashPairs(convo, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(12)).select("id_a", "id_b")
    val kept = Dedup.keepOnePerCluster(convo.select("doc_id"), "doc_id", pairs)
    // BPE-costed under the FROZEN release tokenizer — the same unit
    // the flagship release ships in (ws-costing misjudged a context
    // window by the measured 3.74x; q_pack_bins_bpe)
    // BPE costing is the second expensive sweep and the costed frame
    // is read twice (pack input + the loss re-attach) — one pass
    val conv = Stage("sft costed", Local)(aturns
      .withColumn("__tok",
        when(col("content").isNull, lit(0L))
          .otherwise(graft.operators.Bpe.tokenCountCol(
            col("content"), releaseMerges(s, dir))))
      .groupBy("doc_id")
      .agg((sum(col("__tok")) + lit(4L) * count(lit(1))).as("n_tokens"),
        sum(when(col("role") === "assistant", col("__tok")).otherwise(0L))
          .as("loss_tokens"))
      .join(kept, "doc_id")
      .withColumn("grp", pmod(col("doc_id"), lit(8L))))
    Packing.packBinsByCount(conv, "doc_id", "grp", "n_tokens", capacity = 512)
      .select(col("id").as("doc_id"), col("grp"), col("n_tokens"), col("bin_id"))
      .join(conv.select("doc_id", "loss_tokens"), "doc_id")
  }

  /** The REJECT-PROVENANCE LEDGER for the SFT endgame — the queryable
    * answer to "why did doc X disappear?" that [[qPipelineSft]]'s
    * survivor-only output lacks: one row per REJECTED document with
    * the stage that dropped it and a machine-readable reason, under
    * the same stage definitions as the pipeline itself (the
    * [[graft.operators.Dedup.dedupDiagnostics]] one-pass discipline —
    * each gate evaluates once and feeds both the admission decision
    * and the ledger row; the closure labeling is computed once and
    * yields both the drop set and the `dup_of:<rep>` provenance).
    * Stages classify first-failure in pipeline order:
    *
    *   - `contract` — [[graft.operators.Chat.validateTurns]] failed;
    *     reason = the comma-joined failing flags (roles, starts,
    *     alternation, nonempty).
    *   - `tool` — contract-clean but
    *     [[graft.operators.Chat.validateToolUse]] failed; reason =
    *     failing protocol flags.
    *   - `dedup` — admitted but dropped by the capped-MinHash
    *     keep-one; reason = `dup_of:<survivor id>`.
    *
    * Tie-out invariant (spec-pinned): ledger rows + q_pipeline_sft's
    * distinct packed docs = the input corpus — every document is
    * accounted for exactly once. Scale posture matches the pipeline:
    * the ledger adds two projections over already-computed gate
    * frames and one filter over the closure labeling — no stage is
    * recomputed per view. */
  private val qPipelineSftLedger: Q = (s, dir) => {
    import graft.operators.Chat
    // same one-pass discipline as [[qPipelineSft]]: the parsed-turn
    // frame and each gate frame feed two consumers apiece — without
    // the cuts the transcript build ran once per subtree and each
    // gate aggregate twice (making the scaladoc's "no stage is
    // recomputed per view" true at the plan level, not just intent)
    val turns = Stage("sft turns", Local)(
      Chat.parseToolTurns(sftTranscripts(s, dir), "doc_id", "transcript"))
    val contract = Stage("sft contract", Local)(Chat.validateTurns(turns, "doc_id",
      roles = Chat.allowedRoles :+ "tool"))
    val tool = Stage("sft tool", Local)(
      Chat.validateToolUse(turns, "doc_id", Seq("search", "calc")))
    val contractRejects = contract.filter(!col("valid"))
      .select(col("doc_id"), lit("contract").as("stage"),
        concat_ws(",",
          when(!col("roles_ok"), "roles"),
          when(!col("starts_ok"), "starts"),
          when(!col("alternation_ok"), "alternation"),
          when(!col("nonempty_ok"), "nonempty")).as("reason"))
    val contractOkIds = contract.filter(col("valid")).select("doc_id")
    val toolRejects = tool.join(contractOkIds, "doc_id")
      .filter(!col("valid"))
      .select(col("doc_id"), lit("tool").as("stage"),
        concat_ws(",",
          when(!col("tool_after_call_ok"), "tool_after_call"),
          when(!col("tools_answered_ok"), "tools_answered"),
          when(!col("tool_names_ok"), "tool_names")).as("reason"))
    val admitted = contractOkIds
      .join(tool.filter(col("valid")).select("doc_id"), "doc_id")
    val convo = Stage("sft convo", Local)(turns.join(admitted, "doc_id")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("content")))),
        t => t("content")), " ").as("text")))
    val pairs = Dedup.minhashPairs(convo, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5,
      maxBucketSize = Some(12)).select("id_a", "id_b")
    val dedupRejects = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("doc_id"), lit("dedup").as("stage"),
        concat(lit("dup_of:"), col("rep").cast("string")).as("reason"))
    contractRejects.unionByName(toolRejects).unionByName(dedupRejects)
  }

  /** The END-TO-END RELEASE pipeline — "ship a training dataset" as
    * ONE oracled run chaining every stage pyramid the catalog proves
    * individually, so COMPOSITION drift BETWEEN the composed
    * pipelines (a gate reordered across stage boundaries, dedup run
    * on raw instead of cleaned text, a split taken before dedup)
    * hash-mismatches even while each stage's own query stays green:
    *
    *   1. ingest  — the [[qPipelineIngest]] recipe: built HTML payload
    *      (+ `%23` encoding corruption), encoding first-fail, then the
    *      lang/quality/length gate over the CLEANED text;
    *   2. exact   — fingerprint keep-min-id with `dup_of` provenance;
    *   3. neardup — capped MinHash keep-one ([[qPipelineClean]]);
    *   4. split   — [[graft.operators.Sampling.hashSplit]]; the test
    *      holdout leaves the training corpus (ledger stage `holdout`);
    *   5. decontam — lexical ([[Dedup.dedupAgainst]] vs the holdout)
    *      then semantic ([[Dedup.semanticDedupAgainst]] under
    *      holdout-trained k-means, cell cap 6) — [[qSplitDecontam]]
    *      re-rooted on the CLEAN survivor corpus, first-fail
    *      classified;
    *   6. SFT endgame — [[qPipelineSft]]'s parse → contract gate →
    *      tool-protocol gate → trainable-text capped-MinHash keep-one
    *      → next-fit packing at 512 (+4/turn), transcripts built from
    *      the CLEANED survivor text;
    *   7. shards  — [[graft.operators.Packing.balancedShards]]:
    *      packed bins dealt serpentine into 4 token-balanced shards
    *      per group;
    *   8. manifest — [[graft.operators.Profile.manifestStates]] +
    *      merge over the released training docs;
    *   9. reconcile — the tie-out: packed docs + ledger rows account
    *      for EVERY input document exactly once (counts and id-sum,
    *      emitted as a row the oracle recomputes), and the written
    *      artifact is verified with the real
    *      [[graft.operators.Reconcile.assertClean]] digest gate
    *      before the query returns what was read BACK from disk.
    *
    * Output is the [[qForget]]-style heterogeneous (part, k, v)
    * union: `pack` (per released doc: grp:bin:tokens:loss), `shard`
    * (per bin: weight:shard), `ledger` (per rejected doc:
    * stage:reason — the [[qPipelineSftLedger]] provenance discipline
    * across ALL nine stages), `manifest` (per source, integer
    * columns), `reconcile` (the tie-out counters).
    *
    * Scale posture: every stage keeps its proven shape — zero-shuffle
    * gate projections, 16-byte fingerprint shuffles, capped banded
    * signature joins, cell-scoped semantic probes, the single-
    * Exchange pack sweep, group-windowed shard deal, source-keyed
    * manifest states; the ledger adds projections over gate frames
    * that were computed anyway (the dedupDiagnostics discipline), and
    * the tie-out is one union+pivot aggregate (never a 1×1 cross
    * join). Nothing corpus-sized reaches the driver; the only full
    * materializations are the persisted (part,k,v) result and its
    * digest-checked parquet twin. */
  /** The release fixture's RAW input — documents plus the
    * deterministic SECOND CRAWL batch carrying the three dup
    * pathologies (%41 byte-identical re-crawl; quote = the doubled
    * ceil(45%) token prefix OF A TEST-DESTINED doc, jaccard landing
    * between the 0.5 dedup bar and the 0.35 decontam bar; %43 markup
    * variant only the conversation-level dedup catches), each wrapped
    * in the boilerplate + the id%23 encoding pathology. Shared by the
    * in-query pipeline, the durable [[graft.plans.ReleaseRun]] twin
    * (`q_pipeline_release_run`), and the CLI ([[graft.ReleaseApp]]) —
    * one construction, one oracle. */
  private[graft] def releaseRawInput(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val docs = pq(s, dir, "documents")
    val toks = TextFunctions.tokens(col("text"))
    val tb = shiftrightunsigned(
      graft.functions.HashExpressions.mix64(id.cast("long")), 1) % 100
    val isQuote = tb >= 90 && id % 2 === 0
    val pfx = slice(toks, lit(1), ceil(size(toks) * lit(0.45)).cast("int"))
    val crawl2 = docs
      .filter(id % 41 === 0 || isQuote || id % 43 === 0)
      .select((id + 1000000L).as("doc_id"), col("source"),
        when(id % 41 === 0, col("text"))
          .when(isQuote, array_join(concat(pfx, pfx), " "))
          .otherwise(array_join(transform(toks,
            (w, i) => when((i + 1) % 3 === 0, concat(w, lit(" ,")))
              .otherwise(w)), " "))
          .as("text"))
    docs.select(id, col("source"), col("text")).unionByName(crawl2)
      .select(id, col("source"),
        concat(lit(htmlPrefix), col("text"), lit(htmlSuffix),
          when(id % 23 === 0, lit("�")).otherwise(lit(""))).as("raw"))
  }

  /** The FROZEN release tokenizer: trained once on the reference
    * corpus (the raw documents table — production trains its
    * tokenizer before the release run, not per release). Stage 6
    * costs conversations in these real subword tokens so the shipped
    * bins fit an actual model context window — q_pack_bins_bpe
    * measured the ws-vs-BPE window error at 3.74×; ws-costing the
    * flagship pipeline was the round-13 verdict's inconsistency #3. */
  private[graft] def releaseMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    graft.operators.Bpe.train(pq(s, dir, "documents"), "text", numMerges = 8)
      .orderBy("merge_idx").select("left_sym", "right_sym").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  private val qPipelineRelease: Q = (s, dir) => Stage.scope {
    // the shared nine-stage dataflow ([[graft.operators.Release]]) in
    // its IN-QUERY form: Local stage cuts. The durable twin
    // (q_pipeline_release_run) runs the SAME function with parquet
    // stage tables — both gated by the same CTE-pyramid oracle.
    val out = Stage("release artifact", Persist())(graft.operators.Release.pipeline(s,
      releaseRawInput(s, dir), pq(s, dir, "embeddings"),
      keep => sftTranscriptsOf(s, keep),
      () => releaseMerges(s, dir),
      new graft.operators.Release.LocalStager))
    // write the release artifact and digest-verify it with the real
    // reconciliation gate; the returned frame is the artifact as a
    // CONSUMER would read it (proven row+checksum-identical), so the
    // scope frees every cut above
    val sfName = new java.io.File(dir).getName
    val io = new graft.sources.ParquetDirIO(s, dir,
      s"$twinRoot/release/$sfName")
    io.writeTarget("release", out)
    graft.operators.Reconcile.assertClean(io, Map("release" -> out))
    io.readTarget("release")
  }

  /** The DURABLE twin of [[qPipelineRelease]]
    * ([[graft.plans.ReleaseRun]]): the SAME shared
    * [[graft.operators.Release.pipeline]] dataflow, but every stage
    * boundary is a real parquet stage table published with an atomic
    * rename — the form a real 100 TB release runs (resume from the
    * last completed stage, idempotent re-verify, queryable per-stage
    * audit tables). Gated by the SAME CTE-pyramid oracle as the
    * in-query form, so the two forms are pinned equal row-for-row.
    * The run directory is cleared first: the gated query always
    * measures a FULL fresh run of the current code (resume semantics
    * are spec-pinned by ReleaseRunSpec's crash-at-each-stage drill,
    * not by this query). */
  private val qPipelineReleaseRun: Q = (s, dir) => {
    val outDir = s"$twinRoot/release_run/${new java.io.File(dir).getName}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    graft.plans.ReleaseRun.run(s,
      releaseRawInput(s, dir), pq(s, dir, "embeddings"),
      keep => sftTranscriptsOf(s, keep),
      () => releaseMerges(s, dir),
      outDir).get
  }

  /** THE THIRD CRAWL — the incremental release's "today" batch, raw
    * rows only (ids offset past every day-0 id; the same boilerplate
    * + encoding-pathology wrapper). Pathology menu, each exercising
    * one incremental path against the standing state:
    *
    *   +2M (d%37, day-0-ingested targets): byte-identical re-crawl →
    *        dies at the cross-EXACT probe, keeper = the stored
    *        day-0 exact survivor;
    *   +3M (d%43, ingested): 75% token prefix (jaccard ≈ 0.75) →
    *        dies at the cross-NEAR probe; when the target also has a
    *        day-0 markup twin, the ledger rep maps through `nd_reps`;
    *   +4M (d%47, ingested, and GUARDED to the train/val split):
    *        the crawl2 comma-markup transform → evades text dedup,
    *        dies at the cross-CONVERSATION probe (or, when its target
    *        sits in the day-0 holdout, at lexical decontam). The
    *        split guard enforces the no-retroaction contract: a
    *        test-split near-copy of a released day-0 doc would make
    *        the from-scratch union decontaminate yesterday's release;
    *   +5M (d%7=3): token-REVERSED text — genuinely new content
    *        (3-shingles disjoint from every forward text), flows all
    *        the way to packing/holdout;
    *   +6M/+7M (d%53): a reversed-text pair → within-batch exact dup;
    *   +8M/+9M (d%59): reversed text and reversed+3-token-tail
    *        (jaccard ≈ 0.9) → within-batch near dup;
    *   +10M/+11M (d%61, ingested, both split-guarded to train/val):
    *        the CHAIN — +10M is a 75% prefix (cross-matches the
    *        day-0 target), +11M a 45% prefix (jaccard ≈ 0.45 to the
    *        target — BELOW the 0.5 near-dup cut — but ≈ 0.6 to its
    *        +10M sibling): +11M near-dups the corpus only
    *        TRANSITIVELY through a cross-matched batch doc, the case
    *        the combined-edge CC in
    *        [[graft.plans.IncrementalRelease.runDeltas]] exists for
    *        (a cross-survivors-only within pass would let it
    *        through). The split guards keep the no-retroaction
    *        contract airtight for the rare chain-miss survivor (an
    *        LSH band miss is identical in both engines, but a
    *        surviving +11M landing TEST would decontaminate its
    *        day-0 train target in the union run);
    *
    * The `ingested(d)` guard on the re-crawl/near/markup rows keeps
    * every probed fingerprint present in the standing store (a
    * re-crawl of a doc the day-0 gates rejected would be new content,
    * not a dup — legal, but then it must not collide with day-0
    * holdout texts; restricting targets to ingested docs makes the
    * fixture's no-retroaction argument airtight). Replayed in SQL by
    * [[pipelineReleaseIncrSql]]'s `rl_c3` CTEs. */
  private[graft] def crawl3RawBatch(s: SparkSession, dir: String): DataFrame = {
    val docs = pq(s, dir, "documents")
    val id = col("doc_id")
    // day-0 stage-1 outcome, replayed through the SAME shared gate
    // expressions the pipeline runs
    // materialized ONCE: five of the union branches below semi-join on
    // this ingest outcome, and a union plans each branch as an
    // independent subtree — without the checkpoint the full day-0 gate
    // scoring (withEncOk → scoredGates over the whole raw corpus) ran
    // 5× inside the batch's first materialization (measured: 10.2 s of
    // the incremental query's 55.9 s wall, the single biggest job
    // site). The checkpointed frame is just the surviving doc_ids.
    val ing0 = Stage("day0 ingested", Local)(graft.operators.Release.ingestedRows(
        graft.operators.Release.scoredGates(
          graft.operators.Release.withEncOk(releaseRawInput(s, dir))))
      .filter(id < 1000000L)
      .select("doc_id"))
    val toks = TextFunctions.tokens(col("text"))
    val rev = array_join(reverse(toks), " ")
    val revTail = array_join(
      concat(reverse(toks), array(lit("zq"), lit("zq"), lit("zq"))), " ")
    val markup = array_join(transform(toks,
      (w, i) => when((i + 1) % 3 === 0, concat(w, lit(" ,")))
        .otherwise(w)), " ")
    val pfx75 = array_join(
      slice(toks, lit(1), ceil(size(toks) * lit(0.75)).cast("int")), " ")
    val pfx45 = array_join(
      slice(toks, lit(1), ceil(size(toks) * lit(0.45)).cast("int")), " ")
    def splitOk(offset: Long) = (shiftrightunsigned(
      graft.functions.HashExpressions.mix64((id + offset).cast("long")),
      1) % 100) < 90
    val cOk = splitOk(4000000L)
    val ingested = docs.join(ing0, Seq("doc_id"), "left_semi")
    def part(src: DataFrame, cond: org.apache.spark.sql.Column,
        offset: Long, text: org.apache.spark.sql.Column) =
      src.filter(cond).select((id + offset).as("doc_id"), col("source"),
        text.as("text"))
    part(ingested, id % 37 === 0, 2000000L, col("text"))
      .unionByName(part(ingested, id % 43 === 0, 3000000L, pfx75))
      .unionByName(part(ingested, id % 47 === 0 && cOk, 4000000L, markup))
      .unionByName(part(docs, id % 7 === 3, 5000000L, rev))
      .unionByName(part(docs, id % 53 === 0, 6000000L, rev))
      .unionByName(part(docs, id % 53 === 0, 7000000L, rev))
      .unionByName(part(docs, id % 59 === 0, 8000000L, rev))
      .unionByName(part(docs, id % 59 === 0, 9000000L, revTail))
      .unionByName(part(ingested,
        id % 61 === 0 && splitOk(10000000L), 10000000L, pfx75))
      .unionByName(part(ingested,
        id % 61 === 0 && splitOk(11000000L), 11000000L, pfx45))
      .select(id, col("source"),
        concat(lit(htmlPrefix), col("text"), lit(htmlSuffix),
          when(id % 23 === 0, lit("�")).otherwise(lit(""))).as("raw"))
  }

  /** The INCREMENTAL release ([[graft.plans.IncrementalRelease]]) —
    * day 0 releases from scratch (the durable [[graft.plans.ReleaseRun]]
    * form), its stage tables bootstrap the standing state (minhash /
    * holdout / conversation / ANN stores + append-only delta tables),
    * and day 1's crawl batch ([[crawl3RawBatch]]) releases in
    * O(batch): every probe of yesterday's corpus goes through a
    * standing index, history is never rescanned. The oracle is the
    * strongest possible pin: the FROM-SCRATCH pyramid over
    * day-0 ∪ batch — the incremental composition must reproduce a
    * full re-release row for row. */
  private val qPipelineReleaseIncr: Q = (s, dir) => {
    val root = s"$twinRoot/release_incr/${new java.io.File(dir).getName}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // ONE tokenizer training per query invocation: the frozen-merges
    // thunk is pulled by both the day-0 stage-6 builder and the
    // incremental batch's stage 6 — the training is deterministic, so
    // a per-invocation lazy memo is result-identical and saves a full
    // driver-looped BPE train (no cross-run state: the lazy val dies
    // with this call)
    lazy val mergesMemo = releaseMerges(s, dir)
    graft.plans.ReleaseRun.run(s,
      releaseRawInput(s, dir), pq(s, dir, "embeddings"),
      keep => sftTranscriptsOf(s, keep),
      () => mergesMemo,
      s"$root/day0").get
    graft.plans.IncrementalRelease.bootstrap(s, s"$root/day0", s"$root/state")
    graft.plans.IncrementalRelease.run(s,
      crawl3RawBatch(s, dir), pq(s, dir, "embeddings"),
      keep => sftTranscriptsOf(s, keep),
      () => mergesMemo,
      s"$root/state")
  }

  /** RIGHT-TO-BE-FORGOTTEN over the standing incremental-release
    * state ([[graft.plans.IncrementalRelease.forget]]) as a gated
    * catalog row: day-0 durable release → bootstrap → the crawl-3
    * incremental batch → forget a deterministic dead set (packed
    * cids ≡ 3 mod 11 and ingest-GATE rejects ≡ 1 mod 13 — one
    * packed-resident and one ledger-resident family) → the artifact
    * re-served from the standing state. The oracle is the
    * from-scratch pyramid over the union with the SAME dead set
    * excised post-hoc ([[releaseForgetSql]]), so the doc-keyed
    * tombstone reads, the manifest REBUILD (KMV states cannot
    * subtract), and the compensating reconcile row are all pinned
    * row-identical to a release that never shipped those rows. */
  private val qReleaseForget: Q = (s, dir) => {
    val root = s"$twinRoot/release_forget/${new java.io.File(dir).getName}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // same per-invocation tokenizer memo as [[qPipelineReleaseIncr]]
    lazy val mergesMemo = releaseMerges(s, dir)
    graft.plans.ReleaseRun.run(s,
      releaseRawInput(s, dir), pq(s, dir, "embeddings"),
      keep => sftTranscriptsOf(s, keep),
      () => mergesMemo,
      s"$root/day0").get
    graft.plans.IncrementalRelease.bootstrap(s, s"$root/day0", s"$root/state")
    val art = graft.plans.IncrementalRelease.run(s,
      crawl3RawBatch(s, dir), pq(s, dir, "embeddings"),
      keep => sftTranscriptsOf(s, keep),
      () => mergesMemo,
      s"$root/state")
    // try_cast: the reconcile part's k is the literal 'tieout' and a
    // strict ANSI cast inside this whole-frame filter would throw
    val kLong = expr("try_cast(k AS BIGINT)")
    val dead = art.filter(
      (col("part") === "pack" && kLong % 11 === 3) ||
        (col("part") === "ledger" && col("v").startsWith("ingest:") &&
          !col("v").contains("encoding") && kLong % 13 === 1))
      .select(kLong.as("doc_id")).distinct()
    graft.plans.IncrementalRelease.forget(s, s"$root/state", dead)
    graft.plans.IncrementalRelease.artifact(s, s"$root/state")
  }

  /** Unigram-distribution drift between the even-id and odd-id
    * corpus halves ([[graft.operators.Profile.tokenDrift]]): hashed
    * token buckets, per-bucket quantized Jensen–Shannon terms, the
    * order-free integer total. */
  private val qTextDrift: Q = (s, dir) => {
    val docs = pq(s, dir, "documents")
    graft.operators.Profile.tokenDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text")
  }

  private def prefTriples(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pq(s, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val w = text.split(TextFunctions.wsClass + "+").filter(_.nonEmpty)
        val n = w.length
        val prompt = w.slice(0, n / 3).mkString(" ")
        val chosen0 = w.slice(n / 3, 2 * n / 3).mkString(" ")
        val chosen1 = if (id % 17 == 0) Seq.fill(8)(chosen0).mkString(" ") else chosen0
        val chosen = if (id % 13 == 0) "" else chosen1
        val rejected0 = w.slice(2 * n / 3, n).mkString(" ")
        val rejected = if (id % 9 == 0) chosen else rejected0
        (id, prompt, chosen, rejected)
      }
      .toDF("doc_id", "prompt", "chosen", "rejected")
  }

  private val qPrefValidate: Q = (s, dir) =>
    graft.operators.Preference.validatePairs(
      prefTriples(s, dir), "doc_id", "prompt", "chosen", "rejected")

  /** Label-conflict census over the built preference corpus
    * ([[graft.operators.Preference.labelConflicts]]): every fifth row
    * swaps its responses for one of 8 CANNED pool pairs (`alpha g` /
    * `beta g`, the same answers reappearing across many rows — the
    * repeated-candidate shape a real annotation queue produces), and
    * rows with `doc_id % 3 == 0` flip orientation (the disagreeing
    * annotator). Pool pairs therefore collect BOTH orientations →
    * `conflicted = true` with a per-pair agreement share, while the
    * doc-derived triples stay singleton clean pairs — real positives
    * and negatives at every scale. */
  private val qPrefConflicts: Q = (s, dir) => {
    val pool = col("doc_id") % 5 === 0
    val g = pmod(expr("doc_id div 5"), lit(8L)).cast("string")
    val t = prefTriples(s, dir).select(col("doc_id"),
      when(pool, concat(lit("alpha "), g)).otherwise(col("chosen")).as("chosen"),
      when(pool, concat(lit("beta "), g)).otherwise(col("rejected")).as("rejected"))
    val flip = col("doc_id") % 3 === 0
    val flipped = t.select(col("doc_id"),
      when(flip, col("rejected")).otherwise(col("chosen")).as("chosen"),
      when(flip, col("chosen")).otherwise(col("rejected")).as("rejected"))
    graft.operators.Preference.labelConflicts(flipped, "chosen", "rejected")
  }

  /** The composed PREFERENCE (DPO) endgame pipeline — built triples
    * to packed reward-training bins in one oracled chain, the
    * [[qPipelineSft]] discipline on the pairwise surface:
    * build ([[prefTriples]] + the [[qPrefConflicts]] pool/flip
    * injection, so ONE corpus carries both gate families' violation
    * classes) → per-pair admission gate
    * ([[graft.operators.Preference.validatePairs]]: distinct /
    * nonempty / length-ratio) → annotation-consistency drop (every
    * row whose unordered response-fingerprint pair is CONFLICTED
    * under [[graft.operators.Preference.labelConflicts]] is removed —
    * contradictory supervision cancels the DPO gradient) → whole-pair
    * next-fit packing at 1024 with the chosen-token (trainable) mass
    * carried per row. The pool pairs collect both orientations by
    * construction, so the conflict stage has real positives at every
    * scale; composition drift (gate after conflicts, a weakened flag,
    * packing unvalidated rows) hash-mismatches under the CTE-pyramid
    * oracle even when each stage passes alone.
    *
    * Scale posture: build and gate are zero-shuffle projections; the
    * conflict census is one 32-byte-key hash aggregate with map-side
    * combine; the conflicted set (distinct contradictory pairs) is
    * tiny by nature and AQE-broadcasts into the anti-join; packing is
    * the single-Exchange per-group sweep. */
  /** The [[qPipelinePref]] corpus: [[prefTriples]] with the
    * [[qPrefConflicts]] pool/flip injection — shared by the endgame
    * pipeline and its reject ledger so the two see the identical
    * input. */
  private def prefPipelineTriples(s: SparkSession, dir: String): DataFrame = {
    val pool = col("doc_id") % 5 === 0
    val g = pmod(expr("doc_id div 5"), lit(8L)).cast("string")
    val t = prefTriples(s, dir).select(col("doc_id"), col("prompt"),
      when(pool, concat(lit("alpha "), g)).otherwise(col("chosen")).as("chosen"),
      when(pool, concat(lit("beta "), g)).otherwise(col("rejected")).as("rejected"))
    val flip = col("doc_id") % 3 === 0
    t.select(col("doc_id"), col("prompt"),
      when(flip, col("rejected")).otherwise(col("chosen")).as("chosen"),
      when(flip, col("chosen")).otherwise(col("rejected")).as("rejected"))
  }

  private val qPipelinePref: Q = (s, dir) => {
    import graft.operators.{Packing, Preference}
    // one-pass discipline (guide §5): the built triples feed the gate
    // AND the survivor join (2 subtrees = 2 triple builds without the
    // cut); the gated frame feeds the conflict census and the clean
    // chain; the BPE-costed clean frame is read twice (pack + the
    // chosen-tokens re-attach)
    val triples = Stage("pref triples", Local)(prefPipelineTriples(s, dir))
    val valid = Stage("pref valid", Local)(triples.join(
      Preference.validatePairs(triples, "doc_id", "prompt", "chosen", "rejected")
        .filter(col("valid"))
        .select("doc_id", "prompt_tokens", "chosen_tokens", "rejected_tokens"),
      "doc_id"))
    val conflicted = Preference.labelConflicts(valid, "chosen", "rejected")
      .filter(col("conflicted")).select("key_lo", "key_hi")
    val fa = TextFunctions.fingerprint(col("chosen"))
    val fb = TextFunctions.fingerprint(col("rejected"))
    // BPE-costed under the FROZEN release tokenizer (the gate flags
    // stay ws-based — ratio/nonempty are contract checks on the raw
    // responses; the PACKING unit is what must match the model's
    // context window)
    val merges = releaseMerges(s, dir)
    def bpeT(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit(0L))
        .otherwise(graft.operators.Bpe.tokenCountCol(c, merges))
    val clean = Stage("pref costed", Local)(valid
      .withColumn("key_lo", least(fa, fb))
      .withColumn("key_hi", greatest(fa, fb))
      .join(conflicted, Seq("key_lo", "key_hi"), "left_anti")
      .withColumn("n_tokens", bpeT(col("prompt")) + bpeT(col("chosen")) +
        bpeT(col("rejected")) + lit(3L))
      .withColumn("chosen_bpe", bpeT(col("chosen")))
      .withColumn("grp", pmod(col("doc_id"), lit(8L))))
    Packing.packBinsByCount(clean, "doc_id", "grp", "n_tokens", capacity = 1024)
      .select(col("id").as("doc_id"), col("grp"), col("n_tokens"), col("bin_id"))
      .join(clean.select(col("doc_id"), col("chosen_bpe").as("chosen_tokens")),
        "doc_id")
  }

  /** [[qPipelineSftLedger]]'s preference twin — the (doc_id, stage,
    * reason) rejects frame for the DPO endgame: `gate` rejects carry
    * their failing [[graft.operators.Preference.validatePairs]] flag
    * names, `conflict` rejects are the gate-clean rows whose
    * unordered response-fingerprint pair is contradictory under
    * [[graft.operators.Preference.labelConflicts]]. Packing rejects
    * nothing, so ledger rows + q_pipeline_pref's packed rows = the
    * input corpus (spec-pinned like the SFT tie-out). Each gate
    * evaluates once; the conflict census is the same 32-byte-key
    * aggregate the pipeline runs. */
  private val qPipelinePrefLedger: Q = (s, dir) => {
    import graft.operators.Preference
    val triples = prefPipelineTriples(s, dir)
    val flags = Preference.validatePairs(
      triples, "doc_id", "prompt", "chosen", "rejected")
    val gateRejects = flags.filter(!col("valid"))
      .select(col("doc_id"), lit("gate").as("stage"),
        concat_ws(",",
          when(!col("distinct_ok"), "distinct"),
          when(!col("nonempty_ok"), "nonempty"),
          when(!col("ratio_ok"), "ratio")).as("reason"))
    val valid = triples.join(
      flags.filter(col("valid")).select("doc_id"), "doc_id")
    val conflicted = Preference.labelConflicts(valid, "chosen", "rejected")
      .filter(col("conflicted")).select("key_lo", "key_hi")
    val conflictRejects = valid
      .withColumn("key_lo",
        least(TextFunctions.fingerprint(col("chosen")),
          TextFunctions.fingerprint(col("rejected"))))
      .withColumn("key_hi",
        greatest(TextFunctions.fingerprint(col("chosen")),
          TextFunctions.fingerprint(col("rejected"))))
      .join(conflicted, Seq("key_lo", "key_hi"), "left_semi")
      .select(col("doc_id"), lit("conflict").as("stage"),
        lit("conflicted_pair").as("reason"))
    gateRejects.unionByName(conflictRejects)
  }

  // ------------------------------------------------------------------------

  // DuckDB mirrors of the SQL-expressible subset. RE2 notes: DuckDB
  // regexp_replace needs the 'g' flag for replace-all (Spark default);
  // whitespace is the shared explicit class (TextFunctions.wsClass),
  // never `\s`, because Java and RE2 disagree on \x0B membership.
  private val ws = TextFunctions.wsClass
  private val tokensSql =
    s"""list_filter(regexp_split_to_array(text, '$ws+'), x -> x <> '')"""
  private val tokensLowerSql =
    s"""list_filter(regexp_split_to_array(lower(text), '$ws+'), x -> x <> '')"""

  private def langScoreSql(markers: Seq[String]): String =
    markers.map(m => s"(CASE WHEN position('$m' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** lang-id as reusable SQL pieces: `langBestSql` (max marker score,
    * aliased __best by callers) and `langPredCaseSql` (the CASE over
    * __best) — composed by both the standalone lang query and the
    * pipeline-filter query. */
  private val (langBestSql, langPredCaseSql): (String, String) = {
    val scores = TextFunctions.langMarkers.map { case (l, ms) => l -> s"(${langScoreSql(ms)})" }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val arms = scores.map { case (l, s) => s"WHEN $s = __best AND __best > 0 THEN '$l'" }
      .mkString(" ")
    (best, s"CASE $arms ELSE 'und' END")
  }

  private val langCaseSql: String =
    s"""SELECT doc_id, $langPredCaseSql AS lang_pred
       |FROM (SELECT doc_id, text, $langBestSql AS __best FROM documents) t""".stripMargin

  private val alphaRatioSql =
    """(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      | / CAST(greatest(length(text), 1) AS DOUBLE))""".stripMargin
  private val punctRatioSql =
    """(CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
      | / CAST(greatest(length(text), 1) AS DOUBLE))""".stripMargin
  private val nTokensSql = s"CAST(len($tokensSql) AS BIGINT)"
  private val stopRatioSql = {
    val list = TextFunctions.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""(CAST(len(list_filter($tokensLowerSql, x -> list_contains($list, x))) AS DOUBLE)
       | / CAST(greatest($nTokensSql, 1) AS DOUBLE))""".stripMargin
  }

  // ---- vector-math mirrors -------------------------------------------------
  // Spark computes dot products as an ordered left fold in DOUBLE
  // (SimilarityFunctions.dot = aggregate(zip_with(...))); DuckDB's
  // list_reduce(list_transform(...)) performs the IDENTICAL sequence
  // of IEEE double ops, so cosine scores hash-match bit-for-bit —
  // verified: the driver-style sha over both engines' parquet agrees.
  // Embedding fixtures are 64-dim (TESTDATA.md).
  private val DIM = 64

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${DIM + 1}), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** `when(|a||b| > 0, a·b / (|a|·|b|)).otherwise(0)` — the
    * SimilarityFunctions.cosine shape (sqrt(na)*sqrt(nb), NOT
    * sqrt(na*nb) — the two differ in the last ulp). */
  private def cosineSql(a: String, b: String): String =
    s"CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) > 0.0 " +
      s"THEN ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) " +
      "ELSE 0.0 END"

  /** The IVF scalar form: d / sqrt(na*nb) (Similarity.cosineScalar /
    * assignCell use the fused sqrt). */
  private def cosineFusedSql(a: String, b: String): String =
    s"CASE WHEN ${dotSql(a, a)} > 0.0 AND ${dotSql(b, b)} > 0.0 " +
      s"THEN ${dotSql(a, b)} / sqrt(${dotSql(a, a)} * ${dotSql(b, b)}) " +
      "ELSE 0.0 END"

  /** Scala Double.toString is the shortest round-trip repr, which
    * DuckDB parses back to the identical double — the seeded
    * hyperplanes embed as exact literals. */
  private def planeLit(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")

  /** The [[graft.operators.Similarity.hashOrderedSample]] replay as
    * a CTE chain ending at `samp(id, vec)` over an already-defined
    * `<from>(id, vec)`: SplitMix64 the id ([[HashSql.mixCtes]]),
    * order by the sign-dropped mixed value then id, first `n` — the
    * deterministic UNBIASED training-sample cut; downstream folds
    * read samp back `ORDER BY id`, matching the engine's id-sorted
    * sample array. Emits raw CTE text (no margins) for a consumer
    * that strips margins once. */
  private def hashSampCtes(from: String, n: Int, p: String): String =
    s"${p}0 AS MATERIALIZED (SELECT id, vec, CAST(id AS HUGEINT) AS x FROM $from),\n" +
      s"${HashSql.mixCtes(p, s"${p}0", "id, vec")},\n" +
      s"samp AS (SELECT id, vec FROM ${p}4 ORDER BY (x // 2), id LIMIT $n)"

  /** Sign-LSH bucket id: bit i set iff vec·plane_i >= 0, exactly
    * SimilarityFunctions.lshBucket (bits are disjoint, so + == OR). */
  private def bucketSql(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotSql(vec, planeLit(p))} >= 0.0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val simBruteTopkSql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id AS id, ${cosineSql("e.embedding", "q.qv")} AS cosine
       |FROM embeddings e, q WHERE e.vec_id <> 0
       |ORDER BY cosine DESC, id ASC LIMIT 10""".stripMargin

  private val simLshTopkSql: String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(8, DIM, 42L)
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qb AS (SELECT ${bucketSql("qv", planes)} AS qbucket FROM q),
       |c AS (SELECT vec_id AS id, embedding AS vec,
       |             ${bucketSql("embedding", planes)} AS bucket
       |      FROM embeddings WHERE vec_id <> 0)
       |SELECT c.id, ${cosineSql("c.vec", "q.qv")} AS cosine
       |FROM c, q, qb
       |WHERE bit_count(xor(c.bucket, qb.qbucket)) <= 3
       |ORDER BY cosine DESC, id ASC LIMIT 10""".stripMargin
  }

  /** Embedding near-dup pairs SQL, cap-parameterized: `cap` replays
    * `Dedup.capBuckets` (rows in LSH buckets larger than the cap
    * never pair — the same count-over-bucket window filter). */
  private def embeddingPairsSql(cap: Option[Int]): String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(6, DIM, 42L)
    val capFilter = cap
      .map(n => s" QUALIFY count(*) OVER (PARTITION BY bucket) <= $n")
      .getOrElse("")
    s"""WITH p AS (SELECT vec_id AS id, embedding AS vec,
       |                  sqrt(${dotSql("embedding", "embedding")}) AS nrm,
       |                  ${bucketSql("embedding", planes)} AS bucket
       |           FROM embeddings$capFilter)
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CASE WHEN a.nrm * b.nrm > 0.0
       |         THEN ${dotSql("a.vec", "b.vec")} / (a.nrm * b.nrm)
       |         ELSE 0.0 END AS cosine
       |  FROM p a JOIN p b ON a.bucket = b.bucket AND a.id < b.id) t
       |WHERE cosine >= 0.2""".stripMargin
  }

  private val dedupEmbeddingSql: String = embeddingPairsSql(None)

  /** Mirrors [[qDedupIncrementalSem]]: kmeans CTEs (nlist=32) over
    * the % 10 < 8 corpus, both sides cell-assigned by exact argmax,
    * the corpus side capped via the bucket-cap QUALIFY (cells with
    * more than maxClusterSize=12 corpus rows are excised ENTIRELY —
    * [[graft.operators.Dedup]].capBuckets semantics), batch ids with
    * any same-surviving-cell cosine ≥ 0.3 corpus match dropped. The
    * cap replay is load-bearing: an uncapped mirror keeps 62 ids at
    * sf0.01, this one 85. */
  private val dedupIncrementalSemSql: String = {
    val iters = 2
    def assign(side: String) =
      s"""SELECT id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm, cell FROM (
         |    SELECT e.id, e.vec, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM $side e CROSS JOIN cents$iters c) t WHERE rn = 1""".stripMargin
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id % 10 < 8),
       |batch AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id % 10 >= 8),
       |${kmeansDistributedCtes(32, iters)},
       |ac_raw AS (${assign("corpus")}),
       |ac AS (SELECT * FROM ac_raw
       |       QUALIFY count(*) OVER (PARTITION BY cell) <= 12),
       |ab AS (${assign("batch")}),
       |matched AS (
       |  SELECT DISTINCT b.id FROM ab b JOIN ac c ON b.cell = c.cell
       |  WHERE CASE WHEN b.nrm * c.nrm > 0.0
       |             THEN ${dotSql("b.vec", "c.vec")} / (b.nrm * c.nrm)
       |             ELSE 0.0 END >= 0.3)
       |SELECT id AS vec_id FROM batch WHERE id NOT IN (SELECT id FROM matched)""".stripMargin
  }

  /** Mirrors [[qDedupSemantic]] (and its capped twin): the
    * distributed-k-means CTE chain over the embeddings table
    * (optionally the [[sampleSplitSql]]-style SplitMix64 `samplePct`
    * hash-sample of it — the bounded recall-reference posture),
    * exact-argmax cell assignment, an optional cell-cap QUALIFY
    * (capBuckets semantics — over-cap cells are excised ENTIRELY),
    * then the [[embeddingPairsSql]] pair join scoped by CELL instead
    * of LSH bucket — same guarded cosine, same ≥ 0.2 cut. */
  private def dedupSemanticPairsSql(
      nlistExpr: String, cap: Option[Int], samplePct: Option[Int]): String = {
    val iters = 2
    val rawName = if (cap.isDefined) "assigned_raw" else "assigned"
    val capCte = cap.map(n =>
      s""",
         |assigned AS (SELECT * FROM assigned_raw
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= $n)""".stripMargin)
      .getOrElse("")
    val corpusCte = samplePct match {
      case Some(p) =>
        s"""sem_s0 AS MATERIALIZED (SELECT vec_id, embedding,
           |    CAST(vec_id AS HUGEINT) AS x FROM embeddings),
           |${HashSql.mixCtes("sem_s", "sem_s0", "vec_id, embedding")},
           |corpus AS (SELECT vec_id AS id, embedding AS vec FROM sem_s4
           |  WHERE (x // 2) % 100 < $p)""".stripMargin
      case None =>
        "corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings)"
    }
    s"""WITH $corpusCte,
       |${kmeansDistributedCtesExpr(nlistExpr, iters)},
       |$rawName AS (
       |  SELECT id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1)$capCte
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CASE WHEN a.nrm * b.nrm > 0.0
       |         THEN ${dotSql("a.vec", "b.vec")} / (a.nrm * b.nrm)
       |         ELSE 0.0 END AS cosine
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id) t
       |WHERE cosine >= 0.2""".stripMargin
  }

  private val dedupSemanticSql: String =
    dedupSemanticPairsSql(
      "GREATEST(8, CAST(ceil((SELECT count(*) FROM corpus) / 64.0) AS BIGINT))",
      None, samplePct = Some(25))

  /** [[dedupSemanticPairsSql]] at the capped production posture. */
  private val dedupSemanticCappedSql: String =
    dedupSemanticPairsSql("32", Some(12), samplePct = None)

  /** Mirrors [[qSimIndexDrift]]: the k-means CTE chain over the full
    * corpus (the frozen build model), both segments regenerated —
    * seg 0 the corpus, seg 1 the `list_reverse`d vectors under offset
    * ids — each row's assignment cosine read as the MAX fused cosine
    * over cells (the stored cell IS the argmax under the same frozen
    * centroids), then the exact-integer far-count / ppm / ≥2×-flag
    * fold per segment. */
  private val simIndexDriftSql: String =
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |${kmeansDistributedCtes(8, 2)},
       |drift_all AS (
       |  SELECT 0 AS seg, vec_id AS id, embedding AS vec FROM embeddings
       |  UNION ALL
       |  SELECT 1, vec_id + 1000000, list_reverse(embedding) FROM embeddings),
       |drift_cos AS (SELECT seg, id, cos FROM (
       |  SELECT d.seg, d.id, ${cosineFusedSql("d.vec", "c.cvec")} AS cos,
       |    row_number() OVER (PARTITION BY d.seg, d.id
       |      ORDER BY ${cosineFusedSql("d.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |  FROM drift_all d CROSS JOIN cents2 c) t WHERE rn = 1),
       |drift_seg AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(CASE WHEN cos < 0.12 THEN 1 ELSE 0 END) AS BIGINT) AS n_far
       |  FROM drift_cos GROUP BY seg),
       |drift_p AS (SELECT seg, n_rows, n_far,
       |    CAST(n_far * 1000000 // n_rows AS BIGINT) AS far_ppm FROM drift_seg),
       |drift_b AS (SELECT far_ppm AS base_ppm FROM drift_p WHERE seg = 0)
       |SELECT CAST(seg AS BIGINT) AS seg, n_rows, n_far, far_ppm,
       |  far_ppm > 2 * base_ppm AS drift_flag
       |FROM drift_p CROSS JOIN drift_b""".stripMargin

  /** Mirrors [[qDedupIncrementalEmb]]: the [[dedupEmbeddingSql]]
    * bucket/norm projection with the self-join replaced by a
    * batch-side × capped-corpus-side join on the vec_id % 10 split —
    * the corpus projection drops buckets holding more than
    * maxBucketSize=12 corpus rows (the bucket-cap QUALIFY, counting
    * CORPUS rows only, exactly capBuckets over the corpus index);
    * batch ids with any surviving-bucket cosine >= 0.2 match are
    * dropped. Load-bearing at sf0.01: one 13-row corpus bucket is
    * excised, moving 49 uncapped survivors to 52. */
  private val dedupIncrementalEmbSql: String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(6, DIM, 42L)
    s"""WITH p AS (SELECT vec_id AS id, embedding AS vec,
       |                  sqrt(${dotSql("embedding", "embedding")}) AS nrm,
       |                  ${bucketSql("embedding", planes)} AS bucket
       |           FROM embeddings)
       |SELECT id AS vec_id FROM p
       |WHERE id % 10 >= 8 AND id NOT IN (
       |  SELECT n.id FROM p n JOIN (SELECT * FROM p WHERE id % 10 < 8
       |      QUALIFY count(*) OVER (PARTITION BY bucket) <= 12) c
       |    ON n.bucket = c.bucket AND n.id % 10 >= 8
       |  WHERE (CASE WHEN n.nrm * c.nrm > 0.0
       |              THEN ${dotSql("n.vec", "c.vec")} / (n.nrm * c.nrm)
       |              ELSE 0.0 END) >= 0.2)""".stripMargin
  }

  private val simIvfTopkSql: String = {
    // Mirrors Similarity.ivfTopK(nlist=16, nprobe=4, refineIters=2,
    // sampleSize=256) end to end:
    //   cents0  = first 16 sample rows by id;
    //   assignN = argmax fused-cosine over centsN-1 with earliest-cell
    //             tie-break (refineCentroids' strict >);
    //   updN    = per-dim mean of each cell's members, summed as an
    //             ORDERED left fold in id order (list(vec ORDER BY id)
    //             + list_reduce — identical IEEE op sequence to the
    //             driver-side Scala loop, the dotSql technique);
    //   centsN  = updN, empty cells keeping their previous centroid;
    //   final assignment over the FULL corpus, probe top-4 cells by
    //   query fused-cosine, exact cosine re-rank on probed rows only.
    val iters = 2
    def iterCtes(i: Int): String = {
      val prev = s"cents${i - 1}"
      s"""assign$i AS (
         |  SELECT id, vec, cell FROM (
         |    SELECT s.id, s.vec, c.cell,
         |      row_number() OVER (PARTITION BY s.id
         |        ORDER BY ${cosineFusedSql("s.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM samp s CROSS JOIN $prev c) t WHERE rn = 1),
         |upd$i AS (
         |  SELECT cell,
         |    list_transform(range(1, ${DIM + 1}), d ->
         |      list_reduce(list_transform(vecs, v -> CAST(v[d] AS DOUBLE)),
         |                  (x, y) -> x + y) / len(vecs)) AS cvec
         |  FROM (SELECT cell, list(vec ORDER BY id) AS vecs
         |        FROM assign$i GROUP BY cell) g),
         |cents$i AS (
         |  SELECT p.cell, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN upd$i u ON p.cell = u.cell)""".stripMargin
    }
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id <> 0),
       |${hashSampCtes("corpus", 256, "ivfsm")},
       |cents0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
       |                  list_transform(vec, x -> CAST(x AS DOUBLE)) AS cvec
       |           FROM (SELECT id, vec FROM samp ORDER BY id LIMIT 16) t),
       |${(1 to iters).map(iterCtes).mkString(",\n")},
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |probe AS (
       |  SELECT cell FROM (
       |    SELECT c.cell, ${cosineFusedSql("q.qv", "c.cvec")} AS s FROM cents$iters c, q) t
       |  ORDER BY s DESC, cell ASC LIMIT 4)
       |SELECT a.id, ${cosineSql("a.vec", "q.qv")} AS cosine
       |FROM assigned a, q
       |WHERE a.cell IN (SELECT cell FROM probe)
       |ORDER BY cosine DESC, id ASC LIMIT 10""".stripMargin
  }

  /** Mirrors [[qSimPqTopK]] (`Similarity.pqTopK`, m=8, ksub=16,
    * refineIters=2, sampleSize=256) end to end: per-subspace L2
    * Lloyd on the id-ordered sample (ordered-fold means — the
    * [[simIvfTopkSql]] technique, partitioned by subspace `j`),
    * argmin-encode of the full corpus (strict `<` == `dist ASC, cell
    * ASC` row_number), then the ADC score with every fold in the
    * engine's order: dims ascending within a subspace, subspaces
    * ascending per row, all seeded 0.0. */
  private val simPqTopkSql: String = simPqSql(10)

  private def simPqSql(limit: Int): String = {
    val m = 8; val ds = DIM / m; val ksub = 16; val iters = 2
    def l2(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i -> " +
        s"($a[i] - $b[i]) * ($a[i] - $b[i]))), (x, y) -> x + y)"
    def iterCtes(i: Int): String = {
      val prev = s"cents${i - 1}"
      s"""assign$i AS (
         |  SELECT id, j, sv, cell FROM (
         |    SELECT s.id, s.j, s.sv, c.cell,
         |      row_number() OVER (PARTITION BY s.id, s.j
         |        ORDER BY ${l2("s.sv", "c.cvec")} ASC, c.cell ASC) AS rn
         |    FROM sub s JOIN $prev c ON s.j = c.j) t WHERE rn = 1),
         |upd$i AS (
         |  SELECT j, cell,
         |    list_transform(range(1, ${ds + 1}), d ->
         |      list_reduce(list_prepend(0.0, list_transform(svs, v -> v[d])),
         |                  (x, y) -> x + y) / len(svs)) AS cvec
         |  FROM (SELECT j, cell, list(sv ORDER BY id) AS svs
         |        FROM assign$i GROUP BY j, cell) g),
         |cents$i AS (
         |  SELECT p.j, p.cell, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN upd$i u ON p.j = u.j AND p.cell = u.cell)""".stripMargin
    }
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id <> 0),
       |${hashSampCtes("corpus", 256, "pqsm")},
       |sub AS MATERIALIZED (
       |  SELECT id, j, list_transform(range(1, ${ds + 1}), i ->
       |    CAST(vec[j * $ds + i] AS DOUBLE)) AS sv
       |  FROM samp, unnest(range(0, $m)) r(j)),
       |cents0 AS (
       |  SELECT j, row_number() OVER (PARTITION BY j ORDER BY id) - 1 AS cell,
       |         sv AS cvec
       |  FROM sub QUALIFY row_number() OVER (PARTITION BY j ORDER BY id) <= $ksub),
       |${(1 to iters).map(iterCtes).mkString(",\n")},
       |csub AS MATERIALIZED (
       |  SELECT id, j, list_transform(range(1, ${ds + 1}), i ->
       |    CAST(vec[j * $ds + i] AS DOUBLE)) AS sv
       |  FROM corpus, unnest(range(0, $m)) r(j)),
       |enc AS (
       |  SELECT id, j, cell FROM (
       |    SELECT s.id, s.j, c.cell,
       |      row_number() OVER (PARTITION BY s.id, s.j
       |        ORDER BY ${l2("s.sv", "c.cvec")} ASC, c.cell ASC) AS rn
       |    FROM csub s JOIN cents$iters c ON s.j = c.j) t WHERE rn = 1),
       |terms AS (
       |  SELECT e.id, e.j,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i ->
       |      CAST(q.qv[e.j * $ds + i] AS DOUBLE) * c.cvec[i])), (x, y) -> x + y) AS dj,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i ->
       |      c.cvec[i] * c.cvec[i])), (x, y) -> x + y) AS nj
       |  FROM enc e JOIN cents$iters c ON e.j = c.j AND e.cell = c.cell, q),
       |sc AS (
       |  SELECT id,
       |    list_reduce(list_prepend(0.0, list(dj ORDER BY j)), (x, y) -> x + y) AS dt,
       |    list_reduce(list_prepend(0.0, list(nj ORDER BY j)), (x, y) -> x + y) AS nx
       |  FROM terms GROUP BY id)
       |SELECT id, CASE WHEN nx > 0.0
       |  THEN dt / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(nx)) ELSE 0.0 END AS approx_cos
       |FROM sc, q
       |ORDER BY approx_cos DESC, id ASC LIMIT $limit""".stripMargin
  }

  /** Mirrors `Similarity.pqTopK(k=10, rerank=4)`: the ADC top-40
    * shortlist ([[simPqSql]]) re-scored with TRUE cosine — the
    * production narrow-then-decide recipe, exact on the shortlist. */
  private val simPqRerankSql: String =
    s"""WITH cand AS MATERIALIZED (${simPqSql(40)}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id <> 0)
       |SELECT id, cosine FROM (
       |  SELECT e.id, ${cosineSql("e.vec", "q.qv")} AS cosine
       |  FROM cand c JOIN corpus e ON e.id = c.id, q) t
       |ORDER BY cosine DESC, id ASC LIMIT 10""".stripMargin

  /** Mirrors [[qSimIvfPqBatch]] (`Similarity.ivfPqTopKBatch`, coarse
    * 8 cells nprobe 2, PQ m=8 ksub=16): the [[simIvfTopkSql]]
    * cosine-Lloyd chain (coarse, `cents*`) and the [[simPqTopkSql]]
    * per-subspace L2 chain (`pcents*`) run over the SAME id-ordered
    * sample; corpus rows carry (cell, code), queries probe their top-2
    * cells, and the joined candidates score by the identical ADC
    * folds. */
  /** The IVF-PQ batch replay, parameterized by the TRAINING corpus
    * predicate vs the SCORED corpus predicate. They coincide for the
    * inline/persisted-index queries; they differ for the incremental
    * APPEND query, where centroids+codebooks train on the base half
    * only (the frozen model of a live index) while the coded table
    * covers base∪batch. */
  /** The IVF-PQ TRAINING + ENCODE replay as a reusable CTE chain —
    * the exact mirror of [[graft.sources.AnnIndex.buildAndWrite]]'s
    * recipe (sample-refined coarse centroids + per-subspace L2
    * codebooks over the SAME id-ordered first-256 sample, then
    * cell-assign + PQ-encode the corpus), shared by the batch/append/
    * retrain scorers and the PQ drift audit so the model replay
    * cannot drift between them. Expects `train(id, vec)` and
    * `corpus(id, vec)` already defined; emits `samp`, `cents0..N`,
    * `psub`, `pcents0..N`, `assigned(id, cell)`, `csub`,
    * `enc(id, j, cell)`. Raw margined text; the consumer strips
    * margins exactly once. */
  private def pqModelCtes(
      nlist: Int = 8, iters: Int = 2, m: Int = 8, ksub: Int = 16): String = {
    val ds = DIM / m
    def l2(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i -> " +
        s"($a[i] - $b[i]) * ($a[i] - $b[i]))), (x, y) -> x + y)"
    def coarseIter(i: Int): String = {
      val prev = s"cents${i - 1}"
      s"""cassign$i AS (
         |  SELECT id, vec, cell FROM (
         |    SELECT s.id, s.vec, c.cell,
         |      row_number() OVER (PARTITION BY s.id
         |        ORDER BY ${cosineFusedSql("s.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM samp s CROSS JOIN $prev c) t WHERE rn = 1),
         |cupd$i AS (
         |  SELECT cell,
         |    list_transform(range(1, ${DIM + 1}), d ->
         |      list_reduce(list_transform(vecs, v -> CAST(v[d] AS DOUBLE)),
         |                  (x, y) -> x + y) / len(vecs)) AS cvec
         |  FROM (SELECT cell, list(vec ORDER BY id) AS vecs
         |        FROM cassign$i GROUP BY cell) g),
         |cents$i AS (
         |  SELECT p.cell, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN cupd$i u ON p.cell = u.cell)""".stripMargin
    }
    def pqIter(i: Int): String = {
      val prev = s"pcents${i - 1}"
      s"""passign$i AS (
         |  SELECT id, j, sv, cell FROM (
         |    SELECT s.id, s.j, s.sv, c.cell,
         |      row_number() OVER (PARTITION BY s.id, s.j
         |        ORDER BY ${l2("s.sv", "c.cvec")} ASC, c.cell ASC) AS rn
         |    FROM psub s JOIN $prev c ON s.j = c.j) t WHERE rn = 1),
         |pupd$i AS (
         |  SELECT j, cell,
         |    list_transform(range(1, ${ds + 1}), d ->
         |      list_reduce(list_prepend(0.0, list_transform(svs, v -> v[d])),
         |                  (x, y) -> x + y) / len(svs)) AS cvec
         |  FROM (SELECT j, cell, list(sv ORDER BY id) AS svs
         |        FROM passign$i GROUP BY j, cell) g),
         |pcents$i AS (
         |  SELECT p.j, p.cell, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN pupd$i u ON p.j = u.j AND p.cell = u.cell)""".stripMargin
    }
    s"""${hashSampCtes("train", 256, "mdsm")},
       |cents0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
       |                  list_transform(vec, x -> CAST(x AS DOUBLE)) AS cvec
       |           FROM (SELECT id, vec FROM samp ORDER BY id LIMIT $nlist) t),
       |${(1 to iters).map(coarseIter).mkString(",\n")},
       |psub AS MATERIALIZED (
       |  SELECT id, j, list_transform(range(1, ${ds + 1}), i ->
       |    CAST(vec[j * $ds + i] AS DOUBLE)) AS sv
       |  FROM samp, unnest(range(0, $m)) r(j)),
       |pcents0 AS (
       |  SELECT j, row_number() OVER (PARTITION BY j ORDER BY id) - 1 AS cell,
       |         sv AS cvec
       |  FROM psub QUALIFY row_number() OVER (PARTITION BY j ORDER BY id) <= $ksub),
       |${(1 to iters).map(pqIter).mkString(",\n")},
       |assigned AS MATERIALIZED (
       |  SELECT id, cell FROM (
       |    SELECT e.id, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |csub AS MATERIALIZED (
       |  SELECT id, j, list_transform(range(1, ${ds + 1}), i ->
       |    CAST(vec[j * $ds + i] AS DOUBLE)) AS sv
       |  FROM corpus, unnest(range(0, $m)) r(j)),
       |enc AS MATERIALIZED (
       |  SELECT id, j, cell FROM (
       |    SELECT s.id, s.j, c.cell,
       |      row_number() OVER (PARTITION BY s.id, s.j
       |        ORDER BY ${l2("s.sv", "c.cvec")} ASC, c.cell ASC) AS rn
       |    FROM csub s JOIN pcents$iters c ON s.j = c.j) t WHERE rn = 1)"""
  }

  private def simIvfPqSqlWith(trainPred: String, fullPred: String): String = {
    val (iters, k, nprobe) = (2, 5, 2)
    val m = 8; val ds = DIM / m
    s"""WITH train AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE $trainPred),
       |corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE $fullPred),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |${pqModelCtes()},
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosineFusedSql("q.qv", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM qs q CROSS JOIN cents$iters c) t WHERE rn <= $nprobe),
       |pairs AS (
       |  SELECT p.qid, a.id FROM probe p JOIN assigned a ON a.cell = p.cell),
       |terms AS (
       |  SELECT pr.qid, pr.id, e.j,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i ->
       |      CAST(q.qv[e.j * $ds + i] AS DOUBLE) * c.cvec[i])), (x, y) -> x + y) AS dj,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i ->
       |      c.cvec[i] * c.cvec[i])), (x, y) -> x + y) AS nj
       |  FROM pairs pr
       |  JOIN enc e ON e.id = pr.id
       |  JOIN pcents$iters c ON c.j = e.j AND c.cell = e.cell
       |  JOIN qs q ON q.qid = pr.qid),
       |sc AS (
       |  SELECT qid, id,
       |    list_reduce(list_prepend(0.0, list(dj ORDER BY j)), (x, y) -> x + y) AS dt,
       |    list_reduce(list_prepend(0.0, list(nj ORDER BY j)), (x, y) -> x + y) AS nx
       |  FROM terms GROUP BY qid, id)
       |SELECT query_id, id, approx_cos FROM (
       |  SELECT s.qid AS query_id, s.id,
       |    CASE WHEN s.nx > 0.0
       |      THEN s.dt / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(s.nx)) ELSE 0.0 END
       |      AS approx_cos,
       |    row_number() OVER (PARTITION BY s.qid
       |      ORDER BY CASE WHEN s.nx > 0.0
       |        THEN s.dt / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(s.nx)) ELSE 0.0 END
       |        DESC, s.id ASC) AS rn
       |  FROM sc s JOIN qs q ON q.qid = s.qid) t
       |WHERE rn <= $k""".stripMargin
  }

  private val simIvfPqBatchSql: String =
    simIvfPqSqlWith("vec_id >= 6", "vec_id >= 6")

  /** Mirrors [[qSimIndexAppendPq]] — train on the even half, score
    * base∪batch (see [[simIvfPqSqlWith]]). */
  private val simIndexAppendPqSql: String =
    simIvfPqSqlWith("vec_id >= 6 AND vec_id % 2 = 0", "vec_id >= 6")

  /** Mirrors [[qSimIndexRetrain]] — the training-replay oracle of a
    * FRESH build on the retained corpus: both the training and the
    * scored set are the post-delete survivors, so the
    * build→append→delete→retrain chain must answer exactly what a
    * never-drifted, never-deleted-from index over the survivors
    * answers. */
  private val simIndexRetrainSql: String =
    simIvfPqSqlWith("vec_id >= 6 AND vec_id % 7 <> 0",
      "vec_id >= 6 AND vec_id % 7 <> 0")

  /** Mirrors [[qSimIndexDriftPq]]: the [[pqModelCtes]] training +
    * encode replay (train = the full corpus; corpus = full ∪ the
    * one-hot `vec_id % 64` degenerate-featurizer offset batch —
    * exactly what the index holds after the append encodes under the
    * frozen model; reversed vectors would NOT register through PQ
    * quantization, which is why the engine twin drifts with one-hots),
    * then each row's ADC reconstruction-vs-centroid cosine in the
    * identical fold order (two-sided zero-norm guard, as the engine),
    * the exact-integer per-segment CDF at the cut, and the windowed
    * seg-0 baseline with the conservative missing-baseline
    * coalesce. */
  private val simIndexDriftPqSql: String = {
    val m = 8; val ds = DIM / m; val cut = 0.0
    s"""WITH train AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
       |           UNION ALL
       |           SELECT vec_id + 1000000,
       |             list_transform(range(0, $DIM), d ->
       |               CAST(CASE WHEN d = vec_id % $DIM THEN 1.0 ELSE 0.0 END
       |                    AS FLOAT))
       |           FROM embeddings),
       |${pqModelCtes()},
       |aterms AS (
       |  SELECT a.id, e.j,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i ->
       |      cc.cvec[e.j * $ds + i] * c.cvec[i])), (x, y) -> x + y) AS dj,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${ds + 1}), i ->
       |      c.cvec[i] * c.cvec[i])), (x, y) -> x + y) AS nj
       |  FROM assigned a
       |  JOIN cents2 cc ON cc.cell = a.cell
       |  JOIN enc e ON e.id = a.id
       |  JOIN pcents2 c ON c.j = e.j AND c.cell = e.cell),
       |acs AS (
       |  SELECT id,
       |    list_reduce(list_prepend(0.0, list(dj ORDER BY j)), (x, y) -> x + y) AS dt,
       |    list_reduce(list_prepend(0.0, list(nj ORDER BY j)), (x, y) -> x + y) AS nx
       |  FROM aterms GROUP BY id),
       |acos AS (
       |  SELECT s.id, CASE WHEN s.nx > 0.0
       |        AND ${dotSql("cc.cvec", "cc.cvec")} > 0.0
       |      THEN s.dt / (sqrt(${dotSql("cc.cvec", "cc.cvec")}) * sqrt(s.nx))
       |      ELSE 0.0 END AS cosv
       |  FROM acs s JOIN assigned a ON a.id = s.id
       |  JOIN cents2 cc ON cc.cell = a.cell),
       |per AS (
       |  SELECT CASE WHEN id >= 1000000 THEN CAST(1 AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END AS seg,
       |    count(*) AS n_rows,
       |    CAST(sum(CASE WHEN cosv < $cut THEN 1 ELSE 0 END) AS BIGINT) AS n_far
       |  FROM acos GROUP BY 1),
       |wp AS (SELECT seg, n_rows, n_far,
       |  n_far * 1000000 // n_rows AS far_ppm FROM per)
       |SELECT seg, n_rows, n_far, far_ppm,
       |  COALESCE(far_ppm > 2 * (SELECT max(CASE WHEN seg = 0 THEN far_ppm END)
       |                          FROM wp), TRUE) AS drift_flag
       |FROM wp""".stripMargin
  }

  /** Mirrors [[qSimIndexDriftLsh]]: the seeded hyperplanes as exact
    * literals, the sign-fold bucket of every (seg, row) — seg 0 the
    * corpus, seg 1 the offset copy, seg 2 the one-hot `vec_id % 64`
    * batch — the per-(seg, bucket) integer ppm histogram, the seg-0
    * baseline attached by a LEFT join (DuckDB side only; the engine
    * uses the window form), and the folded L1 identity
    * Σ_{b∈s}(|ppm_s − ppm_0| − ppm_0) + Σ ppm_0 with the absolute
    * 500 000-ppm flag bar. */
  private val simIndexDriftLshSql: String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(8, DIM, 42L)
    val onehot =
      s"""list_transform(range(0, $DIM), d ->
         |  CAST(CASE WHEN d = vec_id % $DIM THEN 1.0 ELSE 0.0 END AS FLOAT))"""
        .stripMargin.replace("\n", " ")
    s"""WITH bsrc AS (
       |  SELECT CAST(0 AS INT) AS seg, embedding AS vec FROM embeddings
       |  UNION ALL
       |  SELECT 1, embedding FROM embeddings
       |  UNION ALL
       |  SELECT 2, $onehot FROM embeddings),
       |bk AS MATERIALIZED (
       |  SELECT seg, ${bucketSql("vec", planes)} AS bucket FROM bsrc),
       |cnts AS (SELECT seg, bucket, CAST(count(*) AS BIGINT) AS cnt
       |         FROM bk GROUP BY 1, 2),
       |pp AS (SELECT seg, bucket, cnt,
       |         CAST(SUM(cnt) OVER (PARTITION BY seg) AS BIGINT) AS n_rows
       |       FROM cnts),
       |ppmt AS (SELECT seg, bucket, n_rows,
       |           CAST(cnt * 1000000 // n_rows AS BIGINT) AS ppm FROM pp),
       |base AS (SELECT bucket, ppm AS b0 FROM ppmt WHERE seg = 0),
       |t0 AS (SELECT CAST(COALESCE(SUM(b0), 0) AS BIGINT) AS mass FROM base)
       |SELECT CAST(p.seg AS BIGINT) AS seg,
       |  CAST(MAX(p.n_rows) AS BIGINT) AS n_rows,
       |  CAST(SUM(abs(p.ppm - COALESCE(b.b0, 0)) - COALESCE(b.b0, 0))
       |       + MAX(t.mass) AS BIGINT) AS l1_ppm,
       |  (SUM(abs(p.ppm - COALESCE(b.b0, 0)) - COALESCE(b.b0, 0))
       |       + MAX(t.mass)) > 500000 AS drift_flag
       |FROM ppmt p LEFT JOIN base b ON p.bucket = b.bucket CROSS JOIN t0 t
       |GROUP BY p.seg""".stripMargin
  }

  /** Mirrors `Similarity.kmeansCentroidsDistributed(nlist=8, iters=2,
    * quantBits=30)` + `ivfTopKWithCentroids(nprobe=4)`:
    *   cents0  = first 8 corpus rows by id;
    *   assignN = argmax fused-cosine over centsN-1, earliest-cell
    *             tie-break, over the FULL corpus (not a sample);
    *   updN    = per-(cell,dim) quantized-integer mean — each
    *             component rounds to round(x * 2^30) BIGINT, sums
    *             exactly (DuckDB promotes to HUGEINT = Spark's
    *             DECIMAL(38,0) fold), then CAST(sum AS DOUBLE)/n/2^30
    *             in that exact op order. Order-INDEPENDENT by
    *             construction, which is why this path scales to any
    *             corpus: no list(... ORDER BY id) materialization.
    *   Final: assign full corpus to cents2, probe top-4 cells by
    *   query fused-cosine, exact cosine re-rank on probed rows. */
  /** The distributed-k-means CTE chain (`cents0` .. `cents$iters`)
    * over a previously-defined `corpus(id, vec)` CTE — the exact
    * replay of `Similarity.kmeansCentroidsDistributed(quantBits=30)`,
    * shared by the single-query distributed oracle and the batch
    * oracle (which differ only in their corpus predicate and probe
    * stage). */
  private def kmeansDistributedCtes(nlist: Int, iters: Int): String =
    kmeansDistributedCtesExpr(nlist.toString, iters)

  /** [[kmeansDistributedCtes]] with the seed count as a SQL
    * EXPRESSION (e.g. the corpus-proportional
    * `GREATEST(8, CEIL(count/64))` of
    * [[graft.operators.Similarity.adaptiveNlist]]) — DuckDB accepts
    * subquery LIMITs, so the cell count can follow the data. */
  private def kmeansDistributedCtesExpr(nlistExpr: String, iters: Int): String = {
    val quant = "1073741824.0" // 2^30, the quantBits=30 default
    def iterCtes(i: Int): String = {
      val prev = s"cents${i - 1}"
      s"""assign$i AS (
         |  SELECT id, vec, cell FROM (
         |    SELECT e.id, e.vec, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM corpus e CROSS JOIN $prev c) t WHERE rn = 1),
         |upd$i AS (
         |  SELECT cell, list(val ORDER BY d) AS cvec FROM (
         |    SELECT cell, d,
         |      CAST(SUM(CAST(round(CAST(vec[d] AS DOUBLE) * $quant) AS BIGINT)) AS DOUBLE)
         |        / COUNT(*) / $quant AS val
         |    FROM assign$i CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS d) dims
         |    GROUP BY cell, d) g GROUP BY cell),
         |cents$i AS (
         |  SELECT p.cell, COALESCE(u.cvec, p.cvec) AS cvec
         |  FROM $prev p LEFT JOIN upd$i u ON p.cell = u.cell)""".stripMargin
    }
    s"""cents0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
       |                  list_transform(vec, x -> CAST(x AS DOUBLE)) AS cvec
       |           FROM (SELECT id, vec FROM corpus ORDER BY id LIMIT $nlistExpr) t),
       |${(1 to iters).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  private val simIvfDistributedSql: String = {
    val nlist = 8
    val iters = 2
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id <> 0),
       |${kmeansDistributedCtes(nlist, iters)},
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |probe AS (
       |  SELECT cell FROM (
       |    SELECT c.cell, ${cosineFusedSql("q.qv", "c.cvec")} AS s FROM cents$iters c, q) t
       |  ORDER BY s DESC, cell ASC LIMIT 4)
       |SELECT a.id, ${cosineSql("a.vec", "q.qv")} AS cosine
       |FROM assigned a, q
       |WHERE a.cell IN (SELECT cell FROM probe)
       |ORDER BY cosine DESC, id ASC LIMIT 10""".stripMargin
  }

  /** Mirrors [[qSimBatchTopK]]: the same distributed-k-means CTE
    * chain over the vec_id >= 6 corpus, then PER-QUERY probe (top-2
    * cells by fused query-centroid cosine, earliest-cell tie-break —
    * Similarity.probeCellsUdf's order) and per-query exact-cosine
    * top-5 (window keyed by query id — the batch twin of the LIMIT
    * in the single-query oracles). */
  private val simBatchTopkSql: String = {
    val (nlist, iters, k, nprobe) = (8, 2, 5, 2)
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 6),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |${kmeansDistributedCtes(nlist, iters)},
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosineFusedSql("q.qv", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM qs q CROSS JOIN cents$iters c) t WHERE rn <= $nprobe)
       |SELECT query_id, id, cosine FROM (
       |  SELECT p.qid AS query_id, a.id, ${cosineSql("a.vec", "q.qv")} AS cosine,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY ${cosineSql("a.vec", "q.qv")} DESC, a.id ASC) AS rn
       |  FROM probe p JOIN assigned a ON a.cell = p.cell JOIN qs q ON q.qid = p.qid) t
       |WHERE rn <= $k""".stripMargin
  }

  /** Mirrors [[qSimIndexAppend]]: the k-means CTE chain trains on
    * the BASE half only (`corpus` = even vec_ids ≥ 6 — the frozen
    * model), but `assigned` runs over base∪batch (`allc`) — exactly
    * what the index holds after [[graft.sources.AnnIndex.appendToIvf]]
    * cell-assigns the odd-half batch against the frozen centroids.
    * Probe + per-query top-5 as in [[simBatchTopkSql]]. */
  /** Mirrors [[qSimIndexDelete]]: the [[simBatchTopkSql]] k-means +
    * probe replay with the model trained on the FULL corpus (the
    * frozen pre-delete state), scoring restricted to the rows that
    * survive the % 7 tombstone set — the loader's anti-join replayed
    * as a plain filter. */
  private val simIndexDeleteSql: String = {
    val (nlist, iters, k, nprobe) = (8, 2, 5, 2)
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 6),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |${kmeansDistributedCtes(nlist, iters)},
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |surv AS (SELECT * FROM assigned WHERE NOT (id % 7 = 0)),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosineFusedSql("q.qv", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM qs q CROSS JOIN cents$iters c) t WHERE rn <= $nprobe)
       |SELECT query_id, id, cosine FROM (
       |  SELECT p.qid AS query_id, a.id, ${cosineSql("a.vec", "q.qv")} AS cosine,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY ${cosineSql("a.vec", "q.qv")} DESC, a.id ASC) AS rn
       |  FROM probe p JOIN surv a ON a.cell = p.cell JOIN qs q ON q.qid = p.qid) t
       |WHERE rn <= $k""".stripMargin
  }

  private val simIndexAppendSql: String = {
    val (nlist, iters, k, nprobe) = (8, 2, 5, 2)
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
       |               WHERE vec_id >= 6 AND vec_id % 2 = 0),
       |allc AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 6),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |${kmeansDistributedCtes(nlist, iters)},
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM allc e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${cosineFusedSql("q.qv", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM qs q CROSS JOIN cents$iters c) t WHERE rn <= $nprobe)
       |SELECT query_id, id, cosine FROM (
       |  SELECT p.qid AS query_id, a.id, ${cosineSql("a.vec", "q.qv")} AS cosine,
       |    row_number() OVER (PARTITION BY p.qid
       |      ORDER BY ${cosineSql("a.vec", "q.qv")} DESC, a.id ASC) AS rn
       |  FROM probe p JOIN assigned a ON a.cell = p.cell JOIN qs q ON q.qid = p.qid) t
       |WHERE rn <= $k""".stripMargin
  }

  /** Mirrors [[qSimRecallAudit]]: the [[simBatchTopkSql]] probe +
    * window machinery at nprobe=2 AND nprobe=nlist (all cells =
    * exhaustive), then the per-query intersection count. */
  private val simRecallAuditSql: String = {
    val (nlist, iters, k) = (8, 2, 5)
    def chain(nprobe: Int, probeName: String, outName: String) =
      s"""$probeName AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.qid, c.cell,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${cosineFusedSql("q.qv", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM qs q CROSS JOIN cents$iters c) t WHERE rn <= $nprobe),
         |$outName AS (
         |  SELECT qid, id FROM (
         |    SELECT p.qid, a.id,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY ${cosineSql("a.vec", "q.qv")} DESC, a.id ASC) AS rn
         |    FROM $probeName p JOIN assigned a ON a.cell = p.cell
         |    JOIN qs q ON q.qid = p.qid) t WHERE rn <= $k)""".stripMargin
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 6),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |${kmeansDistributedCtes(nlist, iters)},
       |assigned AS (
       |  SELECT id, vec, cell FROM (
       |    SELECT e.id, e.vec, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
       |    FROM corpus e CROSS JOIN cents$iters c) t WHERE rn = 1),
       |${chain(2, "probe_p", "probed")},
       |${chain(nlist, "probe_e", "exact")}
       |SELECT e.qid AS query_id, COUNT(p.id) AS hits,
       |       CAST(COUNT(p.id) AS DOUBLE) / COUNT(*) AS recall
       |FROM exact e LEFT JOIN probed p ON p.qid = e.qid AND p.id = e.id
       |GROUP BY e.qid""".stripMargin
  }

  /** Mirrors [[qSimMarginPairs]]: the [[simBatchTopkSql]] probe +
    * window machinery run in BOTH directions under the same
    * base-corpus-trained centroids, neighborhood averages folded as
    * quantized BIGINT sums (HUGEINT-exact = Spark's long sum), then
    * the ratio margin with the guarded zero-denominator case. */
  private val simMarginPairsSql: String = {
    val (nlist, iters, k, nprobe) = (8, 2, 4, 2)
    val quant = "1073741824.0" // 2^30
    def topk(probeFrom: String, overSide: String, qv: String) =
      s"""SELECT qid, id, cosine FROM (
         |    SELECT p.qid, a.id, ${cosineSql("a.vec", s"q.$qv")} AS cosine,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY ${cosineSql("a.vec", s"q.$qv")} DESC, a.id ASC) AS rn
         |    FROM $probeFrom p JOIN $overSide a ON a.cell = p.cell
         |    JOIN ${if (probeFrom == "probe_s") "qs" else "corpus"} q ON q.id = p.qid) t
         |  WHERE rn <= $k""".stripMargin
    def assignCte(side: String) =
      s"""SELECT id, vec, cell FROM (
         |    SELECT e.id, e.vec, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM $side e CROSS JOIN cents$iters c) t WHERE rn = 1""".stripMargin
    def probeCte(side: String) =
      s"""SELECT qid, cell FROM (
         |    SELECT q.id AS qid, c.cell,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY ${cosineFusedSql("q.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM $side q CROSS JOIN cents$iters c) t WHERE rn <= $nprobe""".stripMargin
    def avgCte(from: String, out: String) =
      s"""SELECT qid, CAST(SUM(CAST(round(cosine * $quant) AS BIGINT)) AS DOUBLE)
         |    / COUNT(*) / $quant AS $out FROM $from GROUP BY qid""".stripMargin
    s"""WITH corpus AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 6),
       |qs AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |${kmeansDistributedCtes(nlist, iters)},
       |assigned_t AS (${assignCte("corpus")}),
       |assigned_s AS (${assignCte("qs")}),
       |probe_s AS (${probeCte("qs")}),
       |probe_t AS (${probeCte("corpus")}),
       |fwd AS (${topk("probe_s", "assigned_t", "vec")}),
       |bwd AS (${topk("probe_t", "assigned_s", "vec")}),
       |savg AS (${avgCte("fwd", "src_avg")}),
       |tavg AS (${avgCte("bwd", "tgt_avg")})
       |SELECT f.qid AS src_id, f.id AS tgt_id, f.cosine,
       |  CASE WHEN (s.src_avg + t.tgt_avg) / 2.0 > 0.0
       |       THEN f.cosine / ((s.src_avg + t.tgt_avg) / 2.0)
       |       ELSE 0.0 END AS margin
       |FROM fwd f JOIN savg s ON s.qid = f.qid JOIN tavg t ON t.qid = f.id""".stripMargin
  }

  /** Mirrors [[qSimLshBatch]]: the candidate rule "corpus bucket
    * within Hamming h of the query bucket" is IDENTICAL whether
    * enumerated (the engine's equi-join Hamming ball) or predicated
    * (this oracle's bit_count theta join) — same set, so the same
    * per-query exact-cosine top-5. */
  private val simLshBatchSql: String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(8, DIM, 42L)
    s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv,
       |                   ${bucketSql("embedding", planes)} AS qbucket
       |            FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |c AS (SELECT vec_id AS id, embedding AS vec,
       |             ${bucketSql("embedding", planes)} AS bucket
       |      FROM embeddings WHERE vec_id >= 6)
       |SELECT query_id, id, cosine FROM (
       |  SELECT q.qid AS query_id, c.id, ${cosineSql("c.vec", "q.qv")} AS cosine,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosineSql("c.vec", "q.qv")} DESC, c.id ASC) AS rn
       |  FROM qs q JOIN c ON bit_count(xor(c.bucket, q.qbucket)) <= 2) t
       |WHERE rn <= 5""".stripMargin
  }

  /** Mirrors [[qSimRecallAuditLsh]]: probed = the radius-1
    * bit_count join over the SAME frozen hyperplane buckets as
    * [[simLshBatchSql]]; exact = the full-ball join (radius 8 over 8
    * planes is every bucket — brute force); recall = the left-join
    * intersection arithmetic of [[simRecallAuditSql]]. */
  private val simRecallAuditLshSql: String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(8, DIM, 42L)
    def topk(name: String, radius: Int) =
      s"""$name AS (
         |  SELECT qid, id FROM (
         |    SELECT q.qid, c.id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${cosineSql("c.vec", "q.qv")} DESC, c.id ASC) AS rn
         |    FROM qs q JOIN c ON bit_count(xor(c.bucket, q.qbucket)) <= $radius) t
         |  WHERE rn <= 5)""".stripMargin
    s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv,
       |                   ${bucketSql("embedding", planes)} AS qbucket
       |            FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |c AS (SELECT vec_id AS id, embedding AS vec,
       |             ${bucketSql("embedding", planes)} AS bucket
       |      FROM embeddings WHERE vec_id >= 6),
       |${topk("probed", 2)},
       |${topk("exact", 8)}
       |SELECT e.qid AS query_id, COUNT(p.id) AS hits,
       |       CAST(COUNT(p.id) AS DOUBLE) / COUNT(*) AS recall
       |FROM exact e LEFT JOIN probed p ON p.qid = e.qid AND p.id = e.id
       |GROUP BY e.qid""".stripMargin
  }

  /** Mirrors `Similarity.groupCentroids(quantBits=30)`: quantized
    * BIGINT sums (HUGEINT-exact in DuckDB = Spark's two-long exact
    * fold) divided back in the same op order. */
  private val embedCentroidsSql: String =
    s"""SELECT label AS grp, d AS dim,
       |  CAST(SUM(CAST(round(CAST(embedding[d] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS DOUBLE)
       |    / COUNT(*) / 1073741824.0 AS value
       |FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS d) dims
       |WHERE vec_id <> 0
       |GROUP BY label, d""".stripMargin

  /** Reads the SAME JSONL bytes `q_ingest_jsonl` ingested — the twin
    * of whatever scale Verify ran at (`__SF_BASENAME__` is substituted
    * at dump time; Verify materializes the twin before oracle_sql.json
    * is compared). */
  private val ingestJsonlSql: String =
    s"""SELECT doc_id, lang AS lang_tag, $nTokensSql AS n_tokens
       |FROM read_json_auto('$twinRoot/jsonl/__SF_BASENAME__/documents.jsonl/*.json')""".stripMargin

  // ---- hash-dedup mirrors --------------------------------------------------
  // FNV-1a/SplitMix64/MinHash/SimHash replayed in DuckDB via HashSql
  // (unsigned-HUGEINT domain, 32-bit-limb wrapping multiply) — turns
  // the former rows-only near-dup queries into full hash-match gates.

  /** Mirrors `Dedup.simhashPairs(maxHamming = 3)`: 4 pigeonhole
    * blocks of 16 bits, block-bucket self-join, `bit_count` verify.
    * Bucketing joins on the BLOCK VALUE itself (not its murmur hash,
    * which DuckDB lacks) — equal blocks collide under any hash, so
    * the candidate set differs only by murmur collisions of UNEQUAL
    * blocks that also pass the Hamming verify: vanishing at 2^-32
    * per bucket pair, and absent on this fixture (hash-match green). */
  private val dedupSimhashSql: String = {
    def pw(j: Int) =
      s"CAST('${java.math.BigInteger.ONE.shiftLeft(j)}' AS HUGEINT)"
    // one grouped pass over the exploded hashes: per-bit set counts...
    val bitSums = (0 until 64)
      .map(j => s"SUM(CAST((h // ${pw(j)}) % 2 AS BIGINT)) AS b$j").mkString(", ")
    // ...then bit j of the simhash is set iff strictly more than half
    // the hashes set it (SimHash64's `votes > 0`)
    val simU = (0 until 64)
      .map(j => s"(CASE WHEN 2 * b$j > m THEN ${pw(j)} ELSE CAST(0 AS HUGEINT) END)")
      .mkString("(", " + ", ")")
    val blocks = (0 until 4).map { j =>
      s"SELECT doc_id, sim, $j AS blk_idx," +
        s" CAST((simu // ${pw(16 * j)}) % 65536 AS BIGINT) AS blk_val FROM sims"
    }.mkString("\nUNION ALL ")
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", 1)} AS sh FROM ths),
       |shx AS (SELECT doc_id, unnest(sh) AS h FROM sh),
       |bits AS (SELECT doc_id, count(*) AS m, $bitSums FROM shx GROUP BY doc_id),
       |sims AS MATERIALIZED (SELECT doc_id, simu, ${HashSql.toS("simu")} AS sim FROM
       |  (SELECT doc_id, $simU AS simu FROM bits) t),
       |blk AS MATERIALIZED ($blocks)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |  FROM blk a JOIN blk b ON a.blk_idx = b.blk_idx AND a.blk_val = b.blk_val
       |       AND a.doc_id < b.doc_id) p
       |WHERE hamming <= 3""".stripMargin
  }

  /** Mirrors `Dedup.minhashPairs`: hashed word-n-gram shingles →
    * 64-hash MinHash signature → banded candidate join → exact
    * hashed-shingle Jaccard rescore. Banding joins on the signature
    * SLICE (list equality) instead of Spark's murmur band hash —
    * identical except for the same vanishing-collision caveat as
    * [[dedupSimhashSql]]. */
  private def minhashPairsSql(
      shingleN: Int, numHashes: Int, bands: Int, threshold: Double,
      maxBucketSize: Option[Int] = None, from: String = "documents"): String = {
    val rpb = numHashes / bands
    val bandSelects = (0 until bands).map { j =>
      s"SELECT doc_id, $j AS band_idx, sig[${j * rpb + 1}:${(j + 1) * rpb}] AS bv FROM sig"
    }.mkString("\nUNION ALL ")
    // the capBuckets mirror: keep only band buckets within the cap
    // (the count filter is deterministic, so it replays exactly)
    val bandCte = maxBucketSize match {
      case Some(cap) =>
        s"""band0 AS MATERIALIZED ($bandSelects),
           |band AS MATERIALIZED (SELECT b.doc_id, b.band_idx, b.bv FROM band0 b
           |  JOIN (SELECT band_idx, bv FROM band0 GROUP BY band_idx, bv
           |        HAVING count(*) <= $cap) g
           |    ON b.band_idx = g.band_idx AND b.bv = g.bv),""".stripMargin
      case None => s"band AS MATERIALIZED ($bandSelects),"
    }
    val inter = "len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))"
    // signature via the exploded hash×salt cross product (see
    // HashSql.mixCtes): sig[j] = min in SIGNED order of
    // mix64(h ^ salt_j), assembled back into a list by salt index
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM $from),
       |sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", shingleN)} AS sh FROM ths),
       |shx AS (SELECT doc_id, unnest(sh) AS h FROM sh),
       |salt AS (SELECT * FROM (VALUES ${HashSql.saltRows(numHashes, 42L)}) AS v(salt_idx, s)),
       |mx0 AS MATERIALIZED (SELECT doc_id, salt_idx, ${HashSql.ux("h", "s")} AS x FROM shx CROSS JOIN salt),
       |${HashSql.mixCtes("mx", "mx0", "doc_id, salt_idx")},
       |sig AS MATERIALIZED (SELECT doc_id, list(mn ORDER BY salt_idx) AS sig FROM
       |  (SELECT doc_id, salt_idx, min(${HashSql.toS("x")}) AS mn FROM mx4
       |   GROUP BY doc_id, salt_idx) g GROUP BY doc_id),
       |$bandCte
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM band a JOIN band b ON a.band_idx = b.band_idx AND a.bv = b.bv
       |              AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b,
       |         CAST($inter AS DOUBLE) /
       |         CAST(len(sa.sh) + len(sb.sh) - $inter AS DOUBLE) AS jaccard
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b) t
       |WHERE jaccard >= $threshold""".stripMargin
  }

  /** Mirrors `Dedup.dedupAgainst` on the doc_id % 10 split: the same
    * signature/band replay as [[minhashPairsSql]] computed ONCE over
    * all documents, with the candidate join restricted to
    * batch-side × corpus-side instead of a self-join. The exact stage
    * is the fingerprint semi-join; the final survivor set subtracts
    * both hit sets — set-identical to the engine's
    * anti-join-then-probe staging (a batch row dropped by stage 1
    * never reaches stage 2 in either formulation). */
  /** The [[Dedup.dedupAgainst]] replay as a parameterized CTE chain
    * ending in `exact_hit(doc_id)` / `lsh_hit(doc_id)` — the batch
    * ids dropped for an exact-fingerprint or verified-jaccard match
    * against the corpus side. `batchPred`/`corpusPred` render the
    * side-membership predicate for a given doc_id expression, so the
    * daily-batch split (`% 10`) and the leakage-guarded train/test
    * split share one flag-for-flag mirror. Callers compose their own
    * final SELECT (and may reference earlier CTEs from the
    * predicates — CTEs see every name defined before them). */
  private def dedupAgainstHitsCtes(
      batchPred: String => String,
      corpusPred: String => String,
      shingleN: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      from: String = "documents",
      prefix: String = ""): String = {
    val p = prefix
    val rpb = numHashes / bands
    val bandSelects = (0 until bands).map { j =>
      s"SELECT doc_id, $j AS band_idx, sig[${j * rpb + 1}:${(j + 1) * rpb}] AS bv FROM ${p}sig"
    }.mkString("\nUNION ALL ")
    val inter = "len(list_filter(sn.sh, x -> list_contains(sc.sh, x)))"
    s"""${p}ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM $from),
       |${p}sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", shingleN)} AS sh FROM ${p}ths),
       |${p}shx AS (SELECT doc_id, unnest(sh) AS h FROM ${p}sh),
       |${p}salt AS (SELECT * FROM (VALUES ${HashSql.saltRows(numHashes, 42L)}) AS v(salt_idx, s)),
       |${p}mx0 AS MATERIALIZED (SELECT doc_id, salt_idx, ${HashSql.ux("h", "s")} AS x FROM ${p}shx CROSS JOIN ${p}salt),
       |${HashSql.mixCtes(s"${p}mx", s"${p}mx0", "doc_id, salt_idx")},
       |${p}sig AS MATERIALIZED (SELECT doc_id, list(mn ORDER BY salt_idx) AS sig FROM
       |  (SELECT doc_id, salt_idx, min(${HashSql.toS("x")}) AS mn FROM ${p}mx4
       |   GROUP BY doc_id, salt_idx) g GROUP BY doc_id),
       |${p}band AS MATERIALIZED ($bandSelects),
       |${p}fps AS MATERIALIZED (SELECT doc_id,
       |  md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g'))) AS fp FROM $from),
       |${p}exact_hit AS (SELECT n.doc_id FROM ${p}fps n WHERE ${batchPred("n.doc_id")} AND EXISTS (
       |  SELECT 1 FROM ${p}fps c WHERE ${corpusPred("c.doc_id")} AND c.fp = n.fp)),
       |${p}cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS cid
       |  FROM ${p}band a JOIN ${p}band b ON a.band_idx = b.band_idx AND a.bv = b.bv
       |  WHERE ${batchPred("a.doc_id")} AND ${corpusPred("b.doc_id")}),
       |${p}lsh_hit AS (SELECT DISTINCT c.nid AS doc_id FROM ${p}cand c
       |  JOIN ${p}sh sn ON sn.doc_id = c.nid JOIN ${p}sh sc ON sc.doc_id = c.cid
       |  WHERE CAST($inter AS DOUBLE) /
       |        CAST(len(sn.sh) + len(sc.sh) - $inter AS DOUBLE) >= $threshold)""".stripMargin
  }

  private val dedupIncrementalSql: String =
    s"""WITH ${dedupAgainstHitsCtes(c => s"$c % 10 >= 8", c => s"$c % 10 < 8")}
       |SELECT doc_id FROM documents WHERE doc_id % 10 >= 8
       |  AND doc_id NOT IN (SELECT doc_id FROM exact_hit)
       |  AND doc_id NOT IN (SELECT doc_id FROM lsh_hit)""".stripMargin

  /** Mirrors [[qSplitDecontam]]: the [[sampleSplitSql]] SplitMix64
    * bucket replay assigns splits, then the [[dedupAgainstHitsCtes]]
    * chain runs with batch = train ∪ val and corpus = test (the
    * LEXICAL probe), and the [[kmeansDistributedCtes]] chain trains
    * on the test-side embeddings for the SEMANTIC probe — test-side
    * cells capped via the cell-cap QUALIFY (maxClusterSize = 6,
    * capBuckets semantics), batch ids with any surviving-cell cosine
    * ≥ 0.3 test match dropped. Test rows always survive; non-test
    * rows survive only when they miss the exact, jaccard, AND
    * semantic hit sets. */
  /** The SEMANTIC decontamination probe as a reusable CTE block —
    * THE single copy of the corpus-side embedding load, the k-means
    * training replay, the cell assignment (earliest-cell tie-break),
    * the cell-cap QUALIFY (`Dedup.semanticDedupAgainst`
    * maxClusterSize semantics), and the cosine-hit arithmetic,
    * shared by the split-guard and release-pipeline oracles so the
    * two cannot drift. Defines the unprefixed `corpus`/`cents0..2`
    * k-means chain (one use per query); emits `<p>hit(doc_id)` —
    * batch ids whose best surviving-cell cosine clears `threshold`.
    * Raw margined text; the consumer strips margins exactly once. */
  private def semanticDecontamCtes(
      p: String, corpusIds: String, batchIds: String,
      maxCell: Int = 6, threshold: Double = 0.3): String = {
    def assignSem(side: String) =
      s"""SELECT id, vec, sqrt(${dotSql("vec", "vec")}) AS nrm, cell FROM (
         |    SELECT e.id, e.vec, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosineFusedSql("e.vec", "c.cvec")} DESC, c.cell ASC) AS rn
         |    FROM $side e CROSS JOIN cents2 c) t WHERE rn = 1""".stripMargin
    s"""corpus AS (SELECT e.vec_id AS id, e.embedding AS vec FROM embeddings e
       |  WHERE e.vec_id IN (SELECT doc_id FROM $corpusIds)),
       |${kmeansDistributedCtes(8, 2)},
       |${p}c_raw AS (${assignSem("corpus")}),
       |${p}c AS (SELECT * FROM ${p}c_raw
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $maxCell),
       |${p}bv AS (SELECT e.vec_id AS id, e.embedding AS vec FROM embeddings e
       |  WHERE e.vec_id IN (SELECT doc_id FROM $batchIds)),
       |${p}b AS (${assignSem(s"${p}bv")}),
       |${p}hit AS (SELECT DISTINCT b.id AS doc_id
       |  FROM ${p}b b JOIN ${p}c c ON b.cell = c.cell
       |  WHERE CASE WHEN b.nrm * c.nrm > 0.0
       |             THEN ${dotSql("b.vec", "c.vec")} / (b.nrm * c.nrm)
       |             ELSE 0.0 END >= $threshold)"""
  }

  private val splitDecontamSql: String =
    s"""WITH m0 AS MATERIALIZED (SELECT doc_id, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("m", "m0", "doc_id")},
       |sd_split AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN (x // 2) % 100 < 80 THEN 'train'
       |         WHEN (x // 2) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM m4),
       |sd_b AS (SELECT doc_id FROM sd_split WHERE split <> 'test'),
       |sd_t AS (SELECT doc_id FROM sd_split WHERE split = 'test'),
       |${dedupAgainstHitsCtes(
            c => s"$c IN (SELECT doc_id FROM sd_b)",
            c => s"$c IN (SELECT doc_id FROM sd_t)")},
       |${semanticDecontamCtes("sem_", "sd_t", "sd_b")}
       |SELECT s.doc_id, s.split FROM sd_split s
       |WHERE s.split = 'test'
       |   OR (s.doc_id NOT IN (SELECT doc_id FROM exact_hit)
       |       AND s.doc_id NOT IN (SELECT doc_id FROM lsh_hit)
       |       AND s.doc_id NOT IN (SELECT doc_id FROM sem_hit))""".stripMargin

  /** Mirrors [[qDedupBloom]]: the bloom filter is a pure prefilter
    * (no false negatives; false positives are confirmed away against
    * the real fingerprint set), so the survivor set IS the exact
    * fingerprint anti-join — one line of SQL gates the whole
    * sketch+broadcast plan. */
  private val dedupBloomSql: String =
    s"""WITH fps AS MATERIALIZED (SELECT doc_id,
       |  md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g'))) AS fp FROM documents),
       |batch AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 >= 8
       |          UNION ALL
       |          SELECT doc_id + 1000000, fp FROM fps
       |          WHERE doc_id % 10 < 8 AND doc_id % 40 = 0)
       |SELECT b.doc_id FROM batch b
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM fps c WHERE c.doc_id % 10 < 8 AND c.fp = b.fp)""".stripMargin

  /** Mirrors [[qSpanDupes]] (`Dedup.duplicatedSpans`, n=8, minDocs=2):
    * the [[HashSql]] token/shingle-hash replay (distinct per doc), one
    * unnest + count per hash, signed back to Spark's long domain. */
  private val spanDupesSql: String =
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", 8)} AS sh FROM ths),
       |shx AS (SELECT doc_id, unnest(sh) AS h FROM sh)
       |SELECT ${HashSql.toS("h")} AS span_hash, CAST(count(*) AS BIGINT) AS n_docs
       |FROM shx GROUP BY h
       |HAVING count(*) >= 2""".stripMargin

  /** Mirrors [[qDedupCdc]] (`Dedup.cdcChunkPairs`, maskBits=3,
    * minShared=2, cap=8): per-token chunk assignment replayed with a
    * window count of boundary tokens (mixed hash ≡ 0 mod 2^3) among
    * STRICT predecessors, each chunk's ordered token-hash fold via
    * [[HashSql.foldHashSql]], per-doc DISTINCT chunk hashes, the
    * cap's distinct-doc count filter, then the pair count join. */
  /** The CDC per-document DISTINCT chunk-hash CTE chain (ths → token
    * positions → rolling pair-fold boundary → chunk folds → `cd`),
    * shared by the self-join and incremental CDC oracles (both at
    * maskBits=3 — the `% 8` boundary). */
  private val cdcCdCtes: String =
    s"""ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |tok0 AS (SELECT doc_id, ths, unnest(range(1, len(ths) + 1)) AS pos FROM ths),
       |tok AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos, ths[pos] AS th FROM tok0),
       |lagc AS MATERIALIZED (SELECT doc_id, pos, th,
       |  lag(th) OVER (PARTITION BY doc_id ORDER BY pos) AS pth FROM tok),
       |pf0 AS MATERIALIZED (SELECT doc_id, pos, th,
       |  ${HashSql.pairFoldU("pth", "th")} AS x FROM lagc),
       |${HashSql.mixCtes("pf", "pf0", "doc_id, pos, th")},
       |ck AS MATERIALIZED (SELECT doc_id, pos, th,
       |  COALESCE(SUM(CASE WHEN x IS NOT NULL AND x % 8 = 0 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM pf4),
       |cf AS MATERIALIZED (SELECT doc_id, chunk_id, list(th ORDER BY pos) AS chunk_ths
       |  FROM ck GROUP BY doc_id, chunk_id),
       |cd AS MATERIALIZED (SELECT DISTINCT doc_id, ch FROM (
       |  SELECT doc_id, ${HashSql.foldHashSql("chunk_ths")} AS ch FROM cf
       |  UNION ALL
       |  SELECT doc_id, ${HashSql.emptyChunkHash} AS ch FROM ths WHERE len(ths) = 0) u)""".stripMargin

  private val dedupCdcSql: String =
    s"""WITH $cdcCdCtes,
       |capped AS MATERIALIZED (SELECT c.doc_id, c.ch FROM cd c
       |  JOIN (SELECT ch FROM cd GROUP BY ch HAVING count(*) <= 8) g ON c.ch = g.ch)
       |SELECT id_a, id_b, n_shared_chunks FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(count(*) AS BIGINT) AS n_shared_chunks
       |  FROM capped a JOIN capped b ON a.ch = b.ch AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id) t
       |WHERE n_shared_chunks >= 2""".stripMargin

  /** Mirrors [[qDedupCdcIncremental]]: the same `cd` chunk sets, the
    * corpus side capped at 8 distinct corpus docs per chunk (the
    * engine caps the corpus index only), the batch side including
    * the re-keyed corpus rows, joined on the chunk hash. */
  private val dedupCdcIncrementalSql: String =
    s"""WITH $cdcCdCtes,
       |corpus AS MATERIALIZED (SELECT c.doc_id AS cid, c.ch FROM cd c
       |  JOIN (SELECT ch FROM cd WHERE doc_id % 10 < 8 GROUP BY ch
       |        HAVING count(*) <= 8) g ON c.ch = g.ch
       |  WHERE c.doc_id % 10 < 8),
       |batch AS (SELECT doc_id AS id, ch FROM cd WHERE doc_id % 10 >= 8
       |          UNION ALL
       |          SELECT doc_id + 1000000, ch FROM cd
       |          WHERE doc_id % 10 < 8 AND doc_id % 40 = 0)
       |SELECT id, cid, n_shared FROM (
       |  SELECT b.id, c.cid, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM batch b JOIN corpus c ON b.ch = c.ch
       |  GROUP BY b.id, c.cid) t
       |WHERE n_shared >= 2""".stripMargin

  /** Mirrors [[qDedupContainment]] (`Dedup.containmentPairs`, n=5,
    * threshold=0.6, cap=16): shingle replay, capped shingle-hash
    * self-join, shared count over min-size in the identical double
    * op order. */
  private val dedupContainmentSql: String =
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", 5)} AS sh FROM ths),
       |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
       |ex0 AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM sh),
       |ex AS MATERIALIZED (SELECT e.doc_id, e.h FROM ex0 e
       |  JOIN (SELECT h FROM ex0 GROUP BY h HAVING count(*) <= 16) g ON e.h = g.h),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
       |      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b, n_shared,
       |       CAST(n_shared AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
       |FROM p JOIN sz sa ON sa.doc_id = p.id_a JOIN sz sb ON sb.doc_id = p.id_b
       |WHERE CAST(n_shared AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.6""".stripMargin

  /** Mirrors [[qQualityGate]] (`Profile.quantileGate`, q=0.5): the
    * [[oracle q_text_quality]] composite score with DuckDB's
    * `quantile_cont` as the per-language cut — the same
    * linear-interpolated median as Spark's exact `percentile` (the
    * q_profile_quantiles bit-parity), so the >= comparison agrees
    * row for row. */
  private val qualityGateSql: String =
    s"""WITH s AS MATERIALIZED (SELECT doc_id, lang,
       |  $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |    + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |    + (1.0 - $punctRatioSql) * 0.1 AS quality
       |FROM documents),
       |thr AS (SELECT lang, quantile_cont(quality, 0.5) AS t FROM s GROUP BY lang)
       |SELECT s.doc_id, s.lang, s.quality FROM s JOIN thr ON s.lang = thr.lang
       |WHERE s.quality >= thr.t""".stripMargin

  /** Mirrors [[qEventsCooccur]] (`Funnel.cooccurrenceLift`): distinct
    * (user, type) presence, pair counts via the ordered self-join,
    * lift as the identical exact-integer-to-double chain. */
  private val eventsCooccurSql: String =
    """WITH it AS (SELECT DISTINCT user_id AS g, event_type AS item FROM events),
      |ic AS (SELECT item, count(*) AS n_item FROM it GROUP BY item),
      |ng AS (SELECT count(DISTINCT g) AS n FROM it),
      |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
      |      FROM it a JOIN it b ON a.g = b.g AND a.item < b.item GROUP BY 1, 2)
      |SELECT item_a, item_b, n_ab,
      |  (CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM ng) AS DOUBLE)) /
      |  (CAST(ca.n_item AS DOUBLE) * CAST(cb.n_item AS DOUBLE)) AS lift
      |FROM p JOIN ic ca ON ca.item = p.item_a
      |       JOIN ic cb ON cb.item = p.item_b""".stripMargin

  /** Mirrors [[qDedupBucketCensus]] (`Dedup.bucketCensus`): the
    * [[minhashPairsSql]] signature replay, then bucket sizes keyed on
    * the raw band slices (the engine buckets on the same slices, so
    * the histogram is collision-structure-identical). */
  private val dedupBucketCensusSql: String = {
    val (shingleN, numHashes, bands) = (3, 64, 16)
    val rpb = numHashes / bands
    val bandSelects = (0 until bands).map { j =>
      s"SELECT doc_id, $j AS band_idx, sig[${j * rpb + 1}:${(j + 1) * rpb}] AS bv FROM sig"
    }.mkString("\nUNION ALL ")
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", shingleN)} AS sh FROM ths),
       |shx AS (SELECT doc_id, unnest(sh) AS h FROM sh),
       |salt AS (SELECT * FROM (VALUES ${HashSql.saltRows(numHashes, 42L)}) AS v(salt_idx, s)),
       |mx0 AS MATERIALIZED (SELECT doc_id, salt_idx, ${HashSql.ux("h", "s")} AS x FROM shx CROSS JOIN salt),
       |${HashSql.mixCtes("mx", "mx0", "doc_id, salt_idx")},
       |sig AS MATERIALIZED (SELECT doc_id, list(mn ORDER BY salt_idx) AS sig FROM
       |  (SELECT doc_id, salt_idx, min(${HashSql.toS("x")}) AS mn FROM mx4
       |   GROUP BY doc_id, salt_idx) g GROUP BY doc_id),
       |band AS MATERIALIZED ($bandSelects)
       |SELECT bucket_size, CAST(count(*) AS BIGINT) AS n_buckets FROM (
       |  SELECT band_idx, bv, count(*) AS bucket_size
       |  FROM band GROUP BY band_idx, bv) g
       |GROUP BY bucket_size""".stripMargin
  }

  /** Mirrors [[qSampleWeighted]] (`Sampling.weightedSample`, scale
    * 10000, granularity 10000, target 200): the usual SplitMix64
    * bucket replay; the exact integer weight total is re-derived as
    * a HUGEINT sum (== the engine's long sum), and the per-row rate
    * repeats `targetRows · (wq / total)` in the identical double op
    * order before the floor quantization. */
  private val sampleWeightedSql: String = {
    val wq = "CAST(round(n_chars * 10000) AS BIGINT)"
    s"""WITH w0 AS MATERIALIZED (SELECT doc_id, n_chars, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("w", "w0", "doc_id, n_chars")},
       |tot AS (SELECT CAST(SUM($wq) AS BIGINT) AS tq FROM documents)
       |SELECT doc_id, n_chars FROM w4 m, tot
       |WHERE $wq > 0 AND (m.x // 2) % 10000 <
       |  CAST(floor(least(200.0 * (CAST($wq AS DOUBLE) / CAST(tq AS DOUBLE)), 1.0)
       |       * 10000) AS BIGINT)""".stripMargin
  }

  /** Mirrors [[qPackSplit]] (`Packing.splitChunks(40, 8)`): identical
    * tokenization (NO lowercasing — chunks preserve case), window
    * starts 0, 32, 64, ... strictly below the token count, slices
    * clamped at the tail in both engines. */
  private val packSplitSql: String = {
    val ws = graft.functions.TextFunctions.wsClass
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |    list_filter(regexp_split_to_array(text, '$ws+'), x -> x <> '') AS t
       |  FROM documents)
       |SELECT id, CAST(s // 32 AS BIGINT) AS chunk_idx,
       |  list_aggregate(t[s+1:s+40], 'string_agg', ' ') AS chunk_text,
       |  CAST(least(40, len(t) - s) AS BIGINT) AS n_tokens
       |FROM toks, unnest(range(0, len(t), 32)) r(s)
       |WHERE len(t) > 0""".stripMargin
  }

  /** Mirrors [[qEventsAnomaly]] (`Profile.countAnomalies`, k=1.5,
    * hour = ts div 3600000000000 on raw nanos): exact long counts
    * and squares per key, the identical cast-to-double mean/variance
    * op order, and the squared-deviation comparison (no sqrt). */
  private val eventsAnomalySql: String = {
    val k2 = (1.5 * 1.5).toString
    s"""WITH c AS (
       |  SELECT event_type AS key, epoch_ns(ts) // 3600000000000 AS bucket,
       |         count(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT key, count(*) AS nb, CAST(SUM(n_events) AS BIGINT) AS sc,
       |         CAST(SUM(n_events * n_events) AS BIGINT) AS sc2
       |  FROM c GROUP BY key)
       |SELECT key, bucket, n_events, mean, variance FROM (
       |  SELECT c.key, c.bucket, c.n_events,
       |    CAST(sc AS DOUBLE) / CAST(nb AS DOUBLE) AS mean,
       |    (CAST(nb AS DOUBLE) * CAST(sc2 AS DOUBLE)
       |      - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
       |      / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)) AS variance
       |  FROM c JOIN st ON c.key = st.key) t
       |WHERE (CAST(n_events AS DOUBLE) - mean) * (CAST(n_events AS DOUBLE) - mean)
       |      > $k2 * variance""".stripMargin
  }

  /** Mirrors [[qTextPostings]] (`Search.invertedIndex`): per-doc
    * token dedup, then count + ordered comma-joined posting list
    * (BIGINT→VARCHAR casts render identically in both engines). */
  private val textPostingsSql: String =
    s"""WITH x AS MATERIALIZED (
       |  SELECT doc_id, unnest($tokensLowerSql) AS token FROM documents),
       |t AS MATERIALIZED (SELECT DISTINCT doc_id, token FROM x)
       |SELECT token, count(*) AS doc_freq,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       |FROM t GROUP BY token""".stripMargin

  /** Mirrors [[qTextBm25]] (`Search.bm25TopK`, k1=1.2, b=0.75,
    * Q=2^20, top 50): every double literal is the Scala-computed
    * value's `toString` (round-trips in DuckDB), avgdl/N re-derive
    * from the same two integers in the same single-divide op order,
    * and per-(doc,term) contributions floor to fixed point BEFORE
    * the sum — the [[textPerplexitySql]] transcendental discipline.
    * The LIMIT cut is deterministic: integer score ties break on
    * doc_id both sides. */
  private val textBm25Sql: String = {
    val terms = bm25Terms.map(t => s"x = '$t'").mkString(" OR ")
    val k1 = 1.2.toString
    val k1p1 = (1.2 + 1.0).toString
    val oneMinusB = (1.0 - 0.75).toString
    val b = 0.75.toString
    val avgdl = "(CAST((SELECT sl FROM corpus) AS DOUBLE) / CAST((SELECT n FROM corpus) AS DOUBLE))"
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, len($tokensSql) AS len,
       |         list_filter($tokensLowerSql, x -> $terms) AS mt
       |  FROM documents),
       |corpus AS MATERIALIZED (
       |  SELECT count(*) AS n, CAST(SUM(len) AS BIGINT) AS sl FROM base),
       |matched AS MATERIALIZED (
       |  SELECT doc_id, len, unnest(mt) AS term FROM base),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, len, term, count(*) AS tf FROM matched GROUP BY 1, 2, 3),
       |dft AS MATERIALIZED (SELECT term, count(*) AS dft FROM tf GROUP BY term),
       |idf AS MATERIALIZED (SELECT term,
       |  ln(1.0 + (CAST((SELECT n FROM corpus) AS DOUBLE) - CAST(dft AS DOUBLE) + 0.5)
       |       / (CAST(dft AS DOUBLE) + 0.5)) AS idf FROM dft),
       |scored AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    CAST(floor((i.idf * ((CAST(t.tf AS DOUBLE) * $k1p1) /
       |      (CAST(t.tf AS DOUBLE) + $k1 * ($oneMinusB + $b *
       |        (CAST(t.len AS DOUBLE) / $avgdl))))) * 1048576.0) AS BIGINT) AS wq
       |  FROM tf t JOIN idf i ON t.term = i.term)
       |SELECT doc_id, score_q, CAST(score_q AS DOUBLE) / 1048576.0 AS score FROM (
       |  SELECT doc_id, CAST(SUM(wq) AS BIGINT) AS score_q FROM scored GROUP BY doc_id)
       |ORDER BY score_q DESC, doc_id LIMIT 50""".stripMargin
  }

  /** Mirrors [[qTextEntropy]] (`UnigramEntropyQ`, Q=2^20): replays
    * the token hashes via [[HashSql.tokenHashes]], counts types per
    * doc, floors each type's (c·ln(m/c))·Q term, integer-sums.
    * unnest drops empty docs, which is sound here: every fixture doc
    * has ≥10 tokens (the engine would emit [0,0] rows). */
  private val textEntropySql: String =
    s"""WITH th AS MATERIALIZED (
       |  SELECT doc_id, ${HashSql.tokenHashes("text")} AS hs FROM documents),
       |tc AS MATERIALIZED (
       |  SELECT doc_id, len(hs) AS m, unnest(hs) AS h FROM th),
       |ct AS MATERIALIZED (
       |  SELECT doc_id, m, h, count(*) AS c FROM tc GROUP BY 1, 2, 3),
       |eq AS MATERIALIZED (
       |  SELECT doc_id, m AS n_tokens,
       |    CAST(SUM(CAST(floor((CAST(c AS DOUBLE) * ln(CAST(m AS DOUBLE) / CAST(c AS DOUBLE)))
       |      * 1048576.0) AS BIGINT)) AS BIGINT) AS ent_q
       |  FROM ct GROUP BY 1, 2)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ent_q,
       |  (CAST(ent_q AS DOUBLE) / 1048576.0) / CAST(n_tokens AS DOUBLE) AS entropy
       |FROM eq""".stripMargin

  /** Mirrors [[qEmbedDimstats]] (`Embeddings.dimStats`, Q=2^24,
    * Q2=2^28): same exact min/max, same fixed-point integer sums
    * (round for the mean, floor for E[x²] — both replay
    * bit-for-bit), same double derivation op order. DuckDB
    * SUM(BIGINT) widens to HUGEINT, so the sums cast back before
    * the double math. */
  private val embedDimstatsSql: String =
    s"""WITH x AS MATERIALIZED (
       |  SELECT d AS dim, CAST(embedding[d] AS DOUBLE) AS v
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS d) dims),
       |a AS MATERIALIZED (
       |  SELECT dim, CAST(count(*) AS BIGINT) AS n, min(v) AS min_v, max(v) AS max_v,
       |    CAST(SUM(CAST(round(v * 16777216.0) AS BIGINT)) AS BIGINT) AS sum_q,
       |    CAST(SUM(CAST(floor(v * v * 268435456.0) AS BIGINT)) AS BIGINT) AS ssq_q
       |  FROM x GROUP BY dim)
       |SELECT dim, n, min_v, max_v,
       |  (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 16777216.0) AS mean,
       |  ((CAST(ssq_q AS DOUBLE) / CAST(n AS DOUBLE) / 268435456.0) -
       |   (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 16777216.0) *
       |   (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) / 16777216.0)) AS variance
       |FROM a""".stripMargin

  /** Mirrors [[qEmbedQuantize]] (`Embeddings.quantizeInt8`): per-dim
    * min and step re-derive from the same exact min/max in the same
    * single-divide op order, codes floor/clamp identically
    * (including the x = max boundary — both engines compute the
    * identical doubles), BIGINT→VARCHAR renders identically. */
  private val embedQuantizeSql: String =
    s"""WITH st AS MATERIALIZED (
       |  SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
       |    (max(CAST(embedding[d] AS DOUBLE)) - min(CAST(embedding[d] AS DOUBLE))) / 256.0 AS step
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS d) dims
       |  GROUP BY d),
       |c AS MATERIALIZED (
       |  SELECT e.vec_id, s.d,
       |    CASE WHEN s.step = 0 THEN 0
       |         ELSE least(255, greatest(0,
       |           CAST(floor((CAST(e.embedding[s.d] AS DOUBLE) - s.mn) / s.step) AS BIGINT))) END AS code
       |  FROM embeddings e CROSS JOIN st s)
       |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY d) AS codes
       |FROM c GROUP BY vec_id""".stripMargin

  /** Mirrors [[qEmbedGram]] (`UpperTriProductsQ` + sum, Q=2^28):
    * identical per-term `floor(v_i·v_j·Q)` quantization makes the
    * sum order-independent; HUGEINT casts back to BIGINT and the
    * double view divides once (sums ≪ 2^53 at every fixture
    * scale, so the direct DOUBLE cast is exact). */
  private val embedGramSql: String =
    s"""WITH pr AS MATERIALIZED (
       |  SELECT ii.i AS i, jj.j AS j,
       |    CAST(floor(CAST(embedding[ii.i] AS DOUBLE) * CAST(embedding[jj.j] AS DOUBLE)
       |      * 268435456.0) AS BIGINT) AS p
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) ii
       |  CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS j) jj
       |  WHERE jj.j >= ii.i)
       |SELECT i, j, CAST(SUM(p) AS BIGINT) AS gram_q,
       |  CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE) / 268435456.0 AS gram
       |FROM pr GROUP BY i, j""".stripMargin

  /** Mirrors [[qTextColloc]] (`Search.collocations`, minCount=5,
    * k=50, Q=2^20): same unigram+bigram count table (the
    * [[q_text_bigrams]] gram construction), same integer counts
    * divided in the same pinned order, `ln` floored to fixed point
    * (absorbing sub-ulp engine differences), same
    * (pmi_q desc, bigram asc) total order for the LIMIT cut. */
  private val textCollocSql: String =
    s"""WITH toks AS MATERIALIZED (SELECT $tokensLowerSql AS t FROM documents),
       |g AS MATERIALIZED (
       |  SELECT unnest(t) AS gram FROM toks
       |  UNION ALL
       |  SELECT list_aggregate(t[i:i+1], 'string_agg', ' ') AS gram
       |  FROM toks, unnest(range(1, len(t))) r(i) WHERE len(t) >= 2),
       |c AS MATERIALIZED (SELECT gram, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY gram),
       |tot AS MATERIALIZED (
       |  SELECT CAST(SUM(CASE WHEN position(' ' IN gram) = 0 THEN c END) AS BIGINT) AS t,
       |         CAST(SUM(CASE WHEN position(' ' IN gram) > 0 THEN c END) AS BIGINT) AS b
       |  FROM c)
       |SELECT bigram, c_ab, pmi_q, CAST(pmi_q AS DOUBLE) / 1048576.0 AS pmi FROM (
       |  SELECT bg.gram AS bigram, bg.c AS c_ab,
       |    CAST(floor(ln((CAST(bg.c AS DOUBLE) / CAST((SELECT b FROM tot) AS DOUBLE)) /
       |      ((CAST(ua.c AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE))
       |       * (CAST(ub.c AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE))))
       |      * 1048576.0) AS BIGINT) AS pmi_q
       |  FROM c bg
       |  JOIN c ua ON ua.gram = split_part(bg.gram, ' ', 1)
       |  JOIN c ub ON ub.gram = split_part(bg.gram, ' ', 2)
       |  WHERE position(' ' IN bg.gram) > 0 AND bg.c >= 5) s
       |ORDER BY pmi_q DESC, bigram ASC LIMIT 50""".stripMargin

  /** Mirrors [[qEmbedPca]] (`Embeddings.pcaProject`, 8 iterations,
    * Qg=2^28, Qv=2^20, Qp=2^30): replays the [[embedGramSql]] Gram,
    * mirrors it to full form, then unrolls the max-norm power
    * recurrence as 8 MATERIALIZED CTE stages — every matvec term is
    * floored to fixed point BEFORE the integer sum and every
    * renormalization divides two exact integers, so no step
    * involves a transcendental and the eigenvector's dyadic
    * components agree bit-for-bit. The final projection is the
    * established bit-exact dot fold. */
  private val embedPcaSql: String = {
    val (qg, qv, qp) = ("268435456.0", "1048576.0", "1073741824.0")
    val iters = 8
    val chain = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT g.i AS dim, CAST(SUM(CAST(floor((CAST(g.gram_q AS DOUBLE) / $qg)
         |    * (CAST(v.vq AS DOUBLE) / $qv) * $qp) AS BIGINT)) AS BIGINT) AS wq
         |  FROM gfull g JOIN v${t - 1} v ON g.j = v.dim GROUP BY g.i),
         |m$t AS MATERIALIZED (SELECT max(abs(wq)) AS ma FROM w$t),
         |v$t AS MATERIALIZED (SELECT dim,
         |  CAST(floor(CAST(wq AS DOUBLE) / CAST((SELECT ma FROM m$t) AS DOUBLE) * $qv) AS BIGINT) AS vq
         |  FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH gup AS MATERIALIZED (
       |  SELECT ii.i AS i, jj.j AS j,
       |    CAST(SUM(CAST(floor(CAST(embedding[ii.i] AS DOUBLE) * CAST(embedding[jj.j] AS DOUBLE)
       |      * $qg) AS BIGINT)) AS BIGINT) AS gram_q
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS i) ii
       |  CROSS JOIN (SELECT unnest(range(1, ${DIM + 1})) AS j) jj
       |  WHERE jj.j >= ii.i GROUP BY ii.i, jj.j),
       |gfull AS MATERIALIZED (
       |  SELECT i, j, gram_q FROM gup
       |  UNION ALL SELECT j AS i, i AS j, gram_q FROM gup WHERE i <> j),
       |v0 AS MATERIALIZED (
       |  SELECT unnest(range(1, ${DIM + 1})) AS dim, CAST(1048576 AS BIGINT) AS vq),
       |$chain,
       |vf AS MATERIALIZED (
       |  SELECT list(CAST(vq AS DOUBLE) / $qv ORDER BY dim) AS vl FROM v$iters)
       |SELECT vec_id, ${dotSql("embedding", "vl")} AS pc1 FROM embeddings, vf""".stripMargin
  }

  /** Mirrors [[qDedupKeepBest]] (`Dedup.keepBestPerCluster`): the
    * [[dedupKeepOneSql]] recursive closure over the same minhash
    * pairs, but the drop set comes from a per-cluster
    * (quality DESC, id ASC) row_number — the quality doubles are the
    * [[qualityGateSql]] composite computed in the identical op
    * order, so the ranking agrees row for row. */
  private val dedupKeepBestSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${minhashPairsSql(3, 64, 16, 0.5)}),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id),
       |comp AS (SELECT id, min(label) AS rep FROM labels GROUP BY id),
       |s AS MATERIALIZED (SELECT doc_id,
       |  $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |    + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |    + (1.0 - $punctRatioSql) * 0.1 AS quality
       |  FROM documents),
       |dropped AS (SELECT id FROM (
       |  SELECT c.id, row_number() OVER (
       |    PARTITION BY c.rep ORDER BY s.quality DESC, c.id ASC) AS rn
       |  FROM comp c JOIN s ON s.doc_id = c.id) t WHERE rn > 1)
       |SELECT doc_id, quality FROM s
       |WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  /** Mirrors [[qProfileDrift]] (`Profile.psiDrift`, 25k bins, split
    * 1998-01-01, Q=2^20): same floor-binning, totals as the same
    * exact integers, probabilities divided in the same order, the
    * PSI term's ln floored to fixed point (absorbing sub-ulp engine
    * differences), one-sided bins dropped by the same inner join. */
  private val profileDriftSql: String =
    s"""WITH a AS MATERIALIZED (
       |  SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin FROM orders
       |  WHERE o_orderdate < TIMESTAMP '1998-01-01'),
       |b AS MATERIALIZED (
       |  SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
       |ca AS MATERIALIZED (SELECT bin, CAST(count(*) AS BIGINT) AS c_a FROM a GROUP BY bin),
       |cb AS MATERIALIZED (SELECT bin, CAST(count(*) AS BIGINT) AS c_b FROM b GROUP BY bin),
       |t AS MATERIALIZED (
       |  SELECT CAST((SELECT count(*) FROM a) AS DOUBLE) AS na,
       |         CAST((SELECT count(*) FROM b) AS DOUBLE) AS nb)
       |SELECT bin, c_a, c_b, p_a, p_b, term_q,
       |  CAST(term_q AS DOUBLE) / 1048576.0 AS term FROM (
       |  SELECT ca.bin AS bin, c_a, c_b,
       |    CAST(c_a AS DOUBLE) / (SELECT na FROM t) AS p_a,
       |    CAST(c_b AS DOUBLE) / (SELECT nb FROM t) AS p_b,
       |    CAST(floor((CAST(c_a AS DOUBLE) / (SELECT na FROM t)
       |        - CAST(c_b AS DOUBLE) / (SELECT nb FROM t))
       |      * ln((CAST(c_a AS DOUBLE) / (SELECT na FROM t))
       |        / (CAST(c_b AS DOUBLE) / (SELECT nb FROM t)))
       |      * 1048576.0) AS BIGINT) AS term_q
       |  FROM ca JOIN cb ON ca.bin = cb.bin) s""".stripMargin

  /** Mirrors [[qEventsRolling]] (`Profile.rollingCounts`, 6-tick
    * trailing RANGE frame): same hourly counts, same window frame;
    * DuckDB's windowed SUM(BIGINT) widens to HUGEINT so it casts
    * back, and roll_avg is the identical single divide of the two
    * frame aggregates. */
  private val eventsRollingSql: String =
    s"""WITH c AS MATERIALIZED (
       |  SELECT event_type AS key, epoch_ns(ts) // 3600000000000 AS tick,
       |         count(*) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT key, tick, n_events,
       |  CAST(SUM(n_events) OVER w AS BIGINT) AS roll_sum,
       |  COUNT(*) OVER w AS roll_n,
       |  MAX(n_events) OVER w AS roll_max,
       |  CAST(CAST(SUM(n_events) OVER w AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) OVER w AS DOUBLE) AS roll_avg
       |FROM c
       |WINDOW w AS (PARTITION BY key ORDER BY tick
       |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Mirrors [[qScd2]] (`Reconcile.scd2` over the event log): lag
    * detects run starts (IS DISTINCT FROM == the engine's null-safe
    * inequality), lead over the filtered change-points supplies
    * valid_to — identical (ts, event_id) ordering both sides. */
  private val scd2Sql: String =
    s"""WITH o AS MATERIALIZED (
       |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
       |    lag(event_type) OVER (PARTITION BY user_id
       |                          ORDER BY epoch_us(ts), event_id) AS prev
       |  FROM events),
       |ch AS MATERIALIZED (
       |  SELECT user_id, event_type, t AS valid_from,
       |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to
       |  FROM o WHERE prev IS DISTINCT FROM event_type)
       |SELECT user_id, event_type, valid_from, valid_to,
       |  valid_to IS NULL AS is_current FROM ch""".stripMargin

  /** Mirrors [[qLayoutZonemaps]]: recomputes the per-file statistics
    * from the SAME twin files the engine wrote (`filename=true`), so
    * any disagreement in grouping, counting, or min/max surfaces as
    * a hash break. file_idx parses the part index — the only stable
    * piece of a parquet part name. */
  private val layoutZonemapsSql: String =
    s"""SELECT CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER) AS file_idx,
       |  count(*) AS n_rows,
       |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
       |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars
       |FROM read_parquet('$twinRoot/ztwin/__SF_BASENAME__/documents.parquet/*.parquet',
       |                  filename = true)
       |GROUP BY 1""".stripMargin

  /** Manifest recomputed from the compaction twin's files, then the
    * cumulative-sum merge grouping replayed with DuckDB's `//`
    * (integer division, like Spark's `div` — the plan is integer
    * arithmetic end to end). */
  private val layoutCompactionSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER) AS file_idx,
       |    count(*) AS n_rows, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
       |  FROM read_parquet('$twinRoot/ctwin/__SF_BASENAME__/documents.parquet/*.parquet',
       |                    filename = true)
       |  GROUP BY 1)
       |SELECT file_idx, n_rows, min_doc_id, max_doc_id,
       |  CAST((sum(n_rows) OVER (ORDER BY min_doc_id, file_idx) - n_rows) // 150
       |       AS BIGINT) AS merge_group
       |FROM m""".stripMargin

  /** Mirrors [[qLayoutPrune]]: recomputes the zone-map manifest from
    * the SAME z-ordered twin files, then replays the interval-overlap
    * keep test (NULL stats conservatively kept). */
  private val layoutPruneSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER) AS file_idx,
       |    count(*) AS n_rows,
       |    min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
       |    min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars
       |  FROM read_parquet('$twinRoot/ztwin/__SF_BASENAME__/documents.parquet/*.parquet',
       |                    filename = true)
       |  GROUP BY 1)
       |SELECT * FROM m
       |WHERE min_doc_id IS NULL OR max_doc_id IS NULL
       |   OR (max_doc_id >= 100 AND min_doc_id <= 260)""".stripMargin

  /** One store's worth of [[storeMaintenanceSql]] CTEs: the segmented
    * child table read WITH filenames so the `seg=N` path component is
    * recomputable, the tombstone id set, and the three audit counts
    * as scalar subqueries (distinct segs; distinct ids surviving the
    * anti-join; distinct tombstoned ids — the engine counts the
    * tombstone table itself, present or not in the corpus). The
    * `v-*` path step is the pointer-publication layout
    * ([[graft.sources.Segments]]): tables live under the one live
    * versioned tree the `ptr-<seq>` file names — a fresh build always
    * leaves exactly one. */
  private def maintStoreCtes(p: String, treeGlob: String, table: String,
      idCol: String = "id"): String =
    s"""${p}b AS MATERIALIZED (
       |  SELECT DISTINCT
       |    CAST(regexp_extract(filename, 'seg=(\\d+)', 1) AS BIGINT) AS seg,
       |    $idCol AS id
       |  FROM read_parquet('$treeGlob/$table/*/*.parquet', filename = true)),
       |${p}t AS (SELECT DISTINCT id
       |          FROM read_parquet('$treeGlob/tombstones/*/*.parquet')),
       |${p}a AS (SELECT
       |  (SELECT count(DISTINCT seg) FROM ${p}b) AS n_segments,
       |  (SELECT count(DISTINCT id) FROM ${p}b
       |   WHERE id NOT IN (SELECT id FROM ${p}t)) AS n_docs_live,
       |  (SELECT count(*) FROM ${p}t) AS n_docs_tombstoned)""".stripMargin

  /** One audit row over a [[maintStoreCtes]] summary: the exact-
    * integer ppm and the two-axis trigger replayed at the row's own
    * thresholds. */
  private def maintAuditRowSql(
      label: String, p: String, maxSeg: Int, maxPpm: Long): String =
    s"""SELECT '$label' AS store, n_segments, n_docs_live,
       |  n_docs_tombstoned, tombstone_ppm,
       |  (n_segments > $maxSeg OR tombstone_ppm > $maxPpm) AS compaction_due
       |FROM (SELECT *,
       |  CASE WHEN n_docs_live + n_docs_tombstoned > 0
       |    THEN n_docs_tombstoned * 1000000 // (n_docs_live + n_docs_tombstoned)
       |    ELSE 0 END AS tombstone_ppm
       |  FROM ${p}a) t""".stripMargin

  /** Mirrors [[qStoreMaintenance]]: every audit cell recomputed from
    * the twin store directories (segment counts from the `seg=N` path
    * components, live/tombstoned from the id sets) and both trigger
    * thresholds replayed — the q_layout_prune discipline for metadata
    * operators. */
  private val storeMaintenanceSql: String =
    s"""WITH ${maintStoreCtes("m", s"$twinRoot/maint_minhash/__SF_BASENAME__/v-*", "bands")},
       |${maintStoreCtes("l", s"$twinRoot/maint_lines/__SF_BASENAME__/v-*", "lines")},
       |${maintStoreCtes("st", s"$twinRoot/maint_state/__SF_BASENAME__", "rows",
            idCol = "doc_id")}
       |${maintAuditRowSql("minhash_segments", "m", 3, 100000L)}
       |UNION ALL
       |${maintAuditRowSql("lines_tombstones", "l", 16, 100000L)}
       |UNION ALL
       |${maintAuditRowSql("minhash_clean", "m", 16, 100000L)}
       |UNION ALL
       |${maintAuditRowSql("state_rows", "st", 16, 100000L)}""".stripMargin

  /** Mirrors [[qEventsGapfill]]: the hourly aggregate, per-type
    * bounds, a LATERAL generate_series grid, and the zero-coalescing
    * left join — engine-identical hour arithmetic (date_trunc +
    * 1-hour stepping on microsecond timestamps is exact in both). */
  private val eventsGapfillSql: String =
    s"""WITH hourly AS MATERIALIZED (
       |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT event_type, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1),
       |grid AS (
       |  SELECT event_type,
       |         unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS h
       |  FROM bounds)
       |SELECT g.event_type, g.h, coalesce(hh.n, 0) AS n
       |FROM grid g LEFT JOIN hourly hh
       |  ON g.event_type = hh.event_type AND g.h = hh.h""".stripMargin

  /** Shared dense integer-tick hourly grid (mirrors
    * [[denseHourlyTicks]]) — the front half of the EWMA and
    * changepoint mirrors. */
  private val denseTicksCte: String =
    s"""c AS MATERIALIZED (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS tick, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT event_type, min(tick) AS mn, max(tick) AS mx FROM c GROUP BY 1),
       |g AS (SELECT event_type, unnest(generate_series(mn, mx)) AS tick FROM b),
       |d AS (SELECT g.event_type, g.tick, coalesce(c.n, 0) AS n
       |      FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.tick = c.tick)""".stripMargin

  /** Mirrors [[qEventsEwma]] (`Resample.ewmaSmooth`, decay 3/4,
    * window 6): the same six integer weights 3^j·4^(5−j) =
    * 1024/768/576/432/324/243 over explicit lags; missing lags drop
    * out of both integer sums, and `ewma` is the identical single
    * IEEE divide. */
  private val eventsEwmaSql: String =
    s"""WITH $denseTicksCte,
       |l AS (SELECT event_type, tick, n,
       |        lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2,
       |        lag(n, 3) OVER w AS l3, lag(n, 4) OVER w AS l4,
       |        lag(n, 5) OVER w AS l5
       |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY tick))
       |SELECT event_type, tick, n, ewma_num, ewma_den,
       |  CAST(ewma_num AS DOUBLE) / CAST(ewma_den AS DOUBLE) AS ewma
       |FROM (SELECT event_type, tick, n,
       |  CAST(n * 1024 + coalesce(l1 * 768, 0) + coalesce(l2 * 576, 0)
       |     + coalesce(l3 * 432, 0) + coalesce(l4 * 324, 0)
       |     + coalesce(l5 * 243, 0) AS BIGINT) AS ewma_num,
       |  CAST(1024 + CASE WHEN l1 IS NULL THEN 0 ELSE 768 END
       |     + CASE WHEN l2 IS NULL THEN 0 ELSE 576 END
       |     + CASE WHEN l3 IS NULL THEN 0 ELSE 432 END
       |     + CASE WHEN l4 IS NULL THEN 0 ELSE 324 END
       |     + CASE WHEN l5 IS NULL THEN 0 ELSE 243 END AS BIGINT) AS ewma_den
       |  FROM l) s""".stripMargin

  /** Mirrors [[qEventsChangepoint]] (`Resample.meanShiftScore`,
    * 24-tick frames, minShift 25): two ROWS-framed window sums on
    * the dense grid, scored only where both frames are full. */
  private val eventsChangepointSql: String =
    s"""WITH $denseTicksCte,
       |s AS (SELECT event_type, tick, n,
       |        CAST(sum(n) OVER wb AS BIGINT) AS sum_before,
       |        count(n) OVER wb AS nb,
       |        CAST(sum(n) OVER wa AS BIGINT) AS sum_after,
       |        count(n) OVER wa AS na
       |      FROM d
       |      WINDOW wb AS (PARTITION BY event_type ORDER BY tick
       |                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING),
       |             wa AS (PARTITION BY event_type ORDER BY tick
       |                    ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING))
       |SELECT event_type, tick, n, sum_before, sum_after,
       |  sum_after - sum_before AS shift,
       |  abs(sum_after - sum_before) >= 25 AS changepoint
       |FROM s WHERE nb = 24 AND na = 24""".stripMargin

  /** Mirrors [[qEventsTrend]] (`Profile.linearTrend` on the dense
    * grid): x rebased per key by a window min, the five integer
    * moments, closed-form num/den longs, and the same two single
    * divides (NULL on a zero denominator). */
  private val eventsTrendSql: String =
    s"""WITH $denseTicksCte,
       |r AS (SELECT event_type,
       |        tick - min(tick) OVER (PARTITION BY event_type) AS x,
       |        n AS y
       |      FROM d),
       |m AS (SELECT event_type, count(*) AS n,
       |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |        CAST(sum(x * x) AS BIGINT) AS sxx,
       |        CAST(sum(x * y) AS BIGINT) AS sxy
       |      FROM r GROUP BY 1)
       |SELECT event_type, n,
       |  n * sxy - sx * sy AS slope_num,
       |  n * sxx - sx * sx AS slope_den,
       |  CASE WHEN n * sxx - sx * sx <> 0 THEN
       |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       |  END AS slope,
       |  CASE WHEN n * sxx - sx * sx <> 0 THEN
       |    CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
       |  END AS level0
       |FROM m""".stripMargin

  /** Mirrors [[qQualityBenford]] (`Checks.benford` on exact cents):
    * same positive-cents filter, first digit off the BIGINT's
    * decimal string, the permille table via unnest, zero-filled
    * (group × digit) grid, and the all-integer deviation/flag. */
  private val qualityBenfordSql: String =
    s"""WITH raw AS MATERIALIZED (
       |  SELECT o_orderpriority,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |pos AS MATERIALIZED (
       |  SELECT o_orderpriority, CAST(left(CAST(cents AS VARCHAR), 1) AS INTEGER) AS digit
       |  FROM raw WHERE cents > 0),
       |obs AS (SELECT o_orderpriority, digit, count(*) AS n_obs
       |        FROM pos GROUP BY 1, 2),
       |tot AS (SELECT o_orderpriority,
       |          CAST(sum(CASE WHEN cents > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_total
       |        FROM raw GROUP BY 1),
       |e AS (SELECT unnest(range(1, 10)) AS digit,
       |        unnest([301, 176, 125, 97, 79, 67, 58, 51, 46]) AS expected_permille),
       |grid AS (SELECT t.o_orderpriority, t.n_total,
       |           CAST(e.digit AS INTEGER) AS digit, e.expected_permille
       |         FROM tot t CROSS JOIN e)
       |SELECT g.o_orderpriority, g.digit, g.expected_permille,
       |  coalesce(o.n_obs, 0) AS n_obs, g.n_total,
       |  1000 * coalesce(o.n_obs, 0) - g.n_total * g.expected_permille AS dev_num,
       |  abs(1000 * coalesce(o.n_obs, 0) - g.n_total * g.expected_permille)
       |    > 30 * g.n_total AS suspicious
       |FROM grid g LEFT JOIN obs o
       |  ON g.o_orderpriority = o.o_orderpriority AND g.digit = o.digit""".stripMargin

  /** Mirrors [[qEventsInterarrival]]: the same lag gaps, the
    * half-mass crossing-row median (weightedMedian's selection rule
    * with unit weights, ties on event_id), and the aggregate join. */
  private val eventsInterarrivalSql: String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT user_id, event_id,
       |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
       |  FROM (SELECT user_id, epoch_us(ts) AS t, event_id FROM events) e),
       |gg AS (SELECT user_id, event_id, gap FROM g WHERE gap IS NOT NULL),
       |r AS (SELECT user_id, gap,
       |        CAST(sum(1) OVER (PARTITION BY user_id ORDER BY gap, event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |        CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS tot
       |      FROM gg),
       |med AS (SELECT user_id, gap AS median_gap
       |        FROM r WHERE 2 * cum >= tot AND 2 * (cum - 1) < tot),
       |agg AS (SELECT user_id, count(*) AS n_gaps,
       |          CAST(sum(gap) AS BIGINT) AS sum_gap, max(gap) AS max_gap
       |        FROM gg GROUP BY 1)
       |SELECT a.user_id, a.n_gaps, a.sum_gap, a.max_gap, m.median_gap
       |FROM agg a JOIN med m ON a.user_id = m.user_id""".stripMargin

  /** Mirrors [[qEventsGrowth]]: first-seen hour per user, per-hour
    * counts, and the same ROWS-framed cumulative sum over the hour
    * domain. */
  private val eventsGrowthSql: String =
    s"""WITH f AS (
  SELECT user_id, min(epoch_us(ts) // 3600000000) AS hour
       |  FROM events GROUP BY 1),
       |d AS (SELECT hour, count(*) AS new_users FROM f GROUP BY 1)
       |SELECT hour, new_users,
       |  CAST(sum(new_users) OVER (ORDER BY hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
       |FROM d""".stripMargin

  /** Mirrors [[qEventsSeasonal]] (`Profile.seasonalAnomalies`,
    * period 24, threshold 2000‰): the same dense grid, phase
    * windows, integer excess, and the never-form-the-mean flag
    * comparison. */
  private val eventsSeasonalSql: String =
    s"""WITH $denseTicksCte
       |SELECT event_type, tick, n, tick % 24 AS phase,
       |  CAST(sum(n) OVER w AS BIGINT) AS phase_sum,
       |  count(*) OVER w AS phase_n,
       |  n * (count(*) OVER w) - CAST(sum(n) OVER w AS BIGINT) AS excess_num,
       |  1000 * n * (count(*) OVER w) >
       |    2000 * CAST(sum(n) OVER w AS BIGINT) AS spike
       |FROM d
       |WINDOW w AS (PARTITION BY event_type, tick % 24)""".stripMargin

  /** Mirrors [[qEventsAttribution]] (`Funnel.attribution`,
    * conversion = 'purchase'): per-user conversion ordinals, a
    * backward-min window assigning each touch its next conversion,
    * row_number picks for first/last touch, and a left join so
    * organic conversions keep NULL touches and a 0 count. */
  private val eventsAttributionSql: String =
    s"""WITH o AS MATERIALIZED (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
       |    CASE WHEN event_type = 'purchase' THEN
       |      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    END AS conv_no
       |  FROM events),
       |nx AS (SELECT *, min(conv_no)
       |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_conv
       |       FROM o),
       |t AS (SELECT user_id, next_conv, event_type, ts_us, event_id,
       |        row_number() OVER (PARTITION BY user_id, next_conv
       |                           ORDER BY ts_us, event_id) AS rn_a,
       |        row_number() OVER (PARTITION BY user_id, next_conv
       |                           ORDER BY ts_us DESC, event_id DESC) AS rn_d
       |      FROM nx WHERE conv_no IS NULL AND next_conv IS NOT NULL),
       |ta AS (SELECT user_id, next_conv AS conv_no,
       |         max(CASE WHEN rn_a = 1 THEN event_type END) AS first_touch_type,
       |         max(CASE WHEN rn_d = 1 THEN event_type END) AS last_touch_type,
       |         count(*) AS n_touches
       |       FROM t GROUP BY 1, 2)
       |SELECT c.user_id, c.conv_no, c.event_id AS conv_event_id,
       |  c.ts_us AS conv_ts_us, ta.first_touch_type, ta.last_touch_type,
       |  coalesce(ta.n_touches, 0) AS n_touches
       |FROM nx c LEFT JOIN ta
       |  ON c.user_id = ta.user_id AND c.conv_no = ta.conv_no
       |WHERE c.conv_no IS NOT NULL""".stripMargin

  /** Mirrors [[qGoldenRecord]] (`FuzzyJoin.goldenRecord`): the same
    * per-field `max(CASE WHEN f IS NOT NULL THEN {order,id,f} END)`
    * lexicographic struct aggregate — the unique (o_day, o_orderkey)
    * prefix decides every comparison, so the two engines agree
    * field-for-field. */
  private val goldenRecordSql: String = {
    def pick(f: String) =
      s"(max(CASE WHEN $f IS NOT NULL THEN {'o': o_day, 'i': o_orderkey, 'v': $f} END)).v AS $f"
    s"""WITH src AS MATERIALIZED (
       |  SELECT o_custkey,
       |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS o_day,
       |    o_orderkey,
       |    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus END AS status,
       |    CASE WHEN o_orderkey % 5 <> 0 THEN o_orderpriority END AS priority,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
       |  FROM orders)
       |SELECT o_custkey,
       |  ${pick("status")},
       |  ${pick("priority")},
       |  ${pick("price_cents")},
       |  count(*) AS n_members
       |FROM src GROUP BY 1""".stripMargin
  }

  /** Mirrors [[qCheckFd]] (`Checks.functionalDependency` ×2): the
    * distinct-pair collapse, per-lhs rhs counts, and the same report
    * shape for the holding and the violated dependency. */
  private val checkFdSql: String = {
    def fd(lhs: String, rhs: String) =
      s"""SELECT 'fd($lhs -> $rhs)' AS check_name,
         |  'functional_dependency' AS kind,
         |  '$lhs,$rhs' AS col_name,
         |  CAST(coalesce(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS violations,
         |  CAST(count(*) AS BIGINT) AS total_rows,
         |  coalesce(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END), 0) = 0 AS passed
         |FROM (SELECT $lhs, count(*) AS n_rhs
         |      FROM (SELECT DISTINCT $lhs, $rhs FROM orders) p
         |      GROUP BY 1) g""".stripMargin
    s"${fd("o_orderkey", "o_custkey")}\nUNION ALL\n${fd("o_custkey", "o_orderstatus")}"
  }

  /** Mirrors [[qEmbedTruncation]]: the identical ordered
    * left-fold of squared prefix elements over `range(1, k+1)`, the
    * same zero-norm guard, and the one division per level. */
  private val embedTruncationSql: String = {
    def sq(k: Int) =
      s"list_reduce(list_transform(range(1, ${k + 1}), i -> " +
        "CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y)"
    s"""SELECT vec_id,
       |  CASE WHEN ${sq(64)} > 0.0 THEN ${sq(32)} / ${sq(64)} ELSE 0.0 END AS energy32,
       |  CASE WHEN ${sq(64)} > 0.0 THEN ${sq(16)} / ${sq(64)} ELSE 0.0 END AS energy16
       |FROM embeddings""".stripMargin
  }

  /** Mirrors [[qGraphDegrees]]: the same aggregated trade edges,
    * side aggregates, self-loop-excluded deduped reversed-edge equi
    * join for reciprocity, and zero-coalesced full join. */
  private val graphDegreesSql: String =
    s"""WITH edges AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |o2 AS (SELECT src AS node, count(*) AS out_degree,
       |         CAST(sum(w) AS BIGINT) AS out_weight FROM edges GROUP BY 1),
       |i2 AS (SELECT dst AS node, count(*) AS in_degree,
       |         CAST(sum(w) AS BIGINT) AS in_weight FROM edges GROUP BY 1),
       |r2 AS (SELECT e.src AS node, count(*) AS n_reciprocal
       |       FROM (SELECT DISTINCT src, dst FROM edges WHERE src <> dst) e
       |       JOIN (SELECT DISTINCT src, dst FROM edges WHERE src <> dst) x
       |         ON e.src = x.dst AND e.dst = x.src
       |       GROUP BY 1)
       |SELECT CAST(coalesce(o2.node, i2.node) AS BIGINT) AS node,
       |  coalesce(out_degree, 0) AS out_degree,
       |  coalesce(out_weight, 0) AS out_weight,
       |  coalesce(in_degree, 0) AS in_degree,
       |  coalesce(in_weight, 0) AS in_weight,
       |  coalesce(n_reciprocal, 0) AS n_reciprocal
       |FROM o2 FULL JOIN i2 ON o2.node = i2.node
       |LEFT JOIN r2 ON coalesce(o2.node, i2.node) = r2.node""".stripMargin

  /** Mirrors [[qUnionEvolvedNested]]: the evolved struct column
    * flattened — old vintage rows carry the int-roundtripped cust and
    * a NULL priority, new rows pass through; the union result IS the
    * reconciled struct's contents. */
  private val unionEvolvedNestedSql: String =
    """SELECT o_orderkey, CAST(CAST(o_custkey AS INTEGER) AS BIGINT) AS cust,
      |  CAST(NULL AS VARCHAR) AS priority
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderpriority
      |FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin

  /** Mirrors [[qUnionEvolved]]: the same vintage split with explicit
    * lattice casts (INT→BIGINT, REAL→DOUBLE — the float round-trip
    * is the same IEEE narrowing both engines) and a NULL-typed
    * missing column. */
  private val unionEvolvedSql: String =
    s"""SELECT CAST(CAST(o_orderkey AS INTEGER) AS BIGINT) AS o_orderkey,
       |  CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice,
       |  CAST(NULL AS VARCHAR) AS o_orderpriority
       |FROM orders WHERE o_orderkey % 2 = 0
       |UNION ALL
       |SELECT o_orderkey, o_totalprice, o_orderpriority
       |FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin

  /** Mirrors [[qEventsConvLatency]]: the same conditional
    * ROWS-framed max of prior touch times. */
  private val eventsConvLatencySql: String =
    s"""SELECT user_id, event_id AS conv_event_id, t AS conv_ts_us,
       |  t - last_touch_t AS latency_us
       |FROM (SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
       |        max(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END)
       |          OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |          AS last_touch_t
       |      FROM events) e
       |WHERE event_type = 'purchase'""".stripMargin

  /** Mirrors [[qTextLangMargin]]: the same marker scores sorted
    * descending in-list, the winner CASE, and integer margins. */
  private val textLangMarginSql: String = {
    val scoresList = TextFunctions.langMarkers
      .map { case (_, ms) => s"(${langScoreSql(ms)})" }.mkString(", ")
    s"""SELECT doc_id, $langPredCaseSql AS lang_pred,
       |  sorted[1] AS best, sorted[2] AS second,
       |  sorted[1] - sorted[2] AS margin
       |FROM (SELECT doc_id, text,
       |        list_sort([$scoresList], 'DESC') AS sorted,
       |        $langBestSql AS __best
       |      FROM documents) t""".stripMargin
  }

  /** Mirrors [[qTextFertility]]: the full unrolled 8-merge BPE
    * recursion (the [[textBpeSql]] machinery) as a derived table,
    * joined to per-(lang, word) frequencies with the same tokenizer
    * and filter; integer masses, one divide. */
  private val textFertilitySql: String =
    s"""WITH lw AS MATERIALIZED (
       |  SELECT lang, word, count(*) AS lfreq FROM (
       |    SELECT lang, unnest($tokensLowerSql) AS word FROM documents) t
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY 1, 2)
       |SELECT lang,
       |  CAST(sum(lfreq * n_subwords) AS BIGINT) AS subword_mass,
       |  CAST(sum(lfreq) AS BIGINT) AS word_mass,
       |  CAST(sum(lfreq * n_subwords) AS DOUBLE) / CAST(sum(lfreq) AS DOUBLE)
       |    AS fertility
       |FROM lw JOIN (${textBpeSql(8, segment = true)}) seg
       |  ON lw.word = seg.word
       |GROUP BY 1""".stripMargin

  /** Mirrors [[qProfileGini]] (`Profile.giniIndex`): the same rank
    * formula on integer moments; row_number ties need no break
    * (Σi·x is tie-order invariant). */
  private val profileGiniSql: String =
    s"""WITH r AS (
       |  SELECT source, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i
       |  FROM documents),
       |m AS (SELECT source, count(*) AS n,
       |        CAST(sum(n_chars) AS BIGINT) AS s,
       |        CAST(sum(i * n_chars) AS BIGINT) AS t
       |      FROM r GROUP BY 1)
       |SELECT source, n,
       |  2 * t - (n + 1) * s AS gini_num,
       |  n * s AS gini_den,
       |  CASE WHEN n * s <> 0 THEN
       |    CAST(2 * t - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)
       |  END AS gini
       |FROM m""".stripMargin

  /** Mirrors [[qQualityQuantileMap]] (`Profile.quantileMap` onto
    * src0): identical (value, id)-ranked rows, the same integer
    * `//` target-rank arithmetic against the reference group's
    * count, and the rank equi-join for the mapped value. */
  private val qualityQuantileMapSql: String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY n_chars, doc_id) AS BIGINT) AS r,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM documents),
       |ref AS (SELECT r AS ref_r, n_chars AS mapped_value
       |        FROM ranked WHERE source = 'src0'),
       |rn AS (SELECT CAST(count(*) AS BIGINT) AS ref_n FROM ref)
       |SELECT k.source, k.doc_id, k.n_chars, ref.mapped_value
       |FROM (SELECT ranked.*,
       |        (r - 1) * ((SELECT ref_n FROM rn) - 1)
       |          // greatest(n - 1, 1) + 1 AS target
       |      FROM ranked) k
       |JOIN ref ON k.target = ref.ref_r""".stripMargin

  /** Mirrors [[qProfileRobust]] (`Profile.weightedMedian` ×2 +
    * `Profile.modeBy`): the same all-integer crossing-row selection
    * for both medians (unit weights and character-mass weights, ties
    * on doc_id) and the count/row_number mode with the identical
    * (n DESC, lang) tie-break. */
  private val profileRobustSql: String =
    s"""WITH r1 AS (
       |  SELECT source, n_chars,
       |    CAST(sum(1) OVER w AS BIGINT) AS cum,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS tot
       |  FROM documents
       |  WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |med AS (SELECT source, n_chars AS median_value, tot AS total_weight
       |        FROM r1 WHERE 2 * cum >= tot AND 2 * (cum - 1) < tot),
       |r2 AS (
       |  SELECT source, n_chars,
       |    CAST(sum(n_chars) OVER w AS BIGINT) AS cum,
       |    CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS tot
       |  FROM documents
       |  WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |mass AS (SELECT source, n_chars AS mass_median
       |         FROM r2 WHERE 2 * cum >= tot AND 2 * (cum - n_chars) < tot),
       |counts AS (SELECT source, lang, count(*) AS n_mode
       |           FROM documents GROUP BY 1, 2),
       |md AS (SELECT source, lang AS mode_value, n_mode FROM (
       |         SELECT *, row_number() OVER (PARTITION BY source
       |                     ORDER BY n_mode DESC, lang) AS rn
       |         FROM counts) t WHERE rn = 1)
       |SELECT m.source, m.median_value, m.total_weight,
       |  s2.mass_median, md.mode_value, md.n_mode
       |FROM med m JOIN mass s2 ON m.source = s2.source
       |JOIN md ON m.source = md.source""".stripMargin

  /** Mirrors [[qEventsPaths]] (`Funnel.sessionPaths`, 30-min gap,
    * minCount 5): the same gap sessionization, `string_agg` with the
    * identical (t, id) ORDER BY, and the path-keyed HAVING count. */
  private val eventsPathsSql: String =
    s"""WITH o AS MATERIALIZED (
       |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS prev
       |  FROM events),
       |s AS (SELECT user_id, event_type, t, event_id,
       |    CAST(sum(CASE WHEN prev IS NULL OR t - prev > 1800000000
       |                  THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY t, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS seq
       |  FROM o),
       |p AS (SELECT user_id, seq,
       |        string_agg(event_type, '>' ORDER BY t, event_id) AS path
       |      FROM s GROUP BY 1, 2)
       |SELECT path, count(*) AS n_sessions
       |FROM p GROUP BY 1 HAVING count(*) >= 5""".stripMargin

  /** One padded gap-session CTE body for [[intervalOverlapSql]]. */
  private def sessionCte(types: Seq[String]): String = {
    val list = types.map(t => s"'$t'").mkString(", ")
    s"""SELECT user_id, seq,
       |    min(t) - 1800000000 AS lo, max(t) + 1800000000 AS hi
       |  FROM (SELECT user_id, t, event_id,
       |          CAST(sum(CASE WHEN prev IS NULL OR t - prev > 1800000000
       |                        THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY user_id ORDER BY t, event_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS BIGINT) AS seq
       |        FROM (SELECT user_id, epoch_us(ts) AS t, event_id,
       |                lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |                  ORDER BY epoch_us(ts), event_id) AS prev
       |              FROM events WHERE event_type IN ($list)) i) j
       |  GROUP BY 1, 2""".stripMargin
  }

  /** The naive inequality ground truth for [[qIntervalOverlap]]:
    * identical padded session intervals, then DuckDB's plain
    * `b.lo <= x.hi AND x.lo <= b.hi` join — a hash match proves the
    * binned equi-join plus first-shared-bin dedup is exactly the
    * semantic overlap join. */
  private val intervalOverlapSql: String =
    s"""WITH bs AS MATERIALIZED (
       |${sessionCte(Seq("click", "view"))}),
       |xs AS MATERIALIZED (
       |${sessionCte(Seq("purchase", "signup"))})
       |SELECT b.user_id, b.seq AS browse_seq, x.seq AS transact_seq,
       |  b.lo AS blo, b.hi AS bhi, x.lo AS xlo, x.hi AS xhi,
       |  least(b.hi, x.hi) - greatest(b.lo, x.lo) AS overlap_us
       |FROM bs b JOIN xs x
       |  ON b.user_id = x.user_id AND b.lo <= x.hi AND x.lo <= b.hi""".stripMargin

  /** The quadratic ground truth for [[qFuzzyJoin]]: distinct
    * part-name domain (min-partkey ids), normalized char trigram
    * SETS, full pairwise intersection counts, exact Jaccard ≥ 0.25.
    * No prefix/length filtering here — a hash match proves the Spark
    * side's filters are lossless. Same normalization both sides
    * (lower, non-alphanumeric runs → one space, trim); Jaccard is
    * one IEEE double division of exact integers on both engines. */
  private val fuzzyPairsSql: String =
    s"""WITH names AS MATERIALIZED (
       |  SELECT min(p_partkey) AS id,
       |         trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part GROUP BY p_name),
       |gsets AS MATERIALIZED (
       |  SELECT id, list_distinct(list_transform(range(1, length(norm) - 1),
       |                                          i -> norm[i:i+2])) AS gs
       |  FROM names WHERE length(norm) >= 3),
       |grams AS MATERIALIZED (SELECT id, unnest(gs) AS gram FROM gsets),
       |sizes AS MATERIALIZED (SELECT id, len(gs) AS sz FROM gsets),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.id = inter.id_a
       |JOIN sizes sb ON sb.id = inter.id_b
       |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.25""".stripMargin

  /** Quadratic cross-scan ground truth for [[qFuzzyLookup]]: both
    * shard domains' trigram sets, every cross pair's exact Jaccard,
    * then the same (jaccard DESC, right_id) best-match window. The
    * tiny value domains (64 names a side) make the quadratic oracle
    * cheap at any fixture scale. */
  private val fuzzyLookupSql: String =
    s"""WITH ldom AS MATERIALIZED (
       |  SELECT min(p_partkey) AS left_id,
       |         trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part WHERE p_partkey % 2 = 1 GROUP BY p_name),
       |rdom AS MATERIALIZED (
       |  SELECT min(p_partkey) AS right_id,
       |         trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part WHERE p_partkey % 2 = 0 GROUP BY p_name),
       |lg AS MATERIALIZED (
       |  SELECT left_id, list_distinct(list_transform(range(1, length(norm) - 1),
       |                                               i -> norm[i:i+2])) AS gs
       |  FROM ldom WHERE length(norm) >= 3),
       |rg AS MATERIALIZED (
       |  SELECT right_id, list_distinct(list_transform(range(1, length(norm) - 1),
       |                                                i -> norm[i:i+2])) AS gs
       |  FROM rdom WHERE length(norm) >= 3),
       |pairs AS (
       |  SELECT left_id, right_id,
       |         CAST(len(list_intersect(l.gs, r.gs)) AS DOUBLE)
       |           / (len(l.gs) + len(r.gs) - len(list_intersect(l.gs, r.gs))) AS jaccard
       |  FROM lg l, rg r),
       |ranked AS (
       |  SELECT left_id, right_id, jaccard,
       |         row_number() OVER (PARTITION BY left_id
       |                            ORDER BY jaccard DESC, right_id) AS rnk
       |  FROM pairs WHERE jaccard >= 0.25)
       |SELECT left_id, right_id, jaccard FROM ranked WHERE rnk = 1""".stripMargin

  /** Mirrors [[qFuzzyJw]]: same normalization, same 2-char prefix
    * blocking, DuckDB's own `jaro_winkler_similarity` (the variant
    * the native expression is pinned to), same (jw DESC, right_id)
    * argmax. */
  private val fuzzyJwSql: String =
    s"""WITH ldom AS MATERIALIZED (
       |  SELECT min(p_partkey) AS left_id,
       |         trim(regexp_replace(lower(p_name || 'x'), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part GROUP BY p_name || 'x'),
       |rdom AS MATERIALIZED (
       |  SELECT min(p_partkey) AS right_id,
       |         trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part GROUP BY p_name),
       |pairs AS (
       |  SELECT left_id, right_id,
       |         jaro_winkler_similarity(l.norm, r.norm) AS jw
       |  FROM ldom l JOIN rdom r ON left(l.norm, 2) = left(r.norm, 2)
       |  WHERE l.norm <> '' AND r.norm <> ''),
       |ranked AS (
       |  SELECT left_id, right_id, jw,
       |         row_number() OVER (PARTITION BY left_id
       |                            ORDER BY jw DESC, right_id) AS rnk
       |  FROM pairs WHERE jw >= 0.85)
       |SELECT left_id, right_id, jw FROM ranked WHERE rnk = 1""".stripMargin

  /** percent_rank shares (rank−1)/(n−1) tie semantics across engines,
    * so the calibration mirror is a one-window replay. */
  private val qualityCalibratedSql: String =
    """SELECT doc_id, source, n_chars,
      |       percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct
      |FROM documents""".stripMargin

  /** Integer replay of the budget selection: running cost in the same
    * (n_chars DESC, doc_id) order, keep while the mass BEFORE the row
    * is under 300‰ of the source total. */
  private val sampleBudgetSql: String =
    """WITH w AS (
      |  SELECT doc_id, source, n_chars,
      |         sum(n_chars) OVER (PARTITION BY source
      |                            ORDER BY n_chars DESC, doc_id
      |                            ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(n_chars) OVER (PARTITION BY source) AS tot
      |  FROM documents)
      |SELECT doc_id, source, n_chars FROM w
      |WHERE (cum - n_chars) * 1000 < tot * 300""".stripMargin

  /** Quadratic replay of [[qReferFuzzy]]: canonical name domain with
    * its deterministic min wanted value, dirtied probe domain, exact
    * cross-pair Jaccard, (jaccard DESC, key) best-match pick at the
    * 0.5 threshold, then the row-level left join + default — the
    * whole declarative fuzzy-refer path in one SQL mirror. */
  private val referFuzzySql: String =
    s"""WITH canon AS MATERIALIZED (
       |  SELECT p_name AS k, min(p_retailprice) AS w,
       |         trim(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part GROUP BY p_name),
       |probes AS MATERIALIZED (
       |  SELECT DISTINCT p_name || 'x' AS probe,
       |         trim(regexp_replace(lower(p_name || 'x'), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM part),
       |pg AS MATERIALIZED (
       |  SELECT probe, list_distinct(list_transform(range(1, length(norm) - 1),
       |                                             i -> norm[i:i+2])) AS gs
       |  FROM probes WHERE length(norm) >= 3),
       |cg AS MATERIALIZED (
       |  SELECT k, list_distinct(list_transform(range(1, length(norm) - 1),
       |                                         i -> norm[i:i+2])) AS gs
       |  FROM canon WHERE length(norm) >= 3),
       |pairs AS (
       |  SELECT probe, k,
       |         CAST(len(list_intersect(p.gs, c.gs)) AS DOUBLE)
       |           / (len(p.gs) + len(c.gs) - len(list_intersect(p.gs, c.gs))) AS jaccard
       |  FROM pg p, cg c),
       |best AS (
       |  SELECT probe, k FROM (
       |    SELECT probe, k,
       |           row_number() OVER (PARTITION BY probe
       |                              ORDER BY jaccard DESC, k) AS rnk
       |    FROM pairs WHERE jaccard >= 0.5) WHERE rnk = 1),
       |resolved AS (SELECT b.probe, c.w FROM best b JOIN canon c ON c.k = b.k)
       |SELECT p.p_partkey, p.p_name || 'x' AS obs_name,
       |       coalesce(r.w, -1.0) AS canon_price
       |FROM part p LEFT JOIN resolved r ON p.p_name || 'x' = r.probe""".stripMargin

  /** [[fuzzyPairsSql]] pairs → recursive-CTE min-label closure (the
    * [[dedupComponentsSql]] technique) → every part row labeled with
    * its name cluster's canonical (minimum) name_id. */
  private val entityResolutionSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED ($fuzzyPairsSql),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id
       |),
       |reps AS (SELECT id, min(label) AS rep FROM labels GROUP BY id),
       |named AS (SELECT p_name, min(p_partkey) AS name_id FROM part GROUP BY p_name)
       |SELECT p.p_partkey, p.p_name, coalesce(r.rep, n.name_id) AS entity_id
       |FROM part p
       |JOIN named n ON p.p_name = n.p_name
       |LEFT JOIN reps r ON r.id = n.name_id""".stripMargin

  /** Mirrors [[qProfileCorr]] (`Profile.correlation`, scale=100):
    * identical cents quantization (round is half-away-from-zero in
    * both engines), HUGEINT sums == ExactCentsSum's exact two-long
    * fold, then the identical cast-to-double closed form with the
    * variance-positivity guard before each sqrt. */
  private val profileCorrSql: String = {
    val pairs = corrCols.combinations(2).map(p => (p(0), p(1))).toSeq
    def qv(c: String) = s"CAST(round($c * 100) AS BIGINT)"
    val sums = (corrCols.map(c => s"SUM(${qv(c)}) AS s_$c") ++
      corrCols.map(c => s"SUM(${qv(c)} * ${qv(c)}) AS ss_$c") ++
      pairs.map { case (a, b) => s"SUM(${qv(a)} * ${qv(b)}) AS sp_${a}_$b" })
      .mkString(",\n    ")
    // HUGEINT→DOUBLE via VARCHAR: DuckDB's direct cast computes
    // hi·2^64 + lo in double arithmetic (double-rounded once sums
    // cross 2^64 — first bitten at sf0.1), while the string parse is
    // correctly rounded, matching Spark's DECIMAL(38,0)→DOUBLE
    // (BigDecimal.doubleValue == parseDouble). Exact for sub-2^53
    // values, so routing every operand through it is safe.
    def dbl(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
    val blocks = pairs.map { case (a, b) =>
      val num = s"${dbl("n")} * ${dbl(s"sp_${a}_$b")} - ${dbl(s"s_$a")} * ${dbl(s"s_$b")}"
      val va = s"${dbl("n")} * ${dbl(s"ss_$a")} - ${dbl(s"s_$a")} * ${dbl(s"s_$a")}"
      val vb = s"${dbl("n")} * ${dbl(s"ss_$b")} - ${dbl(s"s_$b")} * ${dbl(s"s_$b")}"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n AS n_rows,
         |  CASE WHEN ($va) > 0.0 AND ($vb) > 0.0
         |    THEN ($num) / (sqrt($va) * sqrt($vb)) END AS corr FROM s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT count(*) AS n,
       |    $sums
       |  FROM lineitem)
       |$blocks""".stripMargin
  }

  /** Mirrors [[qTextPerplexity]] ([[TextFunctions.lmScore]], add-one
    * bigram LM, 2^20 fixed-point log quantization): identical token /
    * gram derivation, identical COALESCE-then-divide probability op
    * order, `floor(ln(p) * 1048576.0)` quantized per bigram BEFORE
    * the per-doc sum — integer sums are order-independent, and the
    * quantization absorbs any sub-ulp ln() disagreement between
    * engines. V counts ALL train tokens (no >= 2-token filter),
    * exactly like the Scala side. */
  private val textPerplexitySql: String = {
    val ws = graft.functions.TextFunctions.wsClass
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '$ws+'), x -> x <> '') AS t
       |  FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram, t[i] AS prev
       |  FROM toks, unnest(range(1, len(t))) r(i) WHERE len(t) >= 2),
       |bgtr AS (SELECT * FROM bg WHERE doc_id % 10 < 8),
       |cb AS (SELECT gram, count(*) AS cb FROM bgtr GROUP BY gram),
       |ctx AS (SELECT prev, count(*) AS cctx FROM bgtr GROUP BY prev),
       |vs AS (SELECT count(DISTINCT u) AS v FROM (
       |  SELECT unnest(t) AS u FROM toks WHERE doc_id % 10 < 8)),
       |sc AS (SELECT bg.doc_id,
       |  CAST(floor(ln(CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE) /
       |      CAST(COALESCE(ctx.cctx, 0) + (SELECT v FROM vs) AS DOUBLE))
       |    * 1048576.0) AS BIGINT) AS lq
       |  FROM bg LEFT JOIN cb USING (gram) LEFT JOIN ctx USING (prev))
       |SELECT doc_id, n_bigrams, nll_q,
       |  (CAST(nll_q AS DOUBLE) / 1048576.0) / CAST(n_bigrams AS DOUBLE) AS avg_nll
       |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |        CAST(-SUM(lq) AS BIGINT) AS nll_q
       |      FROM sc GROUP BY doc_id)""".stripMargin
  }

  /** Mirrors [[qGraphPagerank]] ([[graft.operators.Graph.pageRank]],
    * 8 iterations, damping 85/100, Q = 2^34): the identical
    * all-integer recurrence unrolled one CTE pair per iteration.
    * DuckDB's `//` equals Spark's `div` for the nonnegative operands
    * here; explicit BIGINT casts keep DuckDB's HUGEINT-widening SUMs
    * on the same 64-bit type the engine carries (values are bounded
    * by Q·max(wout) by construction, so the casts never truncate).
    * The final double view divides by a power of two — exact. */
  private val graphPagerankSql: String = graphRankSql(None)

  /** Both rank oracles share the generator; `seeds = Some(S)` emits
    * the personalized form — teleport and dangling mass routed to the
    * IN-list seeds with |S| as the divisor, matching the engine's
    * literal-seeded arithmetic. */
  private def graphRankSql(seeds: Option[Seq[Long]]): String = {
    val q = 1L << 34
    // classic: teleport/divisor derived from the node count in-query;
    // seeded: both are exact integer literals (the engine inlines the
    // identical driver-computed values)
    val (tpExpr, dangDiv) = seeds match {
      case None =>
        ("(SELECT t FROM params)", "(SELECT n FROM params)")
      case Some(ss) =>
        val tp = (15L * q) / (100L * ss.size)
        val inList = ss.mkString(", ")
        (s"CASE WHEN n.node IN ($inList) THEN $tp ELSE 0 END", s"${ss.size}")
    }
    val dangTerm = seeds match {
      case None => s"(SELECT dang FROM d__K) // $dangDiv"
      case Some(ss) =>
        s"CASE WHEN n.node IN (${ss.mkString(", ")}) " +
          s"THEN (SELECT dang FROM d__K) // $dangDiv ELSE 0 END"
    }
    val iters = (1 to 8).map { k =>
      val dt = dangTerm.replace("d__K", s"d$k")
      s"""d$k AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(rq), 0) AS BIGINT) AS dang FROM r${k - 1}
         |  WHERE node NOT IN (SELECT src FROM ew)),
         |r$k AS MATERIALIZED (
         |  SELECT n.node,
         |    $tpExpr + (85 * (COALESCE(s.s, 0) +
         |      $dt)) // 100 AS rq
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM((r.rq * e.w) // e.wout) AS BIGINT) AS s
         |    FROM ew e JOIN r${k - 1} r ON r.node = e.src GROUP BY e.dst) s
         |  ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |ew AS MATERIALIZED (
       |  SELECT src, dst, w,
       |    CAST(SUM(w) OVER (PARTITION BY src) AS BIGINT) AS wout FROM edges),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |params AS MATERIALIZED (
       |  SELECT count(*) AS n, (15 * $q) // (100 * count(*)) AS t FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, $q // (SELECT n FROM params) AS rq FROM nodes),
       |$iters
       |SELECT CAST(node AS BIGINT) AS node, rq AS rank_q,
       |  CAST(rq AS DOUBLE) / ${q.toDouble} AS "rank" FROM r8""".stripMargin
  }

  /** Mirrors [[qSnapshotDiff]] (`Reconcile.snapshotDiff`): the same
    * derived old/new snapshots, full-outer joined; text is non-null
    * throughout, so SQL `<>` matches the engine's null-safe
    * inequality. */
  private val snapshotDiffSql: String =
    s"""SELECT doc_id, change FROM (
       |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'removed'
       |         WHEN o.text <> n.text THEN 'changed' END AS change
       |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 3) o
       |  FULL OUTER JOIN (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 17 = 0 THEN upper(text) ELSE text END AS text
       |    FROM documents WHERE doc_id % 13 <> 5) n
       |  ON o.doc_id = n.doc_id) t
       |WHERE change IS NOT NULL""".stripMargin

  /** Mirrors [[qSnapshotRowdiff]]: the [[snapshotDiffSql]] full-outer
    * shape plus `IS DISTINCT FROM` attribution per compare column;
    * `concat_ws` skips the non-changed CASEs' NULLs in both engines,
    * so the comma-joined list replays exactly. */
  private val snapshotRowdiffSql: String =
    s"""SELECT doc_id, change,
       |  CASE WHEN change = 'changed' THEN concat_ws(',',
       |    CASE WHEN o_text IS DISTINCT FROM n_text THEN 'text' END,
       |    CASE WHEN o_lang IS DISTINCT FROM n_lang THEN 'lang' END)
       |  END AS changed_cols
       |FROM (
       |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       |    o.text AS o_text, n.text AS n_text,
       |    o.lang AS o_lang, n.lang AS n_lang,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'removed'
       |         WHEN o.text IS DISTINCT FROM n.text
       |           OR o.lang IS DISTINCT FROM n.lang THEN 'changed' END AS change
       |  FROM (SELECT doc_id, text, lang FROM documents WHERE doc_id % 11 <> 3) o
       |  FULL OUTER JOIN (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 17 = 0 THEN upper(text) ELSE text END AS text,
       |      CASE WHEN doc_id % 19 = 0 THEN 'xx' ELSE lang END AS lang
       |    FROM documents WHERE doc_id % 13 <> 5) n
       |  ON o.doc_id = n.doc_id) t
       |WHERE change IS NOT NULL""".stripMargin

  /** Mirrors [[qCheckSuite]]: every violation count as one aggregate
    * over a single lineitem pass, pivoted to report rows by UNION
    * ALL; uniqueness counts a ROW() struct so NULL key fields would
    * still count as combinations, matching Spark's
    * `countDistinct(struct(...))`. */
  private val checkSuiteSql: String =
    s"""WITH t AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total,
       |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
       |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
       |    CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
       |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v4,
       |    CAST(sum(CASE WHEN NOT regexp_matches(l_linestatus, '^[OF]$$') THEN 1 ELSE 0 END) AS BIGINT) AS v5,
       |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v6,
       |    CAST(count(*) - count(DISTINCT (l_orderkey)) AS BIGINT) AS v7
       |  FROM lineitem)
       |SELECT check_name, kind, col_name, violations, total AS total_rows,
       |       violations = 0 AS passed
       |FROM (
       |  SELECT 'not_null(l_shipdate)' AS check_name, 'not_null' AS kind,
       |         'l_shipdate' AS col_name, v0 AS violations, total FROM t
       |  UNION ALL SELECT 'in_range(l_quantity)', 'in_range', 'l_quantity', v1, total FROM t
       |  UNION ALL SELECT 'in_range(l_discount)', 'in_range', 'l_discount', v2, total FROM t
       |  UNION ALL SELECT 'non_negative(l_extendedprice)', 'non_negative', 'l_extendedprice', v3, total FROM t
       |  UNION ALL SELECT 'accepted_values(l_returnflag)', 'accepted_values', 'l_returnflag', v4, total FROM t
       |  UNION ALL SELECT 'matches(l_linestatus)', 'matches', 'l_linestatus', v5, total FROM t
       |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', 'unique', 'l_orderkey,l_linenumber', v6, total FROM t
       |  UNION ALL SELECT 'unique(l_orderkey)', 'unique', 'l_orderkey', v7, total FROM t
       |) r""".stripMargin

  /** Mirrors [[qCheckFk]]: orphan counts via NOT EXISTS anti-join
    * semantics (NULL keys exempt, matching SQL FK convention). */
  private val checkFkSql: String =
    s"""SELECT check_name, kind, col_name, violations, total_rows,
       |       violations = 0 AS passed
       |FROM (
       |  SELECT 'foreign_key(o_custkey)' AS check_name, 'foreign_key' AS kind,
       |    'o_custkey' AS col_name,
       |    CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
       |          AND NOT EXISTS (SELECT 1 FROM customer c
       |                          WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS violations,
       |    CAST((SELECT count(*) FROM orders) AS BIGINT) AS total_rows
       |  UNION ALL
       |  SELECT 'foreign_key(l_suppkey)', 'foreign_key', 'l_suppkey',
       |    CAST((SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
       |          AND NOT EXISTS (SELECT 1 FROM supplier s
       |                          WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
       |    CAST((SELECT count(*) FROM lineitem) AS BIGINT)
       |  UNION ALL
       |  SELECT 'foreign_key(o_custkey->thinned_customer)', 'foreign_key', 'o_custkey',
       |    CAST((SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
       |          AND NOT EXISTS (SELECT 1 FROM customer c
       |                          WHERE c.c_custkey % 3 = 0
       |                            AND c.c_custkey = o.o_custkey)) AS BIGINT),
       |    CAST((SELECT count(*) FROM orders) AS BIGINT)
       |) r""".stripMargin

  /** Mirrors [[qPrivacyRisk]]: exact group sizes + distinct
    * sensitive-bucket counts per QI cell; the bucket arithmetic
    * (double divide, floor, BIGINT cast) is IEEE-identical in both
    * engines. */
  private val privacyRiskSql: String =
    s"""SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
       |  CAST(count(*) AS BIGINT) AS group_size,
       |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
       |    AS distinct_sensitive,
       |  count(*) >= 10 AS k_anonymous,
       |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 8 AS l_diverse
       |FROM customer
       |GROUP BY 1, 2""".stripMargin

  /** Mirrors [[qAggIncremental]] — deliberately NOT incrementally:
    * one direct aggregate over all of lineitem. Hash equality here IS
    * the closure property of the mergeable-state decomposition. */
  private val aggIncrementalSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(count(*) AS BIGINT) AS count_rows,
       |  min(l_shipdate) AS min_l_shipdate,
       |  max(l_shipdate) AS max_l_shipdate,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
       |FROM lineitem
       |GROUP BY 1, 2""".stripMargin

  /** Mirrors [[qCdcCompact]]: the same three-version log rebuilt in
    * SQL, the same (ts DESC, seq DESC) row_number pick, tombstones
    * dropped at the end. */
  private val cdcCompactSql: String =
    s"""WITH log AS (
       |  SELECT o_orderkey, o_totalprice, o_orderdate AS ts,
       |         CAST(0 AS BIGINT) AS seq, false AS deleted FROM orders
       |  UNION ALL
       |  SELECT o_orderkey, o_totalprice + 10, o_orderdate + INTERVAL 1 DAY,
       |         CAST(1 AS BIGINT), false FROM orders WHERE o_orderkey % 5 = 0
       |  UNION ALL
       |  SELECT o_orderkey, 0.0, o_orderdate + INTERVAL 2 DAY,
       |         CAST(2 AS BIGINT), true FROM orders WHERE o_orderkey % 7 = 0),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
       |                               ORDER BY ts DESC, seq DESC) AS rn
       |  FROM log)
       |SELECT o_orderkey, o_totalprice, ts, seq
       |FROM ranked WHERE rn = 1 AND NOT deleted""".stripMargin

  /** Mirrors [[qPseudonymize]]: unsigned FNV-1a 64 over the name's
    * bytes, XOR the salt, the four staged SplitMix64 CTEs, then the
    * signed BIGINT read-out. */
  private val pseudonymizeSql: String =
    s"""WITH p0 AS MATERIALIZED (
       |  SELECT c_custkey,
       |         ${HashSql.ux(HashSql.textFnvU("c_name"), HashSql.u(PseudoSalt))} AS x
       |  FROM customer),
       |${HashSql.mixCtes("p", "p0", "c_custkey")}
       |SELECT c_custkey, ${HashSql.toS("x")} AS pseudonym FROM p4""".stripMargin

  /** Mirrors `Sampling.hashSplit(80, 10)`: SplitMix64 of the id
    * (HashSql.mixCtes replay), bucket = mixed >>> 1 mod 100. doc_id
    * is nonnegative, so the unsigned HUGEINT start value equals the
    * signed long bit pattern. */
  private val sampleSplitSql: String =
    s"""WITH m0 AS MATERIALIZED (SELECT doc_id, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("m", "m0", "doc_id")}
       |SELECT doc_id, CAST((x // 2) % 100 AS BIGINT) AS split_bucket,
       |       CASE WHEN (x // 2) % 100 < 80 THEN 'train'
       |            WHEN (x // 2) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |FROM m4""".stripMargin

  /** Mirrors [[qSampleMix]] (`Sampling.mixToTarget`, granularity
    * 10000): same SplitMix64 bucket replay as [[sampleSplitSql]]; the
    * per-domain keep threshold re-derives scale = min(count/target)
    * and rate = scale·target/count in the IDENTICAL double op order
    * (Scala Double.toString literals round-trip in DuckDB), so the
    * floor-quantized basis points match bit for bit. */
  private val sampleMixSql: String = {
    val tgtRows = mixTargets
      .map { case (d, t) => s"('$d', ${t.toString})" }.mkString(", ")
    s"""WITH x0 AS MATERIALIZED (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("x", "x0", "doc_id, lang")},
       |tgt(dom, t) AS (SELECT * FROM (VALUES $tgtRows) v(dom, t)),
       |cnt AS (SELECT lang AS dom, count(*) AS c FROM documents GROUP BY lang),
       |bp AS (SELECT cnt.dom,
       |  CAST(floor(least((MIN(CAST(c AS DOUBLE) / t) OVER ()) * t / CAST(c AS DOUBLE), 1.0)
       |       * 10000) AS BIGINT) AS bp
       |  FROM cnt JOIN tgt ON cnt.dom = tgt.dom)
       |SELECT m.doc_id, m.lang FROM x4 m JOIN bp ON m.lang = bp.dom
       |WHERE (m.x // 2) % 10000 < bp.bp""".stripMargin
  }

  /** Mirrors [[qSampleTemperature]] (`Sampling.temperatureSample`,
    * T=2, target 300): same SplitMix64 bucket replay; Σw is the
    * ordered left fold over SORTED domains (list_reduce with a 0.0
    * seed — the driver's foldLeft), weights are `sqrt` (exact in both
    * engines at T=2), and the rate arithmetic repeats the driver's
    * `min(tgt·(w/Σw)/c, 1)·granularity` op order literally. */
  private val sampleTemperatureSql: String =
    s"""WITH t0 AS MATERIALIZED (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("t", "t0", "doc_id, lang")},
       |cnt AS (SELECT lang AS dom, count(*) AS c FROM documents GROUP BY lang),
       |sw AS (SELECT list_reduce(
       |  list_prepend(0.0, list(sqrt(CAST(c AS DOUBLE)) ORDER BY dom)),
       |  (a, b) -> a + b) AS sumw FROM cnt),
       |bp AS (SELECT dom,
       |  CAST(floor(least(300.0 * (sqrt(CAST(c AS DOUBLE)) / sumw) / CAST(c AS DOUBLE), 1.0)
       |       * 10000) AS BIGINT) AS bp
       |  FROM cnt, sw)
       |SELECT m.doc_id, m.lang FROM t4 m JOIN bp ON m.lang = bp.dom
       |WHERE (m.x // 2) % 10000 < bp.bp""".stripMargin

  /** Mirrors `Dedup.editDistancePairs(maxDistance=10)`: the full
    * banded-candidate replay (threshold 0 — every band collision),
    * re-scored with DuckDB's levenshtein (the same unit-cost DP as
    * Spark's). */
  private val dedupEditdistSql: String =
    s"""WITH cand AS MATERIALIZED (${minhashPairsSql(3, 64, 16, 0.0)})
       |SELECT id_a, id_b, dist FROM (
       |  SELECT c.id_a, c.id_b,
       |         CAST(levenshtein(da.text, db.text) AS INTEGER) AS dist
       |  FROM cand c
       |  JOIN documents da ON da.doc_id = c.id_a
       |  JOIN documents db ON db.doc_id = c.id_b) t
       |WHERE dist <= 10""".stripMargin

  /** Mirrors [[qSampleCap]] (`Sampling.capPerGroup`, k=12): the same
    * SplitMix64 replay as [[sampleSplitSql]]; Spark's
    * `shiftrightunsigned(mix64(id), 1)` is `x // 2` in the unsigned
    * HUGEINT domain, so the per-source (hash, id) sort order — and
    * therefore the kept set — matches exactly. */
  private val sampleCapSql: String =
    s"""WITH c0 AS MATERIALIZED (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("c", "c0", "doc_id, source")}
       |SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY (x // 2) ASC, doc_id ASC) AS rn
       |  FROM c4) t
       |WHERE rn <= 12""".stripMargin

  /** Mirrors [[qSimHardNegatives]]: [[simLshBatchSql]]'s candidate
    * rule plus the label-inequality residual — filtered before the
    * per-query window, exactly like the engine. */
  private val simHardNegativesSql: String = {
    val planes = graft.functions.SimilarityFunctions.hyperplanes(8, DIM, 42L)
    s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv, label AS ql,
       |                   ${bucketSql("embedding", planes)} AS qbucket
       |            FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
       |c AS (SELECT vec_id AS id, embedding AS vec, label AS cl,
       |             ${bucketSql("embedding", planes)} AS bucket
       |      FROM embeddings WHERE vec_id >= 6)
       |SELECT query_id, id, cosine FROM (
       |  SELECT q.qid AS query_id, c.id, ${cosineSql("c.vec", "q.qv")} AS cosine,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${cosineSql("c.vec", "q.qv")} DESC, c.id ASC) AS rn
       |  FROM qs q JOIN c ON bit_count(xor(c.bucket, q.qbucket)) <= 2
       |       AND c.cl <> q.ql) t
       |WHERE rn <= 5""".stripMargin
  }

  /** Mirrors `Sampling.stratifiedHashSample(en->40, de->100, default
    * 80)`: same SplitMix64 bucket as [[sampleSplitSql]], thresholded
    * by a per-stratum CASE. */
  private val sampleStratifiedSql: String =
    s"""WITH s0 AS MATERIALIZED (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("s", "s0", "doc_id, lang")}
       |SELECT doc_id, lang FROM s4
       |WHERE (x // 2) % 100 <
       |  (CASE WHEN lang = 'de' THEN 100 WHEN lang = 'en' THEN 40 ELSE 80 END)""".stripMargin

  /** Mirrors `Dedup.keepOnePerCluster` over the minhash pairs: the
    * recursive closure labels every paired id with its component
    * minimum; ids that are not that minimum are dropped, everything
    * else (including never-paired docs) is kept. */
  private val dedupKeepOneSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${minhashPairsSql(3, 64, 16, 0.5)}),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id),
       |dropped AS (SELECT id FROM (SELECT id, min(label) AS rep FROM labels GROUP BY id) t
       |            WHERE id <> rep)
       |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  /** Mirrors [[qDedupReport]]: the capped-minhash pair replay, the
    * recursive closure, then one row per rep with its member count. */
  private val dedupReportSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${minhashPairsSql(3, 64, 16, 0.5, Some(12))}),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id),
       |m AS (SELECT id, min(label) AS rep FROM labels GROUP BY id)
       |SELECT rep AS survivor_id, CAST(count(*) AS BIGINT) AS n_members
       |FROM m GROUP BY rep""".stripMargin

  /** Mirrors [[qTextDecontamScrub]]: eval hashes from the distinct
    * shingle replay, corpus windows from [[HashSql.shingleHashesAll]]
    * zip-unnested with their 0-based positions, covered positions via
    * the end-exclusive `range(wpos, least(wpos+n, nt))` (the whole-doc
    * short-text branch covers 0..nt−1 automatically), then the
    * anti-join + ordered single-space reassembly. */
  private val textDecontamScrubSql: String = {
    val n = 4
    val ws = graft.functions.TextFunctions.wsClass
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |eh AS MATERIALIZED (SELECT DISTINCT unnest(${HashSql.shingleHashes("ths", n)}) AS h
       |  FROM ths WHERE doc_id % 50 = 0),
       |corp AS MATERIALIZED (SELECT t.doc_id, t.ths,
       |    list_filter(regexp_split_to_array(d.text, '$ws+'), x -> x <> '') AS toks
       |  FROM ths t JOIN documents d USING (doc_id)
       |  WHERE t.doc_id % 50 <> 0 AND len(t.ths) > 0),
       |wins AS MATERIALIZED (SELECT doc_id, len(ths) AS nt,
       |    unnest(range(0, len(gh))) AS wpos, unnest(gh) AS h
       |  FROM (SELECT doc_id, ths, ${HashSql.shingleHashesAll("ths", n)} AS gh FROM corp) g),
       |cov AS MATERIALIZED (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT w.doc_id, unnest(range(w.wpos, least(w.wpos + $n, w.nt))) AS pos
       |  FROM wins w JOIN eh ON w.h = eh.h) x),
       |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
       |    unnest(toks) AS tok FROM corp),
       |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL)
       |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       |  count(*) AS n_kept
       |FROM kept GROUP BY doc_id""".stripMargin
  }

  /** Shared CTE chain for the distilled-classifier oracles: the
    * [[textFeatureHashSql]] features, the [[qPipelineFilter]] gate as
    * a 0/1 label, then `iters` unrolled fixed-point GD passes — the
    * identical integer arithmetic as
    * [[graft.operators.Classifier.trainLogisticFx]] (fast-sigmoid
    * rational, truncating `//` division, HUGEINT sums ≡ Spark's
    * DECIMAL(38,0) folds). Ends with the weight CTE `w{iters}`
    * available; the caller appends its final SELECT. */
  private def distillCtes(iters: Int): String =
    s"WITH ${distillChain(iters, "", "TRUE", s"SELECT unnest(range(0, 256)) AS feat_idx, CAST(0 AS HUGEINT) AS w")}"

  /** One GD chain's CTE list (no leading WITH): features + labels
    * over `documents WHERE docWhere`, initial weights from `w0Sql`,
    * `iters` unrolled passes; every CTE name carries `p` so two
    * chains compose in one query (the warm-start oracle chains a
    * cold run on the corpus split into a continued run on the batch
    * split, `b`-chain w0 = `a`-chain w3). */
  private def distillChain(
      iters: Int, p: String, docWhere: String, w0Sql: String): String = {
    val scale = 1L << 20
    val half = scale >> 1
    val clamp = 1L << 40
    val featSql = {
      val dims = 256
      val salt = graft.functions.Hashing.salts(1, 11L).head
      val sign = s"CASE WHEN (x // $dims) % 2 = 1 THEN 1 ELSE -1 END"
      s"""WITH ths AS (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths
         |    FROM documents WHERE $docWhere),
         |tok AS MATERIALIZED (SELECT doc_id, unnest(ths) AS h FROM ths),
         |m0 AS MATERIALIZED (SELECT doc_id, ${HashSql.ux("h", HashSql.u(salt))} AS x FROM tok),
         |${HashSql.mixCtes("m", "m0", "doc_id")}
         |SELECT doc_id, CAST(x % $dims AS BIGINT) AS feat_idx,
         |  CAST(SUM($sign) AS BIGINT) AS weight
         |FROM m4 GROUP BY doc_id, feat_idx
         |HAVING SUM($sign) <> 0""".stripMargin
    }
    val passes = (1 to iters).map { i =>
      val sig = s"($half + CASE WHEN cm >= 0 THEN (u * $half) // ($scale + u) " +
        s"ELSE -((u * $half) // ($scale + u)) END)"
      s"""${p}m$i AS MATERIALIZED (SELECT f.doc_id, SUM(f.weight * w.w) AS m
         |  FROM ${p}feat f JOIN ${p}w${i - 1} w USING (feat_idx) GROUP BY f.doc_id),
         |${p}s$i AS MATERIALIZED (SELECT l.doc_id, l.y, coalesce(m.m, 0) AS cm,
         |    least(abs(coalesce(m.m, 0)), $clamp) AS u
         |  FROM ${p}lab l LEFT JOIN ${p}m$i m USING (doc_id)),
         |${p}e$i AS MATERIALIZED (SELECT doc_id, $sig - y * $scale AS e FROM ${p}s$i),
         |${p}g$i AS MATERIALIZED (SELECT f.feat_idx, SUM(f.weight * e.e) AS g
         |  FROM ${p}feat f JOIN ${p}e$i e USING (doc_id) GROUP BY f.feat_idx),
         |${p}w$i AS MATERIALIZED (SELECT w.feat_idx,
         |    w.w - coalesce(g.g, 0) // ((SELECT n FROM ${p}nn) * 8) AS w
         |  FROM ${p}w${i - 1} w LEFT JOIN ${p}g$i g USING (feat_idx))""".stripMargin
    }.mkString(",\n")
    s"""${p}feat AS MATERIALIZED ($featSql),
       |${p}lab AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN lang_pred = 'en' AND quality >= 0.5
       |      AND n_tokens BETWEEN 5 AND 1000 THEN 1 ELSE 0 END AS y
       |  FROM (SELECT doc_id,
       |      $langPredCaseSql AS lang_pred,
       |      $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |        + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |        + (1.0 - $punctRatioSql) * 0.1 AS quality,
       |      $nTokensSql AS n_tokens
       |    FROM (SELECT doc_id, text, $langBestSql AS __best FROM documents
       |          WHERE $docWhere) t) w),
       |${p}nn AS (SELECT COUNT(*) AS n FROM ${p}lab),
       |${p}w0 AS ($w0Sql),
       |$passes""".stripMargin
  }

  /** Mirrors [[qQualityDistill]]: the trained weight table after
    * three unrolled passes. */
  private def qualityDistillSql: String =
    s"""${distillCtes(3)}
       |SELECT CAST(feat_idx AS BIGINT) AS feat_idx, CAST(w AS BIGINT) AS w_fx
       |FROM w3""".stripMargin

  /** Mirrors [[qQualityDistillWarm]]: the cold chain over the corpus
    * split, then the continued chain over the batch split seeded
    * from `a_w3`. */
  private def qualityDistillWarmSql: String =
    s"""WITH ${distillChain(3, "a_", "doc_id % 5 <> 0",
         "SELECT unnest(range(0, 256)) AS feat_idx, CAST(0 AS HUGEINT) AS w")},
       |${distillChain(2, "b_", "doc_id % 5 = 0", "SELECT feat_idx, w FROM a_w3")}
       |SELECT CAST(feat_idx AS BIGINT) AS feat_idx, CAST(w AS BIGINT) AS w_fx
       |FROM b_w2""".stripMargin

  /** Mirrors [[qQualityDistillScore]]: one more margin/sigmoid stage
    * over the trained `w3` — every document scored, featureless docs
    * at margin 0 / prob ½·2^20. */
  private def qualityDistillScoreSql: String = {
    val scale = 1L << 20
    val half = scale >> 1
    val clamp = 1L << 40
    s"""${distillCtes(3)},
       |sm AS MATERIALIZED (SELECT f.doc_id, SUM(f.weight * w.w) AS m
       |  FROM feat f JOIN w3 w USING (feat_idx) GROUP BY f.doc_id),
       |ss AS (SELECT l.doc_id, coalesce(m.m, 0) AS cm,
       |    least(abs(coalesce(m.m, 0)), $clamp) AS u
       |  FROM lab l LEFT JOIN sm m USING (doc_id))
       |SELECT doc_id, CAST(cm AS BIGINT) AS margin_fx,
       |  CAST($half + CASE WHEN cm >= 0 THEN (u * $half) // ($scale + u)
       |    ELSE -((u * $half) // ($scale + u)) END AS BIGINT) AS prob_fx
       |FROM ss""".stripMargin
  }

  /** Mirrors [[qQualityDistillEval]]: the score chain's prediction
    * joined back to the label CTE, confusion counts + floor-permille
    * accuracy. */
  private def qualityDistillEvalSql: String = {
    val half = 1L << 19
    s"""WITH scored AS MATERIALIZED ($qualityDistillScoreSql)
       |SELECT tp, fp, fn, tn,
       |  CAST((tp + tn) * 1000 // (tp + fp + fn + tn) AS BIGINT) AS accuracy_permille
       |FROM (
       |  SELECT
       |    CAST(SUM(CASE WHEN l.y = 1 AND s.prob_fx > $half THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN l.y = 0 AND s.prob_fx > $half THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN l.y = 1 AND s.prob_fx <= $half THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN l.y = 0 AND s.prob_fx <= $half THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM scored s JOIN (SELECT doc_id,
       |      CASE WHEN lang_pred = 'en' AND quality >= 0.5
       |        AND n_tokens BETWEEN 5 AND 1000 THEN 1 ELSE 0 END AS y
       |    FROM (SELECT doc_id,
       |        $langPredCaseSql AS lang_pred,
       |        $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |          + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |          + (1.0 - $punctRatioSql) * 0.1 AS quality,
       |        $nTokensSql AS n_tokens
       |      FROM (SELECT doc_id, text, $langBestSql AS __best FROM documents) t) w) l
       |    ON s.doc_id = l.doc_id) c""".stripMargin
  }

  /** Mirrors [[qDedupScrubSpans]]: the hot set is the duplicated-span
    * census (distinct-per-doc shingle hashes, count ≥ minDocs), then
    * the excision chain of [[textDecontamScrubSql]] verbatim. */
  private val dedupScrubSpansSql: String = {
    val n = 6
    val ws = graft.functions.TextFunctions.wsClass
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |hot AS MATERIALIZED (SELECT h FROM (
       |    SELECT unnest(${HashSql.shingleHashes("ths", n)}) AS h FROM ths) u
       |  GROUP BY h HAVING count(*) >= 2),
       |corp AS MATERIALIZED (SELECT t.doc_id, t.ths,
       |    list_filter(regexp_split_to_array(d.text, '$ws+'), x -> x <> '') AS toks
       |  FROM ths t JOIN documents d USING (doc_id)
       |  WHERE len(t.ths) > 0),
       |wins AS MATERIALIZED (SELECT doc_id, len(ths) AS nt,
       |    unnest(range(0, len(gh))) AS wpos, unnest(gh) AS h
       |  FROM (SELECT doc_id, ths, ${HashSql.shingleHashesAll("ths", n)} AS gh FROM corp) g),
       |cov AS MATERIALIZED (SELECT DISTINCT doc_id, pos FROM (
       |  SELECT w.doc_id, unnest(range(w.wpos, least(w.wpos + $n, w.nt))) AS pos
       |  FROM wins w JOIN hot ON w.h = hot.h) x),
       |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
       |    unnest(toks) AS tok FROM corp),
       |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
       |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
       |  WHERE c.pos IS NULL)
       |SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       |  count(*) AS n_kept
       |FROM kept GROUP BY doc_id""".stripMargin
  }

  /** Mirrors [[qPipelineClean]], the whole chain in one CTE pyramid:
    * the [[qPipelineFilter]] gate verbatim, the
    * `q_dedup_fingerprint` keep-min-id window, [[minhashPairsSql]]
    * re-rooted on the exact-dedup survivors (`from = "ex"`), and the
    * [[dedupKeepOneSql]] recursive closure over those pairs. */
  private val pipelineCleanSql: String = {
    val ws = graft.functions.TextFunctions.wsClass
    s"""WITH RECURSIVE gated AS MATERIALIZED (
       |  SELECT doc_id, text, __n AS n_tokens FROM (
       |    SELECT doc_id, text,
       |      $langPredCaseSql AS lang_pred,
       |      $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |        + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |        + (1.0 - $punctRatioSql) * 0.1 AS quality,
       |      $nTokensSql AS __n
       |    FROM (SELECT doc_id, text, $langBestSql AS __best FROM documents) t) w
       |  WHERE lang_pred = 'en' AND quality >= 0.5 AND __n BETWEEN 5 AND 1000),
       |fpw AS (SELECT doc_id, text, n_tokens,
       |  row_number() OVER (
       |    PARTITION BY md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g')))
       |    ORDER BY doc_id) AS rn FROM gated),
       |ex AS MATERIALIZED (SELECT doc_id, text, n_tokens FROM fpw WHERE rn = 1),
       |pairs AS MATERIALIZED (${minhashPairsSql(3, 64, 16, 0.5, Some(12), from = "ex")}),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id),
       |dropped AS (SELECT id FROM (SELECT id, min(label) AS rep FROM labels GROUP BY id) t
       |            WHERE id <> rep)
       |SELECT doc_id, n_tokens FROM ex
       |WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin
  }

  /** Mirrors [[qTextRepetition]] (`TextFunctions.repetitionStats`,
    * n=2, the native `RepetitionHashStats` expression): the
    * [[HashSql]] token/shingle-hash replay WITH multiplicities
    * (`shingleHashesAll`), then per-(doc, hash) counts — sum/count/
    * max reproduce total/distinct/max-frequency exactly; the fraction
    * divisions are integer-exact numerators over identical casts. */
  private val textRepetitionSql: String = {
    val n = 2
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashesAll("ths", n)} AS gh FROM ths),
       |c AS (SELECT doc_id, h, count(*) AS cnt FROM
       |  (SELECT doc_id, unnest(gh) AS h FROM g) x GROUP BY doc_id, h)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
       |  CAST(sum(cnt) - count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS dup_gram_frac,
       |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_gram_frac
       |FROM c GROUP BY doc_id""".stripMargin
  }

  /** Mirrors [[qTextDecontam]] (`Dedup.contaminationMatches`, n=4):
    * the [[HashSql]] token/shingle-hash replay on both sides of the
    * doc_id % 50 split, joined on the shingle hash. The per-document
    * shingle lists are DISTINCT by construction (both engines), so
    * count(*) is the distinct shared-shingle count. */
  private val textDecontamSql: String =
    s"""WITH ths AS MATERIALIZED (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |sh AS MATERIALIZED (SELECT doc_id, ${HashSql.shingleHashes("ths", 4)} AS sh FROM ths),
       |ev AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % 50 = 0),
       |cx AS (SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id % 50 <> 0)
       |SELECT cx.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cx JOIN ev ON cx.h = ev.h
       |GROUP BY cx.doc_id""".stripMargin

  /** Mirrors [[qPackChunks]] (`Packing.concatChunks`, capacity 512):
    * the identical per-source windowed running token sum (integer
    * arithmetic end to end — HUGEINT window sums cast back). */
  /** Mirrors [[qPackBins]]: rank documents per group, then replay the
    * next-fit fold as a per-group RECURSIVE walk — rn 1 opens bin 0;
    * each step either fits in the running bin (fill + n ≤ capacity)
    * or opens the next. The recursion advances every group's frontier
    * row simultaneously, which is exactly the per-group sequential
    * order the engine's repartition+sortWithinPartitions sweep pins. */
  /** THE per-group recursive next-fit pack walk — the single copy of
    * the fits-or-opens arithmetic every packing oracle replays (rn 1
    * opens bin 0; each step either fits in the running bin or opens
    * the next; the recursion advances every group's frontier row
    * simultaneously, exactly the per-group sequential order the
    * engine's repartition+sortWithinPartitions sweep pins). Six
    * oracles replay this walk (plain/BPE bins, chat pack, SFT/DPO
    * endgames, the release pipeline); parameterizing it the
    * pipelineSftCtes way means a future fix cannot silently miss a
    * copy. Expects `src($idCol, grp, n[, carry...])`; emits
    * `<p>rk` and `<p>walk(grp, rn, $idCol, n[, carry...], bin,
    * fill)`; `carry` columns ride the recursion untouched. Raw
    * margined text — the CONSUMER strips margins exactly once (the
    * pipelineSftCtes convention). */
  private def packWalkCtes(
      p: String, src: String, capacity: Int,
      idCol: String = "id", carry: Seq[String] = Nil): String = {
    val cs = carry.map(c => s", $c").mkString
    val csR2 = carry.map(c => s", r2.$c").mkString
    s"""${p}rk AS MATERIALIZED (SELECT $idCol, grp, n$cs,
       |  ROW_NUMBER() OVER (PARTITION BY grp ORDER BY $idCol) AS rn FROM $src),
       |${p}walk AS (
       |  SELECT grp, rn, $idCol, n$cs, CAST(0 AS BIGINT) AS bin, n AS fill
       |  FROM ${p}rk WHERE rn = 1
       |  UNION ALL
       |  SELECT r2.grp, r2.rn, r2.$idCol, r2.n$csR2,
       |    CASE WHEN w.fill + r2.n <= $capacity THEN w.bin ELSE w.bin + 1 END,
       |    CASE WHEN w.fill + r2.n <= $capacity THEN w.fill + r2.n ELSE r2.n END
       |  FROM ${p}walk w JOIN ${p}rk r2 ON r2.grp = w.grp AND r2.rn = w.rn + 1)"""
  }

  private val packBinsSql: String =
    s"""WITH RECURSIVE d AS (SELECT doc_id AS id, doc_id % 8 AS grp,
       |  $nTokensSql AS n FROM documents),
       |${packWalkCtes("", "d", 256)}
       |SELECT id, grp, CAST(n AS BIGINT) AS n_tokens, bin AS bin_id
       |FROM walk""".stripMargin

  /** Mirrors [[qPackBinsStats]]: one aggregate over the
    * [[packBinsSql]] recursive replay, utilization in floor-division
    * permille. */
  private val packBinsStatsSql: String =
    s"""WITH packed AS MATERIALIZED ($packBinsSql)
       |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(MAX(bin_id) + 1 AS BIGINT) AS n_bins,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST((SUM(n_tokens) * 1000) // ((MAX(bin_id) + 1) * 256) AS BIGINT)
       |    AS util_permille
       |FROM packed GROUP BY grp""".stripMargin

  /** Mirrors [[qPackBinsBpe]]: the [[textBpeCtes]] unrolled-merge
    * replay (the SAME chain the q_text_bpe pair gates) read out at
    * the final word state `w8`, each word costed as its subword count
    * (`<...>` wall count), summed per document over the word
    * OCCURRENCES of [[tokensLowerSql]] (the inner join to `w8` drops
    * exactly the non-`[a-z0-9]+` words the engine's segment filter
    * drops; docs with no surviving word cost 0 via the LEFT join),
    * then the identical per-group recursive next-fit walk at
    * capacity 256. A drift in either the tokenizer or the packing
    * moves the hash. */
  private def packBinsBpeSql: String =
    s"""WITH RECURSIVE ${textBpeCtes(8)},
       |wsub AS MATERIALIZED (SELECT word,
       |  CAST(len(regexp_extract_all(symseq, '<([^>]*)>', 1)) AS BIGINT) AS n_sub
       |  FROM w8),
       |dtok AS (SELECT doc_id, unnest($tokensLowerSql) AS word FROM documents),
       |dcost AS (SELECT t.doc_id, SUM(ws.n_sub) AS n
       |  FROM dtok t JOIN wsub ws ON t.word = ws.word GROUP BY t.doc_id),
       |d AS (SELECT dd.doc_id AS id, dd.doc_id % 8 AS grp,
       |  COALESCE(c.n, 0) AS n
       |  FROM documents dd LEFT JOIN dcost c ON dd.doc_id = c.doc_id),
       |${packWalkCtes("", "d", 256)}
       |SELECT id, grp, CAST(n AS BIGINT) AS n_tokens, bin AS bin_id
       |FROM walk""".stripMargin

  /** Mirrors [[qTextFeatureHash]]: per-occurrence token hashes,
    * salt-XOR + staged SplitMix64, index = low 8 bits, sign = bit 8,
    * signed sum per (doc, index), zero weights dropped. */
  private val textFeatureHashSql: String = {
    val dims = 256
    val salt = graft.functions.Hashing.salts(1, 11L).head
    val sign = s"CASE WHEN (x // $dims) % 2 = 1 THEN 1 ELSE -1 END"
    s"""WITH ths AS (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(ths) AS h FROM ths),
       |m0 AS MATERIALIZED (SELECT doc_id, ${HashSql.ux("h", HashSql.u(salt))} AS x FROM tok),
       |${HashSql.mixCtes("m", "m0", "doc_id")}
       |SELECT doc_id, CAST(x % $dims AS BIGINT) AS feat_idx,
       |  CAST(SUM($sign) AS BIGINT) AS weight
       |FROM m4 GROUP BY doc_id, feat_idx
       |HAVING SUM($sign) <> 0""".stripMargin
  }

  /** Mirrors [[qProfileCms]] (and verbatim [[qProfileCmsMerge]] — the
    * counter-addition closure): per-occurrence token hashes
    * ([[HashSql.tokenHashes]], duplicates kept), the salt×hash cross
    * product through the staged SplitMix64 CTEs, cell = low 10 bits
    * (`% 1024` on the unsigned value ≡ the engine's signed mask),
    * COUNT per (row, cell), then the min-of-depth-cells read for the
    * top-30 exact-count probes. */
  private val profileCmsSql: String = {
    val width = 1024
    s"""WITH ths AS (SELECT ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |tok AS MATERIALIZED (SELECT unnest(ths) AS h FROM ths),
       |exact AS MATERIALIZED (SELECT h, COUNT(*) AS exact_cnt FROM tok GROUP BY h),
       |salt AS (SELECT * FROM (VALUES ${HashSql.saltRows(4, 7L)}) AS v(i, s)),
       |mx0 AS MATERIALIZED (SELECT s.i, ${HashSql.ux("t.h", "s.s")} AS x
       |  FROM tok t CROSS JOIN salt s),
       |${HashSql.mixCtes("mx", "mx0", "i")},
       |cells AS MATERIALIZED (SELECT i, CAST(x % $width AS BIGINT) AS cell,
       |  COUNT(*) AS cnt FROM mx4 GROUP BY 1, 2),
       |probes AS MATERIALIZED (SELECT h, exact_cnt FROM exact
       |  ORDER BY exact_cnt DESC, ${HashSql.toS("h")} ASC LIMIT 30),
       |px0 AS (SELECT p.h, p.exact_cnt, s.i, ${HashSql.ux("p.h", "s.s")} AS x
       |  FROM probes p CROSS JOIN salt s),
       |${HashSql.mixCtes("px", "px0", "h, exact_cnt, i")}
       |SELECT ${HashSql.toS("h")} AS token_hash,
       |  CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |  CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
       |FROM px4 p LEFT JOIN cells c
       |  ON c.i = p.i AND c.cell = CAST(p.x % $width AS BIGINT)
       |GROUP BY h, exact_cnt""".stripMargin
  }

  /** Mirrors [[qProfileCmsHh]]: [[profileCmsSql]]'s sketch-build CTEs,
    * the Σcnt/depth total (every occurrence increments exactly depth
    * cells), an ALL-distinct-token probe pass, and the integer-exact
    * `est·32 ≥ N` heavy-hitter cut. */
  private val profileCmsHhSql: String = {
    val width = 1024
    s"""WITH ths AS (SELECT ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |tok AS MATERIALIZED (SELECT unnest(ths) AS h FROM ths),
       |salt AS (SELECT * FROM (VALUES ${HashSql.saltRows(4, 7L)}) AS v(i, s)),
       |mx0 AS MATERIALIZED (SELECT s.i, ${HashSql.ux("t.h", "s.s")} AS x
       |  FROM tok t CROSS JOIN salt s),
       |${HashSql.mixCtes("mx", "mx0", "i")},
       |cells AS MATERIALIZED (SELECT i, CAST(x % $width AS BIGINT) AS cell,
       |  COUNT(*) AS cnt FROM mx4 GROUP BY 1, 2),
       |total AS (SELECT CAST(SUM(cnt) // 4 AS BIGINT) AS n FROM cells),
       |probes AS MATERIALIZED (SELECT DISTINCT h FROM tok),
       |px0 AS (SELECT p.h, s.i, ${HashSql.ux("p.h", "s.s")} AS x
       |  FROM probes p CROSS JOIN salt s),
       |${HashSql.mixCtes("px", "px0", "h, i")},
       |est AS (SELECT h, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_est
       |  FROM px4 p LEFT JOIN cells c
       |    ON c.i = p.i AND c.cell = CAST(p.x % $width AS BIGINT)
       |  GROUP BY h)
       |SELECT ${HashSql.toS("h")} AS token_hash, cms_est
       |FROM est, total WHERE cms_est * 32 >= total.n""".stripMargin
  }

  /** Mirrors [[qDedupLines]]: the ' a ' → newline payload build, then
    * split → per-line trim / empty drop → count(DISTINCT doc) ≥ 2
    * boilerplate set → anti-join (LEFT JOIN … IS NULL) → per-document
    * ordered string_agg reassembly. Documents whose every line was
    * boilerplate drop out in both engines (the group-by runs on
    * surviving lines only). */
  private val dedupLinesSql: String =
    """WITH src AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS t FROM documents),
      |arr AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM src),
      |lines AS (SELECT doc_id,
      |                 unnest(range(1, len(ls) + 1)) AS pos,
      |                 trim(unnest(ls)) AS line
      |          FROM arr),
      |ne AS MATERIALIZED (SELECT * FROM lines WHERE line <> ''),
      |hot AS MATERIALIZED (SELECT line FROM ne GROUP BY line
      |       HAVING count(DISTINCT doc_id) >= 2),
      |kept AS (SELECT n.doc_id, n.pos, n.line FROM ne n
      |         LEFT JOIN hot h ON n.line = h.line WHERE h.line IS NULL)
      |SELECT doc_id,
      |       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |       count(*) AS n_kept
      |FROM kept GROUP BY doc_id""".stripMargin

  /** Mirrors [[qSampleDsir]]: [[HashSql.tokenHashes]] per corpus, the
    * salt→mix→low-bits bucket fold (as [[textFeatureHashSql]]), both
    * add-one-smoothed bucket tables, one quantized
    * `floor(ln(ratio)·2^20)` per bucket from the identical double
    * expression, and exact integer per-document sums. */
  private val sampleDsirSql: String = {
    val dims = 1024
    val salt = graft.functions.Hashing.salts(1, 11L).head
    s"""WITH tgt AS (SELECT ${HashSql.tokenHashes("text")} AS ths FROM documents
       |  WHERE source IN ('src0', 'src1')),
       |rawd AS (SELECT doc_id, ${HashSql.tokenHashes("text")} AS ths FROM documents
       |  WHERE source NOT IN ('src0', 'src1')),
       |tokt AS MATERIALIZED (SELECT unnest(ths) AS h FROM tgt),
       |t0 AS MATERIALIZED (SELECT 0 AS z, ${HashSql.ux("h", HashSql.u(salt))} AS x FROM tokt),
       |${HashSql.mixCtes("t", "t0", "z")},
       |tb AS MATERIALIZED (SELECT CAST(x % $dims AS BIGINT) AS b, COUNT(*) AS ct
       |  FROM t4 GROUP BY 1),
       |tokr AS MATERIALIZED (SELECT doc_id, unnest(ths) AS h FROM rawd),
       |r0 AS MATERIALIZED (SELECT doc_id, ${HashSql.ux("h", HashSql.u(salt))} AS x FROM tokr),
       |${HashSql.mixCtes("r", "r0", "doc_id")},
       |rtok AS MATERIALIZED (SELECT doc_id, CAST(x % $dims AS BIGINT) AS b FROM r4),
       |rb AS MATERIALIZED (SELECT b, COUNT(*) AS cr FROM rtok GROUP BY 1),
       |nt AS (SELECT COALESCE(SUM(ct), 0) AS n FROM tb),
       |nr AS (SELECT COALESCE(SUM(cr), 0) AS n FROM rb),
       |lw AS MATERIALIZED (SELECT rb.b,
       |  CAST(floor(ln(
       |    (CAST(COALESCE(tb.ct, 0) + 1 AS DOUBLE) * CAST(nr.n + $dims AS DOUBLE)) /
       |    (CAST(rb.cr + 1 AS DOUBLE) * CAST(nt.n + $dims AS DOUBLE)))
       |    * 1048576.0) AS BIGINT) AS lq
       |  FROM rb LEFT JOIN tb USING (b) CROSS JOIN nt CROSS JOIN nr)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(lq) AS BIGINT) AS logw_q,
       |  CAST(SUM(lq) AS DOUBLE) / 1048576.0 AS logw
       |FROM rtok JOIN lw USING (b) GROUP BY doc_id""".stripMargin
  }

  /** Mirrors [[qDedupLinesIncremental]]: [[dedupLinesSql]]'s split →
    * trim → empty-drop, the hot set from EVEN documents only, the
    * anti-join over ODD (batch) lines only, and the same ordered
    * reassembly. */
  private val dedupLinesIncrementalSql: String =
    """WITH src AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS t FROM documents),
      |arr AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM src),
      |lines AS (SELECT doc_id,
      |                 unnest(range(1, len(ls) + 1)) AS pos,
      |                 trim(unnest(ls)) AS line
      |          FROM arr),
      |ne AS MATERIALIZED (SELECT * FROM lines WHERE line <> ''),
      |hot AS MATERIALIZED (SELECT line FROM ne WHERE doc_id % 2 = 0
      |       GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
      |kept AS (SELECT n.doc_id, n.pos, n.line FROM ne n
      |         LEFT JOIN hot h ON n.line = h.line
      |         WHERE n.doc_id % 2 = 1 AND h.line IS NULL)
      |SELECT doc_id,
      |       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |       count(*) AS n_kept
      |FROM kept GROUP BY doc_id""".stripMargin

  private val packChunksSql: String =
    s"""SELECT doc_id, source, n_tokens,
       |  CAST(start_offset AS BIGINT) AS start_offset,
       |  CAST(start_offset // 512 AS BIGINT) AS chunk_id
       |FROM (SELECT doc_id, source, $nTokensSql AS n_tokens,
       |  COALESCE(SUM($nTokensSql) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
       |FROM documents) t""".stripMargin

  /** Mirrors [[qEmbedOutliers]] (`Similarity.centroidOutliers`, k=3):
    * [[embedCentroidsSql]] as the centroid CTE (same exact-quantized
    * fold), vectors re-assembled in dim order, then the identical
    * ordered-fold cosine and (cosine asc, id asc) window cut. */
  private val embedOutliersSql: String =
    s"""WITH cent AS MATERIALIZED ($embedCentroidsSql),
       |cv AS (SELECT grp, list(value ORDER BY dim) AS cvec FROM cent GROUP BY grp),
       |e AS (SELECT vec_id AS id, label AS grp, embedding AS vec
       |      FROM embeddings WHERE vec_id <> 0)
       |SELECT vec_id, label, cosine FROM (
       |  SELECT e.id AS vec_id, e.grp AS label,
       |    ${cosineSql("e.vec", "c.cvec")} AS cosine,
       |    row_number() OVER (PARTITION BY e.grp
       |      ORDER BY ${cosineSql("e.vec", "c.cvec")} ASC, e.id ASC) AS rn
       |  FROM e JOIN cv c ON e.grp = c.grp) t
       |WHERE rn <= 3""".stripMargin

  /** Mirrors `Multimodal.features` over the documents fixture —
    * every fixture payload is ASCII text with no image magic bytes
    * (verified: no `BM`/`GIF8` prefixes; JPEG/PNG magics are
    * non-ASCII), so ImageIO finds no reader and every row takes the
    * DETERMINISTIC stub: h = mix64(fnv64(utf8 bytes)),
    * width = 64 + |h| mod 1920, height = 64 + (h >>> 11) mod 1080,
    * n_frames = 1 + (h >>> 23) mod 32 (`Multimodal.decodeStub`). The
    * real-image decode path is ground-truth-tested in ScalaTest
    * against `javax.imageio` — this oracle covers the stub contract
    * the catalog query actually exercises. */
  private val multimodalDecodeSql: String =
    s"""WITH f0 AS MATERIALIZED (
       |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
       |         ${HashSql.textFnvU("text")} AS x
       |  FROM documents),
       |${HashSql.mixCtes("f", "f0", "doc_id, byte_len")}
       |SELECT doc_id, byte_len,
       |  CAST(64 + (abs(hs) % 1920) AS INTEGER) AS width,
       |  CAST(64 + ((x // 2048) % 1080) AS INTEGER) AS height,
       |  CAST(1 + ((x // 8388608) % 32) AS INTEGER) AS n_frames,
       |  hs AS feat_hash
       |FROM (SELECT doc_id, byte_len, x, ${HashSql.toS("x")} AS hs FROM f4) t""".stripMargin

  /** Recursive-CTE transitive closure over the embedding near-dup
    * pairs: every label reachable through the undirected edge set
    * propagates, and min(label) per id = the component's minimum id —
    * exactly Dedup.connectedComponents' min-label fixpoint (integer
    * arithmetic only, so the match is exact by construction). */
  private def dedupComponentsSqlFor(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED ($pairsSql),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id
       |)
       |SELECT id, min(label) AS rep FROM labels GROUP BY id""".stripMargin

  private val dedupComponentsSql: String =
    dedupComponentsSqlFor(dedupEmbeddingSql)

  /** Mirrors [[qDedupClusterSizes]]: the recursive closure over the
    * CAPPED pairs (maxBucketSize=12 replayed by the QUALIFY bucket
    * filter in [[embeddingPairsSql]]) as a derived table, singletons
    * joined in from the full vector universe, then the size-of-sizes
    * double aggregate. */
  private val dedupClusterSizesSql: String =
    s"""WITH lab AS MATERIALIZED (
       |  SELECT coalesce(c.rep, e.vec_id) AS rep
       |  FROM embeddings e LEFT JOIN (${dedupComponentsSqlFor(embeddingPairsSql(Some(12)))}) c
       |    ON e.vec_id = c.id),
       |sz AS (SELECT rep, count(*) AS size FROM lab GROUP BY 1)
       |SELECT size, count(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin

  /** Mirrors [[qTextBpe]] ([[graft.operators.Bpe.train]], n rounds):
    * the merge loop unrolled as n chained CTE stages (the PageRank
    * replay technique). Stage i recomputes the pair histogram of word
    * table w{i} (overlapping adjacent counts, freq-weighted), takes
    * the (cnt DESC, a, b) argmax, and derives w{i+1} with the same
    * `<a><b>` → `<ab>` string replace the engine runs — both engines'
    * `replace` scans left-to-right non-overlapping, which IS greedy
    * BPE, and the `<`/`>` walls make overlap impossible anyway. */
  private def textBpeSql(n: Int, segment: Boolean = false): String = {
    val sel =
      if (segment)
        // inference readout: the final word state IS the segmentation
        s"""SELECT word, freq,
           |  CAST(len(regexp_extract_all(symseq, '<([^>]*)>', 1)) AS BIGINT) AS n_subwords,
           |  symseq
           |FROM w$n""".stripMargin
      else (0 until n).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_idx, a AS left_sym, b AS right_sym, " +
          s"a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM m$i")
        .mkString("\nUNION ALL\n")
    s"""WITH ${textBpeCtes(n)}
       |$sel""".stripMargin
  }

  /** The [[textBpeSql]] merge-loop unroll as a composable CTE chain
    * ending at the final word state `w<n>` — shared by the train /
    * segment readouts and the BPE-costed pack walk
    * ([[packBinsBpeSql]]). */
  private def textBpeCtes(n: Int): String = {
    val stages = (0 until n).map { i =>
      s"""p$i AS (
         |  SELECT a, b, SUM(freq) AS cnt FROM (
         |    SELECT freq, syms[j] AS a, syms[j + 1] AS b
         |    FROM (SELECT freq, regexp_extract_all(symseq, '<([^>]*)>', 1) AS syms
         |          FROM w$i) t,
         |         unnest(range(1, len(syms))) r(j)) pr
         |  GROUP BY a, b),
         |m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |w${i + 1} AS MATERIALIZED (SELECT word, freq,
         |  replace(symseq, '<' || m.a || '><' || m.b || '>', '<' || m.a || m.b || '>') AS symseq
         |  FROM w$i, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT word, count(*) AS freq FROM (
       |  SELECT unnest($tokensLowerSql) AS word FROM documents) tw
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY word),
       |w0 AS MATERIALIZED (SELECT word, freq,
       |  regexp_replace(word, '(.)', '<\\1>', 'g') AS symseq FROM wf),
       |$stages""".stripMargin
  }

  // Mirrors [[qMultimodalAudio]]: the WAV/MP3 payloads are BUILT from
  // (doc_id, strlen(text)) by a fixed contract, so every parsed header
  // field replays as integer SQL — sample counts are floor divisions
  // over the truncated PCM data size, the MP3 duration the standard
  // bytes·8/kbps CBR estimate over the post-ID3 payload (4 header
  // bytes + text bytes).
  /** Mirrors [[qMultimodalImageDups]]: the construction recipe's 64
    * cell lumas per doc (blockwise-constant content makes the decoded
    * aHash cells EQUAL the recipe values), floor mean, bit build in
    * the unsigned HUGEINT domain, the 4×16-bit pigeonhole block join,
    * `bit_count` verify — the [[dedupSimhashSql]] machinery pointed
    * at pixels instead of shingles. */
  private def multimodalImageDupsSql(maxBucketSize: Option[Int] = None): String = {
    def pw(j: Int) =
      s"CAST('${java.math.BigInteger.ONE.shiftLeft(j)}' AS HUGEINT)"
    val pows = (0 until 64).map(i => s"($i, ${pw(i)})").mkString(", ")
    // the capBuckets mirror (as minhashPairsSql): keep only hash-block
    // buckets within the cap before the self-join
    val blkCte = maxBucketSize match {
      case Some(cap) =>
        s"""blk AS MATERIALIZED (SELECT b.id, b.sim, b.blk_idx, b.blk_val FROM blk0 b
           |  JOIN (SELECT blk_idx, blk_val FROM blk0 GROUP BY blk_idx, blk_val
           |        HAVING count(*) <= $cap) g
           |    ON b.blk_idx = g.blk_idx AND b.blk_val = g.blk_val)""".stripMargin
      case None =>
        "blk AS MATERIALIZED (SELECT id, sim, blk_idx, blk_val FROM blk0)"
    }
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |                     ((CAST(doc_id AS BIGINT) // 3) % 100003) AS a,
       |                     (CAST(doc_id AS BIGINT) % 3) AS v
       |              FROM documents),
       |grid AS (SELECT gx, gy, gy * 8 + gx AS i
       |         FROM (SELECT unnest(range(0, 8)) AS gx) X
       |         CROSS JOIN (SELECT unnest(range(0, 8)) AS gy) Y),
       |cells AS MATERIALIZED (
       |  SELECT b.id, g.i,
       |    CASE WHEN b.v = 2 AND g.gx = 0 AND g.gy = 0
       |         THEN ((g.gx * (b.a + 3) + g.gy * (2 * b.a + 1)) * 37 + 11 * b.a + 120) % 256
       |         ELSE ((g.gx * (b.a + 3) + g.gy * (2 * b.a + 1)) * 37 + 11 * b.a) % 256 END AS cell
       |  FROM base b CROSS JOIN grid g),
       |means AS (SELECT id, SUM(cell) // 64 AS mean FROM cells GROUP BY id),
       |pows(i, p) AS (VALUES $pows),
       |sims AS MATERIALIZED (
       |  SELECT c.id, simu, ${HashSql.toS("simu")} AS sim FROM (
       |    SELECT c2.id,
       |      SUM(CASE WHEN c2.cell > m.mean THEN pw.p ELSE CAST(0 AS HUGEINT) END) AS simu
       |    FROM cells c2 JOIN means m ON m.id = c2.id JOIN pows pw ON pw.i = c2.i
       |    GROUP BY c2.id) c),
       |blk0 AS MATERIALIZED (
       |  SELECT id, sim, j AS blk_idx,
       |    CAST((simu // (CASE j WHEN 0 THEN ${pw(0)} WHEN 1 THEN ${pw(16)}
       |                   WHEN 2 THEN ${pw(32)} ELSE ${pw(48)} END)) % 65536 AS BIGINT) AS blk_val
       |  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS j) J),
       |$blkCte
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |  FROM blk a JOIN blk b ON a.blk_idx = b.blk_idx AND a.blk_val = b.blk_val
       |                       AND a.id < b.id) t
       |WHERE hamming <= 3""".stripMargin
  }

  /** Mirrors [[qMultimodalAudioDups]]: samples from the construction
    * recipe, per-frame |sample| energies, adjacent-frame contour
    * bits, then the identical 16-bit-block pigeonhole pair replay as
    * [[multimodalImageDupsSql]]. */
  private val multimodalAudioDupsSql: String = {
    def pw(j: Int) =
      s"CAST('${java.math.BigInteger.ONE.shiftLeft(j)}' AS HUGEINT)"
    val pows = (0 until 64).map(i => s"($i, ${pw(i)})").mkString(", ")
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |                     ((CAST(doc_id AS BIGINT) // 3) % 100003) AS a,
       |                     (CAST(doc_id AS BIGINT) % 3) AS v
       |              FROM documents),
       |idx AS (SELECT unnest(range(0, 640)) AS i),
       |samp0 AS (SELECT b.id, b.v, x.i // 10 AS k,
       |    ((b.a + 1) * (x.i + 1) * 37 + 11 * b.a) % 2003 - 1001 AS raw
       |  FROM base b CROSS JOIN idx x),
       |en AS MATERIALIZED (SELECT id, k, SUM(abs(
       |    CASE WHEN v = 1 THEN raw * 2
       |         WHEN v = 2 AND k = 20 THEN raw + 4000
       |         ELSE raw END)) AS e
       |  FROM samp0 GROUP BY id, k),
       |bits AS MATERIALIZED (SELECT ea.id, ea.k AS i,
       |    CASE WHEN ea.e > eb.e THEN 1 ELSE 0 END AS bit
       |  FROM en ea JOIN en eb ON ea.id = eb.id AND eb.k = (ea.k + 1) % 64),
       |pows(i, p) AS (VALUES $pows),
       |sims AS MATERIALIZED (
       |  SELECT c.id, simu, ${HashSql.toS("simu")} AS sim FROM (
       |    SELECT b2.id,
       |      SUM(CASE WHEN b2.bit = 1 THEN pw.p ELSE CAST(0 AS HUGEINT) END) AS simu
       |    FROM bits b2 JOIN pows pw ON pw.i = b2.i
       |    GROUP BY b2.id) c),
       |blk AS MATERIALIZED (
       |  SELECT id, sim, j AS blk_idx,
       |    CAST((simu // (CASE j WHEN 0 THEN ${pw(0)} WHEN 1 THEN ${pw(16)}
       |                   WHEN 2 THEN ${pw(32)} ELSE ${pw(48)} END)) % 65536 AS BIGINT) AS blk_val
       |  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS j) J)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |  FROM blk a JOIN blk b ON a.blk_idx = b.blk_idx AND a.blk_val = b.blk_val
       |                       AND a.id < b.id) t
       |WHERE hamming <= 3""".stripMargin
  }

  /** Mirrors [[qMultimodalVideoDups]]: sample sizes from the
    * construction recipe, per-bucket size sums, adjacent-bucket
    * contour bits, then the identical 16-bit-block pigeonhole pair
    * replay as [[multimodalAudioDupsSql]]. */
  private val multimodalVideoDupsSql: String = {
    def pw(j: Int) =
      s"CAST('${java.math.BigInteger.ONE.shiftLeft(j)}' AS HUGEINT)"
    val pows = (0 until 64).map(i => s"($i, ${pw(i)})").mkString(", ")
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |                     ((CAST(doc_id AS BIGINT) // 3) % 100003) AS a,
       |                     (CAST(doc_id AS BIGINT) % 3) AS v
       |              FROM documents),
       |idx AS (SELECT unnest(range(0, 320)) AS i),
       |samp0 AS (SELECT b.id, b.v, x.i // 5 AS k,
       |    ((b.a + 1) * (x.i + 1) * 53 + 7 * b.a) % 9001 + 100 AS raw
       |  FROM base b CROSS JOIN idx x),
       |en AS MATERIALIZED (SELECT id, k, SUM(
       |    CASE WHEN v = 1 THEN raw * 3
       |         WHEN v = 2 AND k = 20 THEN raw + 40000
       |         ELSE raw END) AS e
       |  FROM samp0 GROUP BY id, k),
       |bits AS MATERIALIZED (SELECT ea.id, ea.k AS i,
       |    CASE WHEN ea.e > eb.e THEN 1 ELSE 0 END AS bit
       |  FROM en ea JOIN en eb ON ea.id = eb.id AND eb.k = (ea.k + 1) % 64),
       |pows(i, p) AS (VALUES $pows),
       |sims AS MATERIALIZED (
       |  SELECT c.id, simu, ${HashSql.toS("simu")} AS sim FROM (
       |    SELECT b2.id,
       |      SUM(CASE WHEN b2.bit = 1 THEN pw.p ELSE CAST(0 AS HUGEINT) END) AS simu
       |    FROM bits b2 JOIN pows pw ON pw.i = b2.i
       |    GROUP BY b2.id) c),
       |blk AS MATERIALIZED (
       |  SELECT id, sim, j AS blk_idx,
       |    CAST((simu // (CASE j WHEN 0 THEN ${pw(0)} WHEN 1 THEN ${pw(16)}
       |                   WHEN 2 THEN ${pw(32)} ELSE ${pw(48)} END)) % 65536 AS BIGINT) AS blk_val
       |  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS j) J)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
       |  FROM blk a JOIN blk b ON a.blk_idx = b.blk_idx AND a.blk_val = b.blk_val
       |                       AND a.id < b.id) t
       |WHERE hamming <= 3""".stripMargin
  }

  /** Mirrors [[qChatParse]]: the transcript recipe replayed as pure
    * integer SQL — JSON-safe word count `n` per document, `k + sys`
    * generated turn indexes, the role CASE, and slice sizes as
    * floor-boundary differences `⌊(j+1)n/k⌋ - ⌊jn/k⌋` (so Σ = n
    * exactly, no turn double-counts a word). */
  private val chatTurnsSql: String =
    s"""WITH chat_src AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |    CAST(len(list_filter($tokensLowerSql,
       |      x -> regexp_matches(x, '^[a-z0-9]+$$'))) AS BIGINT) AS n
       |  FROM documents),
       |chat_par AS (SELECT id, n, 2 + id % 5 AS k,
       |    CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END AS sys
       |  FROM chat_src),
       |chat_t AS (SELECT id, n, k, sys,
       |    CAST(unnest(range(0, k + sys)) AS BIGINT) AS ti
       |  FROM chat_par)
       |SELECT id AS doc_id, ti AS turn_idx,
       |  CASE WHEN ti < sys THEN 'system'
       |       WHEN ti - sys = 0 AND id % 17 = 0 THEN 'tool'
       |       WHEN ti - sys = 1 AND id % 11 = 0 THEN 'user'
       |       WHEN (ti - sys) % 2 = 0 THEN 'user'
       |       ELSE 'assistant' END AS role,
       |  CAST(CASE WHEN ti < sys THEN 2
       |       WHEN ti - sys = k - 1 AND id % 13 = 0 THEN 0
       |       ELSE ((ti - sys + 1) * n) // k - ((ti - sys) * n) // k
       |       END AS BIGINT) AS n_tokens
       |FROM chat_t""".stripMargin

  /** The [[qChatValidate]] per-conversation fold over any turn
    * relation `turnsRel` (columns doc_id/turn_idx/role/n_tokens) —
    * role-whitelist / opening-shape / lag-based alternation /
    * nonempty flags plus per-role token sums, the exact aggregate set
    * `Chat.validateTurns` computes over parsed turns. Parameterized
    * so the standalone validate query and the packing composition
    * share one flag definition; `roles` widens the whitelist for the
    * agentic composition exactly as `validateTurns`' roles param. */
  private def chatFlagsSql(
      turnsRel: String,
      roles: Seq[String] = Seq("system", "user", "assistant")): String = {
    val roleList = roles.map(r => s"'$r'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_turns,
       |  CAST(SUM(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS BIGINT) AS n_system,
       |  CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       |  CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       |  CAST(SUM(CASE WHEN role = 'user' THEN n_tokens ELSE 0 END) AS BIGINT) AS user_tokens,
       |  CAST(SUM(CASE WHEN role = 'assistant' THEN n_tokens ELSE 0 END) AS BIGINT) AS assistant_tokens,
       |  (MAX(CASE WHEN role NOT IN ($roleList)
       |       THEN 1 ELSE 0 END) = 0) AS roles_ok,
       |  ((MAX(CASE WHEN turn_idx = 0 AND role = 'user' THEN 1 ELSE 0 END) = 1
       |    OR (MAX(CASE WHEN turn_idx = 0 AND role = 'system' THEN 1 ELSE 0 END) = 1
       |        AND MAX(CASE WHEN turn_idx = 1 AND role = 'user' THEN 1 ELSE 0 END) = 1))
       |   AND MAX(CASE WHEN role = 'system' AND turn_idx > 0
       |           THEN 1 ELSE 0 END) = 0) AS starts_ok,
       |  (MAX(CASE WHEN prev_role = role THEN 1 ELSE 0 END) = 0) AS alternation_ok,
       |  (MAX(CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END) = 0) AS nonempty_ok
       |FROM (SELECT *, lag(role) OVER
       |        (PARTITION BY doc_id ORDER BY turn_idx) AS prev_role
       |      FROM $turnsRel) chat_lagged
       |GROUP BY doc_id""".stripMargin
  }

  /** Mirrors [[qChatValidate]]: [[chatFlagsSql]] over the
    * [[chatTurnsSql]] turn rows plus the conjunction column. */
  private val chatValidateSql: String =
    s"""WITH chat_turns AS ($chatTurnsSql),
       |chat_f AS (${chatFlagsSql("chat_turns")})
       |SELECT *, (roles_ok AND starts_ok AND alternation_ok AND nonempty_ok) AS valid
       |FROM chat_f""".stripMargin

  /** Mirrors [[qChatPack]]: valid conversations (the [[chatFlagsSql]]
    * conjunction) costed as Σ turn tokens + 4·turns, then the
    * [[packBinsSql]] greedy next-fit recursive replay at capacity
    * 512, loss-mask (assistant-token) mass carried through. */
  /** [[qChatPack]]'s oracle, BPE-costed: valid conversations only
    * (the flag set excludes every tool-role / misordered / empty-turn
    * pathology, so within them turn j's role is user/assistant by
    * parity and every content slice is non-empty), each word position
    * mapped to its turn by the same `(pos*k - 1) // n` slice inverse
    * the SFT replay uses, costed through the shared frozen-merge
    * unroll; + the system turn's template words; + 4/turn. */
  private val chatPackSql: String =
    s"""WITH RECURSIVE ${textBpeCtes(8)},
       |chat_turns AS ($chatTurnsSql),
       |chat_f AS (${chatFlagsSql("chat_turns")}),
       |chatb_ok AS (SELECT doc_id FROM chat_f
       |  WHERE roles_ok AND starts_ok AND alternation_ok AND nonempty_ok),
       |chatb_par AS (SELECT id, w, CAST(len(w) AS BIGINT) AS n,
       |    CAST(2 + id % 5 AS BIGINT) AS k,
       |    CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END AS sys
       |  FROM (SELECT CAST(doc_id AS BIGINT) AS id,
       |          list_filter($tokensLowerSql,
       |            x -> regexp_matches(x, '^[a-z0-9]+$$')) AS w
       |        FROM documents) src),
       |chatb_pos AS MATERIALIZED (
       |  SELECT q.id, q.n, q.k, q.sys, r.i AS pos, q.w[r.i] AS word
       |  FROM chatb_par q JOIN chatb_ok o ON o.doc_id = q.id,
       |       unnest(range(1, q.n + 1)) r(i)),
       |${bpeWsubCtes("chatb_", "chatb_pos", Seq("be", "concise"))},
       |chatb_cost AS MATERIALIZED (
       |  SELECT q.id, q.id % 8 AS grp,
       |    CAST(SUM(ws.n_sub)
       |      + MAX(q.sys) * ((SELECT n_sub FROM chatb_wsub WHERE word = 'be')
       |          + (SELECT n_sub FROM chatb_wsub WHERE word = 'concise'))
       |      + 4 * MAX(q.k + q.sys) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN ((q.pos * q.k - 1) // q.n) % 2 = 1
       |             THEN ws.n_sub ELSE 0 END) AS BIGINT) AS loss_tokens
       |  FROM chatb_pos q JOIN chatb_wsub ws ON q.word = ws.word
       |  GROUP BY q.id),
       |${packWalkCtes("", "chatb_cost", 512, carry = Seq("loss_tokens"))}
       |SELECT id AS doc_id, grp, n AS n_tokens, bin AS bin_id, loss_tokens
       |FROM walk""".stripMargin

  /** Mirrors [[qPrefValidate]]: the triple construction rebuilt with
    * `list_slice`/`array_to_string` (1-based inclusive slicing over
    * the SAME whitespace token list), the 8× inflation as
    * `s || repeat(' ' || s, 7)` (exactly `mkString(" ")` of 8
    * copies), then every flag as the identical integer/string
    * predicate set. */
  /** The [[prefTriples]] construction as a reusable CTE chain ending
    * in `pref_d (id, prompt, chosen, rejected)` — shared by the
    * validate and conflict mirrors. */
  private val prefTriplesCtes: String =
    s"""pref_t AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |    $tokensSql AS w, CAST(len($tokensSql) AS BIGINT) AS n
       |  FROM documents),
       |pref_b AS (SELECT id,
       |    array_to_string(list_slice(w, 1, n // 3), ' ') AS prompt,
       |    array_to_string(list_slice(w, n // 3 + 1, (2 * n) // 3), ' ') AS c0,
       |    array_to_string(list_slice(w, (2 * n) // 3 + 1, n), ' ') AS r0
       |  FROM pref_t),
       |pref_c AS (SELECT id, prompt, r0,
       |    CASE WHEN id % 13 = 0 THEN ''
       |         WHEN id % 17 = 0 THEN c0 || repeat(' ' || c0, 7)
       |         ELSE c0 END AS chosen
       |  FROM pref_b),
       |pref_d AS (SELECT id, prompt, chosen,
       |    CASE WHEN id % 9 = 0 THEN chosen ELSE r0 END AS rejected
       |  FROM pref_c)""".stripMargin

  private val prefValidateSql: String = {
    val nt = "CAST(len(list_filter(regexp_split_to_array(%s, " +
      s"'$ws+'), x -> x <> ''))" + " AS BIGINT)"
    s"""WITH $prefTriplesCtes,
       |pref_f AS (SELECT id AS doc_id,
       |    ${nt.format("prompt")} AS prompt_tokens,
       |    ${nt.format("chosen")} AS chosen_tokens,
       |    ${nt.format("rejected")} AS rejected_tokens,
       |    (chosen <> rejected) AS distinct_ok
       |  FROM pref_d),
       |pref_g AS (SELECT *,
       |    (prompt_tokens > 0 AND chosen_tokens > 0 AND rejected_tokens > 0)
       |      AS nonempty_ok,
       |    (chosen_tokens * 1000 <= 4000 * rejected_tokens
       |     AND rejected_tokens * 1000 <= 4000 * chosen_tokens) AS ratio_ok
       |  FROM pref_f)
       |SELECT *, (distinct_ok AND nonempty_ok AND ratio_ok) AS valid
       |FROM pref_g""".stripMargin
  }

  /** Mirrors [[qChatDedup]]: the conversation's trainable token
    * sequence rebuilt directly from the transcript recipe (optional
    * ['be','concise'] system prefix, then the word list cut short
    * when `id%13` empties the final turn — slice boundaries telescope,
    * so the concatenated turns ARE the first `⌊(k-1)n/k⌋` or all `n`
    * words), re-rooted into the standard capped-MinHash replay. */
  private val chatDedupSql: String =
    s"""WITH conv_src AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |    list_filter($tokensLowerSql,
       |      x -> regexp_matches(x, '^[a-z0-9]+$$')) AS w
       |  FROM documents),
       |conv_par AS (SELECT id, w, CAST(len(w) AS BIGINT) AS n,
       |    2 + id % 5 AS k FROM conv_src),
       |conv AS MATERIALIZED (SELECT id AS doc_id, array_to_string(
       |    (CASE WHEN id % 7 = 0 THEN ['be', 'concise']
       |          ELSE CAST([] AS VARCHAR[]) END)
       |    || list_slice(w, 1,
       |         CASE WHEN id % 13 = 0 THEN ((k - 1) * n) // k ELSE n END),
       |    ' ') AS text
       |  FROM conv_par),
       |chat_pairs AS MATERIALIZED (
       |${minhashPairsSql(3, 64, 16, 0.5, Some(12), from = "conv")})
       |SELECT * FROM chat_pairs""".stripMargin

  /** Mirrors [[qPipelineIngest]] as one CTE pyramid: payload build →
    * [[graft.functions.TextFunctions.encodingOkSql]] gate →
    * strip+normalize (aliased back to `text` so the shared quality /
    * lang / token constants apply verbatim) → gate → rollup. */
  private val pipelineIngestSql: String = {
    val raw = s"('$htmlPrefix' || text || '$htmlSuffix'" +
      " || CASE WHEN doc_id % 23 = 0 THEN chr(65533) ELSE '' END)"
    val cleaned = TextFunctions.normalizeTextSql(
      TextFunctions.stripBoilerplateSql("raw"))
    s"""WITH pi_raw AS (SELECT doc_id, source, $raw AS raw FROM documents),
       |pi_clean AS (SELECT doc_id, source, $cleaned AS text
       |  FROM pi_raw WHERE ${TextFunctions.encodingOkSql("raw")}),
       |pi_b AS (SELECT doc_id, source, text, $langBestSql AS __best
       |  FROM pi_clean),
       |pi_g AS (SELECT source,
       |    $langPredCaseSql AS lang_pred,
       |    $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |      + (1.0 - $punctRatioSql) * 0.1 AS quality,
       |    $nTokensSql AS n_tokens
       |  FROM pi_b),
       |pi_f AS (SELECT * FROM pi_g WHERE lang_pred = 'en'
       |  AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 1000)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
       |    AS mean_quality
       |FROM pi_f GROUP BY source""".stripMargin
  }

  /** Mirrors [[qSampleEpochsApply]]: the [[sampleEpochsSql]] rate
    * arithmetic extended to ppm, the salted staged-SplitMix64
    * residual, integer copy counts, `range()` copy expansion. */
  private val sampleEpochsApplySql: String = {
    val salt = graft.functions.Hashing.salts(1, 19L).head
    s"""WITH eaa_t AS (SELECT source,
       |    CAST(SUM($nTokensSql) AS BIGINT) AS total_tokens
       |  FROM documents GROUP BY source),
       |eaa_w AS (SELECT source, total_tokens,
       |    CAST(100 + (length(source) * 37) % 200 AS BIGINT) AS weight
       |  FROM eaa_t),
       |eaa_s AS (SELECT *, SUM(weight) OVER () AS sumw FROM eaa_w),
       |eaa_r AS (SELECT source,
       |    CAST((2000000 * weight // sumw) * 1000000
       |         // greatest(total_tokens, 1) AS BIGINT) AS rate_ppm
       |  FROM eaa_s),
       |eaa_m0 AS MATERIALIZED (SELECT doc_id, source,
       |    ${HashSql.ux("CAST(doc_id AS HUGEINT)", HashSql.u(salt))} AS x
       |  FROM documents),
       |${HashSql.mixCtes("eaa_m", "eaa_m0", "doc_id, source")},
       |eaa_c AS (SELECT m.doc_id, m.source,
       |    r.rate_ppm // 1000000
       |      + CASE WHEN (m.x // 2) % 1000000 < r.rate_ppm % 1000000
       |             THEN 1 ELSE 0 END AS n_copies
       |  FROM eaa_m4 m JOIN eaa_r r ON r.source = m.source)
       |SELECT doc_id, source,
       |  CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
       |FROM eaa_c WHERE n_copies > 0""".stripMargin
  }

  /** Mirrors [[qTextEncoding]]: the corruption rebuilt with `chr()`
    * codepoints (no raw control bytes in the SQL text), counts via
    * the same RE2 classes spelled with `\\x{...}` escapes. */
  private val textEncodingSql: String = {
    val ctrl = TextFunctions.badControlPattern
    s"""WITH enc_t AS (SELECT doc_id, text
       |  || CASE WHEN doc_id % 7 = 0
       |     THEN ' ' || chr(195) || chr(169) || chr(195) || chr(168) ELSE '' END
       |  || CASE WHEN doc_id % 11 = 0 THEN chr(65533) || chr(65533) ELSE '' END
       |  || CASE WHEN doc_id % 13 = 0 THEN chr(1) ELSE '' END
       |  || CASE WHEN doc_id % 17 = 0 THEN chr(160) ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '\\x{FFFD}')) AS BIGINT) AS n_replacement,
       |  CAST(len(regexp_extract_all(t, '[\\x{C3}\\x{C2}][\\x{80}-\\x{BF}]'))
       |       AS BIGINT) AS n_mojibake,
       |  CAST(len(regexp_extract_all(t, '$ctrl')) AS BIGINT) AS n_controls,
       |  CAST(len(regexp_extract_all(t, '\\x{A0}')) AS BIGINT) AS n_nbsp,
       |  (len(regexp_extract_all(t, '\\x{FFFD}')) = 0
       |   AND len(regexp_extract_all(t, '[\\x{C3}\\x{C2}][\\x{80}-\\x{BF}]')) = 0
       |   AND len(regexp_extract_all(t, '$ctrl')) = 0
       |   AND len(regexp_extract_all(t, '\\x{A0}')) = 0) AS encoding_ok
       |FROM enc_t""".stripMargin
  }

  /** The [[qManifestMerge]] replay as a composable CTE chain ending
    * in `mm_cnt` (per-source counters) and `mm_e` (the k=16 KMV
    * distinct estimate) over `from` — parameterized so the forget
    * oracle can re-root the identical flag-for-flag replay on the
    * RETAINED corpus. */
  private def manifestMergeCtes(from: String): String =
    s"""mm_cnt AS (SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM($nTokensSql) AS BIGINT) AS total_tokens,
       |    SUM(CAST($alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |      + (1.0 - $punctRatioSql) * 0.1 AS DECIMAL(18,9))) AS q_sum
       |  FROM $from GROUP BY source),
       |mm_c0 AS (SELECT doc_id, source,
       |    trim(regexp_replace(lower(text), '$ws+', ' ', 'g')) AS ctext
       |  FROM $from),
       |mm_f0 AS (SELECT doc_id, source, ${HashSql.textFnvU("ctext")} AS x
       |  FROM mm_c0),
       |${HashSql.mixCtes("mm_f", "mm_f0", "doc_id, source")},
       |mm_g AS (SELECT source, list_sort(list_distinct(list(x))) AS xs
       |  FROM mm_f4 GROUP BY source),
       |mm_sk AS (SELECT source,
       |    CAST(least(len(xs), 16) AS BIGINT) AS n_kept,
       |    (CASE WHEN len(xs) >= 16 THEN xs[16] ELSE NULL END) AS kth_u
       |  FROM mm_g),
       |mm_e AS (SELECT source,
       |    CAST(CASE WHEN kth_u IS NULL THEN n_kept
       |         ELSE (CAST('${(BigInt(15) << 64).toString}' AS HUGEINT) // kth_u)
       |         END AS BIGINT) AS uniq_est
       |  FROM mm_sk)""".stripMargin

  /** Mirrors [[qManifestMerge]] from the FULL corpus (never from the
    * halves): per-source counters + the [[profileKmvSql]] k=16 sketch
    * replay — KMV's exact closure means the Spark side's merged batch
    * states must land on the same numbers. */
  private val manifestMergeSql: String =
    s"""WITH ${manifestMergeCtes("documents")}
       |SELECT c.source, n_docs, total_tokens, uniq_est,
       |  CAST(greatest(n_docs - uniq_est, 0) * 1000 // n_docs AS BIGINT)
       |    AS dup_est_permille,
       |  CAST(q_sum AS DOUBLE) / n_docs AS mean_quality
       |FROM mm_cnt c JOIN mm_e e ON e.source = c.source""".stripMargin

  /** Mirrors [[qForget]] from a corpus that NEVER ingested the
    * deleted docs: the [[dedupAgainstHitsCtes]] chain with
    * corpusPred = retained (%10<8 AND %7<>3), the line-df histogram
    * over retained multi-line payloads ([[dedupLinesSql]]'s
    * split/trim idioms), and the [[manifestMergeCtes]] replay
    * re-rooted on the retained corpus — three parts under one
    * (part, k, v) schema, so hash-green IS "delete ≡ never
    * ingested" across all three standing surfaces. */
  private val forgetSql: String =
    s"""WITH ${dedupAgainstHitsCtes(
              c => s"$c % 10 >= 8",
              c => s"($c % 10 < 8 AND $c % 7 <> 3)")},
       |fg_src AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS t
       |  FROM documents WHERE doc_id % 10 < 8 AND doc_id % 7 <> 3),
       |fg_lines AS (SELECT doc_id,
       |    trim(unnest(string_split(t, chr(10)))) AS line FROM fg_src),
       |fg_ne AS (SELECT DISTINCT doc_id, line FROM fg_lines WHERE line <> ''),
       |fg_df AS (SELECT line, CAST(count(*) AS BIGINT) AS line_df
       |  FROM fg_ne GROUP BY line),
       |fg_hist AS (SELECT line_df, CAST(count(*) AS BIGINT) AS n_lines
       |  FROM fg_df GROUP BY line_df),
       |${manifestMergeCtes(
              "(SELECT * FROM documents WHERE doc_id % 10 < 8 AND doc_id % 7 <> 3)")}
       |SELECT 'dedup' AS part, CAST(doc_id AS VARCHAR) AS k, 'survivor' AS v
       |FROM documents WHERE doc_id % 10 >= 8
       |  AND doc_id NOT IN (SELECT doc_id FROM exact_hit)
       |  AND doc_id NOT IN (SELECT doc_id FROM lsh_hit)
       |UNION ALL
       |SELECT 'line', CAST(line_df AS VARCHAR), CAST(n_lines AS VARCHAR)
       |FROM fg_hist
       |UNION ALL
       |SELECT 'manifest', c.source,
       |  CAST(n_docs AS VARCHAR) || ':' || CAST(total_tokens AS VARCHAR)
       |    || ':' || CAST(uniq_est AS VARCHAR) || ':' ||
       |    CAST(CAST(greatest(n_docs - uniq_est, 0) * 1000 // n_docs AS BIGINT)
       |         AS VARCHAR)
       |FROM mm_cnt c JOIN mm_e e ON e.source = c.source""".stripMargin

  /** Mirrors [[qCurriculum]]: the shared quality expression, ntile
    * over the identical (quality DESC, doc_id ASC) per-source window,
    * and the salted staged-SplitMix64 order key with the signed
    * BIGINT read-out. */
  private val curriculumSql: String = {
    val salt = graft.functions.Hashing.salts(1, 17L).head
    s"""WITH cur_q AS (SELECT doc_id, source,
       |    $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |      + (1.0 - $punctRatioSql) * 0.1 AS quality
       |  FROM documents),
       |cur_p AS (SELECT doc_id, source, quality,
       |    CAST(ntile(4) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id ASC) AS BIGINT) AS phase
       |  FROM cur_q),
       |cur_m0 AS MATERIALIZED (SELECT doc_id, source, quality, phase,
       |    ${HashSql.ux("CAST(doc_id AS HUGEINT)", HashSql.u(salt))} AS x
       |  FROM cur_p),
       |${HashSql.mixCtes("cur_m", "cur_m0", "doc_id, source, quality, phase")}
       |SELECT doc_id, source, quality, phase, ${HashSql.toS("x")} AS order_key
       |FROM cur_m4""".stripMargin
  }

  /** Mirrors [[qChatTools]]: the agentic-trace recipe regenerated as
    * a turn table (role / n_calls / rogue-name marker per generated
    * index), then the IDENTICAL lag/lead protocol aggregates
    * `Chat.validateToolUse` folds over the parsed JSON. */
  private val chatToolsSql: String =
    s"""WITH tc_c AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
       |tc_p AS (SELECT id, (id % 4 = 0) AS has_call,
       |    (id % 19 = 0 AND NOT (id % 4 = 0)) AS orphan,
       |    (id % 23 = 0 AND id % 4 = 0) AS unanswered,
       |    (id % 29 = 0 AND id % 4 = 0) AS rogue,
       |    CAST(1 + id % 2 AS BIGINT) AS k
       |  FROM tc_c),
       |tc_n AS (SELECT *, CASE WHEN has_call AND NOT unanswered THEN 4
       |                        WHEN has_call THEN 3
       |                        WHEN orphan THEN 3 ELSE 2 END AS nt
       |  FROM tc_p),
       |tc_t AS (SELECT id, has_call, unanswered, orphan, rogue, k,
       |    CAST(unnest(range(0, nt)) AS BIGINT) AS ti
       |  FROM tc_n),
       |tc_r AS (SELECT id, ti AS turn_idx,
       |    CASE WHEN ti = 0 THEN 'user'
       |         WHEN has_call AND ti = 1 THEN 'assistant'
       |         WHEN has_call AND NOT unanswered AND ti = 2 THEN 'tool'
       |         WHEN orphan AND ti = 1 THEN 'tool'
       |         ELSE 'assistant' END AS role,
       |    CASE WHEN has_call AND ti = 1 THEN k ELSE 0 END AS n_calls,
       |    (rogue AND ti = 1) AS has_rogue
       |  FROM tc_t),
       |tc_l AS (SELECT *,
       |    lag(role) OVER w AS pr, lag(n_calls) OVER w AS pc,
       |    lead(role) OVER w AS nr
       |  FROM tc_r WINDOW w AS (PARTITION BY id ORDER BY turn_idx)),
       |tc_f AS (SELECT id AS doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_turns,
       |    CAST(SUM(n_calls) AS BIGINT) AS n_tool_calls,
       |    CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_tool_turns,
       |    (MAX(CASE WHEN role = 'tool' AND NOT COALESCE(
       |        (pr = 'assistant' AND pc > 0) OR pr = 'tool', FALSE)
       |      THEN 1 ELSE 0 END) = 0) AS tool_after_call_ok,
       |    (MAX(CASE WHEN role = 'assistant' AND n_calls > 0
       |        AND NOT COALESCE(nr = 'tool', FALSE)
       |      THEN 1 ELSE 0 END) = 0) AS tools_answered_ok,
       |    (MAX(CASE WHEN has_rogue THEN 1 ELSE 0 END) = 0) AS tool_names_ok
       |  FROM tc_l GROUP BY id)
       |SELECT *, (tool_after_call_ok AND tools_answered_ok AND tool_names_ok)
       |  AS valid
       |FROM tc_f""".stripMargin

  /** Mirrors [[qPipelineSft]] as ONE CTE pyramid: the
    * [[sftTranscripts]] recipe regenerated as a turn table (the
    * telescoping slice arithmetic, the turn_idx → slice/system/tool
    * mapping with orphan insertion and the agentic tail), the
    * [[chatFlagsSql]] contract fold with the widened role whitelist,
    * the [[chatToolsSql]] lag/lead protocol fold, the admitted
    * conversations' trainable text rebuilt directly from the word
    * list (valid conversations have every slice non-empty, so the
    * space-joined turn contents ARE the word list with 'result'
    * spliced before the final agentic slice), re-rooted into the
    * capped-MinHash replay + recursive keep-one closure
    * (the [[pipelineCleanSql]] discipline), and the next-fit pack
    * walk with loss-mask mass. Composition drift at ANY stage
    * boundary hash-mismatches even when each stage passes alone. */
  /** The [[qPipelineSft]] replay's shared CTE chain — transcript
    * regeneration through contract/tool flags, admission, trainable
    * text, capped-MinHash pairs, and the recursive keep-one closure
    * (ending at `sft_reps`/`sft_drop`) — shared verbatim by the
    * survivor pyramid ([[pipelineSftSql]]), the reject ledger
    * ([[pipelineSftLedgerSql]]), and — re-rooted via `from` — the
    * end-to-end release pipeline ([[pipelineReleaseSql]]), so the
    * oracles cannot drift apart stage-for-stage. */
  private def pipelineSftCtes(from: String = "documents"): String = {
    val flags = chatFlagsSql("sft_turns",
      roles = Seq("system", "user", "assistant", "tool"))
    s"""sft_src AS (SELECT CAST(doc_id AS BIGINT) AS id,
       |    list_filter($tokensLowerSql,
       |      x -> regexp_matches(x, '^[a-z0-9]+$$')) AS w
       |  FROM $from),
       |sft_par AS (SELECT id, w, CAST(len(w) AS BIGINT) AS n,
       |    CAST(1 + id % 3 AS BIGINT) AS m,
       |    CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END AS sys,
       |    (id % 4 = 0) AS agentic,
       |    (id % 19 = 0 AND NOT id % 4 = 0) AS orphan,
       |    (id % 23 = 0 AND id % 4 = 0) AS unanswered,
       |    (id % 29 = 0 AND id % 4 = 0) AS rogue,
       |    CAST(1 + id % 2 AS BIGINT) AS kc
       |  FROM sft_src),
       |sft_n AS (SELECT *,
       |    CASE WHEN agentic THEN 2 * m + 1 ELSE 2 * m END AS S,
       |    sys + 2 * m
       |      + CASE WHEN agentic AND NOT unanswered THEN 2
       |             WHEN agentic THEN 1
       |             WHEN orphan THEN 1 ELSE 0 END AS nt
       |  FROM sft_par),
       |sft_t AS (SELECT id, n, m, sys, agentic, orphan, unanswered, rogue,
       |    kc, S, nt, CAST(unnest(range(0, nt)) AS BIGINT) AS ti
       |  FROM sft_n),
       |sft_j AS (SELECT *,
       |    CASE WHEN ti < sys THEN -1
       |         WHEN orphan AND ti - sys = 1 THEN -2
       |         WHEN agentic AND NOT unanswered AND ti - sys = 2 * m THEN -2
       |         WHEN orphan AND ti - sys >= 2 THEN ti - sys - 1
       |         WHEN agentic AND NOT unanswered AND ti - sys = 2 * m + 1 THEN 2 * m
       |         WHEN agentic AND unanswered AND ti - sys = 2 * m THEN 2 * m
       |         ELSE ti - sys END AS j
       |  FROM sft_t),
       |sft_turns AS MATERIALIZED (SELECT id AS doc_id, ti AS turn_idx,
       |    CASE WHEN j = -1 THEN 'system'
       |         WHEN j = -2 THEN 'tool'
       |         WHEN j = 0 AND id % 17 = 0 THEN 'narrator'
       |         WHEN j = 1 AND id % 11 = 0 THEN 'user'
       |         WHEN j = 2 * m THEN 'assistant'
       |         WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       |    CAST(CASE WHEN j = -1 THEN 2
       |         WHEN j = -2 THEN 1
       |         WHEN ti = nt - 1 AND id % 13 = 0 THEN 0
       |         ELSE ((j + 1) * n) // S - (j * n) // S END AS BIGINT) AS n_tokens,
       |    CAST(CASE WHEN agentic AND j = 2 * m - 1 THEN kc ELSE 0 END
       |         AS BIGINT) AS n_calls,
       |    (rogue AND j = 2 * m - 1) AS has_rogue
       |  FROM sft_j),
       |sft_cf AS ($flags),
       |sft_l AS (SELECT *, lag(role) OVER sw AS pr, lag(n_calls) OVER sw AS pc,
       |    lead(role) OVER sw AS nr
       |  FROM sft_turns WINDOW sw AS (PARTITION BY doc_id ORDER BY turn_idx)),
       |sft_tf AS (SELECT doc_id,
       |    (MAX(CASE WHEN role = 'tool' AND NOT COALESCE(
       |        (pr = 'assistant' AND pc > 0) OR pr = 'tool', FALSE)
       |      THEN 1 ELSE 0 END) = 0) AS tool_after_call_ok,
       |    (MAX(CASE WHEN role = 'assistant' AND n_calls > 0
       |        AND NOT COALESCE(nr = 'tool', FALSE)
       |      THEN 1 ELSE 0 END) = 0) AS tools_answered_ok,
       |    (MAX(CASE WHEN has_rogue THEN 1 ELSE 0 END) = 0) AS tool_names_ok
       |  FROM sft_l GROUP BY doc_id),
       |sft_adm AS MATERIALIZED (SELECT f.doc_id
       |  FROM sft_cf f JOIN sft_tf t ON f.doc_id = t.doc_id
       |  WHERE f.roles_ok AND f.starts_ok AND f.alternation_ok AND f.nonempty_ok
       |    AND t.tool_after_call_ok AND t.tools_answered_ok AND t.tool_names_ok),
       |sft_conv AS MATERIALIZED (SELECT p.id AS doc_id, array_to_string(
       |    (CASE WHEN p.id % 7 = 0 THEN ['be', 'concise']
       |          ELSE CAST([] AS VARCHAR[]) END)
       |    || CASE WHEN p.agentic THEN
       |         list_slice(p.w, 1, (2 * p.m * p.n) // p.S) || ['result']
       |           || list_slice(p.w, (2 * p.m * p.n) // p.S + 1, p.n)
       |       ELSE p.w END, ' ') AS text
       |  FROM sft_n p JOIN sft_adm a ON a.doc_id = p.id),
       |sft_pairs AS MATERIALIZED (
       |${minhashPairsSql(3, 64, 16, 0.5, Some(12), from = "sft_conv")}),
       |sft_edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM sft_pairs
       |          UNION ALL SELECT id_b, id_a FROM sft_pairs),
       |sft_labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM sft_edges
       |  UNION
       |  SELECT e.src, l.label FROM sft_edges e JOIN sft_labels l ON e.dst = l.id),
       |sft_reps AS (SELECT id, min(label) AS rep FROM sft_labels GROUP BY id),
       |sft_drop AS (SELECT id FROM sft_reps WHERE id <> rep)"""
    // NO stripMargin here: the chain contains DuckDB list-concat `||`
    // at line starts, which a SECOND stripMargin (the consumer's)
    // would eat down to `|`. Consumers interpolate this raw margined
    // text into their own s-string and strip exactly once.
  }

  private val pipelineSftSql: String =
    s"""WITH RECURSIVE ${textBpeCtes(8)},
       |${pipelineSftCtes()},
       |${sftBpeCostCtes("sftb_")},
       |${packWalkCtes("sft_", "sftb_cost", 512, idCol = "cid",
            carry = Seq("loss_tokens"))}
       |SELECT cid AS doc_id, grp, n AS n_tokens, bin AS bin_id, loss_tokens
       |FROM sft_walk""".stripMargin

  /** Mirrors [[qPipelineSftLedger]] over the SAME
    * [[pipelineSftCtes]] chain: contract rejects carry their failing
    * flag names (fixed order, comma-joined — concat_ws skips the
    * passing flags' NULL arms in both engines), tool rejects are
    * classified only among contract-clean docs (first-failing-stage
    * semantics), and dedup rejects read their survivor off the
    * recursive closure's min-label rep. */
  private val pipelineSftLedgerSql: String =
    s"""WITH RECURSIVE ${pipelineSftCtes()}
       |SELECT doc_id, stage, reason FROM (
       |  SELECT doc_id, 'contract' AS stage, concat_ws(',',
       |      CASE WHEN NOT roles_ok THEN 'roles' END,
       |      CASE WHEN NOT starts_ok THEN 'starts' END,
       |      CASE WHEN NOT alternation_ok THEN 'alternation' END,
       |      CASE WHEN NOT nonempty_ok THEN 'nonempty' END) AS reason
       |  FROM sft_cf
       |  WHERE NOT (roles_ok AND starts_ok AND alternation_ok AND nonempty_ok)
       |  UNION ALL
       |  SELECT t.doc_id, 'tool', concat_ws(',',
       |      CASE WHEN NOT tool_after_call_ok THEN 'tool_after_call' END,
       |      CASE WHEN NOT tools_answered_ok THEN 'tools_answered' END,
       |      CASE WHEN NOT tool_names_ok THEN 'tool_names' END)
       |  FROM sft_tf t JOIN sft_cf f ON f.doc_id = t.doc_id
       |  WHERE (f.roles_ok AND f.starts_ok AND f.alternation_ok AND f.nonempty_ok)
       |    AND NOT (t.tool_after_call_ok AND t.tools_answered_ok
       |             AND t.tool_names_ok)
       |  UNION ALL
       |  SELECT id, 'dedup', 'dup_of:' || CAST(rep AS VARCHAR)
       |  FROM sft_reps WHERE id <> rep) led""".stripMargin

  /** Mirrors [[qPipelineRelease]] — the nine stage pyramids chained
    * under ONE `WITH RECURSIVE`: the [[pipelineIngestSql]] gate
    * recipe (with doc granularity kept for the ledger), the
    * fingerprint keeper window, the capped-MinHash replay + recursive
    * keep-one closure re-rooted on the gate survivors
    * ([[pipelineCleanSql]] discipline), the SplitMix64 split replay,
    * the [[dedupAgainstHitsCtes]] lexical probe and the
    * [[kmeansDistributedCtes]] semantic probe re-rooted on the CLEAN
    * survivor corpus ([[splitDecontamSql]] discipline), the whole
    * [[pipelineSftCtes]] chain re-rooted on the decontaminated text,
    * the recursive pack walk, the serpentine shard deal, the
    * [[manifestMergeCtes]] replay over the released docs, the
    * ten-stage first-fail ledger, and the count/id-sum tie-out —
    * every survivor set and every reject reason recomputed
    * independently, so drift at ANY stage boundary hash-mismatches. */
  /** Day-0 raw-input construction CTEs — the [[releaseRawInput]]
    * replay (documents ∪ the deterministic second crawl), emitted
    * under a caller-chosen CTE name so the from-scratch pyramid can
    * run over day-0 alone (`q_pipeline_release`) or over day-0 ∪ a
    * later crawl batch (`q_pipeline_release_incr`). */
  private def releaseInputCtes(name: String): String =
    s"""rl_qm0 AS MATERIALIZED (
       |  SELECT doc_id, CAST(doc_id AS HUGEINT) AS x FROM documents),
       |${HashSql.mixCtes("rl_qm", "rl_qm0", "doc_id")},
       |rl_toks AS (SELECT d.doc_id, d.source, d.text,
       |    list_filter(regexp_split_to_array(d.text, '$ws+'), x -> x <> '') AS t,
       |    ((m.x // 2) % 100 >= 90 AND d.doc_id % 2 = 0) AS is_quote
       |  FROM documents d JOIN rl_qm4 m ON m.doc_id = d.doc_id),
       |$name AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, source,
       |    CASE WHEN doc_id % 41 = 0 THEN text
       |         WHEN is_quote THEN array_to_string(
       |           list_slice(t, 1, CAST(ceil(0.45 * len(t)) AS INT)) || list_slice(t, 1, CAST(ceil(0.45 * len(t)) AS INT)), ' ')
       |         ELSE array_to_string(
       |           [CASE WHEN i % 3 = 0 THEN t[i] || ' ,' ELSE t[i] END
       |            for i in range(1, len(t) + 1)], ' ')
       |    END
       |  FROM rl_toks
       |  WHERE doc_id % 41 = 0 OR is_quote OR doc_id % 43 = 0)""".stripMargin

  /** The frozen-merge per-word segmentation unroll: `<p>wseg0..8`
    * applies [[textBpeCtes]]'s 8 merge tables (`m0..m7`, which must
    * be in scope) over the DISTINCT words of `vocabFrom`'s `word`
    * column plus `extraWords` (chat-template words costed outside
    * the content positions), and `<p>wsub` reads each word's final
    * subword count. Shared by every BPE-costed oracle. */
  private def bpeWsubCtes(
      p: String, vocabFrom: String, extraWords: Seq[String]): String = {
    val extras = extraWords.map(w => s"UNION SELECT '$w'").mkString(" ")
    s"""${p}wseg0 AS MATERIALIZED (
       |  SELECT word, regexp_replace(word, '(.)', '<\\1>', 'g') AS symseq
       |  FROM (SELECT DISTINCT word FROM $vocabFrom $extras) tw),
       |${(0 until 8).map(i =>
            s"${p}wseg${i + 1} AS MATERIALIZED (SELECT word, " +
              s"replace(symseq, '<' || m.a || '><' || m.b || '>', " +
              s"'<' || m.a || m.b || '>') AS symseq FROM ${p}wseg$i, m$i m)")
          .mkString(",\n")},
       |${p}wsub AS MATERIALIZED (SELECT word,
       |  CAST(len(regexp_extract_all(symseq, '<([^>]*)>', 1)) AS BIGINT) AS n_sub
       |  FROM ${p}wseg8)""".stripMargin
  }

  /** The BPE cost replay over a [[pipelineSftCtes]] chain — the
    * frozen-merge per-word segmentation ([[textBpeCtes]]'s `m0..m7`
    * tables must be in scope) applied to every admitted, non-dup
    * conversation: `<p>pos` explodes turn-slice word positions,
    * `<p>wseg0..8` unrolls the 8 merges over the distinct word
    * vocabulary (plus the chat-template words), `<p>wsub` reads each
    * word's subword count, and `<p>cost` emits (cid, grp, n,
    * loss_tokens) — total cost = content subwords + template words +
    * 4/turn overhead; loss mass = assistant-slice subwords. Shared by
    * the release pyramid (`rl_`) and the standalone SFT endgame
    * (`sftb_`), so the two cannot drift. */
  private def sftBpeCostCtes(p: String): String =
    s"""${p}pos AS MATERIALIZED (
       |  SELECT q.id, q.n, q.m, q.sys, q.agentic, q.S, q.nt,
       |    r.i AS pos, q.w[r.i] AS word
       |  FROM sft_n q JOIN sft_adm a ON a.doc_id = q.id,
       |       unnest(range(1, q.n + 1)) r(i)
       |  WHERE q.id NOT IN (SELECT id FROM sft_drop)),
       |${bpeWsubCtes(p, s"${p}pos", Seq("be", "concise", "result"))},
       |${p}cost AS MATERIALIZED (
       |  SELECT q.id AS cid, q.id % 8 AS grp,
       |    CAST(SUM(ws.n_sub)
       |      + MAX(q.sys) * ((SELECT n_sub FROM ${p}wsub WHERE word = 'be')
       |          + (SELECT n_sub FROM ${p}wsub WHERE word = 'concise'))
       |      + MAX(CASE WHEN q.agentic THEN 1 ELSE 0 END)
       |          * (SELECT n_sub FROM ${p}wsub WHERE word = 'result')
       |      + 4 * MAX(q.nt) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN ((q.pos * q.S - 1) // q.n) % 2 = 1
       |                    OR (q.agentic AND (q.pos * q.S - 1) // q.n = 2 * q.m)
       |             THEN ws.n_sub ELSE 0 END) AS BIGINT) AS loss_tokens
       |  FROM ${p}pos q JOIN ${p}wsub ws ON q.word = ws.word
       |  GROUP BY q.id)""".stripMargin

  /** The from-scratch release pyramid over an input CTE named
    * `rl_in` — every stage of [[graft.operators.Release.pipeline]]
    * replayed in SQL, input-agnostic past the first CTE.
    *
    * `dead` (a SELECT yielding one `doc_id` column; it may reference
    * any CTE up to `rl_walk`) injects an `rl_dead` CTE and replays
    * [[graft.plans.IncrementalRelease.forget]]'s post-hoc semantics
    * over the finished pyramid: dead rows excised from the
    * pack/ledger parts, bins + shards + manifest recomputed from the
    * retained rows, and the reconcile tie-out reduced on BOTH sides
    * (the forgotten doc leaves as if never crawled) — the exact
    * artifact a forget over the standing state must serve. */
  private def releasePyramidSql(dead: Option[String] = None): String = {
    val withDead = dead.isDefined
    val raw = s"('$htmlPrefix' || text || '$htmlSuffix'" +
      " || CASE WHEN doc_id % 23 = 0 THEN chr(65533) ELSE '' END)"
    val cleaned = TextFunctions.normalizeTextSql(
      TextFunctions.stripBoilerplateSql("raw"))
    val serpentine =
      "CASE WHEN (rn0 // 4) % 2 = 0 THEN rn0 % 4 ELSE 3 - (rn0 % 4) END"
    def drop(c: String) =
      if (withDead) s" WHERE $c NOT IN (SELECT doc_id FROM rl_dead)" else ""
    // every dead doc is exactly one accounted row by construction
    // (packed XOR ledger), so "as if never crawled" subtracts the
    // dead set from the input side verbatim
    val deadN =
      if (withDead) " - (SELECT count(*) FROM rl_dead)" else ""
    val deadS =
      if (withDead) " - (SELECT COALESCE(sum(doc_id), 0) FROM rl_dead)" else ""
    s"""rl_raw AS (SELECT doc_id, source, $raw AS raw FROM rl_in),
       |rl_clean AS MATERIALIZED (SELECT doc_id, source, $cleaned AS text
       |  FROM rl_raw WHERE ${TextFunctions.encodingOkSql("raw")}),
       |rl_b AS (SELECT doc_id, source, text, $langBestSql AS __best
       |  FROM rl_clean),
       |rl_g AS MATERIALIZED (SELECT doc_id, source, text,
       |    ($langPredCaseSql = 'en') AS lang_ok,
       |    ($alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |      + (1.0 - $punctRatioSql) * 0.1 >= 0.5) AS q_ok,
       |    ($nTokensSql BETWEEN 5 AND 1000) AS len_ok
       |  FROM rl_b),
       |rl_ing AS MATERIALIZED (SELECT doc_id, source, text FROM rl_g
       |  WHERE lang_ok AND q_ok AND len_ok),
       |rl_fp AS MATERIALIZED (SELECT doc_id, source, text,
       |    min(doc_id) OVER (PARTITION BY
       |      md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g')))) AS keeper
       |  FROM rl_ing),
       |rl_ex AS MATERIALIZED (SELECT doc_id, source, text FROM rl_fp
       |  WHERE doc_id = keeper),
       |rl_pairs AS MATERIALIZED (
       |${minhashPairsSql(3, 64, 16, 0.5, Some(12), from = "rl_ex")}),
       |rl_edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM rl_pairs
       |          UNION ALL SELECT id_b, id_a FROM rl_pairs),
       |rl_labels(lid, label) AS (
       |  SELECT DISTINCT src, src FROM rl_edges
       |  UNION
       |  SELECT e.src, l.label FROM rl_edges e JOIN rl_labels l ON e.dst = l.lid),
       |rl_nddrop AS (SELECT lid AS doc_id, rep FROM
       |  (SELECT lid, min(label) AS rep FROM rl_labels GROUP BY lid) t
       |  WHERE lid <> rep),
       |rl_nd AS MATERIALIZED (SELECT e.doc_id, e.source, e.text FROM rl_ex e
       |  WHERE e.doc_id NOT IN (SELECT doc_id FROM rl_nddrop)),
       |rl_sm0 AS MATERIALIZED (SELECT doc_id, CAST(doc_id AS HUGEINT) AS x
       |  FROM rl_nd),
       |${HashSql.mixCtes("rl_sm", "rl_sm0", "doc_id")},
       |rl_split AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN (x // 2) % 100 < 80 THEN 'train'
       |         WHEN (x // 2) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM rl_sm4),
       |rl_hold AS (SELECT doc_id FROM rl_split WHERE split = 'test'),
       |rl_tv AS (SELECT doc_id FROM rl_split WHERE split <> 'test'),
       |${dedupAgainstHitsCtes(
            c => s"$c IN (SELECT doc_id FROM rl_tv)",
            c => s"$c IN (SELECT doc_id FROM rl_hold)",
            bands = 32, threshold = 0.35, from = "rl_nd", prefix = "rld_")},
       |${semanticDecontamCtes("rl_sem", "rl_hold", "rl_tv")},
       |rl_keep AS MATERIALIZED (SELECT n.doc_id, n.source, n.text FROM rl_nd n
       |  WHERE n.doc_id IN (SELECT doc_id FROM rl_tv)
       |    AND n.doc_id NOT IN (SELECT doc_id FROM rld_exact_hit)
       |    AND n.doc_id NOT IN (SELECT doc_id FROM rld_lsh_hit)
       |    AND n.doc_id NOT IN (SELECT doc_id FROM rl_semhit)),
       |${pipelineSftCtes(from = "rl_keep")},
       |${sftBpeCostCtes("rl_")},
       |${packWalkCtes("rl_", "rl_cost", 512, idCol = "cid",
            carry = Seq("loss_tokens"))},
       |${dead.map(d => s"rl_dead AS MATERIALIZED ($d),\n").getOrElse("")}rl_bins AS MATERIALIZED (SELECT grp, bin, CAST(SUM(n) AS BIGINT) AS w
       |  FROM rl_walk${drop("cid")} GROUP BY grp, bin),
       |rl_shard AS (SELECT grp, bin, w,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY w DESC, bin ASC)
       |         - 1 AS BIGINT) AS rn0
       |  FROM rl_bins),
       |rl_rel AS MATERIALIZED (SELECT k.doc_id, k.source, k.text
       |  FROM rl_keep k WHERE k.doc_id IN (SELECT cid FROM rl_cost)${
         if (withDead) "\n    AND k.doc_id NOT IN (SELECT doc_id FROM rl_dead)"
         else ""}),
       |${manifestMergeCtes("rl_rel")},
       |rl_led AS MATERIALIZED (
       |  SELECT doc_id, 'ingest' AS stage, 'encoding' AS reason FROM rl_raw
       |  WHERE NOT ${TextFunctions.encodingOkSql("raw")}
       |  UNION ALL
       |  SELECT doc_id, 'ingest', concat_ws(',',
       |      CASE WHEN NOT lang_ok THEN 'lang' END,
       |      CASE WHEN NOT q_ok THEN 'quality' END,
       |      CASE WHEN NOT len_ok THEN 'length' END)
       |  FROM rl_g WHERE NOT (lang_ok AND q_ok AND len_ok)
       |  UNION ALL
       |  SELECT doc_id, 'exact', 'dup_of_' || CAST(keeper AS VARCHAR)
       |  FROM rl_fp WHERE doc_id <> keeper
       |  UNION ALL
       |  SELECT doc_id, 'neardup', 'dup_of_' || CAST(rep AS VARCHAR)
       |  FROM rl_nddrop
       |  UNION ALL
       |  SELECT doc_id, 'holdout', 'test' FROM rl_hold
       |  UNION ALL
       |  SELECT doc_id, 'decontam', 'lexical' FROM rl_tv
       |  WHERE doc_id IN (SELECT doc_id FROM rld_exact_hit)
       |     OR doc_id IN (SELECT doc_id FROM rld_lsh_hit)
       |  UNION ALL
       |  SELECT doc_id, 'decontam', 'semantic' FROM rl_tv
       |  WHERE doc_id IN (SELECT doc_id FROM rl_semhit)
       |    AND doc_id NOT IN (SELECT doc_id FROM rld_exact_hit)
       |    AND doc_id NOT IN (SELECT doc_id FROM rld_lsh_hit)
       |  UNION ALL
       |  SELECT doc_id, 'contract', concat_ws(',',
       |      CASE WHEN NOT roles_ok THEN 'roles' END,
       |      CASE WHEN NOT starts_ok THEN 'starts' END,
       |      CASE WHEN NOT alternation_ok THEN 'alternation' END,
       |      CASE WHEN NOT nonempty_ok THEN 'nonempty' END)
       |  FROM sft_cf
       |  WHERE NOT (roles_ok AND starts_ok AND alternation_ok AND nonempty_ok)
       |  UNION ALL
       |  SELECT t.doc_id, 'tool', concat_ws(',',
       |      CASE WHEN NOT tool_after_call_ok THEN 'tool_after_call' END,
       |      CASE WHEN NOT tools_answered_ok THEN 'tools_answered' END,
       |      CASE WHEN NOT tool_names_ok THEN 'tool_names' END)
       |  FROM sft_tf t JOIN sft_cf f ON f.doc_id = t.doc_id
       |  WHERE (f.roles_ok AND f.starts_ok AND f.alternation_ok AND f.nonempty_ok)
       |    AND NOT (t.tool_after_call_ok AND t.tools_answered_ok
       |             AND t.tool_names_ok)
       |  UNION ALL
       |  SELECT id, 'sft_dedup', 'dup_of_' || CAST(rep AS VARCHAR)
       |  FROM sft_reps WHERE id <> rep)
       |SELECT 'pack' AS part, CAST(cid AS VARCHAR) AS k,
       |  CAST(grp AS VARCHAR) || ':' || CAST(bin AS VARCHAR) || ':'
       |    || CAST(n AS VARCHAR) || ':' || CAST(loss_tokens AS VARCHAR) AS v
       |FROM rl_walk${drop("cid")}
       |UNION ALL
       |SELECT 'shard', CAST(grp AS VARCHAR) || ':' || CAST(bin AS VARCHAR),
       |  CAST(w AS VARCHAR) || ':' || CAST($serpentine AS VARCHAR)
       |FROM rl_shard
       |UNION ALL
       |SELECT 'ledger', CAST(doc_id AS VARCHAR), stage || ':' || reason
       |FROM rl_led${drop("doc_id")}
       |UNION ALL
       |SELECT 'manifest', c.source,
       |  CAST(n_docs AS VARCHAR) || ':' || CAST(total_tokens AS VARCHAR)
       |    || ':' || CAST(uniq_est AS VARCHAR) || ':' ||
       |    CAST(CAST(greatest(n_docs - uniq_est, 0) * 1000 // n_docs AS BIGINT)
       |         AS VARCHAR)
       |FROM mm_cnt c JOIN mm_e e ON e.source = c.source
       |UNION ALL
       |SELECT 'reconcile', 'tieout',
       |  CAST((SELECT count(*) FROM rl_in)$deadN AS VARCHAR) || ':' ||
       |  CAST((SELECT count(*) FROM rl_cost${drop("cid")})
       |       + (SELECT count(*) FROM rl_led${drop("doc_id")}) AS VARCHAR) || ':' ||
       |  CAST(CAST((SELECT sum(doc_id) FROM rl_in)$deadS AS BIGINT) AS VARCHAR)
       |    || ':' ||
       |  CAST(CAST((SELECT COALESCE(sum(cid), 0) FROM rl_cost${drop("cid")})
       |       + (SELECT COALESCE(sum(doc_id), 0) FROM rl_led${drop("doc_id")}) AS BIGINT)
       |       AS VARCHAR)""".stripMargin
  }

  private val pipelineReleaseSql: String =
    s"WITH RECURSIVE ${textBpeCtes(8)},\n" +
      releaseInputCtes("rl_in") + ",\n" + releasePyramidSql()

  /** The incremental-release oracle: the SAME from-scratch pyramid,
    * run over day-0 ∪ the third crawl ([[crawl3RawBatch]] replay) —
    * pinning the O(batch) incremental composition row-identical to a
    * full re-release over the union. The `rl0_*` preamble replays
    * day-0's stage-1 gates (the `ingested(d)` target guard) and
    * `c3_sm*` replays the split of the +4M markup ids (the
    * no-retroaction guard). */
  private def pipelineReleaseIncrSqlWith(dead: Option[String]): String = {
    val raw0 = s"('$htmlPrefix' || text || '$htmlSuffix'" +
      " || CASE WHEN doc_id % 23 = 0 THEN chr(65533) ELSE '' END)"
    val cleaned0 = TextFunctions.normalizeTextSql(
      TextFunctions.stripBoilerplateSql("raw"))
    s"WITH RECURSIVE ${textBpeCtes(8)},\n" +
      releaseInputCtes("rl_in0") + ",\n" +
      s"""rl0_raw AS (SELECT doc_id, source, $raw0 AS raw FROM rl_in0
         |  WHERE doc_id < 1000000),
         |rl0_clean AS (SELECT doc_id, source, $cleaned0 AS text
         |  FROM rl0_raw WHERE ${TextFunctions.encodingOkSql("raw")}),
         |rl0_b AS (SELECT doc_id, source, text, $langBestSql AS __best
         |  FROM rl0_clean),
         |rl0_ing AS MATERIALIZED (SELECT doc_id FROM rl0_b
         |  WHERE ($langPredCaseSql = 'en')
         |    AND ($alphaRatioSql * 0.4 + $stopRatioSql * 0.3
         |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
         |      + (1.0 - $punctRatioSql) * 0.1 >= 0.5)
         |    AND ($nTokensSql BETWEEN 5 AND 1000)),
         |c3_sm0 AS (SELECT doc_id, CAST(doc_id + 4000000 AS HUGEINT) AS x
         |  FROM documents),
         |${HashSql.mixCtes("c3_sm", "c3_sm0", "doc_id")},
         |c3_sa0 AS (SELECT doc_id, CAST(doc_id + 10000000 AS HUGEINT) AS x
         |  FROM documents),
         |${HashSql.mixCtes("c3_sa", "c3_sa0", "doc_id")},
         |c3_sb0 AS (SELECT doc_id, CAST(doc_id + 11000000 AS HUGEINT) AS x
         |  FROM documents),
         |${HashSql.mixCtes("c3_sb", "c3_sb0", "doc_id")},
         |c3_t AS (SELECT d.doc_id, d.source, d.text,
         |    list_filter(regexp_split_to_array(d.text, '$ws+'), x -> x <> '') AS t,
         |    (d.doc_id IN (SELECT doc_id FROM rl0_ing)) AS ing,
         |    ((m.x // 2) % 100 < 90) AS c_ok,
         |    ((ma.x // 2) % 100 < 90) AS c_ok10,
         |    ((mb.x // 2) % 100 < 90) AS c_ok11
         |  FROM documents d JOIN c3_sm4 m ON m.doc_id = d.doc_id
         |    JOIN c3_sa4 ma ON ma.doc_id = d.doc_id
         |    JOIN c3_sb4 mb ON mb.doc_id = d.doc_id),
         |rl_c3 AS MATERIALIZED (
         |  SELECT doc_id + 2000000 AS doc_id, source, text FROM c3_t
         |    WHERE doc_id % 37 = 0 AND ing
         |  UNION ALL
         |  SELECT doc_id + 3000000, source, array_to_string(
         |      list_slice(t, 1, CAST(ceil(0.75 * len(t)) AS INT)), ' ')
         |    FROM c3_t WHERE doc_id % 43 = 0 AND ing
         |  UNION ALL
         |  SELECT doc_id + 4000000, source, array_to_string(
         |      [CASE WHEN i % 3 = 0 THEN t[i] || ' ,' ELSE t[i] END
         |       for i in range(1, len(t) + 1)], ' ')
         |    FROM c3_t WHERE doc_id % 47 = 0 AND ing AND c_ok
         |  UNION ALL
         |  SELECT doc_id + 5000000, source,
         |      array_to_string(list_reverse(t), ' ')
         |    FROM c3_t WHERE doc_id % 7 = 3
         |  UNION ALL
         |  SELECT doc_id + 6000000, source,
         |      array_to_string(list_reverse(t), ' ')
         |    FROM c3_t WHERE doc_id % 53 = 0
         |  UNION ALL
         |  SELECT doc_id + 7000000, source,
         |      array_to_string(list_reverse(t), ' ')
         |    FROM c3_t WHERE doc_id % 53 = 0
         |  UNION ALL
         |  SELECT doc_id + 8000000, source,
         |      array_to_string(list_reverse(t), ' ')
         |    FROM c3_t WHERE doc_id % 59 = 0
         |  UNION ALL
         |  SELECT doc_id + 9000000, source,
         |      array_to_string(list_reverse(t) || ['zq', 'zq', 'zq'], ' ')
         |    FROM c3_t WHERE doc_id % 59 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, source, array_to_string(
         |      list_slice(t, 1, CAST(ceil(0.75 * len(t)) AS INT)), ' ')
         |    FROM c3_t WHERE doc_id % 61 = 0 AND ing AND c_ok10
         |  UNION ALL
         |  SELECT doc_id + 11000000, source, array_to_string(
         |      list_slice(t, 1, CAST(ceil(0.45 * len(t)) AS INT)), ' ')
         |    FROM c3_t WHERE doc_id % 61 = 0 AND ing AND c_ok11),
         |rl_in AS MATERIALIZED (
         |  SELECT * FROM rl_in0 UNION ALL SELECT * FROM rl_c3),
         |""".stripMargin + releasePyramidSql(dead)
  }

  private val pipelineReleaseIncrSql: String = pipelineReleaseIncrSqlWith(None)

  /** Mirrors [[qReleaseForget]]: the SAME day-0 ∪ crawl-3 pyramid,
    * with the deterministic dead set (packed cids ≡ 3 mod 11 ∪
    * ingest-GATE rejects ≡ 1 mod 13 — one packed and one
    * ledger-resident family, both exactly one accounted row each)
    * excised post-hoc: pack/ledger rows dropped, bins + shards +
    * manifest recomputed from the retained rows, tie-out reduced on
    * both sides. Equality here pins the whole
    * [[graft.plans.IncrementalRelease.forget]] composition — the
    * doc-keyed tombstones, the manifest REBUILD (KMV states cannot
    * subtract), and the compensating reconcile row — against a
    * from-scratch release that never saw the forgotten docs'
    * artifact rows. */
  private val releaseForgetSql: String = pipelineReleaseIncrSqlWith(Some(
    """SELECT cid AS doc_id FROM rl_walk WHERE cid % 11 = 3
      |  UNION SELECT doc_id FROM rl_g
      |  WHERE NOT (lang_ok AND q_ok AND len_ok) AND doc_id % 13 = 1""".stripMargin))


  /** Mirrors [[qTextDrift]]: per-half token hashes through the
    * salt-XOR + staged SplitMix64 ([[HashSql.mixCtes]]), bucket
    * counts, full-join, and the IDENTICAL double expression for each
    * bucket's JS term quantized with floor — the [[textFeatureHashSql]]
    * hashing replay plus the DSIR float discipline. */
  private val textDriftSql: String = {
    val dims = 256
    val salt = graft.functions.Hashing.salts(1, 13L).head
    def side(tag: String, parity: Int) =
      s"""drift_ths_$tag AS (SELECT ${HashSql.tokenHashes("text")} AS ths
         |  FROM documents WHERE doc_id % 2 = $parity),
         |drift_tok_$tag AS MATERIALIZED (SELECT unnest(ths) AS h FROM drift_ths_$tag),
         |drift_m0_$tag AS MATERIALIZED (SELECT ${HashSql.ux("h", HashSql.u(salt))} AS x
         |  FROM drift_tok_$tag),
         |${HashSql.mixCtes(s"drift_m_$tag", s"drift_m0_$tag", "1 AS __k")},
         |drift_c_$tag AS MATERIALIZED (SELECT CAST(x % $dims AS BIGINT) AS b,
         |    CAST(COUNT(*) AS BIGINT) AS count_$tag
         |  FROM drift_m_${tag}4 GROUP BY 1)""".stripMargin
    val p = "(CAST(count_a AS DOUBLE) / CAST(na AS DOUBLE))"
    val q = "(CAST(count_b AS DOUBLE) / CAST(nb AS DOUBLE))"
    val m = s"(($p + $q) / 2.0)"
    s"""WITH ${side("a", 0)},
       |${side("b", 1)},
       |drift_j AS (SELECT COALESCE(ca.b, cb.b) AS b,
       |    COALESCE(count_a, 0) AS count_a, COALESCE(count_b, 0) AS count_b
       |  FROM drift_c_a ca FULL JOIN drift_c_b cb ON ca.b = cb.b),
       |drift_n AS (SELECT *, SUM(count_a) OVER () AS na,
       |    SUM(count_b) OVER () AS nb FROM drift_j),
       |drift_q AS (SELECT b, count_a, count_b,
       |    CAST(floor((0.5 * (
       |      (CASE WHEN count_a > 0 THEN $p * ln($p / $m) ELSE 0.0 END) +
       |      (CASE WHEN count_b > 0 THEN $q * ln($q / $m) ELSE 0.0 END)))
       |      * 1000000000.0) AS BIGINT) AS js_q
       |  FROM drift_n)
       |SELECT b, count_a, count_b, js_q,
       |  CAST(SUM(js_q) OVER () AS BIGINT) AS js_total_q
       |FROM drift_q""".stripMargin
  }

  /** Mirrors [[qPrefConflicts]]: parity flip over [[prefTriplesCtes]],
    * canonical md5 fingerprints, unordered-pair grouping, the same
    * integer orientation census. */
  private val prefConflictsSql: String = {
    def fp(c: String) =
      s"md5(trim(regexp_replace(lower($c), '$ws+', ' ', 'g')))"
    s"""WITH $prefTriplesCtes,
       |pc_pool AS (SELECT id,
       |    CASE WHEN id % 5 = 0
       |         THEN 'alpha ' || CAST((id // 5) % 8 AS VARCHAR)
       |         ELSE chosen END AS chosen,
       |    CASE WHEN id % 5 = 0
       |         THEN 'beta ' || CAST((id // 5) % 8 AS VARCHAR)
       |         ELSE rejected END AS rejected
       |  FROM pref_d),
       |pc_flip AS (SELECT
       |    CASE WHEN id % 3 = 0 THEN rejected ELSE chosen END AS chosen,
       |    CASE WHEN id % 3 = 0 THEN chosen ELSE rejected END AS rejected
       |  FROM pc_pool),
       |pc_fp AS (SELECT ${fp("chosen")} AS fa, ${fp("rejected")} AS fb
       |  FROM pc_flip),
       |pc_k AS (SELECT least(fa, fb) AS key_lo, greatest(fa, fb) AS key_hi,
       |    CASE WHEN fa < fb THEN 1 ELSE 0 END AS fwd FROM pc_fp),
       |pc_g AS (SELECT key_lo, key_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(fwd) AS BIGINT) AS n_forward
       |  FROM pc_k GROUP BY 1, 2)
       |SELECT key_lo, key_hi, n_pairs, n_forward,
       |  CAST(n_pairs - n_forward AS BIGINT) AS n_reverse,
       |  (n_forward > 0 AND n_pairs - n_forward > 0) AS conflicted,
       |  CAST(greatest(n_forward, n_pairs - n_forward) * 1000 // n_pairs
       |       AS BIGINT) AS agreement_permille
       |FROM pc_g""".stripMargin
  }

  /** Mirrors [[qPipelinePref]] as ONE CTE pyramid: the
    * [[prefTriplesCtes]] construction with the conflict-pool/flip
    * injection (the [[qPrefConflicts]] recipe), the
    * [[prefValidateSql]] flag set inlined as the admission filter,
    * the fingerprint pair census with the conflicted cut, the
    * NOT-EXISTS anti-join, and the next-fit pack walk at 1024 with
    * the chosen-token (trainable) mass carried through. */
  /** The [[qPipelinePref]] replay's shared CTE chain — construction +
    * pool/flip injection, NAMED admission flags (`pp_fl`), the valid
    * set, fingerprint pair keys, and the conflicted-pair census
    * (ending at `pp_c`) — shared by the survivor pyramid and the
    * reject ledger. Returned UNSTRIPPED (margined) per the
    * one-stripMargin rule ([[pipelineSftCtes]]). */
  private def pipelinePrefCtes: String = {
    val nt = "CAST(len(list_filter(regexp_split_to_array(%s, " +
      s"'$ws+'), x -> x <> ''))" + " AS BIGINT)"
    def fp(c: String) =
      s"md5(trim(regexp_replace(lower($c), '$ws+', ' ', 'g')))"
    s"""$prefTriplesCtes,
       |pp_pool AS (SELECT id, prompt,
       |    CASE WHEN id % 5 = 0
       |         THEN 'alpha ' || CAST((id // 5) % 8 AS VARCHAR)
       |         ELSE chosen END AS chosen,
       |    CASE WHEN id % 5 = 0
       |         THEN 'beta ' || CAST((id // 5) % 8 AS VARCHAR)
       |         ELSE rejected END AS rejected
       |  FROM pref_d),
       |pp_t AS (SELECT id, prompt,
       |    CASE WHEN id % 3 = 0 THEN rejected ELSE chosen END AS chosen,
       |    CASE WHEN id % 3 = 0 THEN chosen ELSE rejected END AS rejected
       |  FROM pp_pool),
       |pp_f AS (SELECT *,
       |    ${nt.format("prompt")} AS prompt_tokens,
       |    ${nt.format("chosen")} AS chosen_tokens,
       |    ${nt.format("rejected")} AS rejected_tokens
       |  FROM pp_t),
       |pp_fl AS (SELECT *,
       |    (chosen <> rejected) AS distinct_ok,
       |    (prompt_tokens > 0 AND chosen_tokens > 0 AND rejected_tokens > 0)
       |      AS nonempty_ok,
       |    (chosen_tokens * 1000 <= 4000 * rejected_tokens
       |     AND rejected_tokens * 1000 <= 4000 * chosen_tokens) AS ratio_ok
       |  FROM pp_f),
       |pp_v AS MATERIALIZED (SELECT * FROM pp_fl
       |  WHERE distinct_ok AND nonempty_ok AND ratio_ok),
       |pp_k AS MATERIALIZED (SELECT *, least(fa, fb) AS key_lo,
       |    greatest(fa, fb) AS key_hi,
       |    CASE WHEN fa < fb THEN 1 ELSE 0 END AS fwd
       |  FROM (SELECT *, ${fp("chosen")} AS fa, ${fp("rejected")} AS fb
       |        FROM pp_v) pp_x),
       |pp_c AS MATERIALIZED (SELECT key_lo, key_hi FROM (
       |    SELECT key_lo, key_hi, COUNT(*) AS np, SUM(fwd) AS nf
       |    FROM pp_k GROUP BY 1, 2) pp_g
       |  WHERE nf > 0 AND np - nf > 0)"""
  }

  /** [[qPipelinePref]]'s oracle, BPE-costed: each triple's three
    * response strings explode to their lowercase `[a-z0-9]+` words,
    * cost through the shared frozen-merge unroll, + the 3-slot
    * template overhead; gate flags stay ws-based (contract checks),
    * only the packing unit changes. */
  private val pipelinePrefSql: String =
    s"""WITH RECURSIVE ${textBpeCtes(8)},
       |$pipelinePrefCtes,
       |prefb_w AS MATERIALIZED (
       |  SELECT id, part, unnest(list_filter(
       |    regexp_split_to_array(lower(txt), '$ws+'),
       |    x -> regexp_matches(x, '^[a-z0-9]+$$'))) AS word
       |  FROM (SELECT id, 'p' AS part, prompt AS txt FROM pp_k
       |        UNION ALL SELECT id, 'c', chosen FROM pp_k
       |        UNION ALL SELECT id, 'r', rejected FROM pp_k) parts),
       |${bpeWsubCtes("prefb_", "prefb_w", Nil)},
       |prefb_cost AS MATERIALIZED (
       |  SELECT w.id,
       |    CAST(SUM(ws2.n_sub) + 3 AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN w.part = 'c' THEN ws2.n_sub ELSE 0 END)
       |         AS BIGINT) AS chosen_tokens
       |  FROM prefb_w w JOIN prefb_wsub ws2 ON ws2.word = w.word
       |  GROUP BY w.id),
       |pp_s AS MATERIALIZED (SELECT k.id, k.id % 8 AS grp,
       |    COALESCE(c.n, 3) AS n,
       |    COALESCE(c.chosen_tokens, 0) AS chosen_tokens
       |  FROM pp_k k LEFT JOIN prefb_cost c ON c.id = k.id
       |  WHERE NOT EXISTS (SELECT 1 FROM pp_c c2
       |    WHERE c2.key_lo = k.key_lo AND c2.key_hi = k.key_hi)),
       |${packWalkCtes("pp_", "pp_s", 1024, carry = Seq("chosen_tokens"))}
       |SELECT id AS doc_id, grp, n AS n_tokens, bin AS bin_id, chosen_tokens
       |FROM pp_walk""".stripMargin

  /** Mirrors [[qPipelinePrefLedger]] over the SAME
    * [[pipelinePrefCtes]] chain: gate rejects with their failing flag
    * names, conflict rejects as the gate-clean rows whose unordered
    * fingerprint pair sits in the conflicted census. */
  private val pipelinePrefLedgerSql: String =
    s"""WITH RECURSIVE $pipelinePrefCtes
       |SELECT doc_id, stage, reason FROM (
       |  SELECT id AS doc_id, 'gate' AS stage, concat_ws(',',
       |      CASE WHEN NOT distinct_ok THEN 'distinct' END,
       |      CASE WHEN NOT nonempty_ok THEN 'nonempty' END,
       |      CASE WHEN NOT ratio_ok THEN 'ratio' END) AS reason
       |  FROM pp_fl WHERE NOT (distinct_ok AND nonempty_ok AND ratio_ok)
       |  UNION ALL
       |  SELECT id, 'conflict', 'conflicted_pair'
       |  FROM pp_k WHERE EXISTS (SELECT 1 FROM pp_c c
       |    WHERE c.key_lo = pp_k.key_lo AND c.key_hi = pp_k.key_hi)) led""".stripMargin

  /** Mirrors [[qCorpusManifest]]: one projected scan computing
    * token count / canonical fingerprint / DECIMAL(18,9) quality /
    * lang prediction per doc, then the manifest fold, the language
    * mode (ties by code ascending), and integer permille rates. */
  private val corpusManifestSql: String =
    s"""WITH mani_mb AS (SELECT source, text, $langBestSql AS __best FROM documents),
       |mani_b AS (SELECT source,
       |    $nTokensSql AS tok,
       |    md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g'))) AS fp,
       |    CAST($alphaRatioSql * 0.4 + $stopRatioSql * 0.3
       |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
       |      + (1.0 - $punctRatioSql) * 0.1 AS DECIMAL(18,9)) AS q,
       |    $langPredCaseSql AS lang_pred
       |  FROM mani_mb),
       |mani_a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
       |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       |    CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean_quality
       |  FROM mani_b GROUP BY source),
       |mani_l AS (SELECT source, lang_pred, COUNT(*) AS ln
       |  FROM mani_b GROUP BY 1, 2),
       |mani_t AS (SELECT source, lang_pred, ln, ROW_NUMBER() OVER
       |    (PARTITION BY source ORDER BY ln DESC, lang_pred ASC) AS rn
       |  FROM mani_l)
       |SELECT a.source, n_docs, total_tokens, n_unique,
       |  CAST((n_docs - n_unique) * 1000 // n_docs AS BIGINT) AS dup_permille,
       |  mean_quality, t.lang_pred AS top_lang,
       |  CAST(ln * 1000 // n_docs AS BIGINT) AS top_lang_permille
       |FROM mani_a a JOIN mani_t t ON t.source = a.source AND t.rn = 1""".stripMargin

  /** Mirrors [[qSampleEpochs]]: per-source token totals, the
    * deterministic weight recipe, window-summed Σweights, integer
    * floor-division draw sizes and permille repeat factors. */
  private val sampleEpochsSql: String =
    s"""WITH ep_t AS (SELECT source,
       |    CAST(SUM($nTokensSql) AS BIGINT) AS total_tokens
       |  FROM documents GROUP BY source),
       |ep_w AS (SELECT source, total_tokens,
       |    CAST(100 + (length(source) * 37) % 200 AS BIGINT) AS weight
       |  FROM ep_t),
       |ep_s AS (SELECT *, SUM(weight) OVER () AS sumw FROM ep_w)
       |SELECT source, total_tokens, weight,
       |  CAST(2000000 * weight // sumw AS BIGINT) AS tokens_drawn,
       |  CAST((2000000 * weight // sumw) * 1000 // greatest(total_tokens, 1)
       |       AS BIGINT) AS epochs_permille,
       |  ((2000000 * weight // sumw) * 1000 // greatest(total_tokens, 1)) > 4000
       |    AS oversampled
       |FROM ep_s""".stripMargin

  /** Mirrors [[qMultimodalKeepOne]]: the [[multimodalImageDupsSql]]
    * perceptual pairs through the identical recursive closure +
    * keep-min-id replay as [[dedupKeepOneSql]]. */
  private val multimodalKeepOneSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (${multimodalImageDupsSql()}),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id),
       |dropped AS (SELECT id FROM (SELECT id, min(label) AS rep FROM labels GROUP BY id) t
       |            WHERE id <> rep)
       |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  /** Mirrors [[qDedupMultisignal]]: the text-minhash and image-aHash
    * pair replays unioned (UNION dedups, matching the engine's
    * `dropDuplicates`), then the identical closure + keep-min-id. */
  private val dedupMultisignalSql: String =
    s"""WITH RECURSIVE tp AS MATERIALIZED (${minhashPairsSql(3, 64, 16, 0.5, Some(12))}),
       |ip AS MATERIALIZED (${multimodalImageDupsSql(Some(12))}),
       |pairs AS MATERIALIZED (SELECT id_a, id_b FROM tp
       |          UNION SELECT id_a, id_b FROM ip),
       |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |labels(id, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, l.label FROM edges e JOIN labels l ON e.dst = l.id),
       |dropped AS (SELECT id FROM (SELECT id, min(label) AS rep FROM labels GROUP BY id) t
       |            WHERE id <> rep)
       |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)""".stripMargin

  private val multimodalAudioSql: String =
    """WITH a AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS len,
      |  doc_id // 2 AS kw, (doc_id - 1) // 2 AS km,
      |  doc_id % 2 = 0 AS iswav FROM documents),
      |b AS (SELECT *,
      |  8000 + (kw % 5) * 4000 AS wsr,
      |  (1 + (kw % 2)) * 2 AS blk,
      |  ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST(1 + (km % 14) AS INTEGER)] AS br,
      |  ([44100,48000,32000])[CAST(km % 3 AS INTEGER) + 1] AS msr
      |  FROM a)
      |SELECT doc_id,
      |  CASE WHEN iswav THEN 'audio/wav' ELSE 'audio/mpeg' END AS media_type,
      |  CAST(CASE WHEN iswav THEN wsr ELSE msr END AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN iswav THEN 1 + (kw % 2)
      |       WHEN km % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS channels,
      |  CAST(CASE WHEN iswav THEN 16 END AS BIGINT) AS bits_per_sample,
      |  CAST(CASE WHEN iswav THEN (len - (len % blk)) // blk END AS BIGINT) AS n_samples,
      |  CAST(CASE WHEN iswav THEN ((len - (len % blk)) // blk) * 1000 // wsr
      |       ELSE (4 + len) * 8 // br END AS BIGINT) AS duration_ms,
      |  CAST(CASE WHEN NOT iswav THEN br END AS BIGINT) AS bitrate_kbps
      |FROM b""".stripMargin

  // Mirrors [[qMultimodalVideo]]: the MP4 payloads are BUILT from
  // (doc_id, strlen(text)) by a fixed contract (brand/timescale/codec
  // tables indexed by doc_id residues; mvhd duration = len*7 +
  // doc_id%97), so every box-walked field replays as integer SQL —
  // duration_ms is the same floor division the parser computes.
  private val multimodalVideoSql: String =
    """WITH v AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS len FROM documents),
      |w AS (SELECT doc_id,
      |  (['isom','mp42','dash'])[CAST(doc_id % 3 AS INTEGER) + 1] AS major_brand,
      |  CAST(([600,1000,25,30000,90000])[CAST(doc_id % 5 AS INTEGER) + 1] AS BIGINT) AS timescale,
      |  len * 7 + doc_id % 97 AS duration,
      |  1 + doc_id % 3 AS n_tracks,
      |  (['avc1','hvc1','mp4a','vp09','av01'])[CAST(doc_id % 5 AS INTEGER) + 1] AS codec
      |  FROM v)
      |SELECT doc_id, 'video/mp4' AS media_type, major_brand, timescale,
      |  duration * 1000 // timescale AS duration_ms, n_tracks, codec
      |FROM w""".stripMargin

  private val profileKmvSql: String =
    s"""WITH c0 AS (SELECT doc_id, source,
       |  trim(regexp_replace(lower(text), '$ws+', ' ', 'g')) AS ctext FROM documents),
       |f0 AS (SELECT doc_id, source, ${HashSql.textFnvU("ctext")} AS x FROM c0),
       |${HashSql.mixCtes("f", "f0", "doc_id, source")},
       |g AS (SELECT source, list_sort(list_distinct(list(x))) AS xs FROM f4 GROUP BY source),
       |sk AS (SELECT source,
       |        CAST(least(len(xs), 16) AS BIGINT) AS n_kept,
       |        (CASE WHEN len(xs) >= 16 THEN xs[16] ELSE NULL END) AS kth_u
       |      FROM g)
       |SELECT source, n_kept, ${HashSql.toS("kth_u")} AS kth,
       |  CAST(CASE WHEN kth_u IS NULL THEN n_kept
       |       ELSE (CAST('${(BigInt(15) << 64).toString}' AS HUGEINT) // kth_u)
       |       END AS BIGINT) AS estimate
       |FROM sk""".stripMargin

  /** Mirrors [[qProfileKmvOverlap]]: the same per-source top-64
    * shingle-hash KMV sketches (tokenHashes + shingleHashes replay,
    * nonnegative-HUGEINT sort = the buffer's unsigned order), pairs
    * by an inequality join (fine in the ORACLE — the Spark side
    * enumerates the bounded group domain + broadcast equi-joins to
    * stay off the BNLJ path), then the identical integer estimator:
    * k smallest of the union, membership count in both, floor
    * permille. */
  private val profileKmvOverlapSql: String =
    s"""WITH t0 AS (SELECT doc_id, source, ${HashSql.tokenHashes("text")} AS ths FROM documents),
       |sh AS (SELECT source, unnest(${HashSql.shingleHashes("ths", 3)}) AS x FROM t0),
       |g AS (SELECT source, (list_sort(list_distinct(list(x))))[1:64] AS xs
       |      FROM sh GROUP BY source),
       |p AS (SELECT a.source AS g_a, b.source AS g_b, a.xs AS xa, b.xs AS xb
       |      FROM g a JOIN g b ON a.source < b.source),
       |u AS (SELECT g_a, g_b, xa, xb,
       |        (list_sort(list_distinct(list_concat(xa, xb))))[1:64] AS ux FROM p),
       |m AS (SELECT g_a, g_b, ux,
       |        len(list_filter(ux, x -> list_contains(xa, x) AND list_contains(xb, x))) AS nm
       |      FROM u)
       |SELECT g_a, g_b, CAST(len(ux) AS BIGINT) AS n_union_kept,
       |  CAST(nm AS BIGINT) AS n_match,
       |  CAST(CASE WHEN len(ux) > 0 THEN (nm * 1000) // len(ux) ELSE 0 END AS BIGINT)
       |    AS jaccard_permille
       |FROM m""".stripMargin

  /** The catalog. Declared last: an object's vals initialize in
    * textual order, and the entries read the oracle SQL vals above. */
  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_text_bpe", qTextBpe, textBpeSql(8)),
    CatalogEntry("q_multimodal_audio", qMultimodalAudio, multimodalAudioSql),
    CatalogEntry("q_multimodal_video", qMultimodalVideo, multimodalVideoSql),
    CatalogEntry("q_multimodal_image_dups", qMultimodalImageDups, multimodalImageDupsSql()),
    CatalogEntry("q_multimodal_audio_dups", qMultimodalAudioDups, multimodalAudioDupsSql),
    CatalogEntry("q_multimodal_video_dups", qMultimodalVideoDups, multimodalVideoDupsSql),
    CatalogEntry("q_chat_parse", qChatParse, chatTurnsSql),
    CatalogEntry("q_chat_validate", qChatValidate, chatValidateSql),
    CatalogEntry("q_chat_pack", qChatPack, chatPackSql),
    CatalogEntry("q_corpus_manifest", qCorpusManifest, corpusManifestSql),
    CatalogEntry("q_sample_epochs", qSampleEpochs, sampleEpochsSql),
    CatalogEntry("q_pref_validate", qPrefValidate, prefValidateSql),
    CatalogEntry("q_pref_conflicts", qPrefConflicts, prefConflictsSql),
    CatalogEntry("q_text_drift", qTextDrift, textDriftSql),
    CatalogEntry("q_chat_tools", qChatTools, chatToolsSql),
    CatalogEntry("q_chat_gate", qChatGate, chatValidateSql),
    CatalogEntry("q_curriculum", qCurriculum, curriculumSql),
    CatalogEntry("q_manifest_merge", qManifestMerge, manifestMergeSql),
    CatalogEntry("q_text_encoding", qTextEncoding, textEncodingSql),
    CatalogEntry("q_sample_epochs_apply", qSampleEpochsApply, sampleEpochsApplySql),
    CatalogEntry("q_pipeline_ingest", qPipelineIngest, pipelineIngestSql),
    CatalogEntry("q_pipeline_sft", qPipelineSft, pipelineSftSql),
    CatalogEntry("q_pipeline_sft_ledger", qPipelineSftLedger, pipelineSftLedgerSql),
    CatalogEntry("q_pipeline_release", qPipelineRelease, pipelineReleaseSql),
    CatalogEntry("q_pipeline_release_run", qPipelineReleaseRun, pipelineReleaseSql),
    CatalogEntry("q_pipeline_release_incr", qPipelineReleaseIncr, pipelineReleaseIncrSql),
    CatalogEntry("q_release_forget", qReleaseForget, releaseForgetSql),
    CatalogEntry("q_pipeline_pref", qPipelinePref, pipelinePrefSql),
    CatalogEntry("q_pipeline_pref_ledger", qPipelinePrefLedger, pipelinePrefLedgerSql),
    CatalogEntry("q_chat_dedup", qChatDedup, chatDedupSql),
    CatalogEntry("q_profile_kmv_overlap", qProfileKmvOverlap, profileKmvOverlapSql),
    CatalogEntry("q_dedup_simhash", qDedupSimhash, dedupSimhashSql),
    CatalogEntry("q_dedup_minhash", qDedupMinhash, minhashPairsSql(3, 64, 16, 0.5)),
    CatalogEntry("q_dedup_minhash_capped", qDedupMinhashCapped, minhashPairsSql(3, 64, 16, 0.5, Some(2))),
    CatalogEntry("q_dedup_ngram_jaccard", qDedupNgramJaccard, minhashPairsSql(2, 64, 16, 0.4)),
    CatalogEntry("q_dedup_editdist", qDedupEditdist, dedupEditdistSql),
    CatalogEntry("q_dedup_keep_one", qDedupKeepOne, dedupKeepOneSql),
    CatalogEntry("q_dedup_incremental", qDedupIncremental, dedupIncrementalSql),
    CatalogEntry("q_forget", qForget, forgetSql),
    CatalogEntry("q_dedup_bloom", qDedupBloom, dedupBloomSql),
    CatalogEntry("q_dedup_cdc", qDedupCdc, dedupCdcSql),
    CatalogEntry("q_dedup_cdc_incremental", qDedupCdcIncremental, dedupCdcIncrementalSql),
    CatalogEntry("q_dedup_containment", qDedupContainment, dedupContainmentSql),
    CatalogEntry("q_span_dupes", qSpanDupes, spanDupesSql),
    CatalogEntry("q_quality_gate", qQualityGate, qualityGateSql),
    CatalogEntry("q_snapshot_diff", qSnapshotDiff, snapshotDiffSql),
    CatalogEntry("q_snapshot_rowdiff", qSnapshotRowdiff, snapshotRowdiffSql),
    CatalogEntry("q_check_suite", qCheckSuite, checkSuiteSql),
    CatalogEntry("q_check_fk", qCheckFk, checkFkSql),
    CatalogEntry("q_privacy_risk", qPrivacyRisk, privacyRiskSql),
    CatalogEntry("q_agg_incremental", qAggIncremental, aggIncrementalSql),
    CatalogEntry("q_pseudonymize", qPseudonymize, pseudonymizeSql),
    CatalogEntry("q_cdc_compact", qCdcCompact, cdcCompactSql),
    CatalogEntry("q_sample_split", qSampleSplit, sampleSplitSql),
    CatalogEntry("q_split_decontam", qSplitDecontam, splitDecontamSql),
    CatalogEntry("q_sample_cap", qSampleCap, sampleCapSql),
    CatalogEntry("q_sample_stratified", qSampleStratified, sampleStratifiedSql),
    CatalogEntry("q_sample_mix", qSampleMix, sampleMixSql),
    CatalogEntry("q_sample_temperature", qSampleTemperature, sampleTemperatureSql),
    CatalogEntry("q_multimodal_decode", qMultimodalDecode, multimodalDecodeSql),
    CatalogEntry("q_dedup_components", qDedupComponents, dedupComponentsSql),
    CatalogEntry("q_graph_pagerank", qGraphPagerank, graphPagerankSql),
    CatalogEntry("q_graph_ppr", qGraphPpr, graphRankSql(Some(pprSeeds))),
    // Mirrors qGraphTriangles: same canonical a<b<c enumeration over
    // the deduped undirected trade edges, exploded to per-node counts.
    CatalogEntry("q_graph_triangles", qGraphTriangles,
      """WITH e AS MATERIALIZED (
        |  SELECT c.c_nationkey AS s, su.s_nationkey AS d
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier su ON l.l_suppkey = su.s_suppkey),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e WHERE s <> d),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT CAST(node AS BIGINT) AS node,
        |       CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([a, b, c]) AS node FROM tri) t
        |GROUP BY node""".stripMargin),
    // Mirrors qEventsTransitions: identical lead window keyed
    // (user, ts, event_id) over TIMESTAMP_NS order == the engine's
    // raw-nanos long order; probability is the same exact-count
    // double division.
    CatalogEntry("q_events_transitions", qEventsTransitions,
      """WITH nx AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS next
        |  FROM events),
        |p AS (SELECT cur, next, count(*) AS n_transitions
        |      FROM nx WHERE next IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur, CAST(SUM(n_transitions) AS BIGINT) AS tot
        |      FROM p GROUP BY cur)
        |SELECT p.cur, p.next, p.n_transitions,
        |  CAST(p.n_transitions AS DOUBLE) / CAST(t.tot AS DOUBLE) AS prob
        |FROM p JOIN t ON p.cur = t.cur""".stripMargin),
    CatalogEntry("q_pack_shards", qPackShards,
      """SELECT doc_id AS id, lang, n_chars AS weight,
        |  CASE WHEN ((rn // 4) % 2) = 0 THEN rn % 4 ELSE 3 - (rn % 4) END AS shard
        |FROM (SELECT doc_id, lang, n_chars,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY n_chars DESC, doc_id ASC) - 1 AS rn
        |      FROM documents) t""".stripMargin),
    CatalogEntry("q_text_perplexity", qTextPerplexity, textPerplexitySql),
    CatalogEntry("q_profile_corr", qProfileCorr, profileCorrSql),
    CatalogEntry("q_sample_weighted", qSampleWeighted, sampleWeightedSql),
    CatalogEntry("q_pack_split", qPackSplit, packSplitSql),
    CatalogEntry("q_events_anomaly", qEventsAnomaly, eventsAnomalySql),
    CatalogEntry("q_events_rolling", qEventsRolling, eventsRollingSql),
    CatalogEntry("q_scd2", qScd2, scd2Sql),
    CatalogEntry("q_layout_zonemaps", qLayoutZonemaps, layoutZonemapsSql),
    CatalogEntry("q_layout_compaction", qLayoutCompaction, layoutCompactionSql),
    CatalogEntry("q_layout_prune", qLayoutPrune, layoutPruneSql),
    CatalogEntry("q_events_gapfill", qEventsGapfill, eventsGapfillSql),
    CatalogEntry("q_events_ewma", qEventsEwma, eventsEwmaSql),
    CatalogEntry("q_events_changepoint", qEventsChangepoint, eventsChangepointSql),
    CatalogEntry("q_events_attribution", qEventsAttribution, eventsAttributionSql),
    CatalogEntry("q_interval_overlap", qIntervalOverlap, intervalOverlapSql),
    CatalogEntry("q_events_trend", qEventsTrend, eventsTrendSql),
    CatalogEntry("q_quality_benford", qQualityBenford, qualityBenfordSql),
    CatalogEntry("q_events_paths", qEventsPaths, eventsPathsSql),
    CatalogEntry("q_profile_robust", qProfileRobust, profileRobustSql),
    CatalogEntry("q_profile_gini", qProfileGini, profileGiniSql),
    CatalogEntry("q_quality_quantile_map", qQualityQuantileMap, qualityQuantileMapSql),
    CatalogEntry("q_golden_record", qGoldenRecord, goldenRecordSql),
    CatalogEntry("q_check_fd", qCheckFd, checkFdSql),
    CatalogEntry("q_events_seasonal", qEventsSeasonal, eventsSeasonalSql),
    CatalogEntry("q_embed_truncation", qEmbedTruncation, embedTruncationSql),
    CatalogEntry("q_events_interarrival", qEventsInterarrival, eventsInterarrivalSql),
    CatalogEntry("q_events_growth", qEventsGrowth, eventsGrowthSql),
    CatalogEntry("q_text_lang_margin", qTextLangMargin, textLangMarginSql),
    CatalogEntry("q_text_fertility", qTextFertility, textFertilitySql),
    CatalogEntry("q_union_evolved", qUnionEvolved, unionEvolvedSql),
    CatalogEntry("q_union_evolved_nested", qUnionEvolvedNested, unionEvolvedNestedSql),
    CatalogEntry("q_events_conv_latency", qEventsConvLatency, eventsConvLatencySql),
    CatalogEntry("q_graph_degrees", qGraphDegrees, graphDegreesSql),
    CatalogEntry("q_dedup_cluster_sizes", qDedupClusterSizes, dedupClusterSizesSql),
    CatalogEntry("q_sim_index_topk", qSimIndexTopK, simIvfPqBatchSql),
    CatalogEntry("q_fuzzy_join", qFuzzyJoin, fuzzyPairsSql),
    CatalogEntry("q_fuzzy_lookup", qFuzzyLookup, fuzzyLookupSql),
    CatalogEntry("q_fuzzy_jw", qFuzzyJw, fuzzyJwSql),
    CatalogEntry("q_refer_fuzzy", qReferFuzzy, referFuzzySql),
    CatalogEntry("q_entity_resolution", qEntityResolution, entityResolutionSql),
    CatalogEntry("q_quality_calibrated", qQualityCalibrated, qualityCalibratedSql),
    CatalogEntry("q_sample_budget", qSampleBudget, sampleBudgetSql),
    CatalogEntry("q_text_postings", qTextPostings, textPostingsSql),
    CatalogEntry("q_text_bm25", qTextBm25, textBm25Sql),
    CatalogEntry("q_text_entropy", qTextEntropy, textEntropySql),
    CatalogEntry("q_embed_dimstats", qEmbedDimstats, embedDimstatsSql),
    CatalogEntry("q_embed_quantize", qEmbedQuantize, embedQuantizeSql),
    CatalogEntry("q_embed_gram", qEmbedGram, embedGramSql),
    CatalogEntry("q_text_colloc", qTextColloc, textCollocSql),
    CatalogEntry("q_embed_pca", qEmbedPca, embedPcaSql),
    CatalogEntry("q_dedup_keep_best", qDedupKeepBest, dedupKeepBestSql),
    CatalogEntry("q_profile_drift", qProfileDrift, profileDriftSql),
    CatalogEntry("q_events_cooccur", qEventsCooccur, eventsCooccurSql),
    CatalogEntry("q_dedup_bucket_census", qDedupBucketCensus, dedupBucketCensusSql),
    CatalogEntry("q_ingest_orc", qIngestOrc,
      "SELECT doc_id, source AS src_tag, n_chars + 1 AS n_chars_p1 FROM documents"),
    CatalogEntry("q_text_subwords", qTextSubwords,
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.subwordPattern}')) AS BIGINT)
         |    AS n_subwords
         |FROM documents""".stripMargin),
    CatalogEntry("q_sim_brute_topk", qSimBruteTopK, simBruteTopkSql),
    CatalogEntry("q_sim_lsh_topk", qSimLshTopK, simLshTopkSql),
    CatalogEntry("q_sim_ivf_topk", qSimIvfTopK, simIvfTopkSql),
    CatalogEntry("q_sim_pq_topk", qSimPqTopK, simPqTopkSql),
    CatalogEntry("q_sim_ivfpq_batch", qSimIvfPqBatch, simIvfPqBatchSql),
    CatalogEntry("q_sim_pq_rerank", qSimPqRerank, simPqRerankSql),
    CatalogEntry("q_sim_ivf_distributed", qSimIvfDistributed, simIvfDistributedSql),
    CatalogEntry("q_sim_batch_topk", qSimBatchTopK, simBatchTopkSql),
    CatalogEntry("q_sim_index_ivf", qSimIndexIvf, simBatchTopkSql),
    CatalogEntry("q_sim_index_append", qSimIndexAppend, simIndexAppendSql),
    CatalogEntry("q_sim_index_delete", qSimIndexDelete, simIndexDeleteSql),
    CatalogEntry("q_sim_index_append_pq", qSimIndexAppendPq, simIndexAppendPqSql),
    CatalogEntry("q_sim_margin_pairs", qSimMarginPairs, simMarginPairsSql),
    CatalogEntry("q_sim_recall_audit", qSimRecallAudit, simRecallAuditSql),
    CatalogEntry("q_sim_recall_audit_lsh", qSimRecallAuditLsh, simRecallAuditLshSql),
    CatalogEntry("q_sim_lsh_batch", qSimLshBatch, simLshBatchSql),
    CatalogEntry("q_sim_index_lsh", qSimIndexLsh, simLshBatchSql),
    CatalogEntry("q_sim_index_drift", qSimIndexDrift, simIndexDriftSql),
    CatalogEntry("q_sim_index_drift_pq", qSimIndexDriftPq, simIndexDriftPqSql),
    CatalogEntry("q_sim_index_drift_lsh", qSimIndexDriftLsh, simIndexDriftLshSql),
    CatalogEntry("q_sim_index_retrain", qSimIndexRetrain, simIndexRetrainSql),
    CatalogEntry("q_store_maintenance", qStoreMaintenance, storeMaintenanceSql),
    CatalogEntry("q_sim_hard_negatives", qSimHardNegatives, simHardNegativesSql),
    CatalogEntry("q_embed_centroids", qEmbedCentroids, embedCentroidsSql),
    CatalogEntry("q_ingest_jsonl", qIngestJsonl, ingestJsonlSql),
    CatalogEntry("q_ingest_csv", qIngestCsv,
      s"""SELECT doc_id, lang AS lang_tag, n_chars * 2 AS n_chars_x2
         |FROM read_csv_auto('$twinRoot/csvtwin/__SF_BASENAME__/documents.csv/*.csv', header = true)""".stripMargin),
    CatalogEntry("q_dedup_embedding", qDedupEmbedding, dedupEmbeddingSql),
    CatalogEntry("q_dedup_semantic", qDedupSemantic, dedupSemanticSql),
    CatalogEntry("q_dedup_semantic_capped", qDedupSemanticCapped, dedupSemanticCappedSql),
    CatalogEntry("q_dedup_incremental_sem", qDedupIncrementalSem, dedupIncrementalSemSql),
    CatalogEntry("q_dedup_incremental_emb", qDedupIncrementalEmb, dedupIncrementalEmbSql),
    CatalogEntry("q_text_stats", qTextStats,
      s"""SELECT doc_id, $nTokensSql AS n_tokens,
         |       (CAST(length(regexp_replace(text, '$ws+', '', 'g')) AS DOUBLE)
         |        / CAST(greatest($nTokensSql, 1) AS DOUBLE)) AS mean_token_len,
         |       md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g'))) AS fp
         |FROM documents""".stripMargin),
    CatalogEntry("q_text_langid", qTextLangid, langCaseSql),
    CatalogEntry("q_text_repetition", qTextRepetition, textRepetitionSql),
    CatalogEntry("q_text_decontam", qTextDecontam, textDecontamSql),
    CatalogEntry("q_text_decontam_scrub", qTextDecontamScrub, textDecontamScrubSql),
    CatalogEntry("q_dedup_scrub_spans", qDedupScrubSpans, dedupScrubSpansSql),
    CatalogEntry("q_quality_distill", qQualityDistill, qualityDistillSql),
    CatalogEntry("q_quality_distill_score", qQualityDistillScore, qualityDistillScoreSql),
    CatalogEntry("q_quality_distill_warm", qQualityDistillWarm, qualityDistillWarmSql),
    CatalogEntry("q_quality_distill_eval", qQualityDistillEval, qualityDistillEvalSql),
    CatalogEntry("q_pack_chunks", qPackChunks, packChunksSql),
    CatalogEntry("q_embed_outliers", qEmbedOutliers, embedOutliersSql),
    // Same built PII payload as the query (lpad/concat replay), then
    // the shared redact chain via TextFunctions.redactSql — pattern
    // constants and application order come from ONE place.
    CatalogEntry("q_text_redact", qTextRedact, {
      val last4 = "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
      val pii = "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'" +
        s" || ' tel +1 (555) 010-' || $last4" +
        " || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'" +
        " || ' v6 2001:db8::' || CAST(doc_id % 9999 AS VARCHAR)" +
        s" || ' ssn 123-45-' || $last4" +
        s" || ' card 4111 1111 1111 ' || $last4" +
        " || ' acct 00' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')"
      s"""SELECT doc_id,
         |  ${TextFunctions.redactSql(s"($pii)")} AS clean_text
         |FROM documents""".stripMargin
    }),
    // Codepoint-identical payload (text || chr()-built probe), then
    // the shared strip+NFC chain — TextFunctions.normalizeTextSql
    // fixes the same order (controls first, then nfc_normalize).
    CatalogEntry("q_text_normalize", qTextNormalize, {
      val payload = s"(text || $normProbeSql)"
      val norm = TextFunctions.normalizeTextSql(payload)
      s"""SELECT doc_id, clean_text,
         |  CAST(length(clean_text) AS BIGINT) AS n_clean
         |FROM (SELECT doc_id, $norm AS clean_text FROM documents)""".stripMargin
    }),
    // Same built page as the query, then the shared boilerplate
    // chain from TextFunctions.boilerplateSteps — one constant list,
    // two engines.
    CatalogEntry("q_text_boilerplate", qTextBoilerplate, {
      val payload = s"('$htmlPrefix' || text || '$htmlSuffix')"
      val stripped = TextFunctions.stripBoilerplateSql(payload)
      s"""SELECT doc_id, clean_text,
         |  CAST(length(clean_text) AS BIGINT) AS n_clean
         |FROM (SELECT doc_id, $stripped AS clean_text FROM documents)""".stripMargin
    }),
    // Mirrors [[qTextOov]]: the same top-20 (freq desc, token asc)
    // vocabulary cut, then a per-row membership sweep — the oov count
    // is an exact integer over the token count, both engines dividing
    // the identical numerator/denominator.
    CatalogEntry("q_text_oov", qTextOov,
      s"""WITH v AS (SELECT token FROM (
         |  SELECT token, count(*) AS freq
         |  FROM (SELECT unnest($tokensLowerSql) AS token FROM documents) t
         |  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20)),
         |vl AS (SELECT list(token) AS vs FROM v)
         |SELECT doc_id, $nTokensSql AS n_tokens,
         |  CAST(len(list_filter($tokensLowerSql, t -> NOT list_contains(vl.vs, t))) AS DOUBLE)
         |    / CAST(greatest($nTokensSql, 1) AS DOUBLE) AS oov_rate
         |FROM documents, vl""".stripMargin),
    CatalogEntry("q_text_vocab", qTextVocab,
      s"""SELECT token, freq, df FROM (
         |  SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest($tokensLowerSql) AS token FROM documents) t
         |  GROUP BY token)
         |ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin),
    CatalogEntry("q_text_quality", qTextQuality,
      s"""SELECT doc_id,
         |  $alphaRatioSql AS alpha_ratio,
         |  $stopRatioSql AS stopword_ratio,
         |  $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
         |    + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
         |    + (1.0 - $punctRatioSql) * 0.1 AS quality
         |FROM documents""".stripMargin),
    CatalogEntry("q_pipeline_filter", qPipelineFilter,
      s"""SELECT doc_id, lang_pred, quality, n_tokens FROM (
         |  SELECT doc_id,
         |    $langPredCaseSql AS lang_pred,
         |    $alphaRatioSql * 0.4 + $stopRatioSql * 0.3
         |      + least(CAST($nTokensSql AS DOUBLE) / 100.0, 1.0) * 0.2
         |      + (1.0 - $punctRatioSql) * 0.1 AS quality,
         |    $nTokensSql AS n_tokens
         |  FROM (SELECT doc_id, text, $langBestSql AS __best FROM documents) t) w
         |WHERE lang_pred = 'en' AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 1000""".stripMargin),
    CatalogEntry("q_pipeline_clean", qPipelineClean, pipelineCleanSql),
    CatalogEntry("q_dedup_exact", qDedupExact,
      "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text"),
    CatalogEntry("q_dedup_fingerprint", qDedupFingerprint,
      s"""SELECT doc_id, fp FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g'))) AS fp,
        |         row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '$ws+', ' ', 'g')))
        |                            ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1""".stripMargin),
    CatalogEntry("q_multimodal_meta", qMultimodalMeta,
      "SELECT doc_id, 'image/stub' AS media_type, CAST(strlen(text) AS BIGINT) AS byte_len FROM documents"),
    // Mirrors Profile.histogram(bins=10): min/max/width derived in
    // the same double op order ((mx-mn)/10, then least(9, floor((x -
    // mn)/w))), so the bucket cuts and bounds match bit for bit; the
    // width=0 degenerate collapses to bucket 0 in both engines.
    CatalogEntry("q_profile_histogram", qProfileHistogram,
      s"""WITH mm AS (SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn,
         |                   max(CAST(o_totalprice AS DOUBLE)) AS mx FROM orders),
         |p AS (SELECT mn, (mx - mn) / 10 AS w FROM mm),
         |b AS (SELECT CASE WHEN p.w = 0 THEN 0
         |        ELSE CAST(least(9, floor((CAST(o_totalprice AS DOUBLE) - p.mn) / p.w)) AS BIGINT)
         |      END AS bucket
         |      FROM orders, p WHERE o_totalprice IS NOT NULL)
         |SELECT b.bucket, p.mn + b.bucket * p.w AS lo,
         |       p.mn + (b.bucket + 1) * p.w AS hi,
         |       count(*) AS n
         |FROM b, p
         |GROUP BY b.bucket, p.mn, p.w""".stripMargin),
    // Mirrors [[qProfileKmv]] (Profile.kmvSketch k=16): same canonical
    // text -> FNV-1a -> SplitMix64 hash chain as the Spark side
    // (textFnvU + mixCtes), then the KMV sketch IS plain SQL — the k
    // smallest distinct hashes per source (list_sort over nonnegative
    // HUGEINTs = the unsigned order KmvBuffer keeps), the k-th one
    // surfaced in signed-bits form, and the estimator exact HUGEINT
    // floor-division (the Spark side's remainder-subtracted DECIMAL
    // division computes the identical integer).
    CatalogEntry("q_profile_kmv", qProfileKmv, profileKmvSql),
    // Same SQL ON PURPOSE: the merge query unions per-(source, batch)
    // sketches back per source, and KMV's closure property says that
    // must equal the direct whole-source sketch — the oracle holds
    // the merge path to exactly that.
    CatalogEntry("q_profile_kmv_merge", qProfileKmvMerge, profileKmvSql),
    CatalogEntry("q_profile_cms", qProfileCms, profileCmsSql),
    CatalogEntry("q_profile_cms_merge", qProfileCmsMerge, profileCmsSql),
    CatalogEntry("q_profile_cms_hh", qProfileCmsHh, profileCmsHhSql),
    CatalogEntry("q_dedup_lines", qDedupLines, dedupLinesSql),
    CatalogEntry("q_dedup_lines_incremental", qDedupLinesIncremental, dedupLinesIncrementalSql),
    CatalogEntry("q_dedup_report", qDedupReport, dedupReportSql),
    CatalogEntry("q_sample_dsir", qSampleDsir, sampleDsirSql),
    CatalogEntry("q_pack_bins", qPackBins, packBinsSql),
    CatalogEntry("q_pack_bins_stats", qPackBinsStats, packBinsStatsSql),
    CatalogEntry("q_pack_bins_bpe", qPackBinsBpe, packBinsBpeSql),
    CatalogEntry("q_text_feature_hash", qTextFeatureHash, textFeatureHashSql),
    CatalogEntry("q_multimodal_keep_one", qMultimodalKeepOne, multimodalKeepOneSql),
    CatalogEntry("q_dedup_multisignal", qDedupMultisignal, dedupMultisignalSql),
    CatalogEntry("q_text_bpe_segment", qTextBpeSegment, textBpeSql(8, segment = true)),
    // Mirrors [[qTextBigrams]] (vocabularyNgrams n=2 k=40): shingles'
    // two branches (windows when len >= n, whole-doc gram otherwise),
    // same (freq desc, gram asc) cut.
    CatalogEntry("q_text_bigrams", qTextBigrams,
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '$ws+'), x -> x <> '') AS t
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, list_aggregate(t[i:i+1], 'string_agg', ' ') AS gram
         |  FROM toks, unnest(range(1, len(t) - 2 + 2)) r(i) WHERE len(t) >= 2
         |  UNION ALL
         |  SELECT doc_id, COALESCE(list_aggregate(t, 'string_agg', ' '), '') AS gram
         |  FROM toks WHERE len(t) < 2)
         |SELECT gram, freq, df FROM (
         |  SELECT gram, count(*) AS freq, count(DISTINCT doc_id) AS df
         |  FROM grams GROUP BY gram)
         |ORDER BY freq DESC, gram ASC LIMIT 40""".stripMargin),
    // Mirrors [[qEventsRetention]] (Funnel.cohortRetention, weekly):
    // integer period arithmetic (`div` == `//` on epoch micros),
    // per-(user, period) distinct, min-period cohort join, count.
    CatalogEntry("q_events_retention", qEventsRetention,
      """WITH up AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS p FROM events),
        |c AS (SELECT user_id, min(p) AS cohort FROM up GROUP BY user_id)
        |SELECT CAST(c.cohort AS BIGINT) AS cohort_period,
        |       CAST(up.p - c.cohort AS BIGINT) AS period_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM up JOIN c ON up.user_id = c.user_id
        |GROUP BY c.cohort, up.p - c.cohort""".stripMargin),
    // Mirrors [[qZorderValue]] (Layout.zValue, 16 bits): identical
    // shift/mask interleave on BIGINT — integer-exact in both engines.
    CatalogEntry("q_zorder_value", qZorderValue, {
      val terms = (0 until 16).flatMap { i =>
        Seq(s"((((o_custkey & 65535) >> $i) & 1) << ${2 * i})",
          s"((((o_orderkey & 65535) >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" | ")
      s"SELECT o_orderkey, CAST($terms AS BIGINT) AS zval FROM orders"
    }),
    // Mirrors [[qUrlCanonical]] (TextFunctions.canonicalizeUrl): the
    // identical RE2-safe step chain; only the capture-replacement
    // token differs (Java $1, RE2 \1 — single-quoted SQL passes the
    // backslash through verbatim).
    CatalogEntry("q_url_canonical", qUrlCanonical, {
      val raw = "'https://' || upper(source) || '.Example.COM:443/Docs/' || " +
        "CAST(doc_id AS VARCHAR) || '/?utm_source=feed&id=' || " +
        "CAST(doc_id AS VARCHAR) || '&utm_campaign=x&fbclid=abc#frag'"
      s"""WITH u0 AS (SELECT doc_id, $raw AS u FROM documents),
         |u1 AS (SELECT doc_id, regexp_replace(u, '#.*$$', '') AS u FROM u0),
         |u2 AS (SELECT doc_id,
         |  regexp_replace(u, '(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*&?', '', 'g') AS u FROM u1),
         |u3 AS (SELECT doc_id, regexp_replace(u, '[?&]$$', '') AS u FROM u2),
         |sp AS (SELECT doc_id, u,
         |  regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*') AS sh FROM u3),
         |cn AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(lower(sh), '^(http://.*):80$$', '\\1'),
         |                 '^(https://.*):443$$', '\\1')
         |    || substr(u, length(sh) + 1, 1000000) AS u
         |  FROM sp)
         |SELECT doc_id, regexp_replace(u, '/$$', '') AS url FROM cn""".stripMargin
    }),
    // Mirrors Profile.quantileBuckets(n=4): the same quantile_cont
    // cut points, the same strict-> comparison chain (ties land low).
    CatalogEntry("q_profile_buckets", qProfileBuckets,
      """WITH q AS (SELECT quantile_cont(n_chars, 0.25) AS t1,
        |                  quantile_cont(n_chars, 0.5) AS t2,
        |                  quantile_cont(n_chars, 0.75) AS t3 FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(1 + (CASE WHEN CAST(n_chars AS DOUBLE) > q.t1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN CAST(n_chars AS DOUBLE) > q.t2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN CAST(n_chars AS DOUBLE) > q.t3 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS bucket
        |FROM documents, q""".stripMargin),
    // Mirrors Profile.madOutliers(k=1.9): quantile_cont medians (the
    // established percentile bit-parity), |x-med| > 1.9*mad in the
    // identical double op order, med/mad attached as the same values.
    CatalogEntry("q_profile_outliers", qProfileOutliers,
      """WITH m AS (SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med FROM orders),
        |d AS (SELECT quantile_cont(abs(CAST(o_totalprice AS DOUBLE) - m.med), 0.5) AS mad,
        |             m.med AS med
        |      FROM orders, m GROUP BY m.med)
        |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS value, d.med, d.mad
        |FROM orders, d
        |WHERE abs(CAST(o_totalprice AS DOUBLE) - d.med) > 1.9 * d.mad""".stripMargin),
    // Mirrors TextFunctions.topTfidfTerms(k=3): same tf/df counts,
    // same (tf·N)/df double order, same (tfidf desc, token asc) cut.
    CatalogEntry("q_text_tfidf", qTextTfidf,
      s"""WITH tf AS MATERIALIZED (
         |  SELECT doc_id, token, count(*) AS tf FROM
         |    (SELECT doc_id, unnest($tokensLowerSql) AS token FROM documents) x
         |  GROUP BY doc_id, token),
         |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
         |SELECT doc_id, token, tfidf FROM (
         |  SELECT tf.doc_id, tf.token,
         |    CAST(tf.tf AS DOUBLE) * n.nd / CAST(d.df AS DOUBLE) AS tfidf,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE) * n.nd / CAST(d.df AS DOUBLE) DESC,
         |               tf.token ASC) AS rn
         |  FROM tf JOIN dfreq d ON tf.token = d.token, n) t
         |WHERE rn <= 3""".stripMargin),
    CatalogEntry("q_profile_quantiles", qProfileQuantiles,
      Seq("o_totalprice", "o_custkey").map { c =>
        s"""SELECT '$c' AS "column",
           |  quantile_cont($c, 0.25) AS q25,
           |  quantile_cont($c, 0.5) AS q50,
           |  quantile_cont($c, 0.75) AS q75
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")),
    CatalogEntry("q_profile", qProfile,
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")))
}
