package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{SimilarityFunctions, TextFunctions}
import graft.operators.{Chat, Dedup, Packing, Profile, Release, Sampling, Similarity, Stage}
import graft.operators.Stage.Local
import graft.sources.{AnnIndex, DedupIndexStore, Segments}

/** The INCREMENTAL release — "day N+1 = yesterday's state + today's
  * crawl batch, history never rescanned": the composition of every
  * O(batch) piece the engine already owns into one runner, so a new
  * crawl batch releases in O(batch) instead of re-running the whole
  * [[graft.operators.Release.pipeline]] over the full corpus (at
  * 100 TB, the difference between a minutes-scale daily job and a
  * full-corpus re-release per batch).
  *
  * STATE LAYOUT (one `stateDir`; every table a [[Segments]] STORE —
  * appends land as `<name>/rows/seg=N`, right-to-be-forgotten
  * deletes as `<name>/tombstones/seg=N` ([[forget]]), and
  * [[compactState]] rewrites a table through pointer publication,
  * so the full store discipline the minhash/ANN indexes carry
  * extends to the release state itself):
  *
  *   corpus_minhash/   [[DedupIndexStore]] bands over every exact-
  *                     dedup survivor (3/64/16 — the dedup params)
  *   holdout_minhash/  bands over the test holdout (3/64/32 — the
  *                     stricter decontam banding)
  *   holdout_ann/      [[AnnIndex]] plain-IVF over the holdout
  *                     embeddings, FROZEN centroids (the semantic-
  *                     decontam probe corpus)
  *   conv_minhash/     bands over every admitted conversation text
  *   corpus_texts/     (doc_id, source, text) — exact survivors; the
  *                     near-dup rescore's candidate-text side
  *   holdout_texts/    (doc_id, text) — the lexical-decontam rescore
  *   conv_texts/       (doc_id, text) — the conversation rescore
  *   nd_reps/          (doc_id, rep) — text near-dup cluster map
  *   conv_reps/        (doc_id, rep) — conversation cluster map
  *   packed/           (doc_id, grp, n_tokens, loss_tokens, bin_id)
  *   pack_state/       (batch_idx, grp, bin_id, fill) — per-group
  *                     next-fit tail for the append-only pack resume
  *   ledger/           (doc_id, stage, reason) — cumulative rejects
  *   manifest_states/  mergeable [[Profile.manifestStates]] rows
  *   reconcile/        (n_input, sum_input, n_acc, sum_acc) per batch
  *   id_watermark/     (max_id) per batch — the monotone-id fence
  *
  * REPLAY SAFETY (exactly-once across crash replays): a batch run
  * under an explicit `batchId` publishes EVERY state delta and store
  * segment idempotently at segment id `StreamSegBase + batchId` (the
  * `at` of [[Segments.publishToStore]] / [[DedupIndexStore.appendMinhash]]
  * / [[AnnIndex.appendToIvf]]), and every table the batch reads
  * BEFORE appending is read with the batch's OWN segment excluded —
  * so a crash at ANY point inside [[runDeltas]] followed by a
  * Structured Streaming checkpoint replay recomputes the identical
  * deltas (reads see exactly what the first attempt saw) and each
  * re-publish lands once or no-ops. No intent markers, no
  * double-append window, no fresh-bootstrap recovery required —
  * the streaming form ([[graft.streaming.StreamOps.releaseStream]])
  * restarts are safe mid-batch. [[bootstrap]] publishes every state
  * table the same way at segment id 0 (the id its first auto-numbered
  * append would take) and rebuilds the four stores as full-tree
  * publishes, so re-running a partially failed bootstrap into the
  * same state dir (before any batch ran) no-ops on the tables that
  * already landed instead of appending them twice. Without a
  * `batchId` (the manual batch form) appends auto-number below the
  * streaming floor and carry no replay contract — don't re-run a
  * crashed manual batch against the same state dir; bootstrap a
  * fresh one.
  *
  * EQUALITY CONTRACT (the oracle `q_pipeline_release_incr` pins it):
  * an incremental run's artifact is row-identical to a from-scratch
  * [[Release.pipeline]] over day-N-input ∪ batch, provided the batch
  * respects the contracts a real rolling crawl satisfies:
  *
  *   - MONOTONE IDS: batch doc_ids exceed every day-N id (so every
  *     min-id keeper/rep decision the union run makes picks the day-N
  *     member the incremental already kept). ENFORCED: [[runDeltas]]
  *     fences each batch's min id against the standing
  *     `id_watermark` table and refuses typed on violation — a
  *     retroactive id would otherwise silently diverge from the
  *     from-scratch truth;
  *   - NO RETROACTION: released day-N docs are immutable — a batch
  *     doc must not (a) bridge two distinct day-N near-dup clusters
  *     (the union's transitive merge would retract a day-N keeper),
  *     (b) land in the test split while lexically/semantically close
  *     to a day-N train doc (the union run would decontaminate
  *     yesterday's release), or (c) add holdout embeddings that move
  *     the frozen semantic centroids. (a)–(c) are exactly the events
  *     a production pipeline also forbids — you cannot untrain
  *     yesterday's model; the incremental makes the same call.
  *     Batch-INTERNAL near-dup chains through a cross-matched doc
  *     (b2 ~ b1 ~ corpus) are NOT excluded: the near-dup stage runs
  *     one connected-components pass over the combined edge set
  *     (cross matches ∪ within-batch pairs), so the union CC's
  *     transitive rejection of b2 is reproduced exactly;
  *   - CAPS UNDER THE KNEE: the banded pair caps (`maxBucketSize`)
  *     are cost guards; when a bucket exceeds the cap the two forms
  *     may drop different members of the mega-bucket. Below the cap
  *     (every fixture here) capped ≡ uncapped and equality is exact.
  *
  * Each batch stage mirrors its [[Release.pipeline]] stage through
  * the SAME shared expression blocks (`Release.withEncOk` /
  * `scoredGates` / `sftGateRows` / `convoTexts` / `convCosted`).
  * Every standing-store probe is O(batch) on the store side: the
  * exact-keeper probe and the banded/fingerprint probes reduce the
  * store FIRST by a broadcast semi-join on the batch's own key set
  * (`pruneIndexToProbe`), so no per-batch plan ever shuffles a
  * corpus-sized index. (At batches above broadcast size, write the
  * stores bucketed — [[graft.sources.BucketedCatalogIO]] — and the
  * same probes go shuffle-free on the store side without the
  * broadcast; the segment/tombstone discipline is unchanged.)
  */
object IncrementalRelease {

  /** The replay-idempotent segment id of a streamed batch: all 13
    * state/store publishes of batch `b` land at this one id (each in
    * its own table namespace), above [[Segments.StreamSegBase]] so
    * manual auto-numbered appends can never collide. */
  private def segIdOf(batchId: Long): Long = Segments.StreamSegBase + batchId

  /** The eleven delta tables (everything except the three minhash
    * stores and the ANN store, which carry their own layout). */
  private[graft] val StateTables: Seq[String] = Seq(
    "corpus_texts", "holdout_texts", "conv_texts", "nd_reps",
    "conv_reps", "packed", "pack_state", "ledger", "manifest_states",
    "reconcile", "id_watermark")

  /** Tables whose rows are doc-keyed — the ones a [[forget]]
    * tombstone suppresses row-wise. */
  private val DocKeyed: Set[String] = Set(
    "corpus_texts", "holdout_texts", "conv_texts", "nd_reps",
    "conv_reps", "packed", "ledger")

  /** Read a state table: resolve the live tree (pointer-published
    * compactions), read `rows/`, optionally EXCLUDE one segment (the
    * crash-replay read — a replayed batch must not see its own
    * partially-published deltas), and apply the tombstone filter for
    * doc-keyed tables (a forgotten doc vanishes from every read,
    * including [[artifact]]'s). */
  private def readState(
      spark: SparkSession, stateDir: String, name: String,
      excludeSeg: Option[Long], cols: Seq[String]): DataFrame = {
    val root = Segments.resolve(spark, s"$stateDir/$name")
    val rows = spark.read.parquet(s"$root/rows")
    val kept = excludeSeg match {
      case Some(s) => rows.filter(col("seg") =!= s)
      case None => rows
    }
    val projected = kept.select(cols.map(col): _*)
    if (DocKeyed(name))
      Segments.minusTombstones(spark, root, projected, "doc_id")
    else projected
  }

  private def seg(spark: SparkSession, stateDir: String, name: String,
      cols: String*): DataFrame =
    readState(spark, stateDir, name, None, cols)

  /** Append a delta: an idempotent publish at segment id `at`
    * (replay-safe), an auto-numbered one without. */
  private def app(spark: SparkSession, stateDir: String, name: String,
      rows: DataFrame, at: Option[Long] = None): Unit =
    Segments.publishToStore(spark, s"$stateDir/$name", "rows", rows, at)

  /** The stage-2 exact-keeper probe — the PRODUCTION expression
    * [[runDeltas]] plans (exposed so PlanGuardSpec pins THIS frame,
    * not a test-side replica): reduce the corpus-sized store FIRST by
    * a broadcast semi-join on the batch's fingerprint set, so the
    * distinct shuffles only the matched survivors (batch-bounded),
    * never the corpus index. Removing the `broadcast` hint here is
    * exactly the regression the guard exists to catch. */
  private[graft] def keeperByFpFrame(
      storeBands: DataFrame, fp: DataFrame): DataFrame =
    storeBands
      .join(broadcast(fp.select(col("__fp").as("fp")).distinct()),
        Seq("fp"), "left_semi")
      .select(col("fp").as("__fp"), col("id").as("__keeper")).distinct()

  /** `dup_of_<id>` ledger reasons back to the rep id. */
  private def parseReps(rejects: DataFrame): DataFrame =
    rejects.select(col("doc_id"),
      regexp_extract(col("reason"), "dup_of_(-?\\d+)", 1)
        .cast("long").as("rep"))

  /** The semantic-probe corpus shape ([[Dedup.semanticCorpusIndex]])
    * from a persisted plain-IVF `assigned` table. */
  private def annCorpus(assigned: DataFrame): DataFrame =
    assigned.select(col("id").as("cid"), col("vec").as("cvec"),
      SimilarityFunctions.norm(col("vec")).as("cnrm"), col("cell"))

  /** Bootstrap the standing state from a COMPLETED durable day-0 run
    * ([[ReleaseRun]] — its stage tables are exactly the per-stage
    * corpora the stores index). One-time, day-0-corpus-sized; every
    * subsequent [[run]] touches history only through the stores.
    * Safe to re-run after a partial failure (REPLAY SAFETY). */
  def bootstrap(
      spark: SparkSession,
      runDir: String,
      stateDir: String,
      cfg: ReleaseConfig = ReleaseConfig()): Unit = Stage.scope {
    def st(name: String) = spark.read.parquet(s"$runDir/stages/$name")
    val s2 = st("s2_exact").select("doc_id", "source", "text")
    val holdout = st("s4_split").filter(col("split") === "test")
      .select("doc_id", "text")
    val testEmb = st("s5_test_emb").select("vec_id", "embedding")
    val aturns = st("s6_aturns")
    val packed = st("s6_packed")
      .select("doc_id", "grp", "n_tokens", "loss_tokens", "bin_id")
    val keep = st("s5_keep")
    val ledger = st("s9_ledger").select("doc_id", "stage", "reason")
    val input = st("s0_input")

    val convs = Release.convoTexts(aturns)
    // every state table publishes at segment 0 — the id its first
    // auto-numbered append would take — so a retried bootstrap no-ops
    // on each table that already landed (REPLAY SAFETY)
    def put(name: String, rows: DataFrame): Unit =
      app(spark, stateDir, name, rows, at = Some(0L))
    // EVERY bootstrap write below targets its own directory and
    // nothing in bootstrap reads the state back — one parallel group
    // (guide §2.6). Before this the 4 store builds + 11 table appends
    // ran as ~15 sequential small jobs; now the kmeans training (the
    // long pole) overlaps all of them.
    Stage.parallel(
      () => Stage.labeled(spark, "bootstrap: corpus minhash store") {
        DedupIndexStore.buildMinhash(spark, s"$stateDir/corpus_minhash",
          s2, "doc_id", "text", cfg.dedup.shingleN, cfg.dedup.numHashes,
          cfg.dedup.bands)
        ()
      },
      () => Stage.labeled(spark, "bootstrap: holdout minhash store") {
        DedupIndexStore.buildMinhash(spark, s"$stateDir/holdout_minhash",
          holdout, "doc_id", "text", cfg.dedup.shingleN, cfg.dedup.numHashes,
          cfg.decontam.bands)
        ()
      },
      // the FROZEN semantic model: the same deterministic training the
      // pipeline's stage 5 runs (day-0 holdout embeddings)
      () => Stage.labeled(spark, "bootstrap: ann store") {
        val cents = Similarity.kmeansCentroidsDistributed(
          testEmb, "vec_id", "embedding",
          nlist = cfg.decontam.semanticNlist, iters = cfg.decontam.semanticIters)
        AnnIndex.buildAndWriteIvf(spark, s"$stateDir/holdout_ann",
          testEmb, "vec_id", "embedding", cents)
      },
      () => Stage.labeled(spark, "bootstrap: conv minhash store") {
        DedupIndexStore.buildMinhash(spark, s"$stateDir/conv_minhash",
          convs, "doc_id", "text", cfg.dedup.shingleN, cfg.dedup.numHashes,
          cfg.dedup.bands)
        ()
      },
      () => Stage.labeled(spark, "bootstrap: state tables") {
        Stage.parallel(
          () => put("corpus_texts", s2),
          () => put("holdout_texts", holdout),
          () => put("conv_texts", convs),
          () => put("nd_reps", parseReps(st("s3_nd_rejects"))),
          () => put("conv_reps", parseReps(st("s6_dup_rejects"))),
          () => put("packed", packed),
          () => put("pack_state",
            packTail(packed, batchIdx = 0L)),
          () => put("ledger", ledger),
          () => put("manifest_states", Profile.manifestStates(
            keep.join(packed.select("doc_id").distinct(), "doc_id"),
            "source", "text")),
          () => put("id_watermark",
            input.agg(max(col("doc_id")).as("max_id"))
              .filter(col("max_id").isNotNull)),
          () => {
            val r = input.agg(count(col("doc_id")).as("n"),
              sum(col("doc_id")).as("s")).head()
            val a = packed.select("doc_id")
              .unionByName(ledger.select("doc_id"))
              .agg(count(col("doc_id")).as("n"),
                sum(col("doc_id")).as("s")).head()
            def l(row: org.apache.spark.sql.Row, i: Int) =
              if (row.isNullAt(i)) 0L else row.getLong(i)
            put("reconcile",
              spark.createDataFrame(java.util.Arrays.asList(
                org.apache.spark.sql.Row(r.getLong(0), l(r, 1),
                  a.getLong(0), l(a, 1))),
                org.apache.spark.sql.types.StructType.fromDDL(
                  "n_input BIGINT, sum_input BIGINT, " +
                    "n_acc BIGINT, sum_acc BIGINT")))
          })
      })
  }

  /** Per-group next-fit tail of a packed frame: the LAST bin's id and
    * its used token count — what [[Packing.packBinsByCountFrom]]
    * resumes from. */
  private def packTail(packed: DataFrame, batchIdx: Long): DataFrame = {
    val last = packed.groupBy("grp").agg(max(col("bin_id")).as("bin_id"))
    packed.join(last, Seq("grp", "bin_id"))
      .groupBy("grp", "bin_id").agg(sum(col("n_tokens")).as("fill"))
      .select(lit(batchIdx).as("batch_idx"), col("grp"), col("bin_id"),
        col("fill"))
  }

  /** Latest pack tail per group across all batches. */
  private def latestPackState(
      spark: SparkSession, stateDir: String,
      excludeSeg: Option[Long]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("batch_idx").desc, col("bin_id").desc)
    readState(spark, stateDir, "pack_state", excludeSeg,
        Seq("batch_idx", "grp", "bin_id", "fill"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Release today's crawl batch against the standing state: compute
    * the batch deltas (O(batch) probes of the stores — the corpus is
    * touched only through its indexes and candidate-pruned text
    * joins), append them to the state in the same run, and return the
    * UNION artifact in the exact (part, k, v) shape
    * [[Release.pipeline]] emits — row-identical to a from-scratch run
    * over day-N ∪ batch under the equality contract above. */
  def run(
      spark: SparkSession,
      batchRaw: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      stateDir: String,
      cfg: ReleaseConfig = ReleaseConfig(),
      batchId: Option[Long] = None): DataFrame = {
    runDeltas(spark, batchRaw, embeddings, transcriptsOf, merges,
      stateDir, cfg, batchId)
    artifact(spark, stateDir, cfg.pack.numShards)
  }

  /** [[run]] without the terminal artifact assembly — the per-batch
    * unit a STREAMING caller ([[graft.streaming.StreamOps.releaseStream]])
    * executes: a continuous crawl feed releases one micro-batch at a
    * time, and the artifact is assembled on demand ([[artifact]]),
    * not per batch. Under an explicit `batchId` every publish is
    * replay-idempotent and every pre-append read excludes the batch's
    * own segment — see REPLAY SAFETY in the object doc. */
  def runDeltas(
      spark: SparkSession,
      batchRaw: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      stateDir: String,
      cfg: ReleaseConfig = ReleaseConfig(),
      batchId: Option[Long] = None): Unit = Stage.scope {
    val id = col("doc_id")
    // the batch's own segment id: every publish lands there, every
    // pre-append read excludes it (REPLAY SAFETY)
    val ownSeg = batchId.map(segIdOf)
    // phase marker (guide §1.5) — sequential driver code, so a plain
    // set at each boundary attributes every job (incl. broadcast
    // children) to its stage; cleared in the terminal finally
    def mark(d: String): Unit = spark.sparkContext.setJobDescription(d)
    def segX(name: String, cols: String*): DataFrame =
      readState(spark, stateDir, name, ownSeg, cols)
    def appX(name: String, rows: DataFrame): Unit =
      app(spark, stateDir, name, rows, ownSeg)
    def appendMh(dir: String, batch: DataFrame): Unit =
      DedupIndexStore.appendMinhash(spark, dir, batch, "doc_id", "text", ownSeg)

    try {
    mark("incr 1: ingest")
    // 1 — ingest gates (the shared expression blocks)
    val input = Stage("incr input", Local)(batchRaw.select(id, col("source"), col("raw")))

    // the monotone-id fence: the equality contract is only a theorem
    // when every batch id exceeds every stored id — enforce it against
    // the standing watermark (batch-cardinality rows, one tiny agg)
    // instead of letting a retroactive id silently diverge from the
    // from-scratch truth
    val wm = segX("id_watermark", "max_id")
      .agg(max(col("max_id")).as("wm")).head()
    val bMin = input.agg(min(id).as("m")).head()
    if (!wm.isNullAt(0) && !bMin.isNullAt(0))
      require(bMin.getLong(0) > wm.getLong(0),
        s"IncrementalRelease: batch min doc_id ${bMin.getLong(0)} does not " +
          s"exceed the standing id watermark ${wm.getLong(0)} — the " +
          "monotone-id contract (see the EQUALITY CONTRACT scaladoc) is " +
          "violated and the incremental result would silently diverge " +
          "from a from-scratch release over the union. Re-id the batch " +
          "above the watermark, or re-release from scratch.")

    val raw = Release.withEncOk(input)
    val gated = Stage("incr gated", Local)(Release.scoredGates(raw, cfg))
    val (encRejects, gateRejects) = Release.ingestRejectRows(raw, gated)
    val ingested = Release.ingestedRows(gated)

    mark("incr 2: exact")
    // 2 — exact dedup: cross (store fingerprints, keeper = the stored
    // exact survivor — the union window's min id) then within-batch.
    // The keeper probe reduces the store FIRST by a broadcast
    // semi-join on the batch's fingerprint set, so the distinct
    // shuffles only the matched survivors (batch-bounded), never the
    // corpus-sized index.
    val storeBands = DedupIndexStore.readMinhash(
      spark, s"$stateDir/corpus_minhash", ownSeg)
    val fp = ingested.withColumn("__fp", TextFunctions.fingerprint(col("text")))
    val keeperByFp = keeperByFpFrame(storeBands, fp)
    val crossExactRejects = fp.join(keeperByFp, "__fp")
      .select(id, lit("exact").as("stage"),
        concat(lit("dup_of_"), col("__keeper").cast("string")).as("reason"))
    val afterCross = fp.join(keeperByFp, Seq("__fp"), "left_anti")
      .withColumn("__keep", min(id).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
    val withinExactRejects = afterCross.filter(id =!= col("__keep"))
      .select(id, lit("exact").as("stage"),
        concat(lit("dup_of_"), col("__keep").cast("string")).as("reason"))
    val batchExact = Stage("incr exact", Local)(afterCross
      .filter(id === col("__keep")).select(id, col("source"), col("text")))

    mark("incr 3: neardup")
    // 3 — near-dup: ONE connected-components pass over the union
    // graph's batch-touching edges — cross matches (batch doc → its
    // day-N cluster rep, through the standing rep table) ∪ the
    // within-batch candidate pairs over ALL exact survivors. Running
    // CC over the COMBINED edge set (not over the cross survivors
    // alone) is what makes a batch-internal chain through a
    // cross-matched doc (b2 ~ b1 ~ corpus) reject b2 exactly as the
    // from-scratch union CC does transitively; under the monotone-id
    // contract the component minimum is the day-N rep whenever any
    // member cross-matched, so reps match the union run's.
    val corpusTexts = segX("corpus_texts", "doc_id", "source", "text")
    val ndRepMap = segX("nd_reps", "doc_id", "rep")
      .select(col("doc_id").as("cid"), col("rep"))
    // cross-store matches and within-batch pairs are independent until
    // the combined-edge CC below — materialize them CONCURRENTLY
    // (guide §2.6; the cross probe is the long pole and the
    // within-batch sweep hides under it)
    val Seq(crossNd, batchNdPairs) = Stage.parallel(
      () => Stage("incr nd cross", Local)(
        Dedup.dedupAgainstMatches(batchExact, corpusTexts,
            "doc_id", "text", cfg.dedup.shingleN, cfg.dedup.numHashes,
            cfg.dedup.bands, cfg.dedup.jaccardThreshold,
            maxBucketSize = cfg.dedup.maxBucketSize,
            index = Some(storeBands), pruneIndexToProbe = true)
          .join(ndRepMap, Seq("cid"), "left")
          .select(col("id"), coalesce(col("rep"), col("cid")).as("rep"))),
      () => Stage("incr nd pairs", Local)(
        Dedup.minhashPairs(batchExact, "doc_id", "text",
            cfg.dedup.shingleN, cfg.dedup.numHashes, cfg.dedup.bands,
            cfg.dedup.jaccardThreshold,
            maxBucketSize = cfg.dedup.maxBucketSize)
          .select("id_a", "id_b")))
    val ndCc = Stage("incr nd cc", Local)(
      Dedup.connectedComponents(batchNdPairs.unionByName(
          crossNd.select(col("id").as("id_a"), col("rep").as("id_b"))))
        .filter(col("id") =!= col("rep"))
        // batch rows only: day-N rep nodes ride along in the graph, and
        // under the no-bridge contract each is its own component min
        // (so the id =!= rep filter already removed it) — the semi-join
        // makes that structural rather than assumed
        .join(batchExact.select(id.as("id")), Seq("id"), "left_semi"))
    val ndRejects = ndCc.select(col("id").as("doc_id"),
      lit("neardup").as("stage"),
      concat(lit("dup_of_"), col("rep").cast("string")).as("reason"))
    val batchNd = Stage("incr nd keep", Local)(batchExact.join(
      ndCc.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"))

    mark("incr 3b: store appends")
    // the corpus stores grow by the batch's exact survivors NOW —
    // tomorrow's batch probes today's. Three independent writes to
    // three directories over checkpointed frames — overlapped
    // (guide §2.6); nothing below reads these tables this run.
    Stage.parallel(
      () => appendMh(s"$stateDir/corpus_minhash", batchExact),
      () => appX("corpus_texts", batchExact),
      () => appX("nd_reps", ndCc.select(col("id").as("doc_id"), col("rep"))))

    mark("incr 4: split")
    // 4 — split; the holdout stores grow BEFORE the decontam probe so
    // batch-tv-vs-batch-holdout hits surface exactly like the union's
    val split = Sampling.hashSplit(batchNd, "doc_id",
      cfg.split.trainPct, cfg.split.valPct)
    val batchHold = Stage("incr holdout", Local)(split.filter(col("split") === "test")
      .select(id, col("text")))
    val holdoutRejects = batchHold
      .select(id, lit("holdout").as("stage"), lit("test").as("reason"))
    val batchTv = Stage("incr train/val", Local)(
      split.filter(col("split") =!= "test").select(id, col("source"), col("text")))
    // both must land BEFORE the decontam reads below (append-then-read
    // order) — they are independent of each other, so overlap the two
    // and barrier here
    Stage.parallel(
      () => appendMh(s"$stateDir/holdout_minhash", batchHold),
      () => appX("holdout_texts", batchHold))

    mark("incr 5: decontam")
    // 5 — decontam: lexical first-fail vs the grown holdout store,
    // then semantic vs the persisted ANN index (frozen centroids).
    // These holdout reads deliberately INCLUDE the batch's own just-
    // published segment (append-then-read order — identical on first
    // run and replay), unlike the pre-append reads above.
    val holdTexts = seg(spark, stateDir, "holdout_texts", "doc_id", "text")
    // the LEXICAL chain (banded probe + rescore) and the SEMANTIC
    // chain (ANN append → read → cell-scoped probe) share no data
    // until semRejects/keep below — run the two materializations
    // concurrently (guide §2.6); the append-then-read order INSIDE
    // the semantic thread is preserved
    val Seq(lexOkIds, semHits) = Stage.parallel(
      () => Stage("incr lex ok", Local)(
        Dedup.dedupAgainst(batchTv, holdTexts, "doc_id", "text",
            cfg.dedup.shingleN, cfg.dedup.numHashes, cfg.decontam.bands,
            cfg.decontam.jaccardThreshold,
            index = Some(DedupIndexStore.readMinhash(spark, s"$stateDir/holdout_minhash")),
            pruneIndexToProbe = true)
          .select("doc_id")),
      () => {
        val batchTestEmb = embeddings.join(
          batchHold.select(id.as("vec_id")), Seq("vec_id"), "left_semi")
        AnnIndex.appendToIvf(spark, s"$stateDir/holdout_ann",
          batchTestEmb, "vec_id", "embedding", ownSeg)
        val ann = AnnIndex.readIvf(spark, s"$stateDir/holdout_ann")
        val batchTvEmb = embeddings.join(
          batchTv.select(id.as("vec_id")), Seq("vec_id"), "left_semi")
        val semOkIds = Dedup.semanticDedupAgainst(
            batchTvEmb, ann.assigned, "vec_id", "embedding", ann.centroids,
            threshold = cfg.decontam.semanticThreshold,
            maxClusterSize = cfg.decontam.semanticMaxCluster,
            index = Some(annCorpus(ann.assigned)))
          .select(col("vec_id").as("doc_id"))
        Stage("incr sem hits", Local)(batchTvEmb.select(col("vec_id").as("doc_id"))
          .join(semOkIds, Seq("doc_id"), "left_anti"))
      })
    val lexRejects = batchTv.select("doc_id")
      .join(lexOkIds, Seq("doc_id"), "left_anti")
      .select(id, lit("decontam").as("stage"), lit("lexical").as("reason"))
    val semRejects = semHits.join(lexOkIds, Seq("doc_id"), "left_semi")
      .select(id, lit("decontam").as("stage"), lit("semantic").as("reason"))
    val keep = Stage("incr keep", Local)(batchTv.join(lexOkIds, Seq("doc_id"), "left_semi")
      .join(semHits, Seq("doc_id"), "left_anti"))

    mark("incr 6: sft")
    // 6 — SFT endgame over the batch survivors; conversation dedup is
    // the same combined-edge CC decomposition as stage 3
    val turns = Stage("incr turns", Local)(Chat.parseToolTurns(
      transcriptsOf(keep.select("doc_id", "text")), "doc_id", "transcript"))
    val (contractRejects, toolRejects, admitted) =
      Release.sftGateRows(turns, cfg.sft.toolNames)
    val aturns = Stage("incr aturns", Local)(turns.join(admitted, "doc_id"))
    val convs = Stage("incr convs", Local)(Release.convoTexts(aturns))
    val convTexts = segX("conv_texts", "doc_id", "text")
    val convRepMap = segX("conv_reps", "doc_id", "rep")
      .select(col("doc_id").as("cid"), col("rep"))
    // same concurrent pair-generation split as stage 3 (guide §2.6)
    val Seq(crossConv, convPairs) = Stage.parallel(
      () => Stage("incr conv cross", Local)(
        Dedup.dedupAgainstMatches(convs, convTexts,
            "doc_id", "text", cfg.dedup.shingleN, cfg.dedup.numHashes,
            cfg.dedup.bands, cfg.dedup.jaccardThreshold,
            maxBucketSize = cfg.dedup.maxBucketSize,
            index = Some(DedupIndexStore.readMinhash(
              spark, s"$stateDir/conv_minhash", ownSeg)),
            pruneIndexToProbe = true)
          .join(convRepMap, Seq("cid"), "left")
          .select(col("id"), coalesce(col("rep"), col("cid")).as("rep"))),
      () => Stage("incr conv pairs", Local)(
        Dedup.minhashPairs(convs, "doc_id", "text",
            cfg.dedup.shingleN, cfg.dedup.numHashes, cfg.dedup.bands,
            cfg.dedup.jaccardThreshold,
            maxBucketSize = cfg.dedup.maxBucketSize)
          .select("id_a", "id_b")))
    val convCc = Stage("incr conv cc", Local)(
      Dedup.connectedComponents(convPairs.unionByName(
          crossConv.select(col("id").as("id_a"), col("rep").as("id_b"))))
        .filter(col("id") =!= col("rep"))
        .join(convs.select(id.as("id")), Seq("id"), "left_semi"))
    val sftDupRejects = convCc.select(col("id").as("doc_id"),
      lit("sft_dedup").as("stage"),
      concat(lit("dup_of_"), col("rep").cast("string")).as("reason"))
    // three independent writes, nothing below reads them — overlapped
    // with the BPE costing (reads only the checkpointed aturns/convCc)
    // and the pack-state tail read (a table none of these writes
    // touch), the two expensive materializations that follow
    val Seq(conv, tail) = Stage.parallel[Option[DataFrame]](
      () => { appendMh(s"$stateDir/conv_minhash", convs); None },
      () => { appX("conv_texts", convs); None },
      () => { appX("conv_reps", convCc.select(col("id").as("doc_id"), col("rep"))); None },
      () => Some(Stage("incr conv costed", Local)(Release.convCosted(aturns, merges(),
          cfg.sft.turnOverhead, cfg.sft.groups)
        .join(sftDupRejects.select("doc_id"), Seq("doc_id"), "left_anti"))),
      () => Some(Stage("incr pack tail", Local)(latestPackState(spark, stateDir, ownSeg))))
      .flatten

    mark("incr 7: pack")
    // append-only packing: today's conversations continue yesterday's
    // per-group tail bins — byte-identical to one from-scratch
    // next-fit over the union in id order
    val batchPacked = Stage("incr packed", Local)(
      Packing.packBinsByCountFrom(conv, "doc_id", "grp",
          "n_tokens", cfg.pack.capacity, tail.select("grp", "bin_id", "fill"))
        .select(col("id").as("doc_id"), col("grp"), col("n_tokens"),
          col("bin_id"))
        .join(conv.select("doc_id", "loss_tokens"), "doc_id")
        .select("doc_id", "grp", "n_tokens", "loss_tokens", "bin_id"))
    appX("packed", batchPacked)
    // max over an empty tail is NULL (a day 0 that packed nothing
    // still bootstraps an empty pack_state) — resume at batch 0, not
    // an NPE
    val batchIdx = tail
      .agg(coalesce(max(col("batch_idx")), lit(-1L))).head().getLong(0) + 1L
    // the new tail per touched group: the batch's last bin, plus the
    // resumed fill when the batch continued yesterday's open bin
    val newTail = packTail(batchPacked, batchIdx)
      .join(tail.select(col("grp"), col("bin_id").as("__pb"),
        col("fill").as("__pf")), Seq("grp"), "left")
      .select(col("batch_idx"), col("grp"), col("bin_id"),
        (col("fill") + when(col("bin_id") === col("__pb"), col("__pf"))
          .otherwise(lit(0L))).as("fill"))
    appX("pack_state", newTail)

    mark("incr 9: ledger/manifest")
    // 9 — ledger + manifest states + watermark + reconcile deltas
    val ledgerDelta = Stage("incr ledger", Local)(encRejects.unionByName(gateRejects)
      .unionByName(crossExactRejects).unionByName(withinExactRejects)
      .unionByName(ndRejects)
      .unionByName(holdoutRejects).unionByName(lexRejects)
      .unionByName(semRejects).unionByName(contractRejects)
      .unionByName(toolRejects).unionByName(sftDupRejects))
    // four independent table writes (ledger/manifest/watermark/
    // reconcile) over checkpointed frames — the terminal barrier,
    // overlapped like the other append groups
    Stage.parallel(
      () => appX("ledger", ledgerDelta),
      () => appX("manifest_states", Profile.manifestStates(
        keep.join(batchPacked.select("doc_id").distinct(), "doc_id"),
        "source", "text")),
      () => appX("id_watermark",
        input.agg(max(id).as("max_id")).filter(col("max_id").isNotNull)),
      () => {
        val rIn = input.agg(count(id).as("n"), sum(id).as("s")).head()
        val rAcc = batchPacked.select("doc_id")
          .unionByName(ledgerDelta.select("doc_id"))
          .agg(count(id).as("n"), sum(id).as("s")).head()
        def l(row: org.apache.spark.sql.Row, i: Int) =
          if (row.isNullAt(i)) 0L else row.getLong(i)
        appX("reconcile",
          spark.createDataFrame(java.util.Arrays.asList(
            org.apache.spark.sql.Row(rIn.getLong(0), l(rIn, 1),
              rAcc.getLong(0), l(rAcc, 1))),
            org.apache.spark.sql.types.StructType.fromDDL(
              "n_input BIGINT, sum_input BIGINT, " +
                "n_acc BIGINT, sum_acc BIGINT")))
      })
    } finally spark.sparkContext.setJobDescription(null)
  }

  /** RIGHT-TO-BE-FORGOTTEN over the standing release state — the
    * round-12 discipline ("every standing artifact a deleted doc
    * lives in") extended to the incremental-release store family.
    * One call tombstones `ids` across every doc-keyed table
    * (text/rep/packed/ledger — O(deletion) segment publishes, the
    * corpus tables untouched until [[compactState]]), tombstones the
    * three minhash stores and the ANN store (band buckets and cell
    * assignments stop matching immediately — a deleted doc stops
    * suppressing new near-duplicates of itself), REBUILDS the
    * manifest states from the retained corpus (KMV sketches cannot
    * subtract — the [[Profile.manifestStatesRebuild]] rule), and
    * appends a compensating reconcile row so the tie-out still
    * balances (the forgotten doc leaves BOTH sides, as if never
    * crawled). After the call, [[artifact]] and every future
    * [[runDeltas]] probe answer exactly as a state that never
    * ingested the ids — and the ids themselves persist nowhere but
    * the tombstone tables, which the next compaction physically
    * clears.
    *
    * NOT replayed into from-scratch equality: a forgotten doc that
    * was a keeper/rep may have suppressed other docs in history —
    * those decisions are frozen (yesterday's model trained on
    * yesterday's release; the same no-retroaction stance as the
    * equality contract). The oracle pins the ledger-resident case
    * (`q_release_forget`), where equality to the
    * excluded-from-scratch pyramid IS exact. */
  def forget(
      spark: SparkSession,
      stateDir: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Unit = Stage.scope {
    val dead = Stage("forget ids", Local)(ids.select(col(idCol).cast("long").as("doc_id")).distinct())

    // the compensating reconcile row FIRST (from the pre-tombstone
    // view): every accounted row about to vanish leaves the input
    // side too — the artifact's tie-out stays exact
    val acc = seg(spark, stateDir, "packed", "doc_id")
      .unionByName(seg(spark, stateDir, "ledger", "doc_id"))
      .join(dead, Seq("doc_id"), "left_semi")
      .agg(count(col("doc_id")).as("n"), sum(col("doc_id")).as("s")).head()
    val n = acc.getLong(0)
    val s = if (acc.isNullAt(1)) 0L else acc.getLong(1)
    if (n > 0)
      app(spark, stateDir, "reconcile",
        spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(-n, -s, -n, -s)),
          org.apache.spark.sql.types.StructType.fromDDL(
            "n_input BIGINT, sum_input BIGINT, n_acc BIGINT, sum_acc BIGINT")))

    // 11 tombstone publishes to 11 distinct directories over the one
    // checkpointed dead set — independent, overlapped (guide §2.6);
    // the manifest rebuild below reads THROUGH the tombstones, so the
    // barrier before it is the ordering that matters
    val deleteTasks: Seq[() => Unit] =
      DocKeyed.toSeq.sorted.map[() => Unit] { t => () =>
        { Segments.deleteIds(spark, s"$stateDir/$t", dead, "doc_id"); () }
      } ++
        Seq("corpus_minhash", "holdout_minhash", "conv_minhash")
          .map[() => Unit] { t => () =>
            { DedupIndexStore.deleteIds(spark, s"$stateDir/$t", dead,
              "doc_id"); () }
          } ++
        Seq[() => Unit](() =>
          { AnnIndex.deleteIds(spark, s"$stateDir/holdout_ann", dead,
            "doc_id"); () })
    Stage.parallel(deleteTasks: _*)

    // manifest: rebuild-from-retained (tombstones already in force on
    // both reads), published as a NEW pointer version — atomic, and
    // the superseded states never resurface
    replaceState(spark, stateDir, "manifest_states") {
      val retained = seg(spark, stateDir, "corpus_texts",
          "doc_id", "source", "text")
        .join(seg(spark, stateDir, "packed", "doc_id").distinct(), "doc_id")
      Profile.manifestStates(retained, "source", "text")
    }
  }

  /** Compact one state table ([[Segments.compact]]): read through
    * the tombstone filter, rewrite as a single segment in a fresh
    * pointer-published version tree (one fenced atomic flip, so a
    * concurrent batch's append refuses rather than vanishing), which
    * physically drops forgotten rows AND clears the tombstone table.
    * Tombstones key on `doc_id`: only the [[DocKeyed]] tables ever
    * carry them ([[forget]]). The per-batch segment accumulation
    * (one segment per table per batch — 365/yr × 10 tables) is
    * bounded by scheduling this off
    * [[DedupIndexStore.maintenanceAudit]]'s compaction-due trigger,
    * exactly like the minhash/ANN stores. */
  def compactState(
      spark: SparkSession, stateDir: String, name: String): Unit =
    Segments.compact(spark, s"$stateDir/$name", "doc_id")

  /** Replace a state table's contents wholesale (the manifest-rebuild
    * path): one fenced [[Segments.publishTree]] of `rows`, evaluated
    * after the watermark. */
  private def replaceState(
      spark: SparkSession, stateDir: String, name: String)(
      rows: => DataFrame): Unit =
    Segments.publishTree(spark, s"$stateDir/$name", fenced = true)(
      Segments.Tree(Nil, "rows", rows))

  /** The union artifact in [[Release.pipeline]]'s (part, k, v) shape,
    * assembled from the standing state: pack and ledger rows read
    * back verbatim, shards/manifest/reconcile recomputed from the
    * bins-/states-/batch-cardinality tables (never the corpus). */
  def artifact(
      spark: SparkSession, stateDir: String, numShards: Int = 4): DataFrame = {
    val packed = seg(spark, stateDir, "packed",
      "doc_id", "grp", "n_tokens", "loss_tokens", "bin_id")
    val bins = packed.groupBy("grp", "bin_id")
      .agg(sum(col("n_tokens")).as("bin_tokens"))
    val shards = Packing.balancedShards(bins, "bin_id", "bin_tokens",
      numShards, groupCol = Some("grp"))
    val manifest = Profile.manifestMerge(
      seg(spark, stateDir, "manifest_states",
        "source", "n_docs", "total_tokens", "q_sum", "sketch"))
    val ledger = seg(spark, stateDir, "ledger", "doc_id", "stage", "reason")
    val rec = seg(spark, stateDir, "reconcile",
      "n_input", "sum_input", "n_acc", "sum_acc")
      .agg(sum(col("n_input")).as("n_input"),
        sum(col("sum_input")).as("sum_input"),
        sum(col("n_acc")).as("n_accounted"),
        sum(col("sum_acc")).as("sum_accounted"))

    val packPart = packed.select(lit("pack").as("part"),
      col("doc_id").cast("string").as("k"),
      concat_ws(":", col("grp"), col("bin_id"), col("n_tokens"),
        col("loss_tokens")).as("v"))
    val shardPart = shards.select(lit("shard").as("part"),
      concat_ws(":", col("grp"), col("id")).as("k"),
      concat_ws(":", col("weight"), col("shard")).as("v"))
    val ledgerPart = ledger.select(lit("ledger").as("part"),
      col("doc_id").cast("string").as("k"),
      concat_ws(":", col("stage"), col("reason")).as("v"))
    val manifestPart = manifest.select(lit("manifest").as("part"),
      col("source").as("k"),
      concat_ws(":", col("n_docs"), col("total_tokens"), col("uniq_est"),
        col("dup_est_permille")).as("v"))
    val reconcilePart = rec.select(lit("reconcile").as("part"),
      lit("tieout").as("k"),
      concat_ws(":", col("n_input"), col("n_accounted"),
        col("sum_input"), col("sum_accounted")).as("v"))
    packPart.unionByName(shardPart).unionByName(ledgerPart)
      .unionByName(manifestPart).unionByName(reconcilePart)
  }
}
