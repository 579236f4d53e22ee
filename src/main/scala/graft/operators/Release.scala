package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** The end-to-end RELEASE pipeline — raw crawl to digest-verified
  * training artifact — as ONE parameterized dataflow shared by its
  * two execution forms, which differ only in the [[Stage]] policy
  * their [[Release.Stager]] cuts each stage boundary with:
  *
  *   - the in-query form (`q_pipeline_release`): [[Stage.Local]] cuts
  *     ([[Release.LocalStager]]) — fast, but blocks die with an
  *     executor and nothing survives the session;
  *   - the durable form ([[graft.plans.ReleaseRun]],
  *     `q_pipeline_release_run`): [[Stage.Durable]] cuts — every stage
  *     boundary is a REAL parquet table published with an atomic
  *     rename, so a crashed run resumes from its last completed stage
  *     and a finished run re-verifies idempotently.
  *
  * Because both forms call THIS function, they cannot drift — the
  * driver's DuckDB oracle gates them under the same CTE pyramid.
  *
  * Stages (each `st(name){...}` is a materialization boundary; the
  * fan-out rationale — ~15 result branches re-analyzing the chained
  * lineage, 307 s / 1 GB treeString at sf0.1 when left uncut — is
  * recorded in the round-13 notes):
  *
  *   1 ingest: encoding gate → strip boilerplate → normalize →
  *     lang/quality/length gates (first-fail ledger reasons);
  *   2 exact dedup: normalized fingerprint, min-id keeper window;
  *   3 near-dedup: capped banded MinHash pairs → connected
  *     components → keep-one;
  *   4 split: deterministic SplitMix64 hash split, test = holdout;
  *   5 decontam vs the holdout: lexical (stricter 0.35 bar, 32×2
  *     banding) first-fail, then semantic over embedded docs only;
  *   6 SFT endgame: parse → contract gate → tool-protocol gate →
  *     conversation-level dedup → BPE-costed next-fit packing (the
  *     real-tokenizer costing — ws tokens misjudge a context window
  *     by the measured 3.74×);
  *   7 token-balanced shards; 8 per-source manifest; 9 the
  *     (part, k, v) union with the count/id-sum reconcile tie-out.
  *
  * Scale posture unchanged from the proven per-stage shapes:
  * zero-shuffle gate projections, 16-byte fingerprint shuffles,
  * capped banded signature joins, cell-scoped semantic probes, the
  * single-Exchange pack sweep, union+pivot tie-out — nothing
  * corpus-sized reaches the driver.
  */
object Release {

  /** [[pipeline]]'s stage cutter: `st(name)(df)` is
    * `Stage(name, policy)(df)`. The frame builder is BY-NAME: a
    * Durable stage whose table already exists skips it entirely
    * (resume never replays completed work — including the
    * driver-side loops, k-means / BPE-training / pointer-doubling,
    * that run inside a builder). */
  class Stager(policy: Stage.Policy) {
    def apply(name: String)(df: => DataFrame): DataFrame = Stage(name, policy)(df)
  }

  /** The in-query stager: [[Stage.Local]] cuts. */
  final class LocalStager extends Stager(Stage.Local)

  /** Every stage boundary [[pipeline]] materializes, in call order —
    * the durable runner's table names and the resume spec's crash
    * points (the spec pins a full run to exactly this sequence). */
  val stageNames: Seq[String] = Seq(
    "s0_input", "s1_gated", "s2_exact", "s3_nd_rejects", "s4_split",
    "s5_lex_ok", "s5_test_emb", "s5_tv_emb", "s5_sem_hits", "s5_keep",
    "s6_turns", "s6_aturns", "s6_dup_rejects", "s6_conv", "s6_packed",
    "s9_ledger")

  /** The nine-stage pipeline over an already-constructed raw input.
    *
    * @param rawInput      (doc_id BIGINT, source STRING, raw STRING) —
    *                      the crawl rows as ingested (markup, encoding
    *                      pathologies and all)
    * @param embeddings    (vec_id BIGINT, embedding ARRAY<FLOAT>) —
    *                      doc-keyed embedding side table (absence of a
    *                      row = no semantic evidence, never a leak)
    * @param transcriptsOf survivor text → (doc_id, transcript) JSON
    *                      conversations (injected: the fixture
    *                      synthesizes, production parses real logs)
    * @param merges        the FROZEN release tokenizer's merge table,
    *                      as a thunk so a resumed run whose stage-6
    *                      tables exist never pays the training
    * @return the (part, k, v) artifact frame: `pack` / `shard` /
    *         `ledger` / `manifest` / `reconcile` parts
    */
  // ------------------------------------------------ shared stage blocks
  //
  // The expression-level building blocks BOTH release forms share with
  // the incremental runner ([[graft.plans.IncrementalRelease]]): the
  // incremental's batch-equal-to-from-scratch oracle only holds if a
  // batch flows through bit-identical gate/cost expressions, so these
  // live here once and are composed, never copied.

  /** Stage-1 encoding flag over the raw crawl rows. */
  private[graft] def withEncOk(input: DataFrame): DataFrame =
    input.withColumn("__enc_ok", TextFunctions.encodingOk(col("raw")))

  /** Stage-1 scored frame: strip → normalize → lang/quality/length
    * flags, scored exactly once per row (the `__mid` pushdown
    * barrier). Input must carry `__enc_ok` ([[withEncOk]]); the gate
    * bars come from the [[graft.plans.ReleaseConfig]]. */
  private[graft] def scoredGates(
      raw: DataFrame,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig()): DataFrame =
    raw.filter(col("__enc_ok"))
      .select(col("doc_id"), col("source"),
        TextFunctions.normalizeText(
          TextFunctions.stripBoilerplate(col("raw"))).as("text"))
      .select(col("doc_id"), col("source"), col("text"),
        TextFunctions.langId(col("text")).as("__lang"),
        TextFunctions.qualityScore(col("text")).as("__q"),
        TextFunctions.tokenCount(col("text")).as("__tok"),
        monotonically_increasing_id().as("__mid"))
      .filter(col("__mid") >= 0) // pushdown barrier: score once per row
      .withColumn("__lang_ok", col("__lang") === cfg.lang)
      .withColumn("__q_ok", col("__q") >= cfg.minQuality)
      .withColumn("__len_ok", col("__tok").between(cfg.minTokens, cfg.maxTokens))

  /** Stage-1 ledger rows: encoding rejects over the flagged raw frame
    * plus first-fail gate reasons over the scored frame. */
  private[graft] def ingestRejectRows(
      raw: DataFrame, gated: DataFrame): (DataFrame, DataFrame) = (
    raw.filter(!col("__enc_ok"))
      .select(col("doc_id"), lit("ingest").as("stage"),
        lit("encoding").as("reason")),
    gated.filter(!(col("__lang_ok") && col("__q_ok") && col("__len_ok")))
      .select(col("doc_id"), lit("ingest").as("stage"),
        concat_ws(",",
          when(!col("__lang_ok"), "lang"),
          when(!col("__q_ok"), "quality"),
          when(!col("__len_ok"), "length")).as("reason")))

  /** Stage-1 survivors of the scored frame. */
  private[graft] def ingestedRows(gated: DataFrame): DataFrame =
    gated.filter(col("__lang_ok") && col("__q_ok") && col("__len_ok"))
      .select(col("doc_id"), col("source"), col("text"))

  /** Stage-6 contract + tool-protocol gates over parsed turns:
    * (contractRejects, toolRejects, admitted doc ids). */
  private[graft] def sftGateRows(
      turns: DataFrame,
      toolNames: Seq[String] = Seq("search", "calc")): (DataFrame, DataFrame, DataFrame) = {
    val contract = Chat.validateTurns(turns, "doc_id",
      roles = Chat.allowedRoles :+ "tool")
    val tool = Chat.validateToolUse(turns, "doc_id", toolNames)
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
    (contractRejects, toolRejects, admitted)
  }

  /** Stage-6 conversation text per admitted doc — the conversation-
    * level dedup key. */
  private[graft] def convoTexts(aturns: DataFrame): DataFrame =
    aturns.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("content")))),
        t => t("content")), " ").as("text"))

  /** Stage-6 BPE-costed conversations under the FROZEN release
    * tokenizer — one projected fold per turn + the 4-token/turn
    * chat-template overhead; loss mass = assistant-turn subwords.
    * No dedup applied — callers anti-join their own reject set. */
  private[graft] def convCosted(
      aturns: DataFrame, merges: Seq[(String, String)],
      turnOverhead: Long = 4L, groups: Long = 8L): DataFrame =
    aturns
      .withColumn("__tok",
        when(col("content").isNull, lit(0L))
          .otherwise(Bpe.tokenCountCol(col("content"), merges)))
      .groupBy("doc_id")
      .agg((sum(col("__tok")) + lit(turnOverhead) * count(lit(1))).as("n_tokens"),
        sum(when(col("role") === "assistant", col("__tok")).otherwise(0L))
          .as("loss_tokens"))
      .withColumn("grp", pmod(col("doc_id"), lit(groups)))

  def pipeline(
      s: SparkSession,
      rawInput: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      st: Stager,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig()): DataFrame = {
    val id = col("doc_id")

    // 0 — the input is itself a boundary: stage 1 and the reconcile
    // tie-out both scan it
    val input = st("s0_input")(rawInput.select(id, col("source"), col("raw")))

    // 1 — ingest
    val raw = withEncOk(input)
    val gated = st("s1_gated")(scoredGates(raw, cfg))
    val (encRejects, gateRejects) = ingestRejectRows(raw, gated)
    val ingested = ingestedRows(gated)

    // 2 — exact dedup with keeper provenance
    val fp = ingested
      .withColumn("__fp", TextFunctions.fingerprint(col("text")))
      .withColumn("__keep", min(id).over(Window.partitionBy(col("__fp"))))
    val exactRejects = fp.filter(id =!= col("__keep"))
      .select(id, lit("exact").as("stage"),
        concat(lit("dup_of_"), col("__keep").cast("string")).as("reason"))
    val exact = st("s2_exact")(fp.filter(id === col("__keep"))
      .select(id, col("source"), col("text")))

    // 3 — capped near-dup keep-one
    val ndRejects = st("s3_nd_rejects") {
      val ndPairs = Dedup.minhashPairs(exact, "doc_id", "text",
        cfg.dedup.shingleN, cfg.dedup.numHashes, cfg.dedup.bands,
        cfg.dedup.jaccardThreshold,
        maxBucketSize = cfg.dedup.maxBucketSize).select("id_a", "id_b")
      Dedup.connectedComponents(ndPairs)
        .filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_id"), lit("neardup").as("stage"),
          concat(lit("dup_of_"), col("rep").cast("string")).as("reason"))
    }
    val nd = exact.join(ndRejects.select("doc_id"), Seq("doc_id"), "left_anti")

    // 4 — split: the test holdout leaves the training corpus
    val split = st("s4_split")(Sampling.hashSplit(nd, "doc_id",
      cfg.split.trainPct, cfg.split.valPct))
    val holdout = split.filter(col("split") === "test")
      .select(id, col("text"))
    val holdoutRejects = holdout
      .select(id, lit("holdout").as("stage"), lit("test").as("reason"))
    val tv = split.filter(col("split") =!= "test")
      .select(id, col("source"), col("text"))

    // 5 — decontam vs the holdout: lexical first-fail, then semantic
    // over embedded docs only (no-embedding-row = no evidence, not a
    // leak — subtract hits, never intersect survivors). The lexical
    // bar is DELIBERATELY stricter than the dedup bar (0.35 vs 0.5):
    // eval leakage is asymmetric risk, and 32 bands × 2 rows puts the
    // candidate knee at ~0.18 so a 0.45-jaccard quote is a candidate
    // with P ~ 0.999 instead of a coin flip.
    val lexOkIds = st("s5_lex_ok")(
      Dedup.dedupAgainst(tv, holdout, "doc_id", "text",
          cfg.dedup.shingleN, cfg.dedup.numHashes, cfg.decontam.bands,
          cfg.decontam.jaccardThreshold)
        .select("doc_id"))
    val lexRejects = tv.select("doc_id")
      .join(lexOkIds, Seq("doc_id"), "left_anti")
      .select(id, lit("decontam").as("stage"), lit("lexical").as("reason"))
    val testEmb = st("s5_test_emb")(embeddings.join(
      holdout.select(id.as("vec_id")), Seq("vec_id"), "left_semi"))
    val tvEmb = st("s5_tv_emb")(embeddings.join(
      tv.select(id.as("vec_id")), Seq("vec_id"), "left_semi"))
    val semHits = st("s5_sem_hits") {
      val cents = Similarity.kmeansCentroidsDistributed(
        testEmb, "vec_id", "embedding",
        nlist = cfg.decontam.semanticNlist, iters = cfg.decontam.semanticIters)
      val semOkIds = Dedup.semanticDedupAgainst(
          tvEmb, testEmb, "vec_id", "embedding", cents,
          threshold = cfg.decontam.semanticThreshold,
          maxClusterSize = cfg.decontam.semanticMaxCluster)
        .select(col("vec_id").as("doc_id"))
      tvEmb.select(col("vec_id").as("doc_id"))
        .join(semOkIds, Seq("doc_id"), "left_anti")
    }
    val semRejects = semHits.join(lexOkIds, Seq("doc_id"), "left_semi")
      .select(id, lit("decontam").as("stage"), lit("semantic").as("reason"))
    val keep = st("s5_keep")(tv.join(lexOkIds, Seq("doc_id"), "left_semi")
      .join(semHits, Seq("doc_id"), "left_anti"))

    // 6 — the SFT endgame over the cleaned survivor text
    val turns = st("s6_turns")(Chat.parseToolTurns(
      transcriptsOf(keep.select("doc_id", "text")),
      "doc_id", "transcript"))
    val (contractRejects, toolRejects, admitted) =
      sftGateRows(turns, cfg.sft.toolNames)
    val aturns = st("s6_aturns")(turns.join(admitted, "doc_id"))
    val sftDupRejects = st("s6_dup_rejects") {
      val convo = convoTexts(aturns)
      val sftPairs = Dedup.minhashPairs(convo, "doc_id", "text",
        cfg.dedup.shingleN, cfg.dedup.numHashes, cfg.dedup.bands,
        cfg.dedup.jaccardThreshold,
        maxBucketSize = cfg.dedup.maxBucketSize).select("id_a", "id_b")
      Dedup.connectedComponents(sftPairs)
        .filter(col("id") =!= col("rep"))
        .select(col("id").as("doc_id"), lit("sft_dedup").as("stage"),
          concat(lit("dup_of_"), col("rep").cast("string")).as("reason"))
    }
    val conv = st("s6_conv")(convCosted(aturns, merges(),
        cfg.sft.turnOverhead, cfg.sft.groups)
      .join(sftDupRejects.select("doc_id"), Seq("doc_id"), "left_anti"))
    val packed = st("s6_packed")(
      Packing.packBinsByCount(conv, "doc_id", "grp", "n_tokens",
        cfg.pack.capacity)
        .select(col("id").as("doc_id"), col("grp"), col("n_tokens"),
          col("bin_id"))
        .join(conv.select("doc_id", "loss_tokens"), "doc_id"))

    // 7 — token-balanced shards over the packed bins
    val bins = packed.groupBy("grp", "bin_id")
      .agg(sum(col("n_tokens")).as("bin_tokens"))
    val shards = Packing.balancedShards(bins, "bin_id", "bin_tokens",
      cfg.pack.numShards, groupCol = Some("grp"))

    // 8 — per-source manifest of the released training docs
    val manifest = Profile.manifestMerge(
      Profile.manifestStates(
        keep.join(packed.select("doc_id").distinct(), "doc_id"),
        "source", "text"))

    // 9 — parts union + the reconcile tie-out
    val ledger = st("s9_ledger")(encRejects.unionByName(gateRejects)
      .unionByName(exactRejects).unionByName(ndRejects)
      .unionByName(holdoutRejects).unionByName(lexRejects)
      .unionByName(semRejects).unionByName(contractRejects)
      .unionByName(toolRejects).unionByName(sftDupRejects))
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
    val reconcilePart = input.select(lit("input").as("side"), id)
      .unionByName(packed.select(lit("accounted").as("side"), id)
        .unionByName(ledger.select(lit("accounted").as("side"), id)))
      .groupBy()
      .agg(
        count(when(col("side") === "input", 1)).as("n_input"),
        count(when(col("side") === "accounted", 1)).as("n_accounted"),
        sum(when(col("side") === "input", id)).as("sum_input"),
        sum(when(col("side") === "accounted", id)).as("sum_accounted"))
      .select(lit("reconcile").as("part"), lit("tieout").as("k"),
        concat_ws(":", col("n_input"), col("n_accounted"),
          col("sum_input"), col("sum_accounted")).as("v"))
    packPart.unionByName(shardPart).unionByName(ledgerPart)
      .unionByName(manifestPart).unionByName(reconcilePart)
  }
}
