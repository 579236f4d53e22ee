package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Linear quality-classifier training INSIDE the engine — the
  * fastText-style distillation loop (Joulin et al. 2017, "Bag of
  * Tricks for Efficient Text Classification"; the CCNet/LLaMA
  * pretraining pipelines train exactly this shape over hashed
  * features to replace hand-written quality gates): full-batch
  * logistic regression over [[Search.hashedFeatures]]' sparse signed
  * counts, every arithmetic step in FIXED-POINT integers so the
  * trained weights are bit-identical across engines and partition
  * orders — the same transcendental-taming as
  * [[Search.bm25TopK]]'s floored scores, extended to a whole
  * training loop.
  *
  * Determinism design (all scaled by 2^`scaleBits`):
  *   - margin m_d = Σ_j x_dj·w_j — integer products, order-free sum;
  *   - sigmoid via the EXACT rational approximation
  *     σ̂(m) = ½ + m / (2·(1 + |m|)) (the "fast sigmoid"): one abs,
  *     one clamp, one truncating integer division — no exp(), whose
  *     last-ulp differences between libm builds would fork the
  *     gradient after one pass;
  *   - gradient g_j = Σ_d (σ̂_d − y_d)·x_dj summed in DECIMAL(38,0)
  *     (exact at any corpus size, order-free);
  *   - update w_j ← w_j − g_j / (N · 2^`lrShift`) with truncating
  *     BigInteger division (Java `/` and DuckDB `//` both truncate
  *     toward zero — verified, not assumed).
  *
  * Scale posture: the loop is driver-local like [[Bpe]]'s merge loop
  * and the IVF Lloyd passes — per pass the cluster does ONE
  * doc-keyed margin aggregate and ONE feature-keyed gradient
  * aggregate (both with map-side partials; the weight table, `dims`
  * rows, broadcasts), and the driver collects exactly `dims`
  * gradient rows. Features and labels are persisted across the
  * `iters` passes. Nothing corpus-sized ever reaches the driver.
  */
object Classifier {

  private val ClampBits = 40

  /** Train fixed-point logistic weights; returns one row per feature
    * index 0..dims−1: (feat_idx LONG, w_fx LONG), w_fx scaled by
    * 2^`scaleBits`. `features` is [[Search.hashedFeatures]]' shape
    * (doc_id, feat_idx, weight); `labels` is (doc_id, label 0|1) and
    * defines N — docs with no surviving feature still pull the
    * intercept-free margin toward σ̂ = ½ and contribute gradient
    * only through features they lack (i.e. none), matching the
    * sparse-update contract.
    *
    * `initWeights` WARM-STARTS the loop from a previous result (its
    * own output shape, ≤ dims rows collected) — the incremental
    * daily-batch posture: continue training on the new batch alone
    * instead of re-scanning history. Because full-batch GD state IS
    * the weight vector, warm-start-then-continue is bit-identical to
    * one longer run whose later passes see only the new batch — the
    * closure property the warm oracle replays. */
  def trainLogisticFx(
      features: DataFrame,
      labels: DataFrame,
      dims: Int,
      iters: Int = 3,
      scaleBits: Int = 20,
      lrShift: Int = 3,
      initWeights: Option[DataFrame] = None): DataFrame = Stage.scope {
    require(dims >= 2, s"dims must be >= 2, got $dims")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scaleBits >= 4 && scaleBits <= 30, s"scaleBits out of range: $scaleBits")
    val spark = features.sparkSession

    // The label table persists as scanned first (its count sizes
    // everything else), then re-persists CO-PARTITIONED with the
    // feature table — built from the first cache, so the upstream
    // label sweep still runs exactly once; without this every GD pass
    // re-exchanged the label side across shuffle.partitions.
    val lab0 = Stage("gd labels", Stage.Persist())(labels
      .select(col("doc_id").cast("long").as("doc_id"),
        col("label").cast("long").as("y")))
    val n = lab0.count()
    require(n > 0, "labels frame is empty")

    // The FEATURE table is persisted PRE-PARTITIONED on doc_id (guide
    // §2.4 — operations keyed the same way share one exchange): every
    // pass's margin aggregate (groupBy doc_id), the label join and the
    // gradient join all cluster on doc_id, so with the persisted layout
    // already hash-partitioned on it no pass re-shuffles the
    // corpus-sized feature table — the only per-pass exchanges left
    // are the tiny label side and the dims-bounded gradient aggregate.
    // The partition COUNT is scale-adaptive (guide §2.1 — derive from
    // data size, never from the core count alone): ~8k docs per
    // partition, capped at the session's parallelism. Measured (sf0.1,
    // the q_quality_distill* family): with the count pinned to
    // shuffle.partitions this was the catalog's only anti-scaling
    // family (8 cores FASTER than 32, core-ratio 0.58-0.65) — every GD
    // pass launched 32 near-empty tasks per stage on a 5000-doc
    // corpus; data-derived sizing gives 1 partition there and grows
    // with the corpus (sf10: 32).
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, (n + 8191L) / 8192L)).toInt
    val f = Stage("gd features", Stage.Persist())(features
      .select(col("doc_id").cast("long").as("doc_id"),
        col("feat_idx").cast("long").as("feat_idx"),
        col("weight").cast("long").as("x"))
      .repartition(parts, col("doc_id")))
    val lab = Stage("gd labels by doc", Stage.Persist(eager = true))(
      lab0.repartition(parts, col("doc_id")))
    Stage.free(lab0)
    val divisor = java.math.BigInteger.valueOf(n << lrShift)

    val w = Array.fill(dims)(0L)
    initWeights.foreach { iw =>
      iw.select(col("feat_idx").cast("long"), col("w_fx").cast("long"))
        .collect().foreach { r =>
          val j = r.getLong(0).toInt
          require(j >= 0 && j < dims, s"initWeights feat_idx $j out of [0, $dims)")
          w(j) = r.getLong(1)
        }
    }
    val wSchema = StructType(Seq(
      StructField("feat_idx", LongType, nullable = false),
      StructField("w_fx", LongType, nullable = false)))
    def wDf(): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(
        w.indices.map(j => Row(j.toLong, w(j))): _*), wSchema)

    var pass = 0
    while (pass < iters) {
      val e = errorFx(f, lab, wDf(), scaleBits)
      val grads = f
        .join(e.select(col("doc_id"), col("e")), Seq("doc_id"))
        .groupBy(col("feat_idx"))
        .agg(sum((col("x") * col("e")).cast(DecimalType(38, 0))).as("g"))
        .collect()
      grads.foreach { r =>
        val j = r.getLong(0).toInt
        val g = r.getDecimal(1).toBigInteger
        w(j) = w(j) - g.divide(divisor).longValueExact()
      }
      pass += 1
    }
    wDf()
  }

  /** Per-document fixed-point error e = σ̂(m) − y·2^scaleBits over
    * the current weight table — the shared inner step of training
    * and [[scoreFx]]'s probability column. Margins clamp at
    * ±2^[[ClampBits]] before the sigmoid division so the integer
    * products can never overflow a long (σ̂ is saturated there
    * anyway). */
  private def errorFx(
      f: DataFrame, lab: DataFrame, weights: DataFrame,
      scaleBits: Int): DataFrame = {
    val scale = 1L << scaleBits
    val half = scale >> 1
    val clamp = 1L << ClampBits
    val m = f.join(broadcast(weights), Seq("feat_idx"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("w_fx")).as("m"))
    lab.join(m, Seq("doc_id"), "left")
      .withColumn("cm", coalesce(col("m"), lit(0L)))
      .withColumn("u", least(abs(col("cm")), lit(clamp)))
      .withColumn("t", expr(s"(u * ${half}L) div (${scale}L + u)"))
      .withColumn("sig",
        lit(half) + when(col("cm") >= 0, col("t")).otherwise(-col("t")))
      .withColumn("e", col("sig") - col("y") * lit(scale))
  }

  /** Score documents under trained weights: (doc_id, margin_fx,
    * prob_fx) — prob_fx is the fixed-point fast-sigmoid in
    * [0, 2^scaleBits], bit-deterministic like training. Documents
    * with no surviving feature score margin 0 / prob ½·scale when
    * present in `docs`; pass the full id frame to keep them. */
  def scoreFx(
      docs: DataFrame,
      idCol: String,
      features: DataFrame,
      weights: DataFrame,
      scaleBits: Int = 20): DataFrame = {
    val ids = docs.select(col(idCol).cast("long").as("doc_id"),
      lit(0L).as("y"))
    val f = features.select(col("doc_id").cast("long").as("doc_id"),
      col("feat_idx").cast("long").as("feat_idx"),
      col("weight").cast("long").as("x"))
    errorFx(f, ids, weights, scaleBits)
      .select(col("doc_id"), col("cm").as("margin_fx"),
        col("sig").as("prob_fx"))
  }
}
