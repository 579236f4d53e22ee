package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SimilarityFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale posture: `bruteForceTopK` is the exact O(N·d) baseline — a
  * single scan + top-k, no shuffle of vectors, the right choice for
  * one-off queries at any corpus size (top-k is a per-partition heap
  * + driver merge of k·partitions rows). `lshTopK` is the scale path
  * for repeated queries: the corpus is bucketed once by sign-LSH and
  * each query probes only Hamming-adjacent buckets.
  */
object Similarity {

  /** Exact cosine top-k for one query vector. Deterministic total
    * order: similarity desc, then id asc. */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int): DataFrame = {
    val qLit = array(query.map(v => lit(v.toDouble)).toIndexedSeq: _*)
    df.select(col(idCol).as("id"),
        SimilarityFunctions.cosine(col(vecCol), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Fused-sqrt cosine over double arrays: ascending-index left fold,
    * `d / sqrt(na * nb)` — the exact arithmetic the DuckDB oracle's
    * `cosineFusedSql` mirrors, so keep the op order stable. */
  private[graft] def cosineScalar(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na > 0 && nb > 0) d / math.sqrt(na * nb) else 0.0
  }

  /** Deterministic Lloyd (k-means) refinement over a driver-side
    * sample. Initial centroids = the first `nlist` sample vectors;
    * each iteration reassigns every sample vector to its
    * best-fused-cosine centroid (strict `>`, earliest cell wins ties)
    * and recomputes each non-empty cell's centroid as the per-dim
    * mean, summed as an ORDERED left fold in sample (= id) order.
    * Every op is plain double arithmetic in a fixed order, so the
    * DuckDB oracle replays it bit-identically with
    * `list(vec ORDER BY id)` + `list_reduce` — the same technique the
    * dot-product mirror uses. Empty cells keep their previous
    * centroid. Sample-first-N initialization is deliberately
    * deterministic (no RNG): reproducibility across engines beats
    * k-means++ quality here, and 2 Lloyd passes already separate
    * clustered data (see ScaleOpsSpec recall test).
    */
  private[graft] def refineCentroids(
      sample: Array[Array[Double]],
      nlist: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty centroid sample")
    var cents = sample.take(nlist)
    val dim = sample(0).length
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](cents.length, dim)
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.MinValue; var c = 0
        while (c < cents.length) {
          val sim = cosineScalar(v, cents(c))
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) ANN top-k: the corpus is assigned to
    * `nlist` centroid cells (nearest-centroid by cosine); a query
    * scores only the rows in its `nprobe` closest cells.
    *
    * Centroids = `refineIters` Lloyd passes over a deterministic
    * sample (the `sampleSize`-row hash-cut sample in ascending id
    * order — see [[hashOrderedSample]] / [[refineCentroids]]);
    * `refineIters = 0` degrades to the plain
    * first-`nlist`-of-the-sample skeleton. Centroids live driver-side (nlist × dim
    * doubles — tiny; the sample collect is `sampleSize` rows, bounded
    * and documented) and ship to executors inside the assignment
    * UDF's closure, so cell assignment is a single scan with NO
    * shuffle and no cross join. `nprobe == nlist` degrades gracefully
    * to exact brute force (the recall=1 case, used by tests).
    */
  /** Deterministic UNBIASED training sample: membership = the first
    * `n` rows by SplitMix64-mixed id (the [[Sampling.hashSplit]]
    * mixing, sign bit dropped), returned in ASCENDING ID order — the
    * fold order every training oracle replays. This replaces the old
    * first-`n`-by-id cut: at corpus scale the lowest ids are
    * typically the oldest crawl slice, so an id-prefix sample trains
    * centroids/codebooks on a biased snapshot and the drift audits
    * then certify appends against a skewed baseline. The hash cut is
    * a pure function of the id set — partition-order independent, and
    * the oracle replays it with the staged SplitMix64 CTEs
    * (`ORDER BY mixed_id // 2, id LIMIT n`). Cost: one
    * TakeOrderedAndProject over (id, vec) — same shape as the old
    * cut, no extra pass. */
  private[graft] def hashOrderedSample(
      df: DataFrame, idCol: String, vecCol: String, n: Int): Array[Array[Double]] = {
    df.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .withColumn("__h", shiftrightunsigned(
        graft.functions.HashExpressions.mix64(col("__id")), 1))
      .orderBy(col("__h").asc, col("__id").asc)
      .limit(n)
      .select("__id", "__v")
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
  }

  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      refineIters: Int = 2,
      sampleSize: Int = 256): DataFrame = {
    // deterministic hash-cut sample in ascending id order (the order
    // matters: the oracle replays the centroid folds in this exact
    // order — see hashOrderedSample)
    val sample: Array[Array[Double]] =
      hashOrderedSample(df, idCol, vecCol, math.max(nlist, sampleSize))
    require(sample.nonEmpty, "empty corpus")
    ivfTopKWithCentroids(df, idCol, vecCol, query, k,
      refineCentroids(sample, nlist, refineIters), nprobe)
  }

  /** Nearest-centroid assignment as a closure UDF with the centroid
    * matrix captured (shipped with the task closure). An
    * expression-tree formulation would inline nlist × dim literal
    * nodes (~1k for 16×64), which blows up codegen compilation time;
    * the UDF keeps the per-row loop tight and the plan tiny. Same
    * fused cosine + strict-> earliest-cell tie-break as
    * [[refineCentroids]]. */
  private[graft] def assignCellUdf(centroids: Array[Array[Double]]) = {
    val centroidsB = centroids
    udf { (vec: Seq[Float]) =>
      var best = -1; var bestSim = Double.MinValue
      var c = 0
      while (c < centroidsB.length) {
        val ctr = centroidsB(c)
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val lim = math.min(ctr.length, vec.length)
        while (i < lim) {
          val x = vec(i).toDouble
          d += x * ctr(i); na += x * x; nb += ctr(i) * ctr(i); i += 1
        }
        val sim = if (na > 0 && nb > 0) d / math.sqrt(na * nb) else 0.0
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      best
    }
  }

  /** IVF probe + exact re-rank for a given centroid set: assign every
    * row (single scan, no shuffle), keep the query's `nprobe` best
    * cells, exact cosine on those rows only. */
  def ivfTopKWithCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val q = query.map(_.toDouble)
    val probeCells: Seq[Int] = centroids.zipWithIndex
      .map { case (c, i) => i -> cosineScalar(q, c) }
      .sortBy { case (i, s) => (-s, i) }
      .take(math.min(nprobe, centroids.length))
      .map(_._1).toSeq
    val qLit = array(query.map(v => lit(v.toDouble)).toIndexedSeq: _*)
    df.withColumn("__cell", assignCellUdf(centroids)(col(vecCol)))
      .filter(col("__cell").isin(probeCells: _*))
      .select(col(idCol).as("id"),
        SimilarityFunctions.cosine(col(vecCol), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Top-`nprobe` centroid cells for each vector, closest first
    * (fused cosine, strict `>` + earliest-cell tie-break — the same
    * order [[assignCellUdf]] and [[refineCentroids]] use), as an
    * array for the caller to explode. Closure UDF for the same
    * reason as [[assignCellUdf]]: nlist × dim literals would bloat
    * codegen. */
  private def probeCellsUdf(centroids: Array[Array[Double]], nprobe: Int) = {
    val centroidsB = centroids
    udf { (vec: Seq[Float]) =>
      val sims = Array.tabulate(centroidsB.length) { c =>
        val ctr = centroidsB(c)
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val lim = math.min(ctr.length, vec.length)
        while (i < lim) {
          val x = vec(i).toDouble
          d += x * ctr(i); na += x * x; nb += ctr(i) * ctr(i); i += 1
        }
        if (na > 0 && nb > 0) d / math.sqrt(na * nb) else 0.0
      }
      sims.indices.sortBy(c => (-sims(c), c)).take(nprobe)
    }
  }

  /** BATCH-query IVF ANN — RAG-style retrieval and corpus-vs-corpus
    * linking: a DataFrame of query vectors, each answered with its
    * exact-cosine top-k over the rows of its `nprobe` closest IVF
    * cells. Output: (query_id, id, cosine), k rows per query.
    *
    * Shape: both sides are cell-assigned by closure UDFs in a single
    * scan each (no shuffle to assign); queries explode to their
    * nprobe probe cells; the probe is an EQUI-join on the cell id —
    * never query × corpus; the per-query top-k is a window keyed by
    * query id. Per-query work is corpus/nlist × nprobe rows, the
    * recall/cost dial.
    *
    * Scale posture (100 TB corpus, millions of queries): the corpus
    * side shuffles once keyed by cell — or zero times when the
    * corpus is stored bucketed by its cell assignment, the
    * production layout; the query side shuffles |queries| × nprobe
    * tiny (id, cell) rows. Hot cells (skewed data) are AQE
    * skew-join territory; raising nlist shrinks every cell. */
  def ivfTopKBatch(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int): DataFrame =
    ivfTopKBatchAssigned(queries,
      corpus.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        assignCellUdf(centroids)(col(vecCol)).as("cell")),
      queryIdCol, queryVecCol, k, centroids, nprobe)

  /** [[ivfTopKBatch]] over a PRE-ASSIGNED corpus — `assigned` carries
    * (id, cell, vec), e.g. a persisted [[graft.sources.AnnIndex]]
    * plain-IVF table. Bit-identical to the inline path (the inline
    * path delegates here after assigning); at scale the assigned
    * table is stored bucketed by `cell`, making the probe join
    * shuffle-free on the corpus side. */
  def ivfTopKBatchAssigned(
      queries: DataFrame,
      assigned: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val np = math.min(nprobe, centroids.length)
    // the probe UDF is the generator's CHILD here (evaluated once per
    // query row) — not a sibling projection of a generator, which
    // ExtractGenerator would re-evaluate per exploded element (see
    // kmeansCentroidsDistributed's two-step select)
    val qSide = queries.select(
      col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"),
      explode(probeCellsUdf(centroids, np)(col(queryVecCol))).as("__cell"))
    val cSide = assigned.select(
      col("id"), col("vec").as("__vec"), col("cell").as("__cell"))
    topKPerQuery(qSide.join(cSide, "__cell")
      .select(col("query_id"), col("id"),
        SimilarityFunctions.cosine(col("__vec"), col("__qvec")).as("cosine")),
      "cosine", k)
  }

  /** The per-query top-k tail every batch ANN scorer ends in: rank
    * each query's scored candidates (query_id, id, `score`) by score
    * descending, id ascending — the tie-break that makes the answer
    * deterministic — and keep the first `k`. */
  private def topKPerQuery(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col(score).desc, col("id").asc)
    scored
      .withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= k)
      .select("query_id", "id", score)
  }

  /** Distributed Lloyd refinement over the FULL corpus — the scale
    * path when a driver-side sample can't represent the data (the
    * sample variant collects `sampleSize` rows; this collects only
    * `nlist × dim` partial sums per iteration, regardless of corpus
    * size).
    *
    * Deterministic by construction, independent of partitioning: each
    * vector component is quantized to an integer (`round(x · 2^quantBits)`)
    * and the per-(cell, dim) sums accumulate in DECIMAL(38,0) — exact
    * integer math, so any aggregation order yields the identical
    * result (a double sum would drift with partitioning; verified by
    * a repartition-invariance test). The centroid update divides the
    * exact sum by the exact count in double precision. Quantization
    * at the default 2^30 keeps component error ≤ 2^-31 — irrelevant
    * to cluster quality — while the DECIMAL(38,0) accumulator leaves
    * ~1e28 headroom over any realistic corpus.
    *
    * Per iteration: one scan (assignment UDF) + one partial-aggregated
    * shuffle of nlist×dim keyed sums. Empty cells keep their previous
    * centroid. */
  /** Cell count for a corpus-proportional k-means model: `n` rows at
    * a constant expected cell occupancy (`targetCell`), floored at
    * `minNlist`. SemDeDup-style cell-scoped pair generation costs
    * Σ|cell|² ≈ n·occupancy, so a FIXED nlist makes pair output grow
    * quadratically with corpus density (the measured 16× wall-clock
    * at 10× rows, VERDICT r15) while this keeps it linear; the price
    * is an assignment term of n·nlist distance evaluations, which the
    * codegen'd fused-cosine sweep absorbs until nlist reaches the
    * thousands — at which point use the capped variant or a coarse
    * quantizer. Replayed in SQL as
    * `GREATEST(minNlist, CEIL(count/targetCell))`. */
  def adaptiveNlist(n: Long, targetCell: Int = 64, minNlist: Int = 8): Int = {
    require(targetCell > 0 && minNlist > 0, "positive targetCell/minNlist")
    math.max(minNlist, math.ceil(n.toDouble / targetCell).toInt)
  }

  def kmeansCentroidsDistributed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      iters: Int = 2,
      quantBits: Int = 30): Array[Array[Double]] = {
    val quant = (1L << quantBits).toDouble
    // deterministic init: first nlist rows by id (bounded collect)
    var cents: Array[Array[Double]] = df
      .orderBy(col(idCol).asc).limit(nlist)
      .select(vecCol).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(cents.nonEmpty, "empty corpus")
    val dim = cents(0).length

    var it = 0
    while (it < iters) {
      // ExactCentsSum: same exact integer fold as a DECIMAL(38,0) sum
      // but with a fixed-width two-long buffer — no per-(row,dim)
      // Decimal allocation across the corpus×dim exploded rows
      val qsum = org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.functions.ExactCentsSum(
          org.apache.spark.sql.graftshim.ColumnBridge.expression(
            round(col("x").cast("double") * quant).cast("bigint")))
          .toAggregateExpression())
      // Two-step select: with `select(udf(vec), posexplode(vec))` the
      // analyzer's ExtractGenerator keeps non-generator expressions in
      // the Project ABOVE the Generate, so the assignment UDF would
      // re-evaluate once per exploded DIM (64× per row — measured 3×
      // the whole query's cost). Projecting the cell first pins it
      // below the Generate: once per row, carried through as a
      // required child output.
      val partials = df
        .select(assignCellUdf(cents)(col(vecCol)).as("cell"), col(vecCol).as("__vec"))
        .select(col("cell"), posexplode(col("__vec")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(qsum.as("qsum"), count(lit(1)).as("n"))
        .collect() // nlist × dim rows — bounded, independent of corpus size
      val next = cents.map(_.clone)
      partials.foreach { r =>
        val cell = r.getInt(0)
        val d = r.getInt(1)
        val qsum = r.getDecimal(2)
        val n = r.getLong(3)
        next(cell)(d) = qsum.doubleValue / n / quant
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Per-group embedding centroids (mean pooling) — the aggregation
    * behind class prototypes, topic centroids, and cluster summaries.
    * Same exact-quantized fold as [[kmeansCentroidsDistributed]]:
    * components round to `round(x·2^quantBits)` integers and sum in
    * the fixed-width [[graft.functions.ExactCentsSum]], so the result
    * is bit-reproducible under any partitioning and the shuffle
    * carries only |groups|·dim keyed sums regardless of corpus size.
    * Output: one row per (group, dim 1..d, value) — long format, so
    * downstream joins/pivots choose their own shape. */
  def groupCentroids(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      quantBits: Int = 30): DataFrame = {
    val quant = (1L << quantBits).toDouble
    val qsum = org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.ExactCentsSum(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(
          round(col("x").cast("double") * quant).cast("bigint")))
        .toAggregateExpression())
    df.select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("dim0", "x")))
      .groupBy("grp", "dim0")
      .agg(qsum.as("qsum"), count(lit(1)).as("n"))
      .select(col("grp"), (col("dim0") + 1).as("dim"),
        (col("qsum").cast("double") / col("n") / quant).as("value"))
  }

  /** Embedding outlier detection against group centroids — the
    * embedding-QC pass that surfaces mislabeled / off-distribution
    * vectors: each vector's cosine to its OWN group's mean-pooled
    * centroid (from [[groupCentroids]], exact-quantized so the
    * centroid is partitioning-independent), keeping the `k` LEAST
    * similar per group (cosine asc, id asc — a total order).
    *
    * Scale posture: the centroid table is |groups| rows — broadcast
    * to the corpus join, so the only corpus-sized work is one scan
    * computing cosines plus the per-group top-k window (shuffle on
    * the group key; per-group k rows survive). The long-format
    * centroids pivot to vectors via an `array_sort(collect_list)` of
    * |groups|·dim rows — driver-scale, not corpus-scale. */
  def centroidOutliers(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      vecCol: String,
      k: Int,
      quantBits: Int = 30): DataFrame = {
    val centVecs = groupCentroids(df, groupCol, vecCol, quantBits)
      .groupBy("grp")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("value")))),
        s => s.getField("value")).as("cvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("cosine").asc, col("id").asc)
    df.select(col(idCol).as("id"), col(groupCol).as("grp"), col(vecCol).as("vec"))
      .join(broadcast(centVecs), "grp")
      .withColumn("cosine", SimilarityFunctions.cosine(col("vec"), col("cvec")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("id"), col("grp"), col("cosine"))
  }

  /** All bucket ids within Hamming distance `probeHamming` of `base`
    * over `numPlanes` bits — the multi-probe enumeration,
    * C(numPlanes, ≤h) buckets (37 for 8 planes at h=2). Enumerating
    * the ball is what keeps the batch probe an EQUI-join on the
    * bucket id: the single-query path can afford a bit_count filter
    * over the corpus, but a batch of queries with a non-equi Hamming
    * predicate would plan as a broadcast nested-loop join. */
  private[graft] def hammingBall(
      base: Long, numPlanes: Int, probeHamming: Int): Seq[Long] =
    (0 to probeHamming).flatMap(h =>
      (0 until numPlanes).combinations(h).map(
        _.foldLeft(base)((b, i) => b ^ (1L << i))))

  /** BATCH-query LSH ANN — the centroid-free sibling of
    * [[ivfTopKBatch]]: each query explodes to its Hamming-ball probe
    * buckets, the corpus is bucketed once by sign-LSH, candidates
    * come from an equi-join on the bucket id, and exact cosine +
    * per-query window picks the top k. Output (query_id, id, cosine).
    *
    * Scale: corpus bucketing is one scan (and in production the
    * corpus is STORED bucketed by its LSH bucket — zero corpus
    * shuffle per batch); the query side is |queries| × C(planes, ≤h)
    * tiny rows. `probeHamming = numPlanes` degrades to exact brute
    * force (the ball covers every bucket — the parity-test case). */
  def lshTopKBatch(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 10,
      dim: Int = 64,
      probeHamming: Int = 2,
      seed: Long = 42L): DataFrame = {
    val planes = SimilarityFunctions.hyperplanes(numPlanes, dim, seed)
    lshBatchCore(queries, lshBucketed(corpus, idCol, vecCol, planes),
      queryIdCol, queryVecCol, k, planes, probeHamming)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the `k` most-similar corpus vectors carrying a DIFFERENT
    * label — the near-boundary examples a retrieval/embedding model
    * must learn to separate. Identical plan shape to [[lshTopKBatch]]
    * (Hamming-ball equi-join on the LSH bucket, exact cosine, per-
    * query window) with a label-inequality residual filter applied to
    * the joined candidates BEFORE the window, so same-label neighbors
    * never displace true negatives from the top k. */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      queryLabelCol: String,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      numPlanes: Int = 10,
      dim: Int = 64,
      probeHamming: Int = 2,
      seed: Long = 42L): DataFrame = {
    val planes = SimilarityFunctions.hyperplanes(numPlanes, dim, seed)
    lshBatchCore(queries,
      lshBucketed(corpus, idCol, vecCol, planes, col(labelCol).as("__clabel")),
      queryIdCol, queryVecCol, k, planes, probeHamming,
      queryLabelCol = Some(queryLabelCol))
  }

  /** Sign-LSH-bucket a corpus under `planes`: (id, bucket, vec), plus
    * any `carry` columns — the shape [[lshBatchCore]] probes and the
    * persisted LSH index ([[graft.sources.AnnIndex.buildAndWriteLsh]])
    * stores. */
  private[graft] def lshBucketed(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Double]], carry: Column*): DataFrame =
    corpus.select(Seq(col(idCol).as("id"),
      SimilarityFunctions.lshBucket(col(vecCol), planes).as("bucket"),
      col(vecCol).as("vec")) ++ carry: _*)

  /** The one batch-LSH read path, over a BUCKETED corpus (id, bucket,
    * vec): each query explodes to its Hamming-ball probe buckets under
    * `planes`, candidates come from the bucket equi-join, exact cosine
    * + [[topKPerQuery]] pick the top k. [[lshTopKBatch]] and
    * [[hardNegatives]] bucket their corpus inline ([[lshBucketed]]);
    * the persisted LSH index ([[graft.sources.AnnIndex.queryBatchLsh]])
    * passes its stored `bucketed` table, so a query batch pays only
    * its own explode + the join — bit-identical to the inline path
    * under the same planes (the bucket fold and cosine are the same
    * expressions). With `queryLabelCol`, the corpus also carries
    * `__clabel` and same-label candidates drop before the window. */
  private[graft] def lshBatchCore(
      queries: DataFrame,
      bucketed: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      planes: Array[Array[Double]],
      probeHamming: Int,
      queryLabelCol: Option[String] = None): DataFrame = {
    val ball = udf((b: Long) => hammingBall(b, planes.length, probeHamming))
    val qSide = queries.select(
      Seq(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec")) ++
        queryLabelCol.map(c => col(c).as("__qlabel")) :+
        explode(ball(SimilarityFunctions.lshBucket(col(queryVecCol), planes)))
          .as("bucket"): _*)
    val cSide = bucketed.select(
      Seq(col("id"), col("vec").as("__vec"), col("bucket")) ++
        queryLabelCol.map(_ => col("__clabel")): _*)
    // ball buckets are distinct, so a corpus row appears at most once
    // per query — no candidate dedup needed before the window
    val joined = qSide.join(cSide, "bucket")
    val candidates = queryLabelCol
      .map(_ => joined.filter(col("__qlabel") =!= col("__clabel")))
      .getOrElse(joined)
    topKPerQuery(candidates
      .select(col("query_id"), col("id"),
        SimilarityFunctions.cosine(col("__vec"), col("__qvec")).as("cosine")),
      "cosine", k)
  }

  /** Margin-based embedding pair mining — the RATIO margin of
    * Artetxe & Schwenk 2019 ("Margin-based Parallel Corpus Mining
    * with Multilingual Sentence Embeddings"), the criterion behind
    * CCMatrix/LASER bitext mining:
    *
    *   margin(x, y) = cos(x, y) / ((avgNNk(x→tgt) + avgNNk(y→src)) / 2)
    *
    * A pair is strong when its cosine beats BOTH vectors' own
    * neighborhood averages — which cancels hubness (vectors close to
    * everything score margins near 1 everywhere) that a raw cosine
    * threshold cannot. Margin 1.0 = "no better than the
    * neighborhood"; mining cuts usually sit at ≥ ~1.05.
    *
    * Candidates and both neighborhoods come from the SAME frozen-IVF
    * probe rule ([[ivfTopKBatch]], shared `centroids`, `nprobe`):
    * forward src→tgt top-k supplies the candidate pairs AND x's
    * neighborhood (y included, per the paper's k-NN definition);
    * backward tgt→src supplies y's. Neighborhood averages fold as
    * quantized-integer sums (`round(cos · 2^30)` in BIGINT) so they
    * are order-independent under any partitioning and replay exactly
    * in the oracle — the house discipline for every float fold.
    * Output: (src_id, tgt_id, cosine, margin), one row per forward
    * candidate; tgt rows whose backward probe found no src
    * candidates cannot be scored and drop (inner join, mirrored).
    *
    * Scale posture: two batch-IVF retrievals (each: closure-UDF cell
    * assign, equi-join on cell, per-query window) + two id-keyed
    * vocabulary-small average aggregates + two joins of those
    * averages onto the candidate set (AQE broadcasts them — k rows
    * per id). Nothing quadratic; both directions share the frozen
    * centroids, so a persisted [[graft.sources.AnnIndex]] serves
    * both sides at 100 TB. */
  def marginMinedPairs(
      src: DataFrame,
      tgt: DataFrame,
      srcIdCol: String,
      srcVecCol: String,
      tgtIdCol: String,
      tgtVecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val quant = 1073741824.0 // 2^30 — the house exact-fold quantization
    val fwd = ivfTopKBatch(src, tgt, srcIdCol, srcVecCol, tgtIdCol, tgtVecCol,
      k, centroids, nprobe)
    val bwd = ivfTopKBatch(tgt, src, tgtIdCol, tgtVecCol, srcIdCol, srcVecCol,
      k, centroids, nprobe)
    def nbrAvg(pairs: DataFrame, keyOut: String, avgOut: String) =
      pairs.groupBy(col("query_id").as(keyOut))
        .agg((sum(round(col("cosine") * quant).cast("long")).cast("double") /
          count(lit(1)) / quant).as(avgOut))
    val srcAvg = nbrAvg(fwd, "__sid", "src_avg")
    val tgtAvg = nbrAvg(bwd, "__tid", "tgt_avg")
    val denom = (col("src_avg") + col("tgt_avg")) / 2.0
    fwd.select(col("query_id").as("src_id"), col("id").as("tgt_id"), col("cosine"))
      .join(srcAvg, col("src_id") === col("__sid"))
      .join(tgtAvg, col("tgt_id") === col("__tid"))
      .select(col("src_id"), col("tgt_id"), col("cosine"),
        when(denom > 0.0, col("cosine") / denom).otherwise(lit(0.0)).as("margin"))
  }

  /** Recall audit for the IVF probe dial: per query, recall@k of the
    * `nprobe`-cell answer against the exhaustive answer — the
    * measurement that SETS `nprobe` (raise until recall meets the
    * product bar, not further; every probed cell is paid for on every
    * query). Output: (query_id, hits, recall) with
    * recall = |top-k(nprobe) ∩ top-k(all cells)| / k'
    * where k' = the exhaustive answer's size (≤ k on small corpora).
    *
    * The exhaustive side is [[ivfTopKBatch]] at nprobe = nlist —
    * exactly brute force (ScaleOpsSpec pins that equivalence), so
    * both sides run the same plan shape and the audit needs no
    * cross join. Run it on a SAMPLED query set: the exhaustive side
    * is |queries| × corpus work by construction — that is what an
    * audit costs, and why it is not the production query path. */
  def recallAudit(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val probed = ivfTopKBatch(queries, corpus, queryIdCol, queryVecCol,
      idCol, vecCol, k, centroids, nprobe)
    val exact = ivfTopKBatch(queries, corpus, queryIdCol, queryVecCol,
      idCol, vecCol, k, centroids, nprobe = centroids.length)
    recallOf(exact, probed)
  }

  /** Per-query recall@k of `probed` against `exact` — both in the
    * (query_id, id, …) top-k shape. The shared arithmetic of the
    * recall audits. */
  private def recallOf(exact: DataFrame, probed: DataFrame): DataFrame =
    exact.select(col("query_id"), col("id"))
      .join(probed.select(col("query_id"), col("id"), lit(1).as("__hit")),
        Seq("query_id", "id"), "left")
      .groupBy("query_id")
      .agg(count(col("__hit")).as("hits"),
        (count(col("__hit")).cast("double") / count(lit(1))).as("recall"))

  /** [[recallAudit]]'s sign-LSH twin — the measurement that SETS
    * [[lshTopKBatch]]'s Hamming radius (`probeHamming`), closing the
    * read-side symmetry with the IVF/IVF-PQ families (each family's
    * probe dial gets its own recall-vs-exhaustive audit; without this
    * one the radius was chosen blind): per query, recall@k of the
    * radius-`probeHamming` Hamming-ball answer against the exhaustive
    * answer. The exhaustive side is [[lshTopKBatch]] at
    * `probeHamming = numPlanes` — the ball covers every bucket, which
    * IS brute force (ScaleOpsSpec pins that equivalence and the
    * monotone-in-radius recall curve). Run it on a SAMPLED query set,
    * same as the IVF audit — the exhaustive side costs
    * |queries| × corpus by construction. */
  def recallAuditLsh(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 10,
      dim: Int = 64,
      probeHamming: Int = 2,
      seed: Long = 42L): DataFrame = {
    val probed = lshTopKBatch(queries, corpus, queryIdCol, queryVecCol,
      idCol, vecCol, k, numPlanes, dim, probeHamming, seed)
    val exact = lshTopKBatch(queries, corpus, queryIdCol, queryVecCol,
      idCol, vecCol, k, numPlanes, dim, probeHamming = numPlanes, seed)
    recallOf(exact, probed)
  }

  /** LSH-bucketed ANN top-k: probe all buckets within `probeHamming`
    * bits of the query's bucket (multi-probe raises recall without
    * re-bucketing), exact cosine on the candidates only. */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      numPlanes: Int = 10,
      dim: Int = 64,
      probeHamming: Int = 2,
      seed: Long = 42L): DataFrame = {
    val planes = SimilarityFunctions.hyperplanes(numPlanes, dim, seed)
    // query bucket computed driver-side (tiny, pure)
    var qBucket = 0L
    planes.zipWithIndex.foreach { case (p, i) =>
      var d = 0.0
      var j = 0
      while (j < math.min(p.length, query.length)) { d += p(j) * query(j); j += 1 }
      if (d >= 0.0) qBucket |= (1L << i)
    }
    val qLit = array(query.map(v => lit(v.toDouble)).toIndexedSeq: _*)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        SimilarityFunctions.lshBucket(col(vecCol), planes).as("bucket"))
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming)
      .select(col("id"), SimilarityFunctions.cosine(col("vec"), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  // --------------------------------------------------------- product quantization

  /** Per-subspace L2 Lloyd refinement — PQ codebook training. Same
    * deterministic shape as [[refineCentroids]] (first-`k` seed,
    * sample-order accumulation, empty cells keep their previous
    * centroid) but under SQUARED EUCLIDEAN distance with strict `<`
    * + earliest-cell tie-break: PQ reconstructs subvector VALUES, so
    * magnitude matters and cosine is the wrong training metric. */
  private[graft] def refineCentroidsL2(
      sample: Array[Array[Double]],
      k: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty codebook sample")
    var cents = sample.take(k)
    val dim = sample(0).length
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](cents.length, dim)
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
      it += 1
    }
    cents
  }

  /** PQ codebooks: `m` per-subspace L2-k-means codebooks of `ksub`
    * codewords each, trained on the deterministic `sampleSize`-row
    * hash-cut sample (the [[hashOrderedSample]] convention, shared
    * with [[ivfTopK]]). Result shape: codebooks(j)(c) = codeword c of
    * subspace j (dim/m doubles). Driver-side by design —
    * m·ksub·(dim/m) = ksub·dim doubles. */
  def pqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int = 16,
      refineIters: Int = 2,
      sampleSize: Int = 256): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] =
      hashOrderedSample(df, idCol, vecCol, math.max(ksub, sampleSize))
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val ds = dim / m
    Array.tabulate(m) { j =>
      refineCentroidsL2(sample.map(_.slice(j * ds, (j + 1) * ds)), ksub, refineIters)
    }
  }

  /** PQ encoding: each vector compressed to `m` codeword indices
    * (argmin squared-L2 per subspace, strict `<` earliest-win — the
    * training-side assignment rule). THIS is the 100 TB artifact: m
    * small ints (m bytes at ksub <= 256) replace dim floats — a
    * 32× compression at the default 64-dim/8-subspace/16-codeword
    * setup — and the scan-shaped encode never shuffles. */
  /** The PQ argmin-encode as a closure UDF (the [[assignCellUdf]]
    * rationale: m·ksub·ds literal expression nodes would bloat
    * codegen). */
  private def encodeUdf(codebooks: Array[Array[Array[Double]]]) = {
    val cb = codebooks
    udf { (vec: Seq[Float]) =>
      val m = cb.length; val ds = cb(0)(0).length
      Array.tabulate(m) { j =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cb(j).length) {
          var d = 0.0; var i = 0
          while (i < ds) {
            val t = vec(j * ds + i).toDouble - cb(j)(c)(i); d += t * t; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
  }

  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    df.select(col(idCol).as("id"), encodeUdf(codebooks)(col(vecCol)).as("code"))

  /** PQ ANN top-k by asymmetric distance computation: train codebooks
    * on the id-ordered sample, encode the corpus, then score every
    * row from a driver-built ADC lookup table — approx cosine =
    * ADC-dot / (|q| · sqrt(Σ_j |codeword_j|²)), i.e. the query
    * against each row's RECONSTRUCTION. One scan, no shuffle before
    * the TakeOrdered top-k; every float fold has a fixed order
    * (subspaces ascending, dims ascending), so scores are bit-stable
    * and the DuckDB oracle replays training + encode + ADC end to
    * end. Exactness knob: ksub = sampleSize with refineIters = 0
    * degrades to vector quantization on the sample itself (used by
    * the recall spec); production recall comes from raising ksub/m,
    * re-ranking the PQ top-k' exactly is [[bruteForceTopK]] over the
    * surviving candidate set. */
  def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      refineIters: Int = 2,
      sampleSize: Int = 256,
      rerank: Int = 0): DataFrame = {
    val cb = pqCodebooks(df, idCol, vecCol, m, ksub, refineIters, sampleSize)
    val q = query.map(_.toDouble)
    val ds = q.length / m
    // ADC table + codeword norms, driver-side (m × ksub doubles)
    val adc = Array.tabulate(m) { j =>
      Array.tabulate(cb(j).length) { c =>
        var d = 0.0; var i = 0
        while (i < ds) { d += q(j * ds + i) * cb(j)(c)(i); i += 1 }
        d
      }
    }
    val cwNorm2 = Array.tabulate(m) { j =>
      Array.tabulate(cb(j).length) { c =>
        var n = 0.0; var i = 0
        while (i < ds) { n += cb(j)(c)(i) * cb(j)(c)(i); i += 1 }
        n
      }
    }
    var qn2 = 0.0
    var qi = 0
    while (qi < q.length) { qn2 += q(qi) * q(qi); qi += 1 }
    val qn = math.sqrt(qn2)
    val score = udf { (code: Seq[Int]) =>
      var dot = 0.0; var nx = 0.0; var j = 0
      while (j < code.length) {
        dot += adc(j)(code(j)); nx += cwNorm2(j)(code(j)); j += 1
      }
      if (nx > 0.0) dot / (qn * math.sqrt(nx)) else 0.0
    }
    val adcTopK = pqEncode(df, idCol, vecCol, cb)
      .select(col("id"), score(col("code")).as("approx_cos"))
      .orderBy(col("approx_cos").desc, col("id").asc)
      .limit(if (rerank <= 0) k else k * rerank)
    if (rerank <= 0) adcTopK
    else {
      // exact re-rank of the ADC shortlist: the candidate ids are a
      // bounded driver list (k·rerank), so the vector read is an
      // IN-filtered scan — pushdown-pruned, no join, no shuffle —
      // and the final order is TRUE cosine. This is the production
      // recall recipe: PQ narrows, exact cosine decides.
      val ids = adcTopK.select("id").collect().map(_.getLong(0)).toSeq
      val qLit = array(query.map(v => lit(v.toDouble)).toIndexedSeq: _*)
      df.filter(col(idCol).isin(ids: _*))
        .select(col(idCol).as("id"),
          SimilarityFunctions.cosine(col(vecCol), qLit).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k)
    }
  }

  /** IVF-PQ batch retrieval — the production ANN index shape (FAISS
    * IVFPQ): the coarse quantizer prunes each query to its `nprobe`
    * cells, and candidates are scored from their PQ CODES — the
    * corpus side of the join carries (id, cell, m-byte code), never
    * the vectors. Per query: window top-k by the same ADC
    * approximate cosine as [[pqTopK]] (identical fold order, so a
    * one-cell/one-query degenerate setup reproduces it exactly).
    *
    * Scale posture: one equi-join on cell between query-probe rows
    * (|Q|·nprobe) and the code-only index; per-pair work is
    * O(dim) in the scoring UDF but over the PRUNED candidate set,
    * and the shuffled candidate payload is the 8-byte id + m codes —
    * the vectors stay in the scan. Exact re-rank of the shortlist =
    * join ids back to vectors ([[bruteForceTopK]] shape). */
  def ivfPqTopKBatch(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int): DataFrame =
    ivfPqTopKBatchCoded(queries,
      encodeForIndex(corpus, idCol, vecCol, centroids, codebooks),
      queryIdCol, queryVecCol, k, centroids, codebooks, nprobe)

  /** The index-build half of [[ivfPqTopKBatch]]: corpus → (id,
    * cell, code) — 8-byte id + cell int + m small ints per vector,
    * the 32×-compressed artifact worth PERSISTING
    * ([[graft.sources.AnnIndex]] writes/reads it with the centroid
    * and codebook tables). Scan-shaped, never shuffles. */
  def encodeForIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(
      col(idCol).as("id"),
      assignCellUdf(centroids)(col(vecCol)).as("cell"),
      encodeUdf(codebooks)(col(vecCol)).as("code"))

  /** [[ivfPqTopKBatch]] over a PRE-CODED corpus (`(id, cell, code)`
    * — [[encodeForIndex]] output, typically read back from a
    * persisted index): identical probe, join, and ADC fold, so a
    * loaded index answers bit-for-bit what the inline path answers. */
  def ivfPqTopKBatchCoded(
      queries: DataFrame,
      coded: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int): DataFrame = {
    val np = math.min(nprobe, centroids.length)
    val cb = codebooks
    val ds = cb(0)(0).length
    val qSide = queries.select(
      col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"),
      explode(probeCellsUdf(centroids, np)(col(queryVecCol))).as("__cell"))
    val cSide = coded.select(
      col("id"), col("cell").as("__cell"), col("code").as("__code"))
    // ADC per pair, [[pqTopK]]'s exact fold order: per-subspace dot /
    // norm folds (dims ascending), then subspace-ascending sums
    val score = udf { (qvec: Seq[Float], code: Seq[Int]) =>
      var qn2 = 0.0; var i = 0
      while (i < qvec.length) { val x = qvec(i).toDouble; qn2 += x * x; i += 1 }
      var dot = 0.0; var nx = 0.0; var j = 0
      while (j < code.length) {
        val cw = cb(j)(code(j))
        var dj = 0.0; var nj = 0.0; var d = 0
        while (d < ds) {
          dj += qvec(j * ds + d).toDouble * cw(d); nj += cw(d) * cw(d); d += 1
        }
        dot += dj; nx += nj; j += 1
      }
      if (nx > 0.0) dot / (math.sqrt(qn2) * math.sqrt(nx)) else 0.0
    }
    topKPerQuery(qSide.join(cSide, "__cell")
      .select(col("query_id"), col("id"),
        score(col("__qvec"), col("__code")).as("approx_cos")),
      "approx_cos", k)
  }
}
