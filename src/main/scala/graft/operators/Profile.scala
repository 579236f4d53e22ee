package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Table profiling — the pre-migration sanity pass every ETL needs:
  * per-column null counts, distinct cardinality, min/max.
  *
  * Shape: one aggregate PER COLUMN, results unioned. Packing several
  * exact `count(distinct)`s into a single aggregate triggers
  * Catalyst's EXPAND (one input replica per distinct aggregate — a
  * 4-column profile shuffles 4x the table; measured 13s vs 1s at
  * sf0.1). Per-column jobs each scan exactly one parquet column
  * (pruning verified) and shuffle only that column's values; they also
  * parallelize independently. At 100 TB prefer `approxDistinct = true`
  * (HyperLogLog++, fixed memory, no per-value shuffle).
  */
object Profile {

  /** One output row per profiled column with exact linear-interpolated
    * quartiles (SQL `percentile` — the same `lower + (higher-lower) *
    * frac` interpolation DuckDB's `quantile_cont` performs, so the
    * doubles match the oracle bit-for-bit on shared input). EXACT
    * percentile sorts the column per aggregate — the right default
    * for a profiling pass you run once per migration; at 100 TB pass
    * `approx = true` for `approx_percentile` (GK-sketch, fixed
    * memory, no per-column sort): rank error is bounded by
    * n/`accuracy` and the result is an actual element, not an
    * interpolation — within one order-statistic gap of the exact
    * value (the parity-band test pins it). Same
    * one-aggregate-per-column shape as [[profile]] (each job scans
    * and shuffles exactly one column). */
  def quantiles(
      df: DataFrame,
      columns: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      approx: Boolean = false,
      accuracy: Int = 10000): DataFrame =
    columns.map { c =>
      val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
      // backticks: names with spaces/dots/keywords must parse like
      // profile()'s col(c) path does
      val agg =
        if (approx) expr(s"approx_percentile(`$c`, $arr, $accuracy)")
        else expr(s"percentile(`$c`, $arr)")
      df.select(col(c)).agg(agg.as("qs"))
        .select(lit(c).as("column") +:
          probs.zipWithIndex.map { case (p, i) =>
            // cast: approx_percentile returns the column's own type
            // (it picks an element); exact percentile is already
            // double — one schema for both paths
            element_at(col("qs"), i + 1).cast("double").as(s"q${(p * 100).round}")
          }: _*)
    }.reduce(_.unionByName(_))

  /** Equi-width histogram of a numeric column: `bins` buckets over
    * [min, max], one output row per non-empty bucket with its bounds
    * and count. The max value lands in the last bucket (the standard
    * closed-right top bucket); a constant column collapses to one
    * bucket.
    *
    * Scale posture: one min/max aggregate (two doubles to the
    * driver — the same scalar-collect pattern as the ANN query
    * vector, never a 1-row cross join, which would plan as a nested-
    * loop join), then one projection + hash-aggregate keyed by the
    * bucket id (≤ `bins` groups, map-side partial). Bucket arithmetic
    * is fixed-order double math on the driver-computed width, so the
    * DuckDB oracle reproduces the exact cuts. */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val row = df.agg(
      min(col(c).cast("double")).as("mn"),
      max(col(c).cast("double")).as("mx")).head()
    val (mn, mx) = (row.getDouble(0), row.getDouble(1))
    val width = (mx - mn) / bins
    val bucket =
      if (width == 0.0) lit(0L)
      else least(lit(bins - 1L), floor((col(c).cast("double") - mn) / width))
    df.filter(col(c).isNotNull)
      .select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(mn) + col("bucket") * width).as("lo"),
        (lit(mn) + (col("bucket") + 1) * width).as("hi"),
        col("n"))
  }

  /** Keep rows at or above their group's `q`-quantile of `value` —
    * the "top half by quality score, per language" corpus gate that
    * turns a profiling number into a filter. Two stages:
    * a per-group threshold aggregate (|groups| rows — tiny) that
    * BROADCASTS back into a single filtered pass over the corpus, so
    * the corpus itself is scanned once and never shuffled.
    *
    * The threshold uses the same exact-interpolated `percentile` as
    * [[quantiles]] (bit-matching DuckDB's `quantile_cont`, which is
    * what lets the oracle replay the cut); exact percentile buffers
    * each group's values, so at 100 TB set `approx = true` for the
    * GK-sketch `approx_percentile` — the gate then keeps a value
    * within bounded rank error of the exact cut. */
  def quantileGate(
      df: DataFrame,
      value: org.apache.spark.sql.Column,
      groupCol: String,
      q: Double,
      approx: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    val scored = df.withColumn("__v", value)
    val agg =
      if (approx) expr(s"approx_percentile(__v, ${q}D, $accuracy)")
      else expr(s"percentile(__v, ${q}D)")
    val thresholds = scored.groupBy(col(groupCol)).agg(agg.cast("double").as("__thr"))
    scored
      .join(broadcast(thresholds), Seq(groupCol))
      .filter(col("__v") >= col("__thr"))
      .drop("__v", "__thr")
  }

  /** Quantile bucketing — assign each row to one of `n` buckets by
    * the exact quantile cut points of `c` (the curriculum/length-
    * bucketing step: "quartile of token count" without `ntile`'s
    * global sort). `ntile` needs a single-partition window over the
    * whole corpus; here the n−1 cut points are ONE aggregate row
    * collected to the driver and the assignment is a codegen'd
    * comparison chain — zero global sort, one corpus scan. Values
    * equal to a cut point land in the lower bucket, so bucket sizes
    * are equal only up to ties (the documented difference from exact
    * ntile). `approx = true` swaps the GK sketch in at extreme
    * scale, like [[quantiles]]/[[quantileGate]]. */
  def quantileBuckets(
      df: DataFrame,
      c: String,
      n: Int,
      approx: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(n >= 2, s"need at least 2 buckets, got $n")
    val probs = (1 until n).map(i => i.toDouble / n)
    val arr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    val agg =
      if (approx) expr(s"approx_percentile(`$c`, $arr, $accuracy)")
      else expr(s"percentile(`$c`, $arr)")
    val cuts = df.select(col(c)).agg(agg.as("qs"))
      .head().getSeq[Any](0).map(_.toString.toDouble)
    val bucket = cuts.foldLeft(lit(1L)) { (acc, t) =>
      acc + when(col(c).cast("double") > t, 1L).otherwise(0L)
    }
    df.withColumn("bucket", bucket)
  }

  /** Robust outlier detection on a numeric column: rows where
    * |x − median| > k · MAD (median absolute deviation) — the
    * standard profiling-driven anomaly flag that, unlike mean/stddev
    * z-scores, is not itself dragged by the outliers it hunts.
    * Returns the flagged rows with `value`, `med`, `mad` attached.
    *
    * Scale posture: two tiny exact-percentile aggregates (median,
    * then median of |x − med|) whose SINGLE-ROW results broadcast
    * back into one filtered corpus pass — three scans total, each
    * pruned to one column plus the output projection. The medians
    * use the same `percentile`/`quantile_cont` bit-parity as
    * [[quantiles]]; a constant column has MAD 0 and flags nothing
    * (no division anywhere). Exact percentile sorts per aggregate —
    * at 100 TB swap `approx = true` like [[quantileGate]]. */
  def madOutliers(
      df: DataFrame,
      c: String,
      k: Double = 3.0,
      approx: Boolean = false,
      accuracy: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def pct(in: DataFrame, e: String): Double = {
      val agg = if (approx) expr(s"approx_percentile($e, 0.5D, $accuracy)")
        else expr(s"percentile($e, 0.5D)")
      in.agg(agg.cast("double")).head().getDouble(0)
    }
    val med = pct(df.select(col(c).cast("double").as("__x")), "__x")
    val mad = pct(
      df.select(abs(col(c).cast("double") - med).as("__d")), "__d")
    df.withColumn("value", col(c).cast("double"))
      .filter(abs(col("value") - med) > k * mad)
      .withColumn("med", lit(med))
      .withColumn("mad", lit(mad))
  }

  /** One output row per profiled column, with stringified min/max so
    * heterogeneous column types stack into one frame. */
  def profile(df: DataFrame, columns: Seq[String], approxDistinct: Boolean = false): DataFrame =
    columns.map { c =>
      df.select(col(c)).agg(
        count(lit(1)).cast("bigint").as("n_rows"),
        (count(lit(1)) - count(col(c))).cast("bigint").as("n_nulls"),
        (if (approxDistinct) approx_count_distinct(col(c)) else countDistinct(col(c)))
          .cast("bigint").as("n_distinct"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_.unionByName(_))

  /** Pairwise Pearson correlation over fixed-precision numeric
    * columns — the multicollinearity / redundant-feature check of a
    * profiling pass. One row per unordered column pair:
    * (col_a, col_b, n_rows, corr).
    *
    * Exactness: each value quantizes to integer units
    * (`round(x·scale)` — half-away-from-zero in both engines) and
    * every moment (Σx, Σx², Σxy) accumulates EXACTLY via
    * [[graft.functions.ExactCentsSum]]'s two-long buffer — order
    * independent, so the result is bit-stable under any partitioning
    * and the DuckDB mirror (HUGEINT sums) reproduces it. The closed
    * form then runs in doubles from the exact integer sums in one
    * fixed op order; a zero-variance column yields NULL (no division
    * by zero). Quantization bound: |x·scale| must stay within ~2^31
    * so the per-row products fit a long (money-scale data at
    * scale=100 clears this by orders of magnitude; overflow of the
    * SUM itself cannot happen below ±2^125).
    *
    * Scale posture: ONE aggregate pass over the k chosen columns —
    * k + k·(k+1)/2 fixed-width long-pair accumulators with map-side
    * partial merge; shuffle volume is one buffer row per partition,
    * independent of corpus size. (Unlike [[profile]]'s per-column
    * jobs, a single pass is right here: no count(distinct) EXPAND is
    * involved and the moments all want the same scan.) */
  def correlation(df: DataFrame, columns: Seq[String], scale: Int = 100): DataFrame = {
    require(columns.size >= 2, "need at least two columns to correlate")
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftshim.ColumnBridge
    def exactSum(e: Column): Column = ColumnBridge.column(
      graft.functions.ExactCentsSum(ColumnBridge.expression(e.cast("bigint")))
        .toAggregateExpression())
    def q(c: String): Column = round(col(c) * scale).cast("bigint")
    val pairs = columns.combinations(2).map(p => (p(0), p(1))).toSeq
    val moments =
      columns.map(c => exactSum(q(c)).as(s"s_$c")) ++
        columns.map(c => exactSum(q(c) * q(c)).as(s"ss_$c")) ++
        pairs.map { case (a, b) => exactSum(q(a) * q(b)).as(s"sp_${a}_$b") }
    val aggd = df.agg(count(lit(1)).as("__n"), moments: _*)
    val n = col("__n").cast("double")
    def d(name: String) = col(name).cast("double")
    val out = array(pairs.map { case (a, b) =>
      val num = n * d(s"sp_${a}_$b") - d(s"s_$a") * d(s"s_$b")
      // variance terms guarded > 0 BEFORE sqrt: exact integer sums
      // make them nonnegative mathematically, but the double cast
      // can cancel a near-constant column to a tiny negative, and
      // engines disagree on sqrt(<0) (DuckDB errors)
      val va = n * d(s"ss_$a") - d(s"s_$a") * d(s"s_$a")
      val vb = n * d(s"ss_$b") - d(s"s_$b") * d(s"s_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").as("n_rows"),
        when(va > 0.0 && vb > 0.0, num / (sqrt(va) * sqrt(vb))).as("corr"))
    }: _*)
    aggd.select(explode(out).as("p")).select("p.*")
  }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * Spark's `hll_sketch_agg`) — the 100 TB form of the distinct
    * profile: one fixed-size (2^lgK registers) sketch per group,
    * buildable incrementally per ingest batch and UNIONABLE across
    * batches/partitions without rescanning history — the property
    * `approx_count_distinct` (estimate-only output) cannot give.
    * Output: (group, sketch BINARY, estimate). Persist the sketch
    * column; re-estimate after any [[mergeSketches]] union.
    *
    * No DuckDB oracle: the estimator is library-specific (its HLL
    * differs from DataSketches). The ScalaTest pins the estimate
    * against exact distinct counts and the union-vs-whole identity
    * band instead. */
  def distinctSketch(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK out of datasketches range: $lgK")
    df.groupBy(col(groupCol))
      .agg(expr(s"hll_sketch_agg($valueCol, $lgK)").as("sketch"))
      .withColumn("estimate", expr("hll_sketch_estimate(sketch)"))
  }

  /** Union previously-built HLL sketches (per group if `by` is given,
    * else one global row) — the cross-batch / cross-shard merge. */
  def mergeSketches(
      sketches: DataFrame,
      sketchCol: String = "sketch",
      by: Seq[String] = Nil): DataFrame = {
    val agg = expr(s"hll_union_agg($sketchCol)").as("sketch")
    val merged =
      if (by.isEmpty) sketches.agg(agg)
      else sketches.groupBy(by.map(col): _*).agg(agg)
    merged.withColumn("estimate", expr("hll_sketch_estimate(sketch)"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group — the
    * fully ORACLE-CHECKABLE sibling of [[distinctSketch]]: the sketch
    * is the k smallest DISTINCT values of a 64-bit hash column
    * (unsigned-ascending array<bigint>, [[graft.functions.KmvAgg]]),
    * and both the sketch content and the estimate replay bit-for-bit
    * in plain SQL (`list_sort(list_distinct(list(x)))[1:k]` over the
    * same hashes), which no HLL library can offer. Still mergeable:
    * union = re-insert one sketch into the other ([[kmvMerge]]).
    *
    * Estimate: with fewer than k distinct hashes the sketch holds ALL
    * of them — exact count. Otherwise the classic KMV estimator
    * `floor((k−1)·2^64 / kth_min)` (unsigned k-th smallest), computed
    * EXACTLY: the only non-integer step, the division, runs in
    * DECIMAL(38) with the remainder subtracted first, so the quotient
    * is an exact integer in both engines (DuckDB mirrors it as HUGEINT
    * floor-division). Standard error ≈ 1/√(k−2).
    *
    * `hash` must be a uniform 64-bit hash (e.g.
    * `mix64(text_fnv64(canonical_text))`); nulls are skipped.
    *
    * Output: (group, sketch array<bigint>, n_kept, kth nullable —
    * the signed bits of the unsigned k-th minimum, null while the
    * group is below k — and estimate).
    *
    * Scale posture: one hash aggregate with a fixed k-slot long-array
    * buffer per live group (ObjectHashAggregate — no sort fallback);
    * shuffle volume is ≤ k longs per group per partition. The
    * estimate math runs once per OUTPUT group row. */
  def kmvSketch(
      df: DataFrame,
      groupCol: String,
      hash: org.apache.spark.sql.Column,
      k: Int = 256): DataFrame =
    kmvSketchBy(df, Seq(groupCol), hash, k)

  /** [[kmvSketch]] over a composite group key (e.g. per source per
    * ingest batch — the shape whose per-batch sketches [[kmvMerge]]
    * later unions without rescanning history). */
  def kmvSketchBy(
      df: DataFrame,
      groupCols: Seq[String],
      hash: org.apache.spark.sql.Column,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    require(groupCols.nonEmpty, "kmvSketchBy needs at least one group column")
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.KmvAgg.kmvAgg(hash, k).as("sketch"))
      .select(groupCols.map(col) ++ kmvEstimateCols(k): _*)
  }

  /** Union previously-built KMV sketches (per group if `by` is given,
    * else one global row) — explode + re-aggregate with the same
    * bounded buffer, so the merged sketch is EXACTLY the sketch of
    * the concatenated inputs (KMV's closure property; the ScalaTest
    * pins merge ≡ whole-corpus build value-for-value, not just
    * estimate-for-estimate). */
  def kmvMerge(
      sketches: DataFrame,
      k: Int,
      sketchCol: String = "sketch",
      by: Seq[String] = Nil): DataFrame = {
    val exploded = sketches.select(
      by.map(col) :+ explode(col(sketchCol)).as("__h"): _*)
    val agg = graft.functions.KmvAgg.kmvAgg(col("__h"), k).as("sketch")
    val merged =
      if (by.isEmpty) exploded.agg(agg)
      else exploded.groupBy(by.map(col): _*).agg(agg)
    merged.select(by.map(col) ++ kmvEstimateCols(k): _*)
  }

  /** Pairwise set-overlap estimates between groups from ONE pass of
    * KMV sketches — the cross-source contamination / vocabulary-
    * overlap diagnostic (e.g. hash = 3-gram shingle hashes: "how much
    * of crawl A's phrasing reappears in crawl B"). For every
    * unordered group pair, the classic KMV Jaccard estimator: take
    * the k unsigned-smallest of A ∪ B (a uniform sample of the
    * union), count how many live in BOTH sketches, and report
    * `jaccard_permille = matches · 1000 / |union sample|` — all
    * integer math, so the DuckDB oracle replays it exactly. Output:
    * (g_a, g_b, n_union_kept, n_match, jaccard_permille), one row
    * per pair with g_a < g_b (string group keys).
    *
    * Scale posture: one corpus pass builds the |groups| sketches
    * (persisted — the pair stage reads them twice); the group DOMAIN
    * is bounded (sources, languages), so pair enumeration collects it
    * (the Profile.histogram bounded-collect pattern) and rejoins via
    * two BROADCAST equi-joins — never an inequality join, which
    * would plan the BroadcastNestedLoopJoin the catalog gate bans.
    * Per-pair math is array ops over two ≤k-element arrays. */
  def kmvOverlap(
      df: DataFrame,
      groupCol: String,
      hash: org.apache.spark.sql.Column,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val sk = Stage("kmv sketches", Stage.Persist(eager = true))(
      df.groupBy(col(groupCol).cast("string").as("__g"))
        .agg(graft.functions.KmvAgg.kmvAgg(hash, k).as("sketch")))
    val groups = sk.select("__g").collect().map(_.getString(0)).sorted
    val pairRows = for {
      i <- groups.indices; j <- (i + 1) until groups.length
    } yield org.apache.spark.sql.Row(groups(i), groups(j))
    val spark = df.sparkSession
    val pairs = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(pairRows: _*)),
      org.apache.spark.sql.types.StructType.fromDDL("g_a STRING, g_b STRING"))
    val joined = pairs
      .join(broadcast(sk.select(col("__g").as("g_a"), col("sketch").as("__sa"))), Seq("g_a"))
      .join(broadcast(sk.select(col("__g").as("g_b"), col("sketch").as("__sb"))), Seq("g_b"))
    // k smallest of A ∪ B in UNSIGNED order: flip the sign bit so the
    // signed array_sort sorts unsigned, flip back after the slice
    val flip = lit(Long.MinValue)
    val unionK = transform(
      slice(array_sort(transform(array_union(col("__sa"), col("__sb")),
        x => x.bitwiseXOR(flip))), 1, k),
      x => x.bitwiseXOR(flip))
    val inBoth = filter(unionK,
      x => array_contains(col("__sa"), x) && array_contains(col("__sb"), x))
    joined
      .withColumn("n_union_kept", size(unionK).cast("bigint"))
      .withColumn("n_match", size(inBoth).cast("bigint"))
      .withColumn("jaccard_permille",
        when(col("n_union_kept") > 0,
          // `div`, not `/`: long FLOOR division (Spark's `/` on longs
          // is double division — a float in an exact-integer contract)
          expr("n_match * 1000 div n_union_kept")).otherwise(0L)
          .cast("bigint"))
      .select("g_a", "g_b", "n_union_kept", "n_match", "jaccard_permille")
  }

  /** (sketch, n_kept, kth, estimate) projection over a `sketch`
    * column — the exact-integer KMV estimator shared by
    * [[kmvSketch]]/[[kmvMerge]]. */
  private def kmvEstimateCols(k: Int): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val nKept = size(col("sketch")).cast("bigint")
    val kth = when(nKept === k, element_at(col("sketch"), k))
    val m64 = lit("18446744073709551616").cast(dec) // 2^64
    // kth's signed long bits -> unsigned value, exactly, in DECIMAL
    val u = when(kth < 0, kth.cast(dec) + m64).otherwise(kth.cast(dec))
    val a = lit((BigInt(k - 1) << 64).toString).cast(dec) // (k-1)·2^64
    // (a - a%u)/u: the true quotient is an exact integer (<= 21
    // digits), so Spark's scale-6 decimal division rounds nothing
    val est = when(kth.isNull, nKept)
      .otherwise(((a - a % u) / u).cast("bigint"))
    Seq(col("sketch"), nKept.as("n_kept"), kth.as("kth"), est.as("estimate"))
  }

  /** Count-Min sketch cells per group — the mergeable FREQUENCY
    * sketch completing the sketch family (KMV/HLL answer "how many
    * distinct", CMS answers "how often is x" in fixed space): `depth`
    * independent hash rows of `width` counters; item x increments
    * cell `(i, mix64(x ^ salt_i) mod width)` in every row, and a
    * point estimate reads the MINIMUM of its `depth` cells — always
    * ≥ the true count (only collisions inflate), within
    * ε·N = (e/width)·N with probability 1 − (1/2)^depth.
    *
    * Unlike Misra–Gries/SpaceSaving (whose state depends on merge
    * ORDER), CMS cells are pure counter sums — associative,
    * commutative, bit-deterministic under any partitioning, and
    * therefore both hash-oracle-checkable and mergeable across
    * batches/shards by plain addition ([[cmsMerge]]).
    *
    * Representation: SPARSE rows (group, cms_depth, cms_cell, cnt) —
    * absent cell = 0. Bounded by depth·width rows per group
    * regardless of corpus size, so it IS the fixed-size sketch, in
    * relational form (and usually smaller: only touched cells
    * materialize).
    *
    * `hash` must be a uniform 64-bit hash of the item (e.g.
    * [[graft.functions.HashExpressions.tokenHashes]] exploded for
    * token frequencies); `width` a power of two (the cell index is a
    * low-bits mask, identical to unsigned mod — replayed as `% width`
    * on the unsigned value in DuckDB).
    *
    * Scale posture: one hash aggregate; map-side combine collapses
    * each partition to ≤ depth·width rows per live group before the
    * shuffle, so shuffle volume is sketch-sized, not corpus-sized.
    * The depth-fold explode is a projection (no join, no window). */
  def cmsCells(
      df: DataFrame,
      hash: org.apache.spark.sql.Column,
      depth: Int = 4,
      width: Int = 1024,
      seed: Long = 42L,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && depth <= 16, s"cms depth out of range: $depth")
    require(width >= 2 && (width & (width - 1)) == 0,
      s"cms width must be a power of two, got $width")
    val salts = graft.functions.Hashing.salts(depth, seed)
    val cells = array(salts.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("cms_depth"),
        graft.functions.HashExpressions.mix64(hash.bitwiseXOR(lit(s)))
          .bitwiseAND(lit(width - 1L)).as("cms_cell"))
    }: _*)
    df.select(groupCols.map(col) :+ explode(cells).as("__c"): _*)
      .groupBy(groupCols.map(col) :+ col("__c.cms_depth") :+ col("__c.cms_cell"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Union previously-built CMS cell tables (per group if `by` is
    * given) — counter addition per cell, so merge(A, B) is EXACTLY
    * the sketch of the concatenated inputs (the closure property the
    * merge query gates continuously, as [[kmvMerge]]). The daily-
    * batch shape: sketch each ingest batch, add cells, never rescan
    * history. */
  def cmsMerge(cells: DataFrame, by: Seq[String] = Nil): DataFrame =
    cells.groupBy(by.map(col) :+ col("cms_depth") :+ col("cms_cell"): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-estimate probe frequencies against a CMS cell table: each
    * probe re-derives its `depth` (row, cell) coordinates from
    * `hash`, left-joins the cells (absent ⇒ 0), and keeps the
    * minimum — the classic CMS read. Probe rows pass through with
    * `cms_est` appended. `keepCols` names the probe columns to carry
    * (they must functionally depend on the probe row).
    *
    * Scale posture: the cell table is ≤ depth·width rows — broadcast
    * it; the probe side stays partition-local (no shuffle of the
    * probe stream). */
  def cmsEstimate(
      cells: DataFrame,
      probes: DataFrame,
      hash: org.apache.spark.sql.Column,
      keepCols: Seq[String],
      depth: Int = 4,
      width: Int = 1024,
      seed: Long = 42L): DataFrame = {
    require(depth >= 1 && depth <= 16, s"cms depth out of range: $depth")
    require(width >= 2 && (width & (width - 1)) == 0,
      s"cms width must be a power of two, got $width")
    val salts = graft.functions.Hashing.salts(depth, seed)
    val coords = array(salts.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("cms_depth"),
        graft.functions.HashExpressions.mix64(hash.bitwiseXOR(lit(s)))
          .bitwiseAND(lit(width - 1L)).as("cms_cell"))
    }: _*)
    probes.select(keepCols.map(col) :+ explode(coords).as("__c"): _*)
      .select(keepCols.map(col) :+ col("__c.cms_depth") :+ col("__c.cms_cell"): _*)
      .join(broadcast(cells.select("cms_depth", "cms_cell", "cnt")),
        Seq("cms_depth", "cms_cell"), "left")
      .groupBy(keepCols.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** CMS-guided heavy hitters: every distinct item whose Count-Min
    * estimate is at least N/`phiInverse` of the N total occurrences —
    * the classic φ-heavy-hitter read. Because the estimate only ever
    * OVERCOUNTS, the result is a guaranteed SUPERSET of the true
    * heavy hitters (no false negatives); the ε·N overcount bound
    * caps the false-positive margin. Returns (item hash, cms_est).
    *
    * The threshold compare is integer-exact (`est · phiInverse ≥ N`,
    * no division), and N is read FROM THE SKETCH — every occurrence
    * increments exactly `depth` cells, so Σcnt/depth ≡ N — keeping
    * the whole read self-contained on sketch state, the shape an
    * incremental pipeline needs (merge daily cell tables, re-read
    * heavy hitters, never rescan history).
    *
    * Scale posture: the probe side is one distinct-aggregate over
    * 8-byte hashes; the total rides ON the broadcast cells as a
    * window over the sketch-sized frame (≤ depth·width rows — the
    * single-partition window is over the SKETCH, never the corpus),
    * so the read is one broadcast hash join end to end — no
    * literal-key join (which Catalyst folds to a nested-loop), no
    * second corpus scan. */
  def cmsHeavyHitters(
      df: DataFrame,
      hash: org.apache.spark.sql.Column,
      phiInverse: Int = 64,
      depth: Int = 4,
      width: Int = 1024,
      seed: Long = 42L): DataFrame = {
    require(phiInverse >= 2, s"phiInverse must be >= 2, got $phiInverse")
    require(depth >= 1 && depth <= 16, s"cms depth out of range: $depth")
    require(width >= 2 && (width & (width - 1)) == 0,
      s"cms width must be a power of two, got $width")
    val cells = cmsCells(df, hash, depth, width, seed)
      .withColumn("__n", (sum(col("cnt"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()) /
        lit(depth.toLong)).cast("bigint"))
    val probes = df.select(hash.as("item_hash")).distinct()
    val salts = graft.functions.Hashing.salts(depth, seed)
    val coords = array(salts.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("cms_depth"),
        graft.functions.HashExpressions.mix64(col("item_hash").bitwiseXOR(lit(s)))
          .bitwiseAND(lit(width - 1L)).as("cms_cell"))
    }: _*)
    probes.select(col("item_hash"), explode(coords).as("__c"))
      .select(col("item_hash"), col("__c.cms_depth"), col("__c.cms_cell"))
      .join(broadcast(cells.select("cms_depth", "cms_cell", "cnt", "__n")),
        Seq("cms_depth", "cms_cell"), "left")
      .groupBy(col("item_hash"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"),
        max(col("__n")).as("__n"))
      .filter(col("cms_est") * lit(phiInverse.toLong) >= col("__n"))
      .select("item_hash", "cms_est")
  }

  /** Count-anomaly detection over pre-bucketed observations: count
    * rows per (key, bucket), then flag the buckets whose count sits
    * more than `k` population standard deviations from the key's own
    * mean — the "did ingestion spike/drop this hour" monitor. One
    * row per flagged bucket: (key, bucket, n_events, mean, variance).
    *
    * Determinism: counts and their squares sum as exact longs; mean
    * and variance derive from those integers in one fixed double op
    * order, and the flag compares SQUARED deviation against
    * k²·variance (no sqrt — no domain edge, one comparison). Buckets
    * with no rows are absent by construction (this flags anomalies
    * among OBSERVED buckets; a missing-bucket gap check is a
    * different query — generate the calendar and left-join).
    *
    * Scale posture: two hash aggregates and one join, all keyed by
    * `key` after the first — the (key, bucket) count collapses the
    * corpus map-side, everything after works on bucket-cardinality
    * data. Count squares bound: per-bucket counts must stay under
    * ~3e9 for the long square (any real bucketing is far below). */
  def countAnomalies(
      df: DataFrame,
      keyCol: String,
      bucketCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = df.groupBy(col(keyCol).as("key"), col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val stats = counts.groupBy(col("key"))
      .agg(count(lit(1)).as("__nb"), sum(col("n_events")).as("__sc"),
        sum(col("n_events") * col("n_events")).as("__sc2"))
    val nD = col("__nb").cast("double")
    val scD = col("__sc").cast("double")
    val sc2D = col("__sc2").cast("double")
    val cD = col("n_events").cast("double")
    counts.join(stats, "key")
      .withColumn("mean", scD / nD)
      .withColumn("variance", (nD * sc2D - scD * scD) / (nD * nD))
      .filter((cD - col("mean")) * (cD - col("mean")) > lit(k * k) * col("variance"))
      .select(col("key"), col("bucket"), col("n_events"), col("mean"), col("variance"))
  }

  /** Seasonal-baseline spike detection over a DENSE per-key tick
    * series (gap-fill first — [[graft.operators.Resample.gapFillTicks]];
    * an absent bucket is evidence of low traffic and must weigh the
    * baseline down): each tick is compared against ITS OWN PHASE's
    * baseline (tick mod `period` — hour-of-day for hourly ticks and
    * period 24), so 3 a.m. traffic is judged against 3 a.m. history
    * rather than the all-day mean that [[countAnomalies]] uses — the
    * difference between "quiet hour" and "incident" for any diurnal
    * stream. All-integer: `excess_num = n·phase_n − phase_sum`
    * (= (n − phase_mean)·phase_n, sign-exact), and the spike flag
    * compares `1000·n·phase_n > thresholdPermille·phase_sum`
    * (threshold 2000 = "double its phase baseline") without ever
    * forming the rational mean.
    *
    * Scale posture: one key-partitioned window for the phase
    * aggregates ((key, phase) clustering is satisfied by hash(key) —
    * subset rule, no second exchange); corpus-sized work is the
    * dense grid scan only. */
  def seasonalAnomalies(
      df: DataFrame,
      keyCol: String,
      tickCol: String,
      valueCol: String,
      period: Int,
      thresholdPermille: Int): DataFrame = {
    require(period > 1, s"period must be > 1: $period")
    require(thresholdPermille > 1000,
      s"thresholdPermille must exceed 1000 (the baseline itself): $thresholdPermille")
    val byPhase = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol), col("phase"))
    val v = col(valueCol).cast("long")
    df.withColumn("phase", col(tickCol).cast("long") % period)
      .withColumn("phase_sum", sum(v).over(byPhase))
      .withColumn("phase_n", count(lit(1)).over(byPhase))
      .withColumn("excess_num", v * col("phase_n") - col("phase_sum"))
      .withColumn("spike",
        lit(1000L) * v * col("phase_n") >
          lit(thresholdPermille.toLong) * col("phase_sum"))
  }

  /** Rolling time-series aggregates per key: bucket the rows into
    * integer ticks, then a trailing RANGE window of `window` ticks
    * (current tick inclusive) over each key's series — moving sum /
    * max / average of per-tick event counts, the ingest-volume
    * trend line behind [[countAnomalies]]'s point alarms. A RANGE
    * (not ROWS) frame keys the window on tick VALUES, so gaps in the
    * series shrink the divisor instead of silently stretching the
    * window over absent buckets.
    *
    * Determinism: the frame content is a set — sums/counts of longs
    * are order-independent, and `roll_avg` is one integer-to-double
    * divide at the end.
    *
    * Scale posture: the corpus collapses to (key, tick) counts in one
    * map-side-partial hash aggregate; the window then sorts only
    * key-cardinality × tick-cardinality rows. Per-key partitions are
    * bounded by the tick range (hours of history), so the window
    * never sees corpus-sized partitions. */
  def rollingCounts(
      df: DataFrame,
      keyCol: String,
      tickCol: String,
      window: Int = 6): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val counts = df.groupBy(col(keyCol).as("key"), col(tickCol).cast("long").as("tick"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("tick"))
      .rangeBetween(-(window - 1).toLong, 0L)
    counts
      .withColumn("roll_sum", sum(col("n_events")).over(w))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_max", max(col("n_events")).over(w))
      .withColumn("roll_avg",
        col("roll_sum").cast("double") / col("roll_n").cast("double"))
  }

  /** Exact LOWER weighted median per group by rank selection — the
    * robust center [[quantiles]]' interpolated percentile is not:
    * rows sort (value, id) within their group, weights accumulate,
    * and the selected row is the unique one whose cumulative weight
    * first reaches half the group's total (2·cum ≥ total while
    * 2·(cum − w) < total — all-integer, so the oracle replays the
    * selection bit-for-bit; weights must be positive longs). With
    * unit weights this is the exact lower median; with token/byte
    * weights it answers "the document half the corpus MASS sits at
    * or below" — the budget-relevant center for size-skewed corpora.
    *
    * Scale posture: one group-keyed shuffle; the ordered cumulative
    * window and the group-total window share the same partitioning
    * (one sort, one WindowExec); the crossing-row filter keeps one
    * row per group. No global sort, no per-group collect. */
  def weightedMedian(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      idCol: String): DataFrame = {
    val ordered = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val w = col(weightCol).cast("long")
    df.withColumn("__cum", sum(w).over(ordered))
      .withColumn("__tot", sum(w).over(whole))
      .filter(lit(2L) * col("__cum") >= col("__tot") &&
        lit(2L) * (col("__cum") - w) < col("__tot"))
      .select(col(groupCol), col(valueCol).as("median_value"),
        col("__tot").as("total_weight"))
  }

  /** Gini concentration index per group over a non-negative numeric
    * column — "how unevenly is the mass distributed" (0 = every row
    * equal, →1 = one row holds everything): the corpus-concentration
    * stat that flags a source where one document carries most of the
    * characters, or a mixture where one domain dominates the token
    * budget. Computed by the rank formula G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx)
    * / (n·Σx) with i the ascending value rank — Σi·x is invariant
    * under tie order (equal x across any permutation of their ranks
    * sums identically), so no tie-break column is needed and the
    * integer numerator/denominator replay exactly; `gini` is the one
    * final divide, NULL when the group's mass is zero.
    *
    * Scale posture: one group-keyed shuffle; the rank window and the
    * moment aggregate share the partitioning (one sort pass); two
    * long moments per group. */
  def giniIndex(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val byVal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol).asc)
    val v = col(valueCol).cast("long")
    df.withColumn("__i", row_number().over(byVal))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(v).as("__s"),
        sum(col("__i") * v).as("__t"))
      .withColumn("gini_num",
        lit(2L) * col("__t") - (col("n") + 1L) * col("__s"))
      .withColumn("gini_den", col("n") * col("__s"))
      .withColumn("gini",
        when(col("gini_den") =!= 0L,
          col("gini_num").cast("double") / col("gini_den").cast("double")))
      .drop("__s", "__t")
  }

  /** Quantile mapping (histogram equalization) of every group's
    * values onto ONE reference group's distribution: a row at
    * ascending rank r of its nₐ-row group maps to the reference
    * value at rank ⌊(r−1)·(n_ref−1) / max(nₐ−1, 1)⌋ + 1 — the exact
    * rank-arithmetic analogue of interpolation-free quantile
    * matching, so "the 90th-percentile doc of src7" gets the value
    * the 90th-percentile doc of the reference has. The cross-source
    * score-calibration step a mixed corpus needs before one global
    * threshold can mean the same thing everywhere; all-integer rank
    * math, deterministic ties on `idCol`, single-row groups map to
    * the reference minimum (documented corner of the formula).
    *
    * Scale posture: one group-keyed rank window over the corpus; the
    * reference group's size arrives as one driver scalar (the
    * histogram scalar-collect pattern — never a 1-row cross join,
    * which would plan a nested-loop join); the reference side is ONE
    * group ranked the same way and joined by the computed rank —
    * group-sized, broadcast. No corpus self-join. The rank division
    * is integer `div` end to end. */
  def quantileMap(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      idCol: String,
      refGroup: String): DataFrame = {
    val byVal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol).asc, col(idCol).asc)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val ranked = df
      .withColumn("__r", row_number().over(byVal).cast("long"))
      .withColumn("__n", count(lit(1)).over(whole))
    val ref = ranked.filter(col(groupCol) === lit(refGroup))
      .select(col("__r").as("__ref_r"), col(valueCol).as("mapped_value"))
    // driver scalar: one group's row count, taken from the RAW frame
    // so the eager action scans only the filtered group (predicate
    // pushed to the source) rather than executing the corpus-wide
    // rank window a second time
    val refN = df.filter(col(groupCol) === lit(refGroup)).count()
    require(refN > 0, s"reference group '$refGroup' is empty")
    ranked
      .withColumn("__target",
        expr(s"(__r - 1) * ${refN - 1} div greatest(__n - 1, 1)") + lit(1L))
      .join(broadcast(ref), col("__target") === col("__ref_r"))
      .select(col(groupCol), col(idCol), col(valueCol), col("mapped_value"))
  }

  /** Deterministic mode per group: the most frequent `valueCol`,
    * smallest value winning ties — one (group, value) count plus a
    * per-group top-1 window over the counts (group-cardinality-sized
    * input, never the corpus). */
  def modeBy(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("n_mode"))
    val top = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("n_mode").desc, col(valueCol).asc)
    counts.withColumn("__rn", row_number().over(top))
      .filter(col("__rn") === 1)
      .select(col(groupCol), col(valueCol).as("mode_value"), col("n_mode"))
  }

  /** Per-group ordinary-least-squares trend line in EXACT integer
    * moments: for each key, fit y = slope·x' + level0 over the
    * key's points, where x' = x − min(x) within the key (slope is
    * shift-invariant, and rebasing keeps every moment small — with
    * raw epoch ticks the (Σx)² term would overflow a long long
    * before the data got big). Closed form on integer sums:
    * slope = (n·Σx'y − Σx'·Σy) / (n·Σx'² − (Σx')²) and
    * level0 = (Σy·Σx'² − Σx'·Σx'y) / same_den — numerators and
    * denominators are exact longs (emitted, so the oracle replays
    * them bit-for-bit); `slope`/`level0` are one IEEE divide each.
    * level0 is the fitted value AT THE KEY'S FIRST x — the natural
    * anchor once x is rebased. Degenerate keys (one point, or all x
    * equal) have den 0 → NULL slope/level0, n still reported.
    *
    * Overflow bound: with R points per key spanning X rebased ticks
    * and |y| ≤ Y, the worst term is n·Σx'y ≈ R²·X·Y — at a billion
    * points per key over a year of hourly ticks it still clears by
    * orders; the moments, not the data, bound the arithmetic.
    *
    * Scale posture: one key-partitioned window (min, no ordering) +
    * one hash aggregate on the same key — Catalyst reuses the
    * window's hash partitioning for the aggregate, so the key is
    * shuffled once; five long moments per group, map-side partials.
    * No per-key collect, no matrix anything. */
  def linearTrend(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val rebased = df
      .withColumn("__x", col(xCol).cast("long") -
        min(col(xCol).cast("long")).over(byKey))
      .withColumn("__y", col(yCol).cast("long"))
    rebased.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__x") * col("__y")).as("__sxy"))
      .withColumn("slope_num",
        col("n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("slope_den",
        col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope",
        when(col("slope_den") =!= 0L,
          col("slope_num").cast("double") / col("slope_den").cast("double")))
      .withColumn("level0",
        when(col("slope_den") =!= 0L,
          (col("__sy") * col("__sxx") - col("__sx") * col("__sxy")).cast("double") /
            col("slope_den").cast("double")))
      .drop("__sx", "__sy", "__sxx", "__sxy")
  }

  /** Population-stability-index drift between two snapshots of a
    * numeric column — the monitoring gate that catches a shifted
    * ingest distribution before it poisons a training mix. Values
    * bucket into fixed-width bins (`floor(v / binWidth)` — exact in
    * both engines); each bin present in BOTH snapshots contributes
    * `(p_a − p_b)·ln(p_a / p_b)`, floored to 2^scaleBits fixed point
    * (`term_q`) so the per-bin terms — and any downstream integer
    * sum into a total PSI — replay bit-for-bit in the DuckDB oracle
    * (the ln-flooring discipline). Bins present on only one side are
    * dropped (the PSI term is undefined at zero mass — the standard
    * epsilon dodge traded for an exact, reproducible statistic);
    * totals still count every row, so the emitted probabilities are
    * true marginals. PSI > 0.2 is the conventional "investigate"
    * line.
    *
    * Scale posture: each snapshot collapses to bin-cardinality rows
    * in one map-side-partial hash aggregate; totals are two driver
    * scalars; the bin join is bin × bin. Corpus-sized work is the
    * two scans, nothing else. */
  def psiDrift(
      dfA: DataFrame,
      dfB: DataFrame,
      valueCol: String,
      binWidth: Double,
      scaleBits: Int = 20): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    val scale = (1L << scaleBits).toDouble
    def binned(df: DataFrame, cName: String) =
      df.select(floor(col(valueCol) / lit(binWidth)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(cName))
    val a = Stage("psi bins a", Stage.Persist(eager = true))(binned(dfA, "c_a"))
    val b = Stage("psi bins b", Stage.Persist(eager = true))(binned(dfB, "c_b"))
    val na = a.agg(sum(col("c_a"))).head().getLong(0)
    val nb = b.agg(sum(col("c_b"))).head().getLong(0)
    require(na > 0 && nb > 0, "psiDrift needs non-empty snapshots on both sides")
    val pa = col("c_a").cast("double") / lit(na.toDouble)
    val pb = col("c_b").cast("double") / lit(nb.toDouble)
    a.join(b, "bin")
      .select(col("bin"), col("c_a"), col("c_b"),
        pa.as("p_a"), pb.as("p_b"),
        floor((pa - pb) * log(pa / pb) * lit(scale)).cast("long").as("term_q"))
      .withColumn("term", col("term_q").cast("double") / lit(scale))
  }

  /** Per-group percentile calibration: each row's `percent_rank` of
    * `valueCol` WITHIN its group — the score normalization step
    * before a global quality threshold (a raw score of 0.6 means
    * different things from different sources; its within-source
    * percentile does not). `(rank - 1) / (n - 1)` with SQL rank
    * semantics (ties share a rank), one exact integer division per
    * row — engine-identical, so the oracle replays it bit-for-bit.
    * Singleton groups calibrate to 0.0 (percent_rank's convention).
    *
    * Scale posture: one hash shuffle on the group key + a per-group
    * sort window — the partition-by keeps it off the global-sort
    * path; group cardinality (sources, languages) bounds nothing,
    * row counts per group bound task memory like any window. */
  def percentileRank(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      outputCol: String = "pct"): DataFrame = {
    require(!df.columns.contains(outputCol),
      s"percentileRank output column '$outputCol' already exists on the " +
        "input — pass a different outputCol instead of silently overwriting")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(valueCol))
    df.withColumn(outputCol, percent_rank().over(w))
  }

  /** Re-identification risk report over quasi-identifier columns —
    * the governance pass a training corpus with people in it owes its
    * subjects: k-anonymity (every QI combination shared by ≥ k rows)
    * and l-diversity (every QI group spans ≥ l distinct values of the
    * sensitive attribute — k-anonymity alone is defeated when a
    * small group is homogeneous in the thing you wanted hidden). One
    * row per occupied QI cell with its size, its sensitive-value
    * diversity, and both flags; `filter(!$"k_anonymous" || !$"l_diverse")`
    * is the suppression worklist.
    *
    * Exact counts, not estimates — a privacy gate built on a sketch
    * under-counts exactly the rare cells that matter most.
    *
    * Scale posture: one hash shuffle on the QI key (partial
    * aggregation upstream) + a count-distinct Expand for the
    * diversity term — the same cost envelope as any two-measure
    * groupBy; QI-cell cardinality is the output size, bounded by the
    * corpus, and no cell's row SET is ever materialized. */
  def privacyRisk(
      df: DataFrame,
      qiCols: Seq[String],
      sensitiveCol: String,
      k: Int,
      l: Int): DataFrame = {
    require(qiCols.nonEmpty, "privacyRisk needs at least one quasi-identifier")
    require(k >= 1 && l >= 1, s"k and l must be >= 1: k=$k l=$l")
    df.groupBy(qiCols.map(col): _*)
      .agg(
        count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("distinct_sensitive"))
      .withColumn("k_anonymous", col("group_size") >= k)
      .withColumn("l_diverse", col("distinct_sensitive") >= l)
  }

  /** Per-source corpus manifest — the "dataset card" rollup a data
    * team publishes (and a mixture planner consumes) for every corpus
    * snapshot: document and token mass, exact-duplicate rate (via the
    * canonical [[graft.functions.TextFunctions.fingerprint]]),
    * mean heuristic quality, and the dominant predicted language with
    * its share. One row per source:
    * `(source, n_docs, total_tokens, n_unique, dup_permille,
    * mean_quality, top_lang, top_lang_permille)`.
    *
    * Determinism: the quality mean sums per-doc scores in
    * DECIMAL(18,9) (exact, order-free) and divides as DOUBLE once —
    * the house float-aggregate discipline; the language mode breaks
    * ties by language code ascending. Rates are integer permille.
    *
    * Scale posture: one per-row projection computes all four
    * signals in a single scan, then two source-keyed aggregates (the
    * manifest fold and the (source, lang) mode count — partial
    * aggregation upstream of both) and one source-keyed broadcast-size
    * join; the COUNT(DISTINCT fp) shuffles 16-byte digests, the same
    * envelope as exact dedup itself. Output is source-cardinality.
    * At 100 TB swap the exact distinct for [[kmvSketchBy]] if the
    * digest shuffle dominates — the column contract is unchanged. */
  def corpusManifest(
      df: DataFrame,
      sourceCol: String,
      textCol: String): DataFrame = {
    val base = df.select(
      col(sourceCol).as("source"),
      TextFunctions.tokenCount(col(textCol)).as("__tok"),
      TextFunctions.fingerprint(col(textCol)).as("__fp"),
      TextFunctions.qualityScore(col(textCol)).cast("decimal(18,9)").as("__q"),
      TextFunctions.langId(col(textCol)).as("__lang"))
    val agg = base.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("total_tokens"),
        countDistinct(col("__fp")).as("n_unique"),
        (sum(col("__q")).cast("double") / count(lit(1))).as("mean_quality"))
      .withColumn("dup_permille",
        expr("(n_docs - n_unique) * 1000 div n_docs"))
    val mode = base.groupBy("source", "__lang").agg(count(lit(1)).as("__ln"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("__ln").desc, col("__lang").asc)))
      .filter(col("__rn") === 1)
      .select(col("source"), col("__lang").as("top_lang"), col("__ln"))
    agg.join(mode, "source")
      .withColumn("top_lang_permille", expr("__ln * 1000 div n_docs"))
      .drop("__ln")
  }

  /** Mergeable per-source manifest STATE — the incremental twin of
    * [[corpusManifest]] (the O(new-batch) posture every operator
    * family here keeps): one row per source holding counters that
    * merge by ADDITION (`n_docs`, `total_tokens`, the DECIMAL quality
    * sum) and the bounded KMV sketch of canonical document hashes
    * (which merges by union — KMV's closure property). Build a state
    * per ingest batch, store it, and [[manifestMerge]] folds any set
    * of states into the manifest of the concatenated corpus WITHOUT
    * rescanning old batches — bit-identical to a from-scratch build
    * (the closure is exact, not approximate: merged sketch ≡ whole-
    * corpus sketch, element for element).
    *
    * Scale posture: one scan + one source-keyed aggregate per batch;
    * the state row is O(k) bytes. */
  def manifestStates(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      k: Int = 16): DataFrame = {
    val canonical = trim(regexp_replace(lower(col(textCol)),
      TextFunctions.wsClass + "+", " "))
    val h = graft.functions.HashExpressions.mix64(
      graft.functions.HashExpressions.textFnv64(canonical))
    df.select(col(sourceCol).as("source"),
        TextFunctions.tokenCount(col(textCol)).as("__tok"),
        TextFunctions.qualityScore(col(textCol)).cast("decimal(18,9)").as("__q"),
        h.as("__h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("total_tokens"),
        sum(col("__q")).as("q_sum"),
        graft.functions.KmvAgg.kmvAgg(col("__h"), k).as("sketch"))
  }

  /** Fold [[manifestStates]] rows (any number of batches) into the
    * final per-source manifest: counters sum, sketches union through
    * the same bounded KMV buffer, and the published columns are
    * `(source, n_docs, total_tokens, uniq_est, dup_est_permille,
    * mean_quality)` — `uniq_est` the KMV distinct estimate (the
    * estimate can exceed `n_docs`, so the dup rate clamps at 0) and
    * `mean_quality` the DECIMAL-sum / count division done ONCE at
    * publish time, so merge order can never move the float. */
  def manifestMerge(states: DataFrame, k: Int = 16): DataFrame = {
    val counters = states.groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"),
        sum(col("q_sum")).as("q_sum"))
    val sketches = kmvMerge(states, k, "sketch", by = Seq("source"))
      .select(col("source"), col("estimate").as("uniq_est"))
    counters.join(sketches, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("uniq_est"),
        expr("greatest(n_docs - uniq_est, 0) * 1000 div n_docs")
          .as("dup_est_permille"),
        (col("q_sum").cast("double") / col("n_docs")).as("mean_quality"))
  }

  // ------------------------------------------------- sketch rebuild
  //
  // The counter half of corpus-wide right-to-be-forgotten: the
  // standing INDEXES (ANN, minhash bands, line provenance) take
  // tombstones ([[graft.sources.Segments]]), but the SKETCHES cannot
  // subtract — a KMV buffer cannot prove a removed hash wasn't also
  // contributed by a retained row it evicted, a CMS cell is a sum of
  // collided contributions, and a manifest state embeds a KMV sketch.
  // Forgetting is therefore rebuild-from-retained ([[kmvRebuild]] /
  // [[cmsRebuild]] / [[manifestStatesRebuild]]): one scan over the
  // corpus minus the tombstoned ids, the same cost as the original
  // build, bit-identical to a never-ingested build (the closure the
  // forget oracle gates). `retainExcept` is that path's one shared
  // step.

  /** The corpus minus the forgotten ids — the input every
    * rebuild-from-retained call takes. `ids` must carry `idCol`. */
  def retainExcept(df: DataFrame, idCol: String, ids: DataFrame): DataFrame =
    df.join(ids.select(col(idCol)), Seq(idCol), "left_anti")

  /** Rebuild-from-retained for [[kmvSketch]]: the sketch of the
    * corpus minus `ids` — bit-identical to a build over a corpus that
    * never held them (KMV is a pure fold over the retained rows). */
  def kmvRebuild(
      df: DataFrame,
      idCol: String,
      ids: DataFrame,
      groupCol: String,
      hash: org.apache.spark.sql.Column,
      k: Int = 256): DataFrame =
    kmvSketch(retainExcept(df, idCol, ids), groupCol, hash, k)

  /** Rebuild-from-retained for [[cmsCells]]. */
  def cmsRebuild(
      df: DataFrame,
      idCol: String,
      ids: DataFrame,
      hash: org.apache.spark.sql.Column,
      depth: Int = 4,
      width: Int = 1024,
      seed: Long = 42L,
      groupCols: Seq[String] = Nil): DataFrame =
    cmsCells(retainExcept(df, idCol, ids), hash, depth, width, seed, groupCols)

  /** Rebuild-from-retained for [[manifestStates]] — the manifest leg
    * of the forget oracle: states over the retained corpus merge
    * ([[manifestMerge]]) to exactly the manifest of a never-ingested
    * corpus. */
  def manifestStatesRebuild(
      df: DataFrame,
      idCol: String,
      ids: DataFrame,
      sourceCol: String,
      textCol: String,
      k: Int = 16): DataFrame =
    manifestStates(retainExcept(df, idCol, ids), sourceCol, textCol, k)

  /** Token-distribution drift between two corpus snapshots — the
    * vocabulary-shift check a corpus refresh runs before swapping
    * snapshots (the numeric-column twin is [[psiDrift]]): every token
    * occurrence hashes into one of `dims` buckets (salted SplitMix64
    * over the shared token hashes — the hashing-trick projection of
    * the unigram distribution), and each bucket contributes its
    * Jensen–Shannon term `½(p·ln(p/m) + q·ln(q/m))`, `m = (p+q)/2`,
    * quantized to `⌊term·scale⌋` so the cross-bucket total is an
    * ORDER-FREE integer sum (the [[Sampling.dsirWeights]] float
    * discipline: both engines build identical doubles from identical
    * BIGINTs, quantize, then sum exactly). One row per occupied
    * bucket: `(b, count_a, count_b, js_q, js_total_q)`;
    * `js_total_q / scale` is the JS divergence estimate in nats
    * (0 = identical, ln 2 ≈ 0.693e9/scale = maximal). An EMPTY input
    * poisons `js_q`/`js_total_q` to NULL — never to 0, which would
    * read as "no drift" for exactly the maximal-drift case.
    *
    * Scale posture: two token-keyed hash aggregates fold each corpus
    * to ≤ dims rows (map-side combined — the shuffle carries bucket
    * counters, never tokens), then a full outer join and window sums
    * over the dims-sized frame. Corpus size only affects the scans. */
  def tokenDrift(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      dims: Int = 256,
      seed: Long = 13L,
      scale: Long = 1000000000L): DataFrame = {
    require(dims > 0 && (dims & (dims - 1)) == 0,
      s"dims must be a power of two, got $dims")
    val salt = graft.functions.Hashing.salts(1, seed).head
    def counts(df: DataFrame, name: String) =
      df.select(explode(
          graft.functions.HashExpressions.tokenHashes(col(textCol))).as("__h"))
        .select(graft.functions.HashExpressions
          .mix64(col("__h").bitwiseXOR(lit(salt)))
          .bitwiseAND(lit(dims - 1L)).as("b"))
        .groupBy("b").agg(count(lit(1)).as(name))
    val joined = counts(a, "count_a")
      .join(counts(b, "count_b"), Seq("b"), "full")
      .na.fill(0L, Seq("count_a", "count_b"))
    val w = Window.partitionBy()
    val withN = joined
      .withColumn("__na", sum(col("count_a")).over(w))
      .withColumn("__nb", sum(col("count_b")).over(w))
    val p = col("count_a").cast("double") / col("__na").cast("double")
    val q = col("count_b").cast("double") / col("__nb").cast("double")
    val m = (p + q) / lit(2.0)
    val contrib = lit(0.5) * (
      when(col("count_a") > 0, p * log(p / m)).otherwise(lit(0.0)) +
        when(col("count_b") > 0, q * log(q / m)).otherwise(lit(0.0)))
    withN
      // an EMPTY side would make every term NaN, and NaN must never
      // quantize into a 0 ("no drift") verdict — poison to NULL so a
      // gate reading js_total_q fails loudly instead of passing
      .withColumn("js_q",
        when(col("__na") === 0 || col("__nb") === 0, lit(null))
          .otherwise(floor(contrib * lit(scale.toDouble)).cast("long")))
      .withColumn("js_total_q", sum(col("js_q")).over(w))
      .select("b", "count_a", "count_b", "js_q", "js_total_q")
  }
}
