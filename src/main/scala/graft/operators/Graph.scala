package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality — the corpus-quality weighting signal web
  * pipelines derive from the host/page graph (RefinedWeb, CCNet-style
  * crawls rank hosts before sampling; the reference engine has no
  * graph surface, so this is pure north-star extension).
  *
  * The whole computation runs in FIXED-POINT INTEGER arithmetic
  * (ranks are longs scaled by 2^scaleBits): every operation is an
  * integer multiply / floor-divide / sum, so results are bit-exact
  * regardless of partitioning, aggregation order, or engine — the
  * DuckDB oracle replays the identical recurrence with zero float
  * tolerance. Precision at the default 2^34 scale is ~6e-11 per rank,
  * far below anything a downstream sampling rate can see.
  *
  * Scale posture (100 TB graph): classic Pregel shape. The edge set
  * (src, dst, w, wout) is materialized ONCE, pre-partitioned by
  * `src` — each of the `iterations` passes joins the (node, rq) rank
  * frame to it (shuffling ONLY the rank side, one integer pair per
  * node) and aggregates contributions by `dst` (map-side partial
  * sums of longs). Per-pass shuffle volume is O(|nodes| + |edges'
  * partial sums|), independent of anything text-sized. The dangling
  * mass is one scalar aggregate per pass (driver-held, like the
  * convergence probe in [[Dedup.connectedComponents]] — never a
  * cartesian broadcast).
  *
  * Overflow bound: contributions compute `(rq * w) / wout` with
  * `rq <= 2^scaleBits` and `w <= wout`, so the product is bounded by
  * 2^scaleBits * max(wout); at the default 34 bits any weighted
  * out-degree below ~5.4e8 is safe. For heavier graphs lower
  * `scaleBits` (the bound check throws rather than wrapping).
  */
object Graph {

  /** Weighted PageRank over an edge list; returns one row per node:
    * (node, rank_q, rank) where `rank_q` is the fixed-point long and
    * `rank = rank_q / 2^scaleBits` its double view (exact conversion
    * + one exactly-rounded divide — still deterministic).
    *
    * Recurrence (all integer, Q = 2^scaleBits, damping = num/den):
    * {{{
    *   teleport = ((den - num) * Q) / (den * N)
    *   contrib(u->v) = (rq(u) * w(u,v)) / wout(u)
    *   rq'(v) = teleport + num * (sum_u contrib + dangling/N) / den
    * }}}
    * where `dangling` is the summed rank of nodes without out-edges.
    * Self-loops and multi-edges are honored as given (pre-aggregate
    * weights upstream if needed); nodes = distinct(src) ∪ distinct(dst).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: Option[String] = None,
      iterations: Int = 8,
      dampNum: Long = 85,
      dampDen: Long = 100,
      scaleBits: Int = 34,
      seeds: Seq[Long] = Nil): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen, "damping must be in [0, 1]")
    require(scaleBits >= 10 && scaleBits <= 40, "scaleBits out of range")
    val q = 1L << scaleBits

    // One-time edge normalization: per-edge weight + the source's
    // weighted out-degree, pre-partitioned by the per-pass join key.
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val rawEdges = edges.select(
      col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      w.as("w"))
    val e = Stage("pagerank edges", Stage.Persist(eager = true))(rawEdges
      .withColumn("wout", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .repartition(col("src")))

    val maxWout = e.agg(max(col("wout"))).head().getLong(0)
    require(maxWout.toDouble * q < Long.MaxValue.toDouble * 0.99,
      s"wout=$maxWout overflows at scaleBits=$scaleBits — lower scaleBits")

    val nodes = Stage("pagerank nodes", Stage.Persist(eager = true))(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "empty graph")
    // Personalized (topic-sensitive) PageRank: a non-empty seed set
    // receives ALL teleport and dangling mass ((1-d)/|S| to each
    // seed, 0 elsewhere) — ranks then measure proximity to the
    // seeds. Empty seeds = classic uniform teleport. The seed list
    // is a driver-side literal by design (seed sets are query-sized);
    // both the engine and the oracle inline the same IN-list.
    val nTeleport = if (seeds.isEmpty) n else seeds.size.toLong
    val teleport = ((dampDen - dampNum) * q) / (dampDen * nTeleport)
    val isSeed: org.apache.spark.sql.Column =
      if (seeds.isEmpty) lit(true) else col("node").isin(seeds: _*)

    // Sources with out-edges, for the dangling-mass probe. When every
    // node has an out-edge (the common strongly-out-connected case),
    // the dangling mass is identically zero — skip the per-iteration
    // scalar aggregate (one saved job per pass).
    val srcSet = Stage("pagerank sources", Stage.Persist(eager = true))(
      e.select(col("src").as("node")).distinct())
    val nDangling = n - srcSet.count()

    var ranks = Stage("pagerank ranks", Stage.Persist())(nodes.withColumn("rq", lit(q / n)))
    try {
      for (_ <- 1 to iterations) {
        val dangling =
          if (nDangling == 0) 0L
          else ranks.join(srcSet, Seq("node"), "left_anti")
            .agg(coalesce(sum(col("rq")), lit(0L))).head().getLong(0)
        val perNodeDangling = dangling / nTeleport
        // `div` (not `/`): Spark's `/` on longs is double division;
        // integral truncating div == DuckDB's `//` for nonnegative
        // operands, which every value here is.
        val contribs = e
          .join(ranks.select(col("node").as("src"), col("rq")), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("(rq * w) div wout")).as("s"))
        // ALWAYS eager: a lazy chain was A/B'd and lost — it defers
        // every pass into the caller's first action, where the edge
        // persist is already released (measured 42 s at sf1 before
        // the materialize-before-release guard) and measures no
        // better than eager even after the guard (3.59 vs 3.32 s at
        // sf0.1 quiet; 7.4 vs 6.2 at sf1).
        val next = Stage("pagerank ranks", Stage.Persist(eager = true))(nodes
          .join(contribs, Seq("node"), "left")
          .withColumn("__tp", when(isSeed, lit(teleport)).otherwise(lit(0L)))
          .withColumn("__dg", when(isSeed, lit(perNodeDangling)).otherwise(lit(0L)))
          .select(col("node"),
            expr(s"__tp + ($dampNum * (coalesce(s, 0) + __dg)) div $dampDen")
              .as("rq")))
        Stage.free(ranks)
        ranks = next
      }
      ranks.select(col("node"), col("rq").as("rank_q"),
        (col("rq").cast("double") / lit(q.toDouble)).as("rank"))
    } finally {
      Stage.free(e); Stage.free(nodes); Stage.free(srcSet)
    }
  }

  /** Per-node triangle participation counts over the UNDIRECTED
    * simple graph induced by the edge list (direction and weights
    * dropped, self-loops excluded) — the local clustering signal
    * (spam rings and link farms triangle-bomb; organic link
    * neighborhoods don't). One row per node appearing in >= 1
    * triangle: (node, n_triangles).
    *
    * The classic two-equi-join enumeration with the a < b < c
    * canonical ordering, so each triangle counts exactly once. Scale
    * posture: joins key on single node ids (never a cross product —
    * the ordering predicates are post-join filters on equi-joined
    * rows); fan-out is Σ deg² on the middle vertex, the standard
    * bound — pre-cap hub degrees upstream for adversarial graphs. */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .distinct()
    val tri = und.as("e1")
      .join(und.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .join(und.select(col("a"), col("b").as("c")).as("e3"), Seq("a", "c"))
      .select("a", "b", "c")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node degree profile of a directed edge list: out/in degree,
    * out/in weight mass, and the reciprocal-partner count (DISTINCT
    * neighbors b != a with BOTH directions present — the mutuality
    * signal that separates a broadcast hub from a trading partner;
    * self-loops never count as reciprocal, and multi-edges are
    * deduped inside the reciprocity join so they can't multiply it —
    * degree/weight columns DO count every edge row). All-integer;
    * nodes appearing on only one side still report, zeros filled.
    *
    * Scale posture: two node-keyed aggregates plus one edge-vs-
    * reversed-edge EQUI join on (src, dst) for reciprocity — the
    * naive mutual test is a per-node set intersection; the reversed
    * self-join keeps it on the hash path at edge cardinality. */
  def degreeStats(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val out = edges.groupBy(col(srcCol).cast("long").as("node"))
      .agg(count(lit(1)).as("out_degree"), sum(w).as("out_weight"))
    val in = edges.groupBy(col(dstCol).cast("long").as("node"))
      .agg(count(lit(1)).as("in_degree"), sum(w).as("in_weight"))
    // n_reciprocal = distinct neighbors b != a with BOTH (a,b) and
    // (b,a) present: self-loops are excluded (an (x,x) edge would
    // equi-join its own reversal), and the distinct on each side
    // keeps multi-edges from multiplying the count — both aggregates
    // land on the same (a,b) hash partitioning the join needs.
    val recip = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .join(edges.select(col(dstCol).cast("long").as("a"),
        col(srcCol).cast("long").as("b"))
        .filter(col("a") =!= col("b")).distinct(), Seq("a", "b"))
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("n_reciprocal"))
    out.join(in, Seq("node"), "full")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
  }
}
