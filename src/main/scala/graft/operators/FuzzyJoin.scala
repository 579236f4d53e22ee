package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join over short strings — the "fuzzy
  * refer" of entity resolution: find every pair of values whose
  * character-n-gram Jaccard similarity clears a threshold, WITHOUT
  * comparing all pairs.
  *
  * Unlike the MinHash/SimHash paths in [[Dedup]] (probabilistic
  * candidate generation for LONG documents), this is the exact
  * prefix-filtering algorithm for short strings (names, titles,
  * addresses): order each record's gram set by global rarity, emit
  * only the first `|x| - ⌈t·|x|⌉ + 1` grams as join keys — any pair
  * with Jaccard ≥ t provably shares at least one such prefix gram —
  * then verify candidates exactly with their full gram sets in-row.
  * The result is therefore EXACTLY the pairs a quadratic scan would
  * produce (the DuckDB oracle for `q_fuzzy_join` runs the quadratic
  * scan and must hash-match, which continuously checks the filter's
  * losslessness).
  *
  * Scale shape: one groupBy for gram frequencies, one per-id window
  * for the rarity ranks, one equi self-join on PREFIX grams only
  * (rare by construction — the frequent grams that would explode a
  * naive token join are exactly the ones the prefix order pushes
  * last), and one broadcast-able join back to the gram arrays for
  * verification. Work is proportional to candidate pairs, not value
  * pairs. Run it on the DISTINCT value domain (entity resolution
  * resolves values, not rows), which is typically orders of magnitude
  * smaller than the corpus.
  *
  * Reference analogue: the refer surface of src/DBT.php:277-343 joins
  * on exact (optionally rtrim'd/formatted) keys; this extends the
  * same lookup idea to approximate keys.
  */
object FuzzyJoin {

  /** Normalized character n-gram SET of a string column: lowercase,
    * runs of non-alphanumerics collapsed to one space, trimmed, then
    * every n-char sliding window, distinct. Strings shorter than n
    * normalize to the empty set (they cannot clear any positive
    * threshold). All codegen'd builtins — no UDF. */
  def charGrams(c: Column, n: Int): Column = {
    val norm = trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))
    when(length(norm) >= n,
      array_distinct(transform(
        sequence(lit(1), length(norm) - (n - 1)),
        i => norm.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** All pairs (id_a < id_b) whose char-n-gram Jaccard ≥ `threshold`,
    * with the exact similarity. Both FP-sensitive prunes are rounded
    * toward ADMITTING candidates (`floor`, not `ceil`), so a boundary
    * pair can never be lost to double rounding — the exact in-row
    * verification then decides it, identically to the oracle's
    * quadratic scan. Thresholds that are exact binary fractions
    * (0.25, 0.5) additionally make the final ≥ compare bit-identical
    * across engines. */
  def similarPairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      threshold: Double,
      n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val base = df
      .select(col(idCol).as("id"), charGrams(col(strCol), n).as("grams"))
      .filter(size(col("grams")) > 0)
    val tokens = base.select(
      col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
    val freq = tokens.groupBy("gram").agg(count(lit(1)).as("gram_df"))
    // rare-first total order (ties broken by the gram itself); the
    // per-id window partitions on id, so no global sort appears
    val ranked = tokens.join(freq, "gram")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("id").orderBy(col("gram_df"), col("gram"))))
    val prefix = ranked
      .filter(col("rnk") <= col("sz") - floor(lit(threshold) * col("sz")) + 1)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id") &&
        // length filter: jaccard ≥ t forces min size ≥ t·max size
        least(col("a.sz"), col("b.sz")) >=
          floor(lit(threshold) * greatest(col("a.sz"), col("b.sz"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("grams").as("ga")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("grams").as("gb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-frame variant of [[similarPairs]] — the fuzzy LOOKUP
    * shape: every (left, right) pair with char-n-gram Jaccard ≥
    * `threshold`. Same lossless prefix filtering; the rare-first gram
    * order is computed over BOTH sides (any consistent total order
    * preserves the theorem — a shared one just prunes best). Run
    * both sides on their DISTINCT value domains; this is the
    * batch-vs-corpus shape of [[Dedup.dedupAgainst]] applied to
    * short-string matching. */
  def similarJoin(
      left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      threshold: Double,
      n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val lb = left.select(col(leftId).as("left_id"), charGrams(col(leftStr), n).as("lg"))
      .filter(size(col("lg")) > 0)
    val rb = right.select(col(rightId).as("right_id"), charGrams(col(rightStr), n).as("rg"))
      .filter(size(col("rg")) > 0)
    val lt = lb.select(col("left_id"), size(col("lg")).as("lsz"), explode(col("lg")).as("gram"))
    val rt = rb.select(col("right_id"), size(col("rg")).as("rsz"), explode(col("rg")).as("gram"))
    val freq = lt.select("gram").unionAll(rt.select("gram"))
      .groupBy("gram").agg(count(lit(1)).as("gram_df"))
    val lp = lt.join(freq, "gram")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("left_id").orderBy(col("gram_df"), col("gram"))))
      .filter(col("rnk") <= col("lsz") - floor(lit(threshold) * col("lsz")) + 1)
    val rp = rt.join(freq, "gram")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("right_id").orderBy(col("gram_df"), col("gram"))))
      .filter(col("rnk") <= col("rsz") - floor(lit(threshold) * col("rsz")) + 1)
    val cands = lp.as("l").join(rp.as("r"),
        col("l.gram") === col("r.gram") &&
        least(col("lsz"), col("rsz")) >=
          floor(lit(threshold) * greatest(col("lsz"), col("rsz"))))
      .select(col("left_id"), col("right_id")).distinct()
    cands.join(lb, Seq("left_id")).join(rb, Seq("right_id"))
      .withColumn("inter", size(array_intersect(col("lg"), col("rg"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("lg")) + size(col("rg")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
  }

  /** The fuzzy REFER: for each left value, its single best right
    * match at Jaccard ≥ `threshold` — max similarity, ties broken by
    * minimum right id (deterministic: the Jaccard doubles are the
    * same exact-integer division on every engine). Left values with
    * no match above threshold are absent — callers left-join and
    * apply their default, exactly like the reference's
    * default-on-miss refer semantics. */
  def bestMatches(
      left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      threshold: Double,
      n: Int = 3): DataFrame =
    similarJoin(left, leftId, leftStr, right, rightId, rightStr, threshold, n)
      .withColumn("__rnk", row_number().over(
        Window.partitionBy("left_id").orderBy(col("jaccard").desc, col("right_id"))))
      .filter(col("__rnk") === 1).drop("__rnk")

  /** Entity resolution over a value domain: fuzzy pairs →
    * [[Dedup.connectedComponents]] → every id labeled with its
    * cluster's minimum id (singletons label themselves). Input ids
    * must be numeric (use a deterministic dense id such as
    * `min(<rowkey>) per value` when resolving a string domain).
    *
    * The returned (id, entity_id) mapping — |value domain| rows, two
    * longs — is materialized into its own persisted blocks so the
    * much larger components labeling releases immediately (the
    * [[Dedup.keepOnePerCluster]] discipline); [[Stage.free]] the
    * result when done. NOTE: like the closure it wraps, this executes
    * during construction — budget it like an action. */
  /** Jaro-Winkler best-match lookup with explicit prefix BLOCKING —
    * the name-matching complement to [[bestMatches]]: edit-distance
    * and n-gram Jaccard over-penalize transpositions and short
    * fields; JW (native codegen'd
    * [[graft.functions.StringDistance.jaroWinkler]]) is the scorer
    * record linkage reaches for on person/org names.
    *
    * Candidates are pairs sharing the first `prefixLen` chars of the
    * normalized value — an EQUI join on the block key, never a cross
    * product. Unlike the Jaccard path there is no lossless-filter
    * theorem for JW; the blocking IS the declared contract (and a
    * natural one: the Winkler boost itself privileges shared
    * prefixes, and classic record-linkage blocking uses exactly this
    * rule). Per left value: the best match (jw DESC, right id ASC)
    * at `jw >= threshold`.
    *
    * Scale posture: one equi-join shuffle on the block key + a
    * per-left-id window — block-key skew is bounded by the value
    * domain's prefix distribution (raise `prefixLen` to split heavy
    * blocks; every block is a candidate-pair budget, the same knob as
    * [[Dedup.minhashPairs]]' `maxBucketSize`). */
  def jwBestMatches(
      left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      threshold: Double,
      prefixLen: Int = 2): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(prefixLen >= 1, s"prefixLen >= 1: $prefixLen")
    def norm(c: Column) = trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))
    val l = left.select(col(leftId).as("left_id"), norm(col(leftStr)).as("__ln"))
      .filter(length(col("__ln")) > 0)
      .withColumn("__blk", substring(col("__ln"), 1, prefixLen))
    val r = right.select(col(rightId).as("right_id"), norm(col(rightStr)).as("__rn"))
      .filter(length(col("__rn")) > 0)
      .withColumn("__blk", substring(col("__rn"), 1, prefixLen))
    l.join(r, "__blk")
      .withColumn("jw",
        graft.functions.StringDistance.jaroWinkler(col("__ln"), col("__rn")))
      .filter(col("jw") >= threshold)
      .withColumn("__rnk", row_number().over(
        Window.partitionBy("left_id").orderBy(col("jw").desc, col("right_id"))))
      .filter(col("__rnk") === 1)
      .select("left_id", "right_id", "jw")
  }

  /** Entity resolution over a value domain: fuzzy [[similarPairs]] →
    * transitive closure → every input id labeled with its cluster's
    * canonical (minimum) id as `entity_id`; unpaired ids map to
    * themselves. The mapping comes back as a DISTRIBUTED frame — it
    * is never collected, so the value domain may be unbounded.
    *
    * Block lifecycle: by default the mapping is materialized into its
    * own persisted blocks (domain-sized — two longs per value) and
    * everything upstream is released; the CALLER frees the result
    * ([[Stage.free]] or its [[Stage.scope]]) after its consuming
    * action — freed earlier, the next read recomputes the whole
    * closure. With
    * `checkpointDir` set the mapping is instead written as a reliable
    * checkpoint — lineage-free, ZERO persisted blocks, nothing for
    * the caller to release — the production shape for unbounded
    * domains on long-lived sessions (the same knob
    * [[Dedup.connectedComponents]] takes, threaded through). */
  def resolveEntities(
      df: DataFrame,
      idCol: String,
      strCol: String,
      threshold: Double,
      n: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val pairs = similarPairs(df, idCol, strCol, threshold, n)
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b",
      checkpointDir = checkpointDir)
    val mapping = df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("rep"), col("id")).as("entity_id"))
    val out = Dedup.passCut("entity map", mapping, eager = true, checkpointDir)
    Stage.free(comps)
    out
  }

  /** Golden-record survivorship — the entity-resolution endgame:
    * one master row per cluster where EACH field independently takes
    * the value of the cluster's latest row (by `(orderCol, idCol)`)
    * that has that field NON-NULL. This is the standard MDM merge
    * rule ("most recent known value per attribute"), and it differs
    * from plain arg-max precisely when records are partially filled:
    * a newer row with a NULL phone must not erase the older known
    * phone. Computed as one hash aggregate of
    * `max(IF(f IS NOT NULL, struct(order, id, f)))` per field —
    * lexicographic struct max, decided entirely by the unique
    * (order, id) prefix, so the SQL mirror replays it exactly.
    * `n_members` counts the merged rows. A field NULL in every
    * member stays NULL.
    *
    * Scale posture: ONE cluster-keyed hash aggregate with map-side
    * partials (one small struct per field per live group) — no
    * window, no sort, no per-cluster collect; composes directly with
    * [[resolveEntities]] output joined onto the source rows. */
  def goldenRecord(
      df: DataFrame,
      clusterCol: String,
      orderCol: String,
      idCol: String,
      fields: Seq[String]): DataFrame =
    goldenFromState(goldenRecordState(df, clusterCol, orderCol, idCol, fields),
      clusterCol, fields)

  /** The MERGEABLE form of [[goldenRecord]]: per cluster, one
    * `__st_<field>` struct (order, id, value) per field — the
    * arg-max witness, not just the value — plus `n_members`. Because
    * each field's pick is a lexicographic max, states compose:
    * `state(A ∪ B) = mergeGoldenStates(state(A), state(B))`, so a
    * standing master table absorbs a daily batch without rescanning
    * history — the incremental-MDM shape, same closure discipline as
    * the KMV sketches and `Incremental` aggregate states
    * (StreamingSpec proves it through real micro-batches). */
  def goldenRecordState(
      df: DataFrame,
      clusterCol: String,
      orderCol: String,
      idCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "goldenRecord needs at least one field")
    val aggs = fields.map { f =>
      max(when(col(f).isNotNull,
        struct(col(orderCol).as("o"), col(idCol).as("i"), col(f).as("v"))))
        .as(s"__st_$f")
    } :+ count(lit(1)).as("n_members")
    df.groupBy(col(clusterCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge [[goldenRecordState]] frames (same cluster/field layout):
    * field-wise struct max + member-count sum — one
    * cluster-cardinality-sized aggregate, history never rescanned. */
  def mergeGoldenStates(
      states: Seq[DataFrame],
      clusterCol: String,
      fields: Seq[String]): DataFrame = {
    require(states.nonEmpty, "nothing to merge")
    val aggs = fields.map(f => max(col(s"__st_$f")).as(s"__st_$f")) :+
      sum(col("n_members")).cast("long").as("n_members")
    states.reduce(_.unionByName(_))
      .groupBy(col(clusterCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Project a [[goldenRecordState]] frame to the master rows. */
  def goldenFromState(
      state: DataFrame,
      clusterCol: String,
      fields: Seq[String]): DataFrame =
    state.select(col(clusterCol) +:
      fields.map(f => col(s"__st_$f").getField("v").as(f)) :+
      col("n_members"): _*)
}
