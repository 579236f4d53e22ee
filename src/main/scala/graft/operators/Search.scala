package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Full-text retrieval primitives over a document corpus: the
  * inverted-index build and BM25 ranking a training-data pipeline
  * uses for corpus search, decontamination lookups, and
  * quality-by-query probes. The reference engine has no text-search
  * surface — this extends the north-star LLM-pipeline suite.
  */
object Search {

  /** Inverted index: one row per distinct token with its document
    * frequency and the ascending posting list (comma-joined — a
    * canonical string form both the driver's hash gate and any
    * downstream consumer can compare bit-for-bit).
    *
    * Scale posture: per-document token dedup is ROW-LOCAL
    * (`array_distinct` inside the projection), so the explode emits
    * each (doc, token) pair once and the only shuffle is the
    * final groupBy(token) — map-side-partial counts plus the
    * posting-list merge. Hot tokens (stopwords) concentrate their
    * posting lists on one reducer; at corpus scale you shard postings
    * by (token, doc_id range) — the groupBy key generalizes to that
    * composite directly — and prune stopwords upstream (the
    * [[graft.functions.TextFunctions.vocabulary]] census tells you
    * which). */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // __mid is the qPipelineFilter pushdown barrier: without it the
    // generator-inferred filter (size > 0 AND isnotnull) pushes below
    // the projection and re-tokenizes every document 2-3x.
    df.select(col(idCol).cast("long").as("doc_id"),
        array_distinct(TextFunctions.tokens(lower(col(textCol)))).as("__toks"),
        monotonically_increasing_id().as("__mid"))
      .select(col("doc_id"), explode(col("__toks")).as("token"), col("__mid"))
      .filter(col("__mid") >= 0)
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))

  /** Hashing-trick featurization (Weinberger et al.'s feature
    * hashing, the public "hashing trick"): map each document to a
    * SPARSE `dims`-dimensional signed-count vector without any
    * vocabulary table — feature index = low bits of a salted mix of
    * the token hash, sign = the next bit, weight = signed occurrence
    * sum per index. The cheap featurizer behind linear quality
    * classifiers and fast dedup-ish similarity at corpus scale: no
    * dictionary to build, broadcast, or version, and the signed sum
    * makes collisions cancel in expectation. Output: one row per
    * NON-ZERO (doc, feature): (doc_id, feat_idx, weight).
    *
    * All integer: idx = mix64(tokenHash ^ salt) masked to
    * log2(dims) bits (≡ unsigned mod for power-of-two dims), sign
    * from the bit just above — bit-replayable in DuckDB, so the
    * whole featurization is hash-oracle-gated.
    *
    * Scale posture: one projection (tokenize+hash+explode fused in
    * the codegen'd [[graft.functions.TokenHashes]]) and one
    * (doc, idx)-keyed aggregate with map-side partials — per-doc
    * output is bounded by min(n_tokens, dims). No joins, no
    * vocabulary collect. */
  def hashedFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int = 256,
      seed: Long = 11L): DataFrame = {
    require(dims >= 2 && (dims & (dims - 1)) == 0,
      s"dims must be a power of two, got $dims")
    val salt = graft.functions.Hashing.salts(1, seed).head
    val g = graft.functions.HashExpressions.mix64(
      col("__h").bitwiseXOR(lit(salt)))
    val bits = java.lang.Long.numberOfTrailingZeros(dims.toLong)
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.HashExpressions.tokenHashes(col(textCol))).as("__h"))
      .select(col("doc_id"),
        g.bitwiseAND(lit(dims - 1L)).as("feat_idx"),
        when(shiftrightunsigned(g, bits).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)).as("__s"))
      .groupBy(col("doc_id"), col("feat_idx"))
      .agg(sum(col("__s")).as("weight"))
      .filter(col("weight") =!= 0L)
  }

  /** BM25 top-k retrieval for one query (a literal term set) against
    * the corpus. Scores are fixed-point longs (`score_q`, scaled by
    * 2^scaleBits) summed from per-term contributions floored BEFORE
    * the sum — the same transcendental-taming as
    * [[graft.functions.TextFunctions.lmScore]]: the coarse floor
    * absorbs sub-ulp `ln` differences between engines, and the
    * integer sum is order-independent, so the DuckDB oracle
    * hash-matches. `score` is the double view (two exact divides).
    *
    * BM25 per (doc, term): idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl))
    * with idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Scale posture: the corpus is scanned twice — once for the
    * (N, Σlen) scalar pair, once to build the matched (doc, term, tf)
    * frame (tokens are filtered to the query terms INSIDE the
    * projection, so the explode fans out only matching tokens — for
    * a q-term query that's O(q) rows per doc, not O(len)). The
    * matched frame is materialized once and reused for both the
    * per-term document frequencies and the scoring join; df stats
    * broadcast (term-cardinality rows). Final top-k is
    * TakeOrdered — no global sort. Ties break on doc_id, so the
    * cut is deterministic. */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      topK: Int = 50,
      k1: Double = 1.2,
      b: Double = 0.75,
      scaleBits: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val scale = (1L << scaleBits).toDouble

    val base = df.select(col(idCol).cast("long").as("doc_id"),
      TextFunctions.tokenCount(col(textCol)).as("len"),
      TextFunctions.tokens(lower(col(textCol))).as("__toks"))

    val corpus = base.agg(count(lit(1)).as("n"), sum(col("len")).as("sl")).head()
    val nDocs = corpus.getLong(0)
    val avgdl = corpus.getLong(1).toDouble / nDocs.toDouble

    val termArr = array(terms.map(lit(_)): _*)
    // project __toks first, explode in the NEXT select: a generator
    // alongside heavy expressions re-evaluates them per element
    val matched = Stage("bm25 term freqs", Stage.Persist(eager = true))(
      base.select(col("doc_id"), col("len"),
          filter(col("__toks"), t => array_contains(termArr, t)).as("__mt"),
          monotonically_increasing_id().as("__mid"))
        .select(col("doc_id"), col("len"), explode(col("__mt")).as("term"),
          col("__mid"))
        .filter(col("__mid") >= 0) // barrier: keeps the inferred
        // size/isnotnull filter from re-tokenizing below the projection
        .groupBy("doc_id", "len", "term").agg(count(lit(1)).as("tf")))

    val dfStats = matched.groupBy("term").agg(count(lit(1)).as("dft"))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - col("dft").cast("double") + lit(0.5)) /
        (col("dft").cast("double") + lit(0.5)))
    val tfD = col("tf").cast("double")
    val den = tfD + lit(k1) *
      (lit(1.0 - b) + lit(b) * (col("len").cast("double") / lit(avgdl)))
    val wq = floor((col("__idf") * ((tfD * lit(k1 + 1.0)) / den)) * lit(scale))
      .cast("long")

    matched
      .join(broadcast(dfStats.withColumn("__idf", idf).select("term", "__idf")),
        Seq("term"))
      .select(col("doc_id"), wq.as("wq"))
      .groupBy("doc_id").agg(sum(col("wq")).as("score_q"))
      .withColumn("score", col("score_q").cast("double") / lit(scale))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(topK)
  }

  /** PMI-scored collocations — the phrase-mining pass behind
    * tokenizer vocabulary extension and multi-word-expression
    * lists: the top-`k` word bigrams by pointwise mutual information
    * `ln( (c_ab/B) / ((c_a/T)·(c_b/T)) )` among those with
    * `c_ab >= minCount` occurrences. Scores are fixed-point longs
    * (`pmi_q`, floored at 2^scaleBits — the coarse floor absorbs
    * sub-ulp `ln` differences between engines; every operand is an
    * integer count divided in a pinned order, so the DuckDB oracle
    * hash-matches). Ties break on bigram text — a total order.
    *
    * Scale posture: ONE corpus scan — unigrams and bigrams (the
    * compiled [[graft.functions.ShingleStrings]] sweep) explode
    * together and share a single vocab-keyed count shuffle with
    * map-side partials. Everything after operates on the
    * vocab-sized count table (persisted once): totals collapse to
    * two driver scalars, and the two unigram-count joins are
    * vocab × vocab — AQE broadcasts the small side. Final top-k is
    * TakeOrdered, no global sort. */
  def collocations(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      k: Int = 50,
      scaleBits: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val scale = (1L << scaleBits).toDouble
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val bigrams = when(TextFunctions.tokenCount(col(textCol)) >= 2,
      graft.functions.HashExpressions.shingleStrings(col(textCol), 2))
      .otherwise(array().cast("array<string>"))
    // __mid: the generator-filter pushdown barrier (see invertedIndex)
    val counts = Stage("gram counts", Stage.Persist(eager = true))(
      df.select(concat(toks, bigrams).as("__grams"),
          monotonically_increasing_id().as("__mid"))
        .select(explode(col("__grams")).as("gram"), col("__mid"))
        .filter(col("__mid") >= 0)
        .groupBy("gram").agg(count(lit(1)).as("c")))
    val isBigram = col("gram").contains(" ")
    val tot = counts.agg(
      sum(when(!isBigram, col("c"))).as("t"),
      sum(when(isBigram, col("c"))).as("b")).head()
    require(!tot.isNullAt(0) && !tot.isNullAt(1),
      "collocations needs at least one bigram in the corpus")
    val totT = tot.getLong(0).toDouble
    val totB = tot.getLong(1).toDouble
    def uniAs(key: String, cnt: String) =
      counts.filter(!isBigram).select(col("gram").as(key), col("c").as(cnt))
    val ratio = (col("c").cast("double") / lit(totB)) /
      ((col("ca").cast("double") / lit(totT)) *
        (col("cb").cast("double") / lit(totT)))
    counts.filter(isBigram && col("c") >= minCount)
      .withColumn("__a", substring_index(col("gram"), " ", 1))
      .withColumn("__b", substring_index(col("gram"), " ", -1))
      .join(uniAs("__a", "ca"), "__a")
      .join(uniAs("__b", "cb"), "__b")
      .select(col("gram").as("bigram"), col("c").as("c_ab"),
        floor(log(ratio) * lit(scale)).cast("long").as("pmi_q"))
      .withColumn("pmi", col("pmi_q").cast("double") / lit(scale))
      .orderBy(col("pmi_q").desc, col("bigram").asc)
      .limit(k)
  }
}
