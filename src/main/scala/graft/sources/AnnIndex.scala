package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Stage}

/** Persistable IVF-PQ index — "build once offline, query many":
  * three parquet tables under one directory,
  *
  *   - `centroids`  (cell INT, vec ARRAY<DOUBLE>)       — nlist rows
  *   - `codebooks`  (subspace INT, code INT, vec ARRAY<DOUBLE>)
  *   - `coded`      (id BIGINT, cell INT, code ARRAY<INT>)
  *
  * `coded` is the corpus-sized artifact and it is 32×-compressed
  * (id + cell + m small ints per vector — the vectors themselves
  * never leave the original table); centroids and codebooks are
  * model-sized (nlist·dim and m·ksub·(dim/m) doubles) and load back
  * to driver arrays, exactly the closure shape every query-side UDF
  * already takes. A loaded index answers
  * [[graft.operators.Similarity.ivfPqTopKBatchCoded]] bit-for-bit
  * what the inline (train-in-query) path answers — pinned by
  * AnnIndexSpec's round-trip.
  *
  * Write discipline: tables land in a fresh versioned tree under the
  * index dir and ONE small pointer-file flip publishes it
  * ([[Segments.publishTree]] — object-store safe: no directory is
  * ever renamed), so a crash mid-build never leaves a half-index a
  * reader could load, and a rebuild over an existing index keeps the
  * previous tree live until the instant the pointer flips — no crash
  * point loses BOTH copies.
  *
  * Incremental append: the corpus-sized table is SEGMENTED
  * (`coded/seg=0`, `coded/seg=1`, … — Spark partition discovery; the
  * `seg` column is projected away on read). [[append]] /
  * [[appendToIvf]] encode a new batch against the FROZEN
  * centroids/codebooks already on disk — the model never retrains,
  * so appended rows are bit-identical to what a from-scratch build
  * with the same model would produce — and land it as one new
  * segment: batch rows write to an underscore-prefixed staging dir
  * INSIDE the table (invisible to Spark/parquet readers, which skip
  * `_`/`.` paths), then ONE atomic rename publishes `seg=N`. A crash
  * before the rename leaves the live index untouched (stale staging
  * is swept by the next append); the rename itself is atomic on
  * HDFS/POSIX. Daily embedding batches therefore cost O(batch)
  * encode + write, never a corpus re-code.
  *
  * Scale posture: the build is one corpus scan (assign + encode,
  * zero shuffles) plus driver-side centroid training on a bounded
  * sample; reads scan only the coded table (column-pruned), and the
  * model tables are two bounded collects. At 100 TB the coded table
  * is ~3 TB and partitions like any parquet table.
  */
object AnnIndex {

  final case class Loaded(
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      coded: DataFrame)

  /** Train (sample-refined IVF cells + PQ codebooks), encode the
    * corpus, and persist the three tables. Returns the loaded view
    * of what was written. */
  def buildAndWrite(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      m: Int,
      ksub: Int = 16,
      refineIters: Int = 2,
      sampleSize: Int = 256): Loaded = {
    val sample = Similarity.hashOrderedSample(corpus, idCol, vecCol, sampleSize)
    require(sample.nonEmpty, "empty corpus")
    val centroids = Similarity.refineCentroids(sample, nlist, refineIters)
    val codebooks = Similarity.pqCodebooks(corpus, idCol, vecCol, m, ksub,
      refineIters, sampleSize)
    Segments.publishTree(spark, dir, fenced = false)(pqTree(spark,
      centroids, codebooks,
      Similarity.encodeForIndex(corpus, idCol, vecCol, centroids, codebooks)))
    read(spark, dir)
  }

  private def pqTree(
      spark: SparkSession,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      coded: DataFrame): Segments.Tree =
    Segments.Tree(
      Seq("centroids" -> vectorsTable(spark, "cell", centroids),
        "codebooks" -> codebooksTable(spark, codebooks)),
      "coded", coded)

  /** Append a batch to a persisted IVF-PQ index WITHOUT retraining
    * or re-coding the corpus: encode against the index's frozen
    * centroids/codebooks, publish as one new `coded` segment (see
    * the class doc for the crash discipline), pinned to the tree
    * whose model encoded it ([[appendToIvf]]). Query results over
    * the appended index are bit-identical to a from-scratch
    * [[buildAndWrite]]-shaped encode over corpus∪batch with the SAME
    * model — the closure property `q_sim_index_append` oracles.
    * Returns true when this call published; [[read]] loads the grown
    * index. */
  def append(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Boolean = {
    val root = Segments.resolve(spark, dir)
    Segments.publishToStore(spark, dir, "coded",
      Similarity.encodeForIndex(batch, idCol, vecCol,
        readVectors(spark, root, "centroids"), readCodebooks(spark, root)),
      pinnedRoot = Some(root))
  }

  /** Compact an appended index of any of the three families back to
    * one segment ([[Segments.compact]]): the frozen model tables are
    * copied verbatim, the corpus table is rewritten through the
    * tombstone filter, and one fenced pointer flip publishes the
    * result — readers see either the multi-segment index or the
    * compacted one, never an intermediate. Run after many appends to
    * restore big-file scan behavior; query answers are identical
    * before and after (pinned by AnnIndexSpec). Handles loaded
    * BEFORE a compaction hold the pre-flip file listing — re-read
    * with [[read]] / [[readIvf]] / [[readLsh]] after. A segment
    * published after the compaction's read refuses the flip (typed
    * [[ConcurrentStoreWriteException]]) — re-run to pick it up. */
  def compact(spark: SparkSession, dir: String): Unit =
    Segments.compact(spark, dir, "id")

  /** Tombstone DELETE for any of the three index families — the
    * right-to-be-forgotten path: publish the ids as one new segment
    * of a `tombstones` table under the index dir (the
    * [[Segments.publishSegment]] crash discipline — stage under an underscore
    * dir, one atomic rename; O(deletion), the live index untouched
    * until the rename and never rewritten). Readers ([[read]] /
    * [[readIvf]] / [[readLsh]]) subtract the tombstone set with a
    * left-anti join before anything sees the corpus table, so a
    * query can never surface a deleted id; [[compact]] reads THROUGH
    * the filtered view and rewrites, so compaction physically drops
    * the rows AND clears the tombstone table in the same atomic flip
    * (the new tree never carries tombstones).
    *
    * Contract (spec-pinned): a tombstone suppresses its id across
    * ALL segments, including segments appended AFTER the delete —
    * re-ingesting a previously-deleted id requires a compaction
    * first. At 100 TB the tombstone table is deletion-sized (ids
    * only) and AQE broadcasts it into the anti-join; the corpus-
    * sized table is not touched until the next compaction. */
  def deleteIds(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String): Unit =
    Segments.deleteIds(spark, dir, ids, idCol)

  // ------------------------------------------------------ tables
  //
  // One writer and one reader per model table: `centroids` (cell INT,
  // vec ARRAY<DOUBLE>) and `planes` (plane INT, vec ARRAY<DOUBLE>)
  // share the indexed-vector shape; `codebooks` is (subspace INT,
  // code INT, vec ARRAY<DOUBLE>). Model tables are bounded (nlist,
  // m·ksub, numPlanes rows) and load back to driver arrays.

  private def vectorsTable(
      spark: SparkSession, key: String, vs: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq.toDF(key, "vec")
  }

  private def readVectors(
      spark: SparkSession, root: String, table: String): Array[Array[Double]] = {
    val vs = spark.read.parquet(s"$root/$table")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(vs.nonEmpty, s"AnnIndex: no $table under $root")
    vs
  }

  private def codebooksTable(
      spark: SparkSession, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
    }.toSeq.toDF("subspace", "code", "vec")
  }

  private def readCodebooks(
      spark: SparkSession, root: String): Array[Array[Array[Double]]] = {
    val cb = spark.read.parquet(s"$root/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
    require(cb.nonEmpty, s"AnnIndex: no codebooks under $root")
    cb
  }

  /** A family's corpus table in the live tree at `root`, projected to
    * `cols` (the `seg` partition column drops unless asked for) and
    * minus the tombstone set: the single filter every load path
    * applies ([[Segments.minusTombstones]]). */
  private def corpusTable(
      spark: SparkSession, root: String, table: String,
      cols: org.apache.spark.sql.Column*): DataFrame =
    Segments.minusTombstones(spark, root,
      spark.read.parquet(s"$root/$table").select(cols: _*))

  /** Load an index directory: model tables collect to driver arrays
    * (bounded — nlist and m·ksub rows), the coded table stays a
    * DataFrame. */
  def read(spark: SparkSession, dir: String): Loaded = {
    val root = Segments.resolve(spark, dir)
    Loaded(readVectors(spark, root, "centroids"), readCodebooks(spark, root),
      corpusTable(spark, root, "coded", col("id"), col("cell"), col("code")))
  }

  /** Batch ANN over a loaded index — delegates to the coded-input
    * scorer, so results are bit-identical to the inline path. */
  def queryBatch(
      index: Loaded,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int): DataFrame =
    Similarity.ivfPqTopKBatchCoded(queries, index.coded, queryIdCol,
      queryVecCol, k, index.centroids, index.codebooks, nprobe)

  // ------------------------------------------------------- plain IVF

  /** Plain-IVF sibling of [[Loaded]]: exact vectors kept (no PQ loss)
    * — the layout when recall must be exact-within-probed-cells and
    * the corpus affords full-width storage. Two tables:
    *
    *   - `centroids` (cell INT, vec ARRAY<DOUBLE>)          — nlist rows
    *   - `assigned`  (id BIGINT, cell INT, vec ARRAY<FLOAT>) — corpus
    *
    * At scale, store/bucket `assigned` by `cell` and the probe join
    * is shuffle-free on the corpus side. */
  final case class LoadedIvf(
      centroids: Array[Array[Double]],
      assigned: DataFrame)

  /** Train sample-refined IVF cells, assign the corpus, persist the
    * two tables (same staging-swap discipline). Queries answered via
    * [[queryBatchIvf]] are bit-identical to the inline
    * [[graft.operators.Similarity.ivfTopKBatch]] with the same
    * centroids — pinned by AnnIndexSpec. */
  def buildAndWriteIvf(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): LoadedIvf = {
    require(centroids.nonEmpty, "no centroids")
    Segments.publishTree(spark, dir, fenced = false)(
      ivfTree(spark, centroids, corpus, idCol, vecCol))
    readIvf(spark, dir)
  }

  /** Cell-assign `rows` under `centroids`: the `assigned` table's
    * (id, cell, vec) rows, for the build, an append and a retrain. */
  private def ivfAssigned(
      rows: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    rows.select(
      col(idCol).as("id"),
      Similarity.assignCellUdf(centroids)(col(vecCol)).as("cell"),
      col(vecCol).as("vec"))

  private def ivfTree(
      spark: SparkSession, centroids: Array[Array[Double]],
      rows: DataFrame, idCol: String, vecCol: String): Segments.Tree =
    Segments.Tree(Seq("centroids" -> vectorsTable(spark, "cell", centroids)),
      "assigned", ivfAssigned(rows, idCol, vecCol, centroids))

  /** [[append]]'s plain-IVF twin: cell-assign the batch against the
    * index's FROZEN centroids, publish as one new `assigned` segment.
    * O(batch) — the corpus is never re-assigned. `at` is
    * [[Segments.publishSegment]]'s: `Some(id)` is the idempotent
    * form — replaying the same (batch, id) publish after a crash is
    * a no-op, so a foreachBatch-driven release
    * ([[graft.plans.IncrementalRelease.runDeltas]] under
    * [[graft.streaming.StreamOps.releaseStream]]) gets exactly-once
    * ANN appends across crash replays. The rows are model-coupled:
    * the publish is pinned to the tree whose frozen centroids
    * assigned them and refuses typed if a retrain flipped the
    * pointer. Returns true when this call published; [[readIvf]]
    * loads the grown index. */
  def appendToIvf(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      at: Option[Long] = None): Boolean = {
    val root = Segments.resolve(spark, dir)
    Segments.publishToStore(spark, dir, "assigned",
      ivfAssigned(batch, idCol, vecCol, readVectors(spark, root, "centroids")),
      at, pinnedRoot = Some(root))
  }

  /** Load a plain-IVF index directory: centroids to a driver array
    * (nlist-bounded), the assigned table stays a DataFrame. */
  def readIvf(spark: SparkSession, dir: String): LoadedIvf = {
    val root = Segments.resolve(spark, dir)
    LoadedIvf(readVectors(spark, root, "centroids"),
      corpusTable(spark, root, "assigned", col("id"), col("cell"), col("vec")))
  }

  /** WRITE-SIDE staleness monitor for an appended plain-IVF index —
    * the drift audit that tells you when compaction + retrain is due
    * ([[graft.operators.Similarity.recallAudit]] is the read-side
    * half): appends encode against FROZEN centroids by design
    * ([[appendToIvf]]), so a batch whose distribution has drifted
    * away from the build-time corpus still lands in SOME cell — just
    * a bad one, and recall decays silently. This audit compares each
    * segment's assignment-quality distribution against the build
    * segment's (seg=0, the build-time distribution): per segment, the
    * count of rows whose fused cosine to their assigned centroid
    * falls below `nearCut` (an exact-integer CDF reading at the cut —
    * the quantile signal without float quantile math), as parts per
    * million, and `drift_flag` = far_ppm exceeds `driftFactor` × the
    * build segment's. A flagged segment means the frozen model no
    * longer describes the incoming data — compact and retrain.
    *
    * `nearCut` must sit below the build distribution's bulk (swept in
    * the oracle's fixture: build far rate 2.8% at 0.12, a
    * reversed-vector drifted batch 14% — a 5× separation); a cut
    * inside the bulk saturates both sides and the factor test goes
    * vacuous. Tombstoned rows are excluded, matching what queries
    * see. A MISSING baseline (seg 0 fully tombstoned, or renumbered
    * away by an unconventional compaction) fails CONSERVATIVE: the
    * audit cannot certify against nothing, so `drift_flag` fires on
    * every segment instead of going NULL-silent — compact+retrain,
    * which re-establishes seg 0.
    *
    * Scale posture: one scan of the assigned table (the per-row
    * cosine to the row's OWN assigned centroid — selected out of the
    * nlist-bounded nested literal by the stored cell — runs as a
    * codegen-planned expression fold, [[graft.functions
    * .SimilarityFunctions.cosineFused]]; above the nested-literal
    * size budget it dispatches to the bit-identical closure UDF, the
    * lshBucket dual-path precedent) and a window over the seg-sized
    * frame; the base-segment scalar is attached via that window,
    * never a literal-key join (which would constant-fold to the BNLJ
    * the catalog plan gate bans). */
  def driftAudit(
      spark: SparkSession,
      dir: String,
      nearCut: Double = 0.12,
      driftFactor: Int = 2): DataFrame = {
    val root = Segments.resolve(spark, dir)
    val cents = readVectors(spark, root, "centroids")
    // expression path while the nested centroid literal stays inside
    // the janino comfort zone (the lshExprMaxPlanes budget argument:
    // ~1k literal nodes); the UDF twin is the same ascending-index
    // fused fold, so both paths hash identically
    val assignCos: org.apache.spark.sql.Column =
      if (cents.length.toLong * cents(0).length <= 1024L) {
        val centsLit = array(cents.map(c =>
          array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
        graft.functions.SimilarityFunctions.cosineFused(
          col("vec"), element_at(centsLit, col("cell") + 1))
      } else {
        val f = udf { (vec: Seq[Float], cell: Int) =>
          Similarity.cosineScalar(vec.toArray.map(_.toDouble), cents(cell))
        }
        f(col("vec"), col("cell"))
      }
    farPpmDrift(
      corpusTable(spark, root, "assigned", col("seg").cast("int").as("seg"),
        col("id"), col("cell"), col("vec"))
        .select(col("seg"), (assignCos < nearCut).cast("long").as("__far")),
      driftFactor)
  }

  /** The per-segment tail [[driftAudit]] and [[driftAuditPq]] share,
    * over (seg, `__far` 0/1) rows: per segment the row count, the far
    * count and exact-integer far ppm, then `drift_flag` = far ppm
    * above `driftFactor` × the seg-0 baseline's. The baseline scalar
    * attaches through an empty-partition window, never a literal-key
    * join (which would constant-fold to the BNLJ the catalog plan
    * gate bans). */
  private def farPpmDrift(flagged: DataFrame, driftFactor: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    flagged
      .groupBy("seg")
      .agg(count(lit(1)).as("n_rows"), sum(col("__far")).as("n_far"))
      .withColumn("far_ppm", expr("n_far * 1000000 div n_rows"))
      .withColumn("base_ppm",
        max(when(col("seg") === 0, col("far_ppm"))).over(w))
      // missing baseline → NULL comparison → coalesce fires the flag
      .withColumn("drift_flag",
        coalesce(col("far_ppm") > lit(driftFactor.toLong) * col("base_ppm"),
          lit(true)))
      .select(col("seg").cast("bigint").as("seg"), col("n_rows"),
        col("n_far"), col("far_ppm"), col("drift_flag"))
  }

  /** RETRAIN remediation for a plain-IVF index [[driftAudit]] has
    * flagged — the documented response to write-side staleness
    * (compaction alone keeps the stale model): read the survivors
    * THROUGH the tombstone filter, retrain centroids on them
    * ([[graft.operators.Similarity.kmeansCentroidsDistributed]] — the
    * scale-path trainer: nlist×dim partials per iteration, never a
    * corpus collect), re-assign every survivor under the NEW model,
    * and swap the rebuilt tree in. Self-contained because `assigned`
    * stores full vectors (the plain-IVF layout choice); the lossy PQ
    * family needs the source vectors back — see [[retrainPq]].
    *
    * Answer-equivalent to a fresh [[buildAndWriteIvf]] over the
    * retained corpus with survivor-trained centroids (AnnIndexSpec
    * pins ≡, assigned table and query answers both), and the
    * post-retrain [[driftAudit]] baseline re-establishes: one seg 0
    * carrying the NEW build-time distribution, flag off. Tombstones
    * are GC'd by the flip like [[compact]]; fenced the same way —
    * a segment published after the survivor read refuses the flip
    * (typed [[ConcurrentStoreWriteException]], built tree preserved). */
  def retrainIvf(
      spark: SparkSession,
      dir: String,
      nlist: Int,
      iters: Int = 2): LoadedIvf = {
    Segments.publishTree(spark, dir, fenced = true) {
      val survivors = readIvf(spark, dir).assigned.select(col("id"), col("vec"))
      ivfTree(spark,
        Similarity.kmeansCentroidsDistributed(survivors, "id", "vec", nlist, iters),
        survivors, "id", "vec")
    }
    readIvf(spark, dir)
  }

  /** [[retrainIvf]]'s IVF-PQ twin. The coded table is LOSSY (m code
    * indices per vector — the 32× compression is the point), so
    * re-encoding under a new model needs the source vectors back: the
    * caller supplies the corpus table and the retrain subtracts the
    * index's own tombstones from it (the forget contract — a deleted
    * id never trains or re-enters the index). Training replays
    * [[buildAndWrite]]'s exact recipe over the survivors
    * (`sampleSize`-row hash-cut sample →
    * [[graft.operators.Similarity.refineCentroids]] +
    * [[graft.operators.Similarity.pqCodebooks]]),
    * so the result is answer-equivalent to a fresh build on the
    * retained corpus — `q_sim_index_retrain` oracles the whole
    * build→append→delete→retrain chain under the training-replay
    * oracle. Fenced flip; tombstones GC'd like [[compact]]. */
  def retrainPq(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      m: Int,
      ksub: Int = 16,
      refineIters: Int = 2,
      sampleSize: Int = 256): Loaded = {
    // persisted for the retrain window: the retained-corpus frame
    // (tombstone anti-join over every live segment) is scanned THREE
    // times below — the centroid sample, the codebook sample (an
    // identical hash-ordered pass), and the full encode — and without
    // the persist each pass re-read and re-anti-joined the store
    // (guide §5: persist an iteratively re-read working frame, drop it
    // when the loop ends)
    Stage.scope {
      Segments.publishTree(spark, dir, fenced = true) {
        val survivors = Stage("retrain survivors", Stage.Persist())(
          Segments.minusTombstones(spark, Segments.resolve(spark, dir),
            corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))))
        val sample = Similarity.hashOrderedSample(survivors, "id", "vec", sampleSize)
        require(sample.nonEmpty, "empty retained corpus")
        val centroids = Similarity.refineCentroids(sample, nlist, refineIters)
        val codebooks = Similarity.pqCodebooks(survivors, "id", "vec", m, ksub,
          refineIters, sampleSize)
        pqTree(spark, centroids, codebooks,
          Similarity.encodeForIndex(survivors, "id", "vec", centroids, codebooks))
      }
    }
    read(spark, dir)
  }

  /** [[driftAudit]]'s IVF-PQ twin — the write-side staleness monitor
    * for the COMPRESSED index family, computable from the coded
    * table ALONE: the plain-IVF audit needs full vectors, but at the
    * 100 TB posture the 32×-compressed coded table is often the only
    * artifact on hand. Each row's assignment quality is the cosine
    * between its PQ RECONSTRUCTION (codebook codewords concatenated
    * per the stored code) and its assigned centroid — computed with
    * the exact ADC fold order [[graft.operators.Similarity
    * .ivfPqTopKBatchCoded]] uses (per-subspace dot/norm folds, dims
    * ascending, then subspace-ascending sums), with the centroid as
    * the query side, so the oracle replays it bit-for-bit. Per
    * segment: rows, rows below `nearCut`, exact-integer far-ppm, and
    * the ≥`driftFactor`× flag against the seg-0 baseline; a MISSING
    * baseline fails conservative (every segment flags — compact +
    * [[retrainPq]], which re-establishes seg 0). Tombstoned rows are
    * excluded, matching what queries see.
    *
    * Scale posture: one scan of the coded table (id + cell + m small
    * ints per row); per-row cost is m codeword lookups into the
    * driver-broadcast model closure (the encodeUdf precedent — the
    * m·ksub·ds literal tree would bloat codegen); then the seg-keyed
    * aggregate and the same window-attached baseline as
    * [[driftAudit]]. */
  def driftAuditPq(
      spark: SparkSession,
      dir: String,
      nearCut: Double = 0.5,
      driftFactor: Int = 2): DataFrame = {
    val root = Segments.resolve(spark, dir)
    val cents = readVectors(spark, root, "centroids")
    val cb = readCodebooks(spark, root)
    val ds = cb(0)(0).length
    val reconCos = udf { (cell: Int, code: Seq[Int]) =>
      val cv = cents(cell)
      var qn2 = 0.0
      var i = 0
      while (i < cv.length) { qn2 += cv(i) * cv(i); i += 1 }
      var dot = 0.0; var nx = 0.0; var j = 0
      while (j < code.length) {
        val cw = cb(j)(code(j))
        var dj = 0.0; var nj = 0.0; var d = 0
        while (d < ds) {
          dj += cv(j * ds + d) * cw(d); nj += cw(d) * cw(d); d += 1
        }
        dot += dj; nx += nj; j += 1
      }
      // both sides guarded: a zero reconstruction (nx) OR a zero
      // assigned-centroid vector (qn2) reads 0.0, never NaN/Infinity
      // — the oracle carries the identical two-sided guard
      if (nx > 0.0 && qn2 > 0.0) dot / (math.sqrt(qn2) * math.sqrt(nx)) else 0.0
    }
    farPpmDrift(
      corpusTable(spark, root, "coded", col("seg").cast("int").as("seg"),
        col("id"), col("cell"), col("code"))
        .select(col("seg"),
          (reconCos(col("cell"), col("code")) < nearCut).cast("long").as("__far")),
      driftFactor)
  }

  /** Batch ANN over a loaded plain-IVF index — delegates to the
    * pre-assigned scorer, bit-identical to the inline path. */
  def queryBatchIvf(
      index: LoadedIvf,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int): DataFrame =
    Similarity.ivfTopKBatchAssigned(queries, index.assigned,
      queryIdCol, queryVecCol, k, index.centroids, nprobe)

  final case class LoadedLsh(
      planes: Array[Array[Double]],
      bucketed: DataFrame)

  /** Persisted sign-LSH index — the third member of the family, on
    * the SAME two-table + segment layout as plain IVF (`planes` is
    * the frozen model, `bucketed/seg=N` the corpus-sized table):
    * hyperplanes derive deterministically from (numPlanes, dim, seed)
    * but persist anyway so the index is self-describing and an append
    * can never bucket against a drifted model. Queries answered via
    * [[queryBatchLsh]] are bit-identical to the inline
    * [[graft.operators.Similarity.lshTopKBatch]] under the same
    * planes — `q_sim_index_lsh` runs under the inline twin's oracle. */
  def buildAndWriteLsh(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int,
      dim: Int = 64,
      seed: Long = 42L): LoadedLsh = {
    Segments.publishTree(spark, dir, fenced = false)(lshTree(spark,
      graft.functions.SimilarityFunctions.hyperplanes(numPlanes, dim, seed),
      corpus, idCol, vecCol))
    readLsh(spark, dir)
  }

  private def lshTree(
      spark: SparkSession, planes: Array[Array[Double]],
      rows: DataFrame, idCol: String, vecCol: String): Segments.Tree =
    Segments.Tree(Seq("planes" -> vectorsTable(spark, "plane", planes)),
      "bucketed", Similarity.lshBucketed(rows, idCol, vecCol, planes))

  /** [[append]]'s LSH twin: bucket the batch against the index's
    * FROZEN planes, publish as one new `bucketed` segment (pinned to
    * the tree whose planes bucketed it). O(batch). Returns true when
    * this call published; [[readLsh]] loads the grown index. */
  def appendToLsh(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): Boolean = {
    val root = Segments.resolve(spark, dir)
    Segments.publishToStore(spark, dir, "bucketed",
      Similarity.lshBucketed(batch, idCol, vecCol, readVectors(spark, root, "planes")),
      pinnedRoot = Some(root))
  }

  /** Load an LSH index directory: planes to a driver array
    * (numPlanes-bounded), the bucketed table stays a DataFrame. */
  def readLsh(spark: SparkSession, dir: String): LoadedLsh = {
    val root = Segments.resolve(spark, dir)
    LoadedLsh(readVectors(spark, root, "planes"),
      corpusTable(spark, root, "bucketed", col("id"), col("bucket"), col("vec")))
  }

  /** [[driftAudit]]'s sign-LSH twin — the write-side staleness
    * monitor for the THIRD index family, computable from the bucketed
    * table ALONE (no vectors needed): appends bucket against FROZEN
    * planes ([[appendToLsh]]), so a drifted embedder still lands every
    * row in SOME bucket — just with a bucket-OCCUPANCY distribution
    * the build-time corpus never produced, and probe recall decays
    * silently. The audit reads each segment's bucket histogram
    * against the build segment's (seg=0) as an exact-integer L1
    * divergence in parts per million:
    *
    *   l1_ppm(s) = Σ_b | ppm_s(b) − ppm_0(b) |
    *
    * (2 × total-variation distance; 0 for an identically-distributed
    * append, 2,000,000 for disjoint support). `drift_flag` fires at
    * `maxL1Ppm` — an absolute bar rather than the IVF audit's
    * baseline factor, because the baseline's own divergence is 0 by
    * construction (a factor test over a zero base is vacuous). A
    * MISSING baseline (seg 0 fully tombstoned) degrades to the
    * all-zero base distribution, so every segment reads
    * Σ ppm_s ≈ 1,000,000 and — since `maxL1Ppm` must sit below
    * 1,000,000 — the flag fires conservatively with no special case.
    *
    * Observability limit (every LSH monitor shares it): drift that
    * PRESERVES the sign pattern of every vector — within-bucket
    * movement — is invisible to a bucket histogram. Pair with the
    * read-side [[graft.operators.Similarity.recallAudit]] when that
    * failure mode is plausible; the vector-level audits
    * ([[driftAudit]]/[[driftAuditPq]]) cover it on the families that
    * store enough geometry to see it.
    *
    * Scale posture: one scan of (seg, bucket) 16-byte rows, a
    * (seg, bucket)-keyed count with map-side partials, the seg-0
    * histogram attached via a bucket-partitioned window and the
    * seg-0 mass via an empty-partition window (the [[driftAudit]]
    * discipline — never a literal-key join, which would constant-fold
    * to the BNLJ the catalog plan gate bans). */
  def driftAuditLsh(
      spark: SparkSession,
      dir: String,
      maxL1Ppm: Long = 500000L): DataFrame = {
    require(maxL1Ppm > 0L && maxL1Ppm < 1000000L,
      s"maxL1Ppm must sit in (0, 1e6) so a missing baseline always " +
        s"flags: $maxL1Ppm")
    val bucketed = corpusTable(spark, Segments.resolve(spark, dir), "bucketed",
      col("seg").cast("int").as("seg"), col("id"), col("bucket"))
    val counts = bucketed.groupBy("seg", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val wSeg = org.apache.spark.sql.expressions.Window.partitionBy("seg")
    val wBucket = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    counts
      .withColumn("n_rows", sum(col("cnt")).over(wSeg))
      .withColumn("ppm", expr("cnt * 1000000 div n_rows"))
      .withColumn("base_ppm", coalesce(
        max(when(col("seg") === 0, col("ppm"))).over(wBucket), lit(0L)))
      .withColumn("t0", coalesce(
        sum(when(col("seg") === 0, col("ppm"))).over(wAll), lit(0L)))
      // Σ_b |ppm_s − ppm_0| over b ∈ s ∪ base, folded as
      // Σ_{b∈s}(|ppm_s − ppm_0| − ppm_0) + Σ_{b∈base} ppm_0 so only
      // the segment's own buckets need rows
      .groupBy("seg")
      .agg(max(col("n_rows")).as("n_rows"),
        (sum(abs(col("ppm") - col("base_ppm")) - col("base_ppm"))
          + max(col("t0"))).as("l1_ppm"))
      .withColumn("drift_flag", col("l1_ppm") > maxL1Ppm)
      .select(col("seg").cast("bigint").as("seg"), col("n_rows"),
        col("l1_ppm"), col("drift_flag"))
  }

  /** [[retrainIvf]]'s sign-LSH twin — the remediation once
    * [[driftAuditLsh]] flags: planes are not data-trained, so
    * "retrain" means re-deriving the geometry (a new `seed`, or a new
    * `numPlanes`/`dim` for a migrated embedder) and re-bucketing the
    * SURVIVORS (read through the tombstone filter — a deleted id
    * never re-enters) under the new planes, published as one fenced
    * full-tree swap. Self-contained because `bucketed` stores full
    * vectors (the same layout choice that makes [[retrainIvf]]
    * self-contained). Answer-equivalent to a fresh
    * [[buildAndWriteLsh]] over the retained corpus with the same
    * (numPlanes, dim, seed) — AnnIndexSpec pins ≡ — and the
    * post-retrain [[driftAuditLsh]] baseline re-establishes: one
    * seg 0, l1 = 0, flag off. Tombstones GC with the flip; a segment
    * published after the survivor read refuses the publish (typed
    * [[ConcurrentStoreWriteException]], built tree preserved). */
  def retrainLsh(
      spark: SparkSession,
      dir: String,
      numPlanes: Int,
      dim: Int = 64,
      seed: Long = 42L): LoadedLsh = {
    Segments.publishTree(spark, dir, fenced = true)(lshTree(spark,
      graft.functions.SimilarityFunctions.hyperplanes(numPlanes, dim, seed),
      readLsh(spark, dir).bucketed, "id", "vec"))
    readLsh(spark, dir)
  }

  /** Batch ANN over a loaded LSH index — delegates to the
    * pre-bucketed scorer, bit-identical to the inline path. */
  def queryBatchLsh(
      index: LoadedLsh,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probeHamming: Int = 2): DataFrame =
    Similarity.lshBatchCore(queries, index.bucketed,
      queryIdCol, queryVecCol, k, index.planes, probeHamming)
}
