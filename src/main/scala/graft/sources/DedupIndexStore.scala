package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Persisted standing indexes for INCREMENTAL dedup, with the full
  * [[Segments]] tombstone right-to-be-forgotten discipline the ANN
  * index already carries ([[AnnIndex.deleteIds]]) — closing the gap
  * where a GDPR delete removed a document from the vector index but
  * left its fingerprints in the text-dedup world. Two families, each
  * under its own directory:
  *
  * MinHash corpus index (`buildMinhash` / `appendMinhash` /
  * `readMinhash`):
  *   - `params`        (shingle_n INT, num_hashes INT, bands INT) —
  *     one row, the frozen "model": an append or probe under different
  *     banding would silently never collide, so the parameters persist
  *     with the index and appends re-read them instead of trusting the
  *     caller.
  *   - `bands/seg=N`   ([[graft.operators.Dedup.corpusIndex]] rows:
  *     id, fp, band_idx, band_hash) — the corpus-sized table,
  *     doc-keyed, so deletion is an id anti-join.
  *   - `tombstones/seg=N` (id) — deletion-sized.
  *
  * Line document-frequency index (`buildLines` / `appendLines` /
  * `readLines`):
  *   - `params`        (delim STRING) — one row.
  *   - `lines/seg=N`   ([[graft.operators.Dedup.lineProvenance]]
  *     rows: id, line_hash — one row per distinct (document, line)).
  *     The aggregated (line_hash, line_df) view the probe operators
  *     consume is recovered at read time AFTER the tombstone
  *     anti-join; storing the aggregate instead would make per-
  *     document subtraction impossible (counters cannot subtract —
  *     the same reason the KMV/CMS/manifest sketches forget by
  *     rebuilding from the retained corpus:
  *     [[graft.operators.Profile.kmvRebuild]] /
  *     [[graft.operators.Profile.cmsRebuild]] /
  *     [[graft.operators.Profile.manifestStatesRebuild]]).
  *   - `tombstones/seg=N` (id).
  *
  * Contract (DedupIndexStoreSpec pins it, generalizing the
  * AnnIndexSpec four-phase tombstone contract): a tombstone
  * suppresses its document across ALL segments including segments
  * appended AFTER the delete; post-delete reads answer exactly what a
  * never-ingested corpus would answer; [[compact]] (either family)
  * physically drops the rows AND clears the tombstone table in one
  * atomic flip (the new tree never carries tombstones); re-ingesting
  * a previously deleted id requires that compaction first.
  *
  * Scale posture: builds are one corpus scan (signature projection,
  * no join) + one write; appends cost O(batch); deletes cost
  * O(deletion); reads are partition-discovered parquet scans with a
  * broadcast-sized tombstone anti-join; only compaction rewrites the
  * corpus-sized table. At 100 TB write `bands` bucketed by
  * (band_idx, band_hash) and `lines` by line_hash (TableIO
  * .writeBucketed) to make the daily probe join shuffle-free on the
  * corpus side — the segment/tombstone discipline is unchanged.
  */
object DedupIndexStore {

  // ------------------------------------------------------- minhash

  /** Build and persist the MinHash corpus index (staged swap — a
    * crash never leaves a half-index). Returns the loaded view. */
  def buildMinhash(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    import spark.implicits._
    Segments.publishTree(spark, dir, fenced = false)(Segments.Tree(
      Seq("params" -> Seq((shingleN, numHashes, bands))
        .toDF("shingle_n", "num_hashes", "bands")),
      "bands", minhashRows(corpus, idCol, textCol, (shingleN, numHashes, bands))))
    readMinhash(spark, dir)
  }

  /** The `bands` rows of `docs` under (shingle_n, num_hashes, bands). */
  private def minhashRows(
      docs: DataFrame, idCol: String, textCol: String,
      params: (Int, Int, Int)): DataFrame =
    Dedup.corpusIndex(docs, idCol, textCol, params._1, params._2, params._3)
      .withColumn("id", col("id").cast("long"))

  /** The frozen banding parameters a minhash index was built with. */
  def minhashParams(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"${Segments.resolve(spark, dir)}/params")
      .select("shingle_n", "num_hashes", "bands").head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Append a new batch's index rows as one segment, signatured under
    * the index's FROZEN params (re-read from disk — an append can
    * never band against a drifted model). O(batch). `at` is
    * [[Segments.publishSegment]]'s: `None` auto-numbers; `Some(id)`
    * is the idempotent streaming-append form — replaying the same
    * (batch, id) publish after a checkpoint restart is a no-op, so a
    * foreachBatch writer keyed by micro-batch id gets exactly-once
    * appends. Streaming writers offset their ids by
    * [[Segments.StreamSegBase]] (see
    * [[graft.streaming.StreamOps.minhashStoreStream]]) so they can
    * never collide with the build/append auto-numbered segments.
    * Returns true when this call published; [[readMinhash]] loads the
    * grown index. */
  def appendMinhash(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      at: Option[Long] = None): Boolean = {
    Segments.publishToStore(spark, dir, "bands",
      minhashRows(batch, idCol, textCol, minhashParams(spark, dir)), at)
  }

  /** Load the minhash index: union of published segments minus the
    * tombstone set — the exact [[graft.operators.Dedup.corpusIndex]]
    * shape [[graft.operators.Dedup.dedupAgainst]]'s `index` parameter
    * takes, so a query can never surface a deleted document's
    * fingerprint OR band bucket. */
  def readMinhash(spark: SparkSession, dir: String): DataFrame =
    readMinhash(spark, dir, excludeSeg = None)

  /** [[readMinhash]] with one segment EXCLUDED from the view — the
    * crash-replay read a replayed micro-batch needs: if a prior
    * attempt already published this batch's own segment
    * (`at = StreamSegBase + batchId`, [[appendMinhash]]) before
    * crashing, a replay probing the store must see the index exactly
    * as the first attempt did — WITHOUT the batch's own rows, or
    * every batch doc would collide with itself and the recomputation
    * would diverge from the original. The partition-discovered `seg`
    * column makes the exclusion a partition-pruned filter, not a
    * scan. */
  def readMinhash(
      spark: SparkSession, dir: String, excludeSeg: Option[Long]): DataFrame = {
    val root = Segments.resolve(spark, dir)
    val bands = spark.read.parquet(s"$root/bands")
    val kept = excludeSeg match {
      case Some(s) => bands.filter(col("seg") =!= s)
      case None => bands
    }
    Segments.minusTombstones(spark, root,
      kept.select("id", "fp", "band_idx", "band_hash"))
  }

  // ---------------------------------------------------------- lines

  /** Build and persist the line document-frequency index at the
    * forgettable (id, line_hash) provenance granularity. */
  def buildLines(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n"): DataFrame = {
    import spark.implicits._
    Segments.publishTree(spark, dir, fenced = false)(Segments.Tree(
      Seq("params" -> Seq(Tuple1(delim)).toDF("delim")),
      "lines", Dedup.lineProvenance(corpus, idCol, textCol, delim)))
    readLines(spark, dir)
  }

  /** The frozen line delimiter the index was built with. */
  def lineParams(spark: SparkSession, dir: String): String =
    spark.read.parquet(s"${Segments.resolve(spark, dir)}/params")
      .select("delim").head().getString(0)

  /** Append a batch's line provenance as one segment (delimiter
    * re-read from the index — never caller-supplied). O(batch); `at`
    * and the result as in [[appendMinhash]]. Exactness requires the
    * append-only contract: every document in exactly one stored
    * segment (re-ingesting an id without deleting it first would
    * double its df contribution, same as
    * [[graft.operators.Dedup.lineIndexMerge]]). */
  def appendLines(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      at: Option[Long] = None): Boolean =
    Segments.publishToStore(spark, dir, "lines",
      Dedup.lineProvenance(batch, idCol, textCol, lineParams(spark, dir)), at)

  /** Load the aggregated (line_hash, line_df) view — the exact
    * [[graft.operators.Dedup.lineIndex]] shape
    * [[graft.operators.Dedup.stripRepeatedLinesAgainst]] consumes —
    * computed AFTER the tombstone anti-join, so a deleted document's
    * lines stop counting toward boilerplate the moment the tombstone
    * publishes. The aggregate is one hash-keyed count with map-side
    * partials over 16-byte rows. */
  def readLines(spark: SparkSession, dir: String): DataFrame =
    readLineProvenance(spark, dir)
      .groupBy(col("line_hash"))
      .agg(count(lit(1)).as("line_df"))

  /** The raw post-tombstone (id, line_hash) provenance rows. */
  def readLineProvenance(spark: SparkSession, dir: String): DataFrame = {
    val root = Segments.resolve(spark, dir)
    Segments.minusTombstones(spark, root,
      spark.read.parquet(s"$root/lines").select("id", "line_hash"))
  }

  // ----------------------------------------------------- compaction

  /** Compact either family back to one segment
    * ([[Segments.compact]]): the corpus table is rewritten THROUGH the
    * tombstone filter — physical drop + tombstone GC in one atomic
    * flip — and the frozen `params` table is copied verbatim. Fenced
    * against concurrent writers: a segment or tombstone published
    * after the compaction's read refuses the flip (typed
    * [[ConcurrentStoreWriteException]], nothing lost) — re-run to
    * pick it up. Re-read with [[readMinhash]] / [[readLines]]. */
  def compact(spark: SparkSession, dir: String): Unit =
    Segments.compact(spark, dir, "id")

  /** Maintenance audit for a segmented store table — the
    * compaction-due trigger pairing [[AnnIndex.driftAudit]]'s model
    * staleness with STORAGE staleness: appends accumulate segments
    * (small files, widening scans) and deletes accumulate tombstones
    * (anti-join work on every read, forgotten rows still on disk —
    * at rest, a compliance clock). One row:
    * `(n_segments, n_docs_live, n_docs_tombstoned, tombstone_ppm,
    * compaction_due)` — due when segments exceed `maxSegments` OR the
    * tombstoned fraction exceeds `maxTombstonePpm` (exact integer
    * ppm). `table` is the corpus-sized child (`bands` / `lines` /
    * `assigned` / `coded` / `bucketed` — works for any
    * [[Segments]]-layout store).
    *
    * Scale posture: the segment count is a driver-side directory
    * listing (segment-cardinality); the doc counts are two distinct
    * aggregates over id columns (map-side partials); the two
    * single-row counts combine through a union + pivot fold, never a
    * 1×1 cross join (which would plan the CartesianProduct the
    * catalog gate bans). */
  def maintenanceAudit(
      spark: SparkSession,
      dir: String,
      table: String,
      maxSegments: Int = 16,
      maxTombstonePpm: Long = 100000L,
      idCol: String = "id"): DataFrame = {
    val root = Segments.resolve(spark, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def segsOf(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(path)) 0L
      else fs.listStatus(path)
        .count(st => Segments.SegDir.matches(st.getPath.getName)).toLong
    }
    val nSegments = segsOf(s"$root/$table")
    val hasTombstones = segsOf(s"$root/tombstones") > 0
    val live = Segments
      .minusTombstones(spark, root,
        spark.read.parquet(s"$root/$table")
          .select(col(idCol).as("id")), "id")
      .select(lit("live").as("__k"), col("id"))
    val tomb =
      if (!hasTombstones)
        live.filter(lit(false)).select(lit("tomb").as("__k"), col("id"))
      else spark.read.parquet(s"$root/tombstones")
        .select(lit("tomb").as("__k"), col("id"))
    live.unionByName(tomb)
      .groupBy()
      .agg(
        countDistinct(when(col("__k") === "live", col("id"))).as("n_docs_live"),
        countDistinct(when(col("__k") === "tomb", col("id"))).as("n_docs_tombstoned"))
      .withColumn("n_segments", lit(nSegments))
      .withColumn("tombstone_ppm",
        when(col("n_docs_live") + col("n_docs_tombstoned") > 0,
          expr("n_docs_tombstoned * 1000000 div (n_docs_live + n_docs_tombstoned)"))
          .otherwise(0L))
      .withColumn("compaction_due",
        col("n_segments") > maxSegments ||
          col("tombstone_ppm") > maxTombstonePpm)
      .select("n_segments", "n_docs_live", "n_docs_tombstoned",
        "tombstone_ppm", "compaction_due")
  }

  // --------------------------------------------------------- forget

  /** Tombstone DELETE — identical contract and cost for both
    * families: one atomic deletion-sized segment, the corpus table
    * untouched until the next compaction. */
  def deleteIds(
      spark: SparkSession,
      dir: String,
      ids: DataFrame,
      idCol: String): Unit =
    Segments.deleteIds(spark, dir, ids, idCol)
}
