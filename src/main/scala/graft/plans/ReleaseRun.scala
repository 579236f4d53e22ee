package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Release, ReleaseHalted, Stage}

/** The DURABLE, RESUMABLE form of the release pipeline
  * ([[graft.operators.Release.pipeline]]): every stage boundary is a
  * [[Stage.Durable]] cut — a real parquet table under
  * `<outDir>/stages/<name>`, published with one atomic rename — so
  *
  *   - a run that dies (executor loss, OOM, preemption) RESUMES from
  *     its last completed stage: the Durable policy skips the builder
  *     thunk of any stage whose table already exists — including the
  *     driver-side loops (BPE training, k-means, pointer-doubling
  *     connected components) that run inside a thunk;
  *   - a finished run RE-RUNS idempotently: every stage skips, only
  *     the terminal digest verification re-executes (an integrity
  *     re-check, not a recompute);
  *   - the stage tables themselves are the queryable audit surface a
  *     real 100 TB release keeps (what survived stage N, and why the
  *     rest left — the ledger's provenance in durable form).
  *
  * The terminal artifact goes through the
  * [[graft.sources.ParquetDirIO]] staged write plus the
  * [[graft.operators.Reconcile.assertClean]] digest gate, exactly
  * like the in-query form. A run is one [[Stage.scope]]: it returns a
  * parquet scan, so no block it cut outlives it.
  *
  * The in-query twin (`q_pipeline_release`) and this runner execute
  * the SAME [[Release.pipeline]] function, and the catalog gates both
  * under the same DuckDB CTE-pyramid oracle (`q_pipeline_release` /
  * `q_pipeline_release_run`) — the two forms are pinned equal.
  */
object ReleaseRun {

  /** Execute (or resume) a durable release run. Returns the
    * digest-verified artifact as a consumer reads it, or None when
    * `stopAfter` halted the run mid-pipeline (the crash simulation).
    *
    * @param rawInput   (doc_id, source, raw) crawl rows
    * @param embeddings (vec_id, embedding) side table
    * @param outDir     the run directory: stage tables under
    *                   `stages/`, the artifact under `release.parquet`
    * @param stopAfter  halt after materializing the named stage —
    *                   spec-only crash injection */
  def run(
      spark: SparkSession,
      rawInput: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      outDir: String,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig(),
      stopAfter: Option[String] = None): Option[DataFrame] =
    runWithStager(spark, rawInput, embeddings, transcriptsOf, merges,
      outDir, new Stage.Durable(spark, outDir, stopAfter), cfg)

  /** A resumed run must be resuming THE SAME run: the stage tables
    * freeze the original input, but the live side inputs (the
    * embeddings joins, the tokenizer training) re-read the source on
    * resume — resuming yesterday's run dir against today's corpus
    * would silently mix the two and the terminal digest gate (which
    * checks write-vs-read consistency, not freshness) would bless the
    * mixture. So the first run records, and every resume re-verifies
    * against the LIVE inputs: a CONTENT digest of the crawl rows
    * (count + id sum + an xxhash64 fold over (source, raw) — a
    * re-crawl that keeps ids but changes text must refuse, not just
    * an id-set change), the same for the embeddings side table
    * (swapped vectors would silently re-score stage 5), and the
    * config knobs. Two aggregate scans, the price of refusing the
    * worst silent failure a resumable pipeline has. Mismatch refuses
    * typed: use a fresh run dir. */
  private def verifyRunFingerprint(
      spark: SparkSession,
      rawInput: DataFrame,
      embeddings: DataFrame,
      outDir: String,
      cfg: graft.plans.ReleaseConfig): Unit = {
    import org.apache.spark.sql.functions.{col, count, sum, xxhash64}
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$outDir/run_fingerprint")
    def digest(df: DataFrame, idC: String, contentHash: org.apache.spark.sql.Column): String = {
      // the hash fold sums as decimal(38,0): a long sum of xxhash64
      // values overflows almost immediately under ANSI arithmetic
      val r = df.agg(count(col(idC)).as("n"), sum(col(idC)).as("s"),
        sum(contentHash.cast("decimal(38,0)")).as("h")).head()
      def v(i: Int) = if (r.isNullAt(i)) "0" else r.get(i).toString
      s"${r.getLong(0)}:${v(1)}:${v(2)}"
    }
    val now = digest(rawInput, "doc_id",
      xxhash64(col("source"), col("raw"))) + ":" +
      digest(embeddings, "vec_id",
        xxhash64(col("vec_id"), col("embedding"))) +
      s":${cfg.canonical}"
    // the first run records; a concurrent first run that won is compared
    if (graft.sources.Publish.marker(fs, p,
      now.getBytes(java.nio.charset.StandardCharsets.UTF_8))) return
    val recorded = graft.sources.Segments.readText(fs, p).trim
    require(recorded == now,
      s"ReleaseRun: refusing to resume $outDir — the live input/config " +
        s"fingerprint ($now) does not match the run's recorded one " +
        s"($recorded). Resuming would silently mix the original run's " +
        "frozen stage tables with a different corpus; use a fresh run " +
        "directory (or --fresh=true).")
  }

  private[graft] def runWithStager(
      spark: SparkSession,
      rawInput: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      outDir: String,
      st: Stage.Durable,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig()): Option[DataFrame] =
    Stage.scope {
      verifyRunFingerprint(spark, rawInput, embeddings, outDir, cfg)
      // sweep staging trees a CRASHED run abandoned (subtree untouched
      // for an hour — a live concurrent runner's in-flight staging is
      // never touched); without this, repeated crash/resume cycles
      // accumulate orphan full-stage-size parquet trees indefinitely
      graft.sources.Segments.sweepStaleChildren(
        org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(s"$outDir/_staging"))
      val parts =
        try Some(Release.pipeline(spark, rawInput, embeddings, transcriptsOf,
          merges, new Release.Stager(st), cfg))
        catch { case _: ReleaseHalted => None }
      // stopAfter on the FINAL stage halts before the terminal write too
      parts.filterNot(_ => st.haltedNow).map { p =>
        // terminal: the digest-verified artifact, persisted once for
        // the write + checksum + read-back triple (its inputs are
        // stage-table scans, so the persist is parts-sized, never
        // corpus lineage)
        val out = Stage("release artifact", Stage.Persist())(p)
        val io = new graft.sources.ParquetDirIO(spark, outDir, outDir)
        io.writeTarget("release", out)
        graft.operators.Reconcile.assertClean(io, Map("release" -> out))
        io.readTarget("release")
      }
    }
}
