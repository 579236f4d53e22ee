package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions
import graft.operators.{Reconcile, Release}
import graft.plans.{IncrementalRelease, ReleaseRun}
import graft.queries.ExtensionQueries
import graft.sources.ParquetDirIO
import scala.collection.mutable

/** Shared pieces of the two release workloads: the generated corpus,
  * the program's fixture builders over it, and artifact checks. */
abstract class ReleaseBase(ctx: Ctx) extends Workload {
  import ctx.spark

  protected val src: String = ctx.dir("src")
  protected val digests = mutable.Map.empty[Int, String]
  protected val problems = mutable.Map.empty[Int, Seq[String]]

  protected def generate(): Unit = ctx.span("setup.generate") {
    Gen.write(Gen.documents(spark, ctx.seed, ctx.sizes.docs), src, "documents")
    Gen.write(Gen.embeddings(spark, ctx.seed, ctx.sizes.embeddings), src, "embeddings")
  }

  protected def rawInput: DataFrame = ExtensionQueries.releaseRawInput(spark, src)
  protected def embeddings: DataFrame = spark.read.parquet(s"$src/embeddings.parquet")
  protected def transcriptsOf(keep: DataFrame): DataFrame =
    ExtensionQueries.sftTranscriptsOf(spark, keep)
  /** The release tokenizer's training, timed as the BPE layer. */
  protected def merges(): Seq[(String, String)] =
    ctx.span("operators.bpe.train")(ExtensionQueries.releaseMerges(spark, src))

  /** The artifact's reconcile tie-out must balance exactly. */
  protected def tieOut(art: DataFrame): Option[String] = {
    val v = art.filter(col("part") === "reconcile").select("v").collect().map(_.getString(0))
    v match {
      case Array(s) =>
        val Array(nIn, nAcc, sIn, sAcc) = s.split(":")
        if (nIn == nAcc && sIn == sAcc) None else Some(s"reconcile tie-out unbalanced: $s")
      case other => Some(s"expected one reconcile row, got ${other.length}")
    }
  }

  def failures(it: Int): Seq[String] =
    problems.getOrElse(it, Nil) ++ (digests.get(it) match {
      case Some(d) if d == reference => Nil
      case Some(d) => Seq(s"artifact digest $d != reference $reference")
      case None => Seq("no artifact recorded")
    })

  /** Digest of the artifact an independent path produces from the
    * same inputs; built in setup, where it doubles as the warm-up. */
  protected var reference = ""

  /** Stage/phase timings from the program's own job labels, for the
    * subtree of `root`: each label runs from its first job's start to
    * the next label's first job (the last one to `endMs`). */
  protected def labelWalls(root: Span, labels: Seq[String], endMs: Long): Map[String, Double] = {
    val by = ctx.tracer.byDescIn(root)
    val starts = labels.flatMap(l => by.get(l).filter(_.jobs > 0).map(c => l -> c.firstMs))
      .sortBy(_._2)
    starts.zipWithIndex.map { case ((l, t), i) =>
      val next = if (i + 1 < starts.size) starts(i + 1)._2 else endMs
      l -> (next - t) / 1e3
    }.toMap
  }
}

/** `release_day0`: a fresh durable `ReleaseRun.run` into an empty run
  * directory, raw crawl to the digest-verified artifact. */
final class ReleaseDay0(ctx: Ctx) extends ReleaseBase(ctx) {
  import ctx.spark

  private def runDir(it: Int) = ctx.dir(s"run-$it")
  private val Label = "perfbench release_run"
  private var inputRows = 0L

  def setup(): Unit = {
    generate()
    inputRows = rawInput.count()
    Main.log("inputs generated")
    // the in-query form of the same pipeline (localCheckpoint stage
    // cuts, no stage tables); the reference doubles as the warm-up
    reference = ctx.span("setup.reference")(ctx.digest(Release.pipeline(spark, rawInput,
      embeddings, transcriptsOf, () => ExtensionQueries.releaseMerges(spark, src),
      new Release.LocalStager)))
  }

  private def runOnce(dir: String): DataFrame = {
    // the label covers the fingerprint and terminal jobs, which run
    // outside the program's own per-stage labels
    spark.sparkContext.setJobDescription(Label)
    try ctx.span("plans.release_run.run")(ReleaseRun.run(spark, rawInput, embeddings,
      transcriptsOf, () => merges(), dir).get)
    finally spark.sparkContext.setJobDescription(null)
  }

  def reset(it: Int): Unit = ctx.delete(runDir(it - 1))

  def minUnits: Int = 1

  def unit(it: Int): Map[String, Double] = { runOnce(runDir(it)); Map.empty }

  def record(it: Int, corrupt: Boolean): Unit = {
    val path = s"${runDir(it)}/release.parquet"
    if (corrupt)
      spark.read.parquet(path).limit(1).write.mode("append").parquet(path)
    val art = spark.read.parquet(path)
    digests(it) = ctx.digest(art)
    problems(it) = tieOut(art).toSeq
  }

  def rows: Long = inputRows

  def layerMetrics(it: Int): Map[String, Double] = {
    val run = ctx.tracer.spansOf(it, "plans.release_run.run").head
    val by = ctx.tracer.byDescIn(run)
    val stageLabels = Release.stageNames.map(s => s"release stage $s")
    val lastStageEnd = stageLabels.flatMap(by.get).map(_.lastMs).maxOption.getOrElse(run.endMs)
    val walls = labelWalls(run, stageLabels, lastStageEnd)
    val firstStage = stageLabels.flatMap(by.get).map(_.firstMs).minOption.getOrElse(run.startMs)
    val (files, bytes) = ctx.treeSize(runDir(it))
    val runIds = ctx.tracer.subtree(run).map(_.id).toSet
    val fingerprintJobs = ctx.tracer.jobStarts.count { case (sid, d, t) =>
      runIds(sid) && d == Label && t < firstStage }
    val stageJobs = stageLabels.flatMap(by.get).map(_.jobs).sum
    Release.stageNames.flatMap { s =>
      val l = s"release stage $s"
      Seq(s"operators.release.${s}_s" -> walls.getOrElse(l, 0.0),
        s"operators.release.${s}_cpu_s" -> by.get(l).map(_.cpuNs / 1e9).getOrElse(0.0))
    }.toMap ++ Map(
      "plans.release_run.fingerprint_s" -> (firstStage - run.startMs) / 1e3,
      "operators.release.terminal_s" -> (run.endMs - lastStageEnd) / 1e3,
      "operators.bpe.train_s" -> ctx.tracer.spansOf(it, "operators.bpe.train").map(_.durS).sum,
      "plans.s" -> (firstStage - run.startMs) / 1e3,
      "plans.jobs" -> fingerprintJobs.toDouble,
      "operators.s" -> (lastStageEnd - firstStage) / 1e3,
      "operators.jobs" -> stageJobs.toDouble,
      "sources.write_s" -> (run.endMs - lastStageEnd) / 1e3,
      "sources.output_files" -> files.toDouble,
      "sources.output_bytes" -> bytes.toDouble,
      "sources.stage_bytes" -> ctx.treeSize(s"${runDir(it)}/stages")._2.toDouble)
  }
}

/** `release_incr`: three micro-batches through `runDeltas` against the
  * bootstrapped day-0 state, the artifact, then forget + compaction. */
final class ReleaseIncr(ctx: Ctx) extends ReleaseBase(ctx) {
  import ctx.spark

  private val day0 = ctx.dir("day0")
  private val state0 = ctx.dir("state0")
  private def state(it: Int) = ctx.dir(s"state-$it")
  private def out(it: Int) = ctx.dir(s"out-$it")
  /** Doc-keyed state tables: the ones forget tombstones. */
  private val docKeyed = Seq("corpus_texts", "holdout_texts", "conv_texts",
    "nd_reps", "conv_reps", "packed", "ledger")
  private var batchRows = 0L
  private var batchBytes = 0L
  private var bootstrapS = 0.0
  private val sizes = mutable.Map.empty[Int, Map[String, Double]]

  private def batch(b: Int): DataFrame = spark.read.parquet(ctx.dir(s"batch$b.parquet"))
  private def forgetIds: DataFrame = spark.read.parquet(ctx.dir("forget.parquet"))

  def setup(): Unit = {
    generate()
    // the third crawl, split into ascending-id thirds (monotone-id fence).
    // Its +10M/+11M chain rows are prefixes of a day-0 doc; when crawl 2
    // already holds a doubled-prefix quote of that doc, the chain links the
    // quote into the doc's near-dup cluster and a from-scratch run retracts
    // the quote's day-0 ledger entry. The equality contract excludes such
    // batches (NO RETROACTION), so those rows are left out.
    val d = col("doc_id") % 1000000L
    val quoted = shiftrightunsigned(HashExpressions.mix64(d), 1) % 100 >= 90 &&
      d % 2 === 0 && d % 41 =!= 0
    val crawl = ExtensionQueries.crawl3RawBatch(spark, src)
      .filter(!(col("doc_id") >= 10000000L && quoted)).localCheckpoint()
    val ids = crawl.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cuts = Seq(ids.length / 3, 2 * ids.length / 3).map(ids(_))
    val bounds = Seq(Long.MinValue) ++ cuts ++ Seq(Long.MaxValue)
    (1 to 3).foreach { b =>
      crawl.filter(col("doc_id") >= bounds(b - 1) && col("doc_id") < bounds(b))
        .coalesce(1).write.mode("overwrite").parquet(ctx.dir(s"batch$b.parquet"))
    }
    crawl.unpersist()
    batchRows = ids.length
    batchBytes = (1 to 3).map(b => ctx.treeSize(ctx.dir(s"batch$b.parquet"))._2).sum
    // a seeded 2% sample of every id the release has seen
    rawInput.select("doc_id").union(crawl3Ids)
      .filter(pmod(xxhash64(lit(ctx.seed), col("doc_id")), lit(50)) === 0)
      .coalesce(1).write.mode("overwrite").parquet(ctx.dir("forget.parquet"))
    lazy val m = merges()
    ReleaseRun.run(spark, rawInput, embeddings, transcriptsOf, () => m, day0).get
    val t = System.nanoTime()
    ctx.span("plans.incremental.bootstrap")(IncrementalRelease.bootstrap(spark, day0, state0))
    bootstrapS = (System.nanoTime() - t) / 1e9
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // a from-scratch in-query pipeline over day-0 ∪ batches 1-3: the
    // incremental equality contract
    val union = (1 to 3).map(batch).foldLeft(rawInput)(_ unionByName _)
    reference = ctx.span("setup.reference")(ctx.digest(Release.pipeline(spark, union,
      embeddings, transcriptsOf, () => ExtensionQueries.releaseMerges(spark, src),
      new Release.LocalStager)))
  }

  private def crawl3Ids: DataFrame =
    (1 to 3).map(batch).map(_.select("doc_id")).reduce(_ union _)

  override def setupLayerMetrics: Map[String, Double] =
    Map("plans.incremental.bootstrap_s" -> bootstrapS)

  def minUnits: Int = 1
  /** One untraced and one traced unit: three would not fit in 175 s. */
  override def traceUnits: Int = 2

  def reset(it: Int): Unit = {
    ctx.delete(state(it - 1))
    ctx.delete(out(it - 1))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(state0), new java.io.File(state(it)))
  }

  def unit(it: Int): Map[String, Double] = {
    val st = state(it)
    lazy val m = merges()
    val before = if (ctx.tracer.isEnabled) ctx.treeSize(st)._2 else 0L
    val batchS = (1 to 3).map { b =>
      val t = System.nanoTime()
      ctx.span("plans.incremental.run_deltas")(IncrementalRelease.runDeltas(spark,
        batch(b), embeddings, transcriptsOf, () => m, st, batchId = Some(b.toLong)))
      (System.nanoTime() - t) / 1e9
    }
    val afterBatches = if (ctx.tracer.isEnabled) ctx.treeSize(st)._2 else 0L
    val t1 = System.nanoTime()
    ctx.span("plans.incremental.artifact") {
      val art = IncrementalRelease.artifact(spark, st)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val io = new ParquetDirIO(spark, out(it), out(it))
        io.writeTarget("release", art)
        Reconcile.assertClean(io, Map("release" -> art))
      } finally art.unpersist()
    }
    val t2 = System.nanoTime()
    ctx.span("plans.incremental.forget")(IncrementalRelease.forget(spark, st, forgetIds))
    ctx.span("plans.incremental.compact")(
      docKeyed.foreach(IncrementalRelease.compactState(spark, st, _)))
    val t3 = System.nanoTime()
    if (ctx.tracer.isEnabled) {
      val (files, bytes) = ctx.treeSize(st)
      sizes(it) = Map("sources.state_files" -> files.toDouble,
        "sources.state_bytes" -> bytes.toDouble,
        "sources.output_files" -> files.toDouble,
        "sources.output_bytes" -> bytes.toDouble,
        "sources.write_amp" -> (afterBatches - before).toDouble / batchBytes)
    }
    Map("batch_s" -> ctx.median(batchS), "artifact_s" -> (t2 - t1) / 1e9,
      "forget_s" -> (t3 - t2) / 1e9)
  }

  def record(it: Int, corrupt: Boolean): Unit = {
    val path = s"${out(it)}/release.parquet"
    if (corrupt)
      spark.read.parquet(path).limit(1).write.mode("append").parquet(path)
    digests(it) = ctx.digest(spark.read.parquet(path))
    // after forget: the forgotten ids are gone and the tie-out holds
    val after = IncrementalRelease.artifact(spark, state(it))
    val leftover = after.filter(col("part").isin("pack", "ledger"))
      .select(expr("try_cast(k AS BIGINT)").as("doc_id"))
      .join(forgetIds, Seq("doc_id"), "left_semi").count()
    problems(it) = tieOut(after).toSeq ++
      (if (leftover == 0) Nil else Seq(s"$leftover forgotten ids still in the artifact"))
  }

  def rows: Long = batchRows

  def layerMetrics(it: Int): Map[String, Double] = {
    val tr = ctx.tracer
    val batches = tr.spansOf(it, "plans.incremental.run_deltas")
    val labels = Metrics.incrPhases.map(_._2)
    val perBatch = batches.map(b => (labelWalls(b, labels, b.endMs), tr.byDescIn(b)))
    // the first phase also owns the driver work before its first job
    val lead = batches.zip(perBatch).map { case (b, (_, by)) =>
      labels.flatMap(by.get).filter(_.jobs > 0).map(_.firstMs).minOption
        .map(f => (f - b.startMs) / 1e3).getOrElse(0.0)
    }.sum
    val phases = Metrics.incrPhases.flatMap { case (p, l) =>
      val s = perBatch.map(_._1.getOrElse(l, 0.0)).sum + (if (p == "incr1_ingest") lead else 0.0)
      Seq(s"plans.incremental.${p}_s" -> s,
        s"plans.incremental.${p}_jobs" -> perBatch.map(_._2.get(l).map(_.jobs).getOrElse(0L)).sum.toDouble)
    }
    def dur(n: String) = tr.spansOf(it, n).map(_.durS).sum
    def jobs(n: String) = tr.spansOf(it, n).map(tr.totals(_).jobs).sum.toDouble
    val planSpans = Seq("plans.incremental.run_deltas", "plans.incremental.forget",
      "plans.incremental.compact")
    phases.toMap ++ sizes.getOrElse(it, Map.empty) ++ Map(
      "plans.s" -> planSpans.map(dur).sum, "plans.jobs" -> planSpans.map(jobs).sum,
      "operators.s" -> dur("operators.bpe.train"), "operators.jobs" -> jobs("operators.bpe.train"),
      "sources.write_s" -> dur("plans.incremental.artifact"),
      "plans.incremental.batch_s" -> ctx.median(batches.map(_.durS)),
      "plans.incremental.artifact_s" -> dur("plans.incremental.artifact"),
      "plans.incremental.forget_s" -> dur("plans.incremental.forget"),
      "plans.incremental.compact_s" -> dur("plans.incremental.compact"),
      "operators.bpe.train_s" -> dur("operators.bpe.train"),
      "sources.compact_rewrite_bytes" -> tr.spansOf(it, "plans.incremental.compact")
        .map(s => tr.totals(s).output.toDouble).sum)
  }
}
