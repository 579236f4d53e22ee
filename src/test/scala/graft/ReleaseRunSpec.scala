package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Release
import graft.plans.ReleaseRun

/** The durable release run's three contracts
  * ([[graft.plans.ReleaseRun]] over the shared
  * [[graft.operators.Release.pipeline]]):
  *
  *   1. EQUIVALENCE — the durable (parquet-stage-table) form produces
  *      row-for-row the artifact the in-query (localCheckpoint) form
  *      produces (the driver's oracle additionally pins both to the
  *      same DuckDB pyramid at sf0.01);
  *   2. CRASH-AT-EVERY-STAGE RECOVERY — a run killed after ANY stage
  *      boundary resumes from exactly there: the drill halts after
  *      each of the 16 boundaries in turn and proves each resume
  *      computes ONLY the next stage (completed stages — including
  *      their driver-side training loops — are never replayed);
  *   3. IDEMPOTENT RE-RUN — re-running a finished run evaluates zero
  *      stage builders and re-verifies the identical artifact; a
  *      crash MID-stage (staging written, publish rename never ran)
  *      is invisible and the stage recomputes on resume.
  */
class ReleaseRunSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def rawInput = graft.queries.ExtensionQueries.releaseRawInput(spark, sfDir)
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def transcripts(keep: DataFrame): DataFrame =
    graft.queries.ExtensionQueries.sftTranscriptsOf(spark, keep)
  // memoized: the frozen tokenizer is per-corpus, train it once
  private lazy val merges = graft.queries.ExtensionQueries.releaseMerges(spark, sfDir)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/run"
  private def rows(df: DataFrame): Set[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def runWith(
      outDir: String,
      stopAfter: Option[String] = None): (Option[DataFrame], Seq[String]) = {
    val st = new graft.operators.Stage.Durable(spark, outDir, stopAfter)
    val r = ReleaseRun.runWithStager(spark, rawInput, emb, transcripts _,
      () => merges, outDir, st)
    (r, st.evaluated.toSeq)
  }

  test("durable run ≡ in-query form; crash at EVERY stage boundary " +
    "resumes with exactly one stage recomputed; finished runs re-run " +
    "idempotently with zero recomputation") {
    // the in-query reference artifact (the same shared pipeline under
    // LocalStager, with the terminal digest-verified write)
    val inQuery = rows(graft.SparkEntry.queries("q_pipeline_release")(spark, sfDir))

    // ---- the crash drill: halt after each boundary in turn over ONE
    // run dir — iteration k resumes past stages 0..k-1 (their tables
    // exist) and must compute ONLY stage k before halting
    val outDir = tmp("graft_release_drill")
    Release.stageNames.foreach { stage =>
      val (halted, evaluated) = runWith(outDir, stopAfter = Some(stage))
      assert(halted.isEmpty, s"stopAfter=$stage must halt the run")
      assert(evaluated == Seq(stage),
        s"resume after a crash at $stage must compute only $stage, " +
          s"not $evaluated")
    }
    // all 16 boundaries materialized; the final resume runs only the
    // terminal digest-verified write
    val (done, evaluatedFinal) = runWith(outDir)
    assert(evaluatedFinal.isEmpty,
      s"the completing resume must recompute nothing: $evaluatedFinal")
    val artifact = rows(done.get)
    assert(artifact == inQuery,
      "durable and in-query forms must produce the identical artifact")

    // ---- idempotent re-run: zero builders, identical artifact
    val (again, evaluatedAgain) = runWith(outDir)
    assert(evaluatedAgain.isEmpty)
    assert(rows(again.get) == artifact)

    // ---- and the drill proved the full-run stage sequence: the same
    // pipeline from scratch evaluates exactly stageNames in order
    val fresh = tmp("graft_release_fresh")
    val (freshDone, freshEvaluated) = runWith(fresh)
    assert(freshEvaluated == Release.stageNames,
      s"a fresh run must materialize exactly the declared stages: $freshEvaluated")
    assert(rows(freshDone.get) == artifact)
  }

  test("resuming against a CHANGED corpus or config refuses typed — " +
    "never a silent mixture of frozen stage tables and fresh inputs") {
    val outDir = tmp("graft_release_fp")
    runWith(outDir, stopAfter = Some("s2_exact"))
    // corpus changed between the crash and the resume: the stage
    // tables froze the original input, but the live side inputs
    // (embeddings joins, tokenizer training) would re-read the new
    // corpus — the resume must refuse, not bless the mixture
    val changed = rawInput.filter(org.apache.spark.sql.functions
      .col("doc_id") % 2 === 0)
    val st = new graft.operators.Stage.Durable(spark, outDir, None)
    val e = intercept[IllegalArgumentException] {
      ReleaseRun.runWithStager(spark, changed, emb, transcripts _,
        () => merges, outDir, st)
    }
    assert(e.getMessage.contains("refusing to resume"))
    assert(st.evaluated.isEmpty, "the refusal must precede any stage work")
    // a config change refuses the same way
    val st2 = new graft.operators.Stage.Durable(spark, outDir, None)
    intercept[IllegalArgumentException] {
      ReleaseRun.runWithStager(spark, rawInput, emb, transcripts _,
        () => merges, outDir, st2, graft.plans.ReleaseConfig(
          pack = graft.plans.ReleaseConfig.Pack(capacity = 256)))
    }
    // the true resume still completes
    val (done, _) = runWith(outDir)
    assert(done.nonEmpty)
  }

  test("a crash MID-stage (staging written, publish never ran) is " +
    "invisible to the resume, which recomputes that stage") {
    val outDir = tmp("graft_release_midcrash")
    val (_, _) = runWith(outDir, stopAfter = Some("s2_exact"))
    // the mid-stage crash: a staging tree for the NEXT stage exists
    // but its publish rename never ran — resumes must ignore it
    val junk = new java.io.File(s"$outDir/_staging/s3_nd_rejects-crashed")
    assert(junk.mkdirs())
    java.nio.file.Files.write(junk.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    val (done, evaluated) = runWith(outDir)
    assert(evaluated.head == "s3_nd_rejects",
      s"the crashed stage must recompute first on resume: $evaluated")
    assert(evaluated == Release.stageNames.drop(3),
      s"resume must run exactly the remaining stages: $evaluated")
    // equivalence with the in-query form again, through the crash
    assert(rows(done.get) ==
      rows(graft.SparkEntry.queries("q_pipeline_release")(spark, sfDir)))
  }
}
