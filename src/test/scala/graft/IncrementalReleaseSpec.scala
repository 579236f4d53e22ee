package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Stage
import graft.operators.Stage.Persist
import graft.plans.{IncrementalRelease, ReleaseRun}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The incremental release's composition contracts
  * ([[graft.plans.IncrementalRelease]] — the driver's oracle
  * additionally pins one incremental run row-identical to the
  * from-scratch DuckDB pyramid over day-0 ∪ batch at sf0.01):
  *
  *   1. CHAINING — two sequential incremental runs (today's batch,
  *      then tomorrow's) produce exactly the artifact of one combined
  *      run over both batches, AND exactly the from-scratch
  *      [[graft.operators.Release.pipeline]] over day-0 ∪ both — the
  *      standing stores carry the state correctly across runs (the
  *      second batch's dups against the FIRST batch are caught by
  *      store probes, not by any rescan);
  *   2. SEMANTIC PATH — a batch doc whose embedding matches a day-0
  *      holdout embedding is dropped by the persisted-ANN semantic
  *      probe, and the run still equals the from-scratch union
  *      (exercises the `holdout_ann` store with real rows — the
  *      catalog fixture keeps the batch embedding-free so the oracle
  *      centroids stay frozen).
  */
class IncrementalReleaseSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def rawInput = graft.queries.ExtensionQueries.releaseRawInput(spark, sfDir)
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def crawl3 = graft.queries.ExtensionQueries.crawl3RawBatch(spark, sfDir)
  private def transcripts(keep: DataFrame): DataFrame =
    graft.queries.ExtensionQueries.sftTranscriptsOf(spark, keep)
  private lazy val merges = graft.queries.ExtensionQueries.releaseMerges(spark, sfDir)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Set[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  // ONE day-0 durable run shared by every test (read-only after build)
  private lazy val day0Dir: String = {
    val dir = tmp("graft_incr_day0") + "/day0"
    ReleaseRun.run(spark, rawInput, emb, transcripts _, () => merges, dir)
    dir
  }

  private def freshState(): String = {
    val stateDir = tmp("graft_incr_state") + "/state"
    IncrementalRelease.bootstrap(spark, day0Dir, stateDir)
    stateDir
  }

  private def incr(stateDir: String, batch: DataFrame,
      embeddings: DataFrame = emb): DataFrame =
    IncrementalRelease.run(spark, batch, embeddings, transcripts _,
      () => merges, stateDir)

  test("two sequential incremental runs ≡ one combined run ≡ the " +
    "from-scratch pipeline over day-0 ∪ both batches") {
    // split today's crawl by id threshold — batches arrive id-ordered
    // (the monotone-id contract); the +6M..+9M half carries the
    // within-batch dup pairs, and its rev-text members cross-dup the
    // +5M fresh docs of the FIRST batch through the standing store
    val b1 = crawl3.filter(col("doc_id") < 6000000L).localCheckpoint()
    val b2 = crawl3.filter(col("doc_id") >= 6000000L).localCheckpoint()

    val seqState = freshState()
    incr(seqState, b1)
    val sequential = rows(incr(seqState, b2))

    val comboState = freshState()
    val combined = rows(incr(comboState, b1.unionByName(b2)))
    assert(sequential == combined,
      "two sequential incremental runs must equal one combined run")

    // and both must equal a full from-scratch release over the union
    val scratch = rows(graft.operators.Release.pipeline(spark,
      rawInput.unionByName(b1).unionByName(b2), emb, transcripts _,
      () => merges, new graft.operators.Release.LocalStager))
    assert(combined == scratch,
      "the incremental composition must reproduce a from-scratch " +
        "re-release over the union row for row")

    // the cross-batch dup really flowed through the store: at least
    // one second-batch doc was rejected against a first-batch doc
    val crossBatch = sequential.collect {
      case ("ledger", k, v) if k.toLong >= 6000000L &&
        v.matches(".*dup_of_5\\d{6}") => k
    }
    assert(crossBatch.nonEmpty,
      "a +6M batch-2 doc must dedup against a +5M batch-1 doc " +
        "through the standing index")

    // the CHAIN fired: a +11M doc (jaccard ≈ 0.45 to its day-0
    // target — below the near-dup cut) was rejected TRANSITIVELY
    // through its cross-matched +10M sibling, landing on a day-0 rep
    // — the combined-edge CC case (a cross-survivors-only within
    // pass would let it survive and the from-scratch equality above
    // would have caught the divergence)
    val chained = sequential.collect {
      case ("ledger", k, v) if k.toLong >= 11000000L &&
        v.startsWith("neardup:dup_of_") =>
        v.stripPrefix("neardup:dup_of_").toLong
    }
    assert(chained.nonEmpty && chained.forall(_ < 10000000L),
      s"a +11M chain doc must near-dup through its +10M sibling onto " +
        s"a day-0 rep; got $chained")
  }

  test("streamed crawl micro-batches keep the stores warm: " +
    "releaseStream over N batches + one artifact read ≡ the " +
    "from-scratch release on the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val state = freshState()
    val b1 = crawl3.filter(col("doc_id") < 6000000L).localCheckpoint()
    val b2 = crawl3.filter(col("doc_id") >= 6000000L).localCheckpoint()
    val ms = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamOps.releaseStream(
      ms.toDF().toDF("doc_id", "source", "raw"), emb, transcripts _,
      () => merges, state, tmp("graft_incr_ckpt"))
    def feed(b: DataFrame): Unit = {
      ms.addData(b.collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))))
      q.processAllAvailable()
    }
    try { feed(b1); feed(b2) } finally q.stop()
    val streamed = rows(graft.plans.IncrementalRelease.artifact(spark, state))
    val scratch = rows(graft.operators.Release.pipeline(spark,
      rawInput.unionByName(b1).unionByName(b2), emb, transcripts _,
      () => merges, new graft.operators.Release.LocalStager))
    assert(streamed == scratch,
      "the streamed store-warming composition must equal the " +
        "from-scratch batch release on the union")
    // each completed micro-batch left its replay marker
    assert(new java.io.File(s"$state/_released/batch=0").exists &&
      new java.io.File(s"$state/_released/batch=1").exists)
  }

  test("crash-replay is exactly-once: replaying a batch whose appends " +
    "partially landed (and then fully landed) is row-identical to an " +
    "uninterrupted run") {
    val b1 = crawl3.filter(col("doc_id") < 6000000L).localCheckpoint()
    val b2 = crawl3.filter(col("doc_id") >= 6000000L).localCheckpoint()
    def deltas(state: String, b: DataFrame, id: Long): Unit =
      IncrementalRelease.runDeltas(spark, b, emb, transcripts _,
        () => merges, state, batchId = Some(id))

    val ref = freshState()
    // a batch is one Stage.scope: it leaves no block it cut behind
    def persisted = spark.sparkContext.getPersistentRDDs.toMap
    val before = persisted.keySet
    deltas(ref, b1, 0L)
    val leaked = persisted -- before
    assert(leaked.isEmpty && before.subsetOf(persisted.keySet),
      s"runDeltas left persisted RDDs: ${leaked.values.map(_.name)}")
    deltas(ref, b2, 1L)
    val uninterrupted = rows(IncrementalRelease.artifact(spark, ref))

    val crashed = freshState()
    deltas(crashed, b1, 0L)
    // simulate the crash strictly mid-batch: a PREFIX of batch 0's
    // thirteen appends landed (the stores and early state tables),
    // the rest did not — drop the late ones and replay the batch
    // with the same micro-batch id, exactly what a Structured
    // Streaming checkpoint restart does
    val segId = 1000000000L // StreamSegBase + batchId 0
    Seq("packed", "pack_state", "ledger", "manifest_states", "reconcile",
        "id_watermark").foreach { t =>
      val p = new java.io.File(s"$crashed/$t/rows/seg=$segId")
      assert(p.exists, s"fixture drift: expected published segment $p")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(p)
    }
    deltas(crashed, b1, 0L) // the replay
    deltas(crashed, b2, 1L)
    // and a FULL replay (everything already landed) must no-op too
    deltas(crashed, b2, 1L)
    assert(rows(IncrementalRelease.artifact(spark, crashed)) == uninterrupted,
      "crash-replayed batches must produce an artifact row-identical " +
        "to an uninterrupted run — no double-appends, no lost deltas")
  }

  test("a re-run bootstrap into the same state dir no-ops on every " +
    "state table that already landed and lands the missing one") {
    val state = freshState()
    def counts = IncrementalRelease.StateTables.map { t =>
      t -> spark.read.parquet(
        s"${graft.sources.Segments.resolve(spark, s"$state/$t")}/rows").count()
    }.toMap
    val first = counts
    // a partially failed bootstrap: one state table never landed
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$state/ledger"))
    IncrementalRelease.bootstrap(spark, day0Dir, state)
    assert(counts == first,
      "a retried bootstrap must not append any state table twice")
    // twice more, with nothing missing: still no table grows
    IncrementalRelease.bootstrap(spark, day0Dir, state)
    assert(counts == first)
  }

  test("Stage.parallel surfaces every failure: the first throws, each " +
    "sibling failure rides on it as suppressed") {
    val e = intercept[IllegalStateException] {
      Stage.parallel(
        () => throw new IllegalStateException("a"),
        () => throw new IllegalStateException("b"),
        () => ())
    }
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) == Set("a", "b"))
  }

  test("Stage.parallel runs at most width tasks at once") {
    val active = new AtomicInteger
    val peak = new AtomicInteger
    val pairUp = new CountDownLatch(2)
    val out = Stage.parallel(2, (1 to 5).map(i => i -> { () =>
      peak.accumulateAndGet(active.incrementAndGet(), (a, b) => a max b)
      // the first two tasks can only pass this together
      pairUp.countDown()
      val met = pairUp.await(20, TimeUnit.SECONDS)
      active.decrementAndGet()
      met
    }), (_: Int) => Nil)
    assert(out == Seq.fill(5)(true), "two tasks must run side by side")
    assert(peak.get == 2, s"width 2, peak ${peak.get}")
  }

  test("Stage.parallel starts a task only after every task it waits for") {
    val log = new ConcurrentLinkedQueue[String]
    // d waits for b and c, which wait for a; e waits for nothing
    val deps = Map("a" -> Nil, "b" -> Seq("a"), "c" -> Seq("a"),
      "d" -> Seq("b", "c"), "e" -> Nil)
    val out = Stage.parallel(4, Seq("d", "c", "b", "a", "e").map(k => k -> { () =>
      log.add(s"+$k"); Thread.sleep(20); log.add(s"-$k"); k
    }), deps)
    assert(out == Seq("d", "c", "b", "a", "e"), "results come back in task order")
    val at = log.asScala.toSeq.zipWithIndex.toMap
    deps.foreach { case (k, ds) =>
      ds.foreach(d => assert(at(s"-$d") < at(s"+$k"), s"$k started before $d ended: $log"))
    }
    val cycle = intercept[IllegalArgumentException](
      Stage.parallel(2, Seq("x", "y").map(k => k -> (() => ())),
        Map("x" -> Seq("y"), "y" -> Seq("x"))))
    assert(cycle.getMessage.contains("wait on each other"))
  }

  test("Stage.parallel starts no task after a failure; running ones finish") {
    val failing = new CountDownLatch(1)
    val badThread = new java.util.concurrent.atomic.AtomicReference[Thread]
    val started = new ConcurrentLinkedQueue[String]
    def task(k: String)(body: => Unit): (String, () => Unit) =
      k -> { () => started.add(k); body }
    val e = intercept[IllegalStateException](Stage.parallel(2, Seq(
      task("bad") {
        badThread.set(Thread.currentThread)
        failing.countDown()
        throw new IllegalStateException("bad")
      },
      task("slow") {
        assert(failing.await(20, TimeUnit.SECONDS))
        // bad's thread ends after reporting, so the failure reaches the
        // schedule before this slot frees
        badThread.get.join(20000)
        started.add("slow done")
      },
      task("later")(())), (_: String) => Nil))
    assert(e.getMessage == "bad")
    assert(started.asScala.toSet == Set("bad", "slow", "slow done"), started)
    // one slot: the tasks run in order on the caller, the first failure ends it
    started.clear()
    intercept[IllegalStateException](Stage.parallel(1, Seq(
      task("bad")(throw new IllegalStateException("bad")), task("later")(())),
      (_: String) => Nil))
    assert(started.asScala.toSeq == Seq("bad"))
  }

  test("Stage.parallel tasks inherit the caller's local properties and scope") {
    val sc = spark.sparkContext
    val caller = Thread.currentThread
    def cuts = sc.getPersistentRDDs.values.flatMap(r => Option(r.name))
      .filter(_.startsWith("parallel cut"))
    sc.setLocalProperty("graft.test.label", "caller label")
    try {
      Stage.scope {
        val seen = Stage.parallel((1 to 2).map(i => () => {
          // Persist(eager = false) over a range runs no job
          Stage(s"parallel cut $i", Persist())(spark.range(3).toDF())
          (Thread.currentThread ne caller, sc.getLocalProperty("graft.test.label"))
        }): _*)
        assert(seen == Seq.fill(2)((true, "caller label")))
        assert(cuts.toSet == Set("parallel cut 1", "parallel cut 2"))
      }
      assert(cuts.isEmpty, "closing the caller's scope frees the cuts its task threads made")
      assert(sc.getLocalProperty("graft.test.label") == "caller label")
    } finally sc.setLocalProperty("graft.test.label", null)
  }

  test("Stage is the only main source file that starts threads") {
    val main = new java.io.File("src/main")
    assert(main.isDirectory, s"run from the project root: no ${main.getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val starting = scalaFiles(main).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      Seq("new Thread(", "Executors.", "ExecutorService", "ForkJoinPool").exists(src.contains)
    }.map(_.getPath.replace(java.io.File.separatorChar, '/'))
      .filter(_ != "src/main/scala/graft/operators/Stage.scala")
    assert(starting.isEmpty, s"run concurrent work through Stage.parallel instead: $starting")
  }

  test("the monotone-id fence refuses a retroactive batch typed " +
    "instead of silently diverging from the from-scratch truth") {
    val state = freshState()
    // day-0 input ids reach ~1.5M (the crawl2 offset); a batch id
    // INSIDE that range violates the contract
    val retro = crawl3.limit(1)
      .select(lit(500L).as("doc_id"), col("source"), col("raw"))
    val e = intercept[IllegalArgumentException] {
      incr(state, retro)
    }
    assert(e.getMessage.contains("monotone-id"),
      s"refusal must cite the contract, got: ${e.getMessage}")
    // a legal batch still runs afterwards — the fence mutated nothing
    incr(state, crawl3.filter(col("doc_id") >= 5000000L &&
      col("doc_id") < 6000000L).localCheckpoint())
  }

  test("forget() removes a doc from every standing read, keeps the " +
    "tie-out exact, stops dup-suppression, and compactState drops " +
    "the rows physically") {
    val b1 = crawl3.filter(col("doc_id") < 6000000L).localCheckpoint()
    val state = freshState()
    val art0 = rows(incr(state, b1))

    // one PACKED +5M doc (fresh rev-text content, its base d coprime
    // to the other rev arms so its text near-matches nothing else in
    // the store) and one LEDGER doc (a day-0 gate reject)
    val deadPacked = art0.collect {
      case ("pack", k, _) if k.toLong >= 5000000L &&
        (k.toLong - 5000000L) % 53 != 0 && (k.toLong - 5000000L) % 59 != 0 => k.toLong
    }.min
    val deadLedger = art0.collect {
      case ("ledger", k, v) if v.startsWith("ingest:") => k.toLong
    }.min
    import spark.implicits._
    IncrementalRelease.forget(spark,
      state, Seq(deadPacked, deadLedger).toDF("doc_id"))

    val art1 = rows(IncrementalRelease.artifact(spark, state))
    assert(!art1.exists { case (_, k, v) =>
      k == deadPacked.toString || k == deadLedger.toString ||
        v.contains(s"dup_of_$deadPacked")
    }, "a forgotten doc must vanish from every artifact part")
    val tieout = art1.collect { case ("reconcile", _, v) => v }.head
      .split(":").map(_.toLong)
    assert(tieout(0) == tieout(1) && tieout(2) == tieout(3),
      s"the tie-out must still balance after forget, got ${tieout.toSeq}")

    // dup-suppression released: a verbatim re-crawl of the forgotten
    // packed doc is NOT flagged a duplicate of it (its fingerprint
    // and band buckets are tombstoned in the standing stores)
    val deadRaw = b1.filter(col("doc_id") === deadPacked)
      .select(lit(12000000L).as("doc_id"), col("source"), col("raw"))
      .localCheckpoint()
    val art2 = rows(incr(state, deadRaw))
    val recrawl = art2.collect { case (p, "12000000", v) => (p, v) }
    assert(recrawl.nonEmpty, "the re-crawl must be accounted somewhere")
    assert(!recrawl.exists { case (_, v) => v.contains("dup_of_") },
      s"a forgotten doc must stop suppressing its re-crawl, got $recrawl")

    // compaction: artifact unchanged, dead rows physically gone
    IncrementalRelease.compactState(spark, state, "packed")
    IncrementalRelease.compactState(spark, state, "ledger")
    assert(rows(IncrementalRelease.artifact(spark, state)) == art2,
      "compactState must not change the artifact")
    val vDirs = new java.io.File(s"$state/packed").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
    assert(vDirs.nonEmpty, "compaction publishes a pointer version")
    val physical = spark.read
      .parquet(s"$state/packed/v-*/rows")
      .filter(col("doc_id") === deadPacked)
    assert(physical.isEmpty,
      "compaction must physically drop the forgotten rows")
  }

  test("an empty pack tail (a day 0 that packed nothing) resumes at " +
    "batch 0 instead of an NPE") {
    val state = freshState()
    // rewrite pack_state as one EMPTY segment (schema kept)
    val psDir = s"$state/pack_state/rows"
    val empty = spark.read.parquet(psDir).filter(lit(false)).drop("seg")
      .localCheckpoint()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(psDir))
    empty.write.parquet(s"$psDir/seg=0")
    val art = rows(incr(state,
      crawl3.filter(col("doc_id") >= 5000000L && col("doc_id") < 6000000L)
        .localCheckpoint()))
    assert(art.exists { case (p, k, _) => p == "pack" && k.toLong >= 5000000L },
      "the batch must pack fresh bins from 0 over the empty tail")
  }

  test("the persisted-ANN semantic probe drops a batch doc embedded " +
    "next to a day-0 holdout doc, still equal to from-scratch") {
    // a day-0 holdout embedding (the semantic corpus the ANN store
    // froze at bootstrap)
    val holdVec = spark.read.parquet(s"$day0Dir/stages/s5_test_emb")
      .orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).head().getSeq[Float](0)
    // give every fresh (+5M) batch doc destined for TRAIN/VAL that
    // holdout's exact embedding — semantic evidence without touching
    // the frozen centroids (no batch doc lands test with a vector)
    val batch = crawl3.filter(col("doc_id") >= 5000000L &&
      col("doc_id") < 6000000L).localCheckpoint()
    val bucket = shiftrightunsigned(
      graft.functions.HashExpressions.mix64(col("doc_id").cast("long")), 1) % 100
    val batchEmb = batch.filter(bucket < 90)
      .select(col("doc_id").as("vec_id"),
        typedLit(holdVec).cast("array<float>").as("embedding"))
    val embExt = emb.select("vec_id", "embedding").unionByName(batchEmb)
      .localCheckpoint()

    val state = freshState()
    val incremental = rows(incr(state, batch, embExt))
    val scratch = rows(graft.operators.Release.pipeline(spark,
      rawInput.unionByName(batch), embExt, transcripts _,
      () => merges, new graft.operators.Release.LocalStager))
    assert(incremental == scratch,
      "semantic-evidence batch must still equal from-scratch")
    val semDrops = incremental.collect {
      case ("ledger", k, v) if k.toLong >= 5000000L &&
        v == "decontam:semantic" => k
    }
    assert(semDrops.nonEmpty,
      "at least one batch doc must be dropped by the persisted-ANN " +
        "semantic probe (cosine 1 to a day-0 holdout embedding)")
  }
}
