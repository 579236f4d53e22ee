package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.AnnIndex

/** Test-only FileSystem for the crash-posture cases: the raw local
  * FS under the `faulty://` scheme, whose rename can be told to FAIL
  * (return false) when the source or destination name matches, run
  * a concurrent writer's action at a named rename or delete, emulate
  * a nesting rename, refuse a rename onto an existing file, or
  * record every rename it performs — interposing a crash or a race
  * at an exact publish boundary. The match is on the path's LAST
  * segment only, so the parquet committer's own `_temporary` renames
  * inside a staging tree are untouched. What a real `file://` / HDFS
  * rename does onto an existing name is stated in
  * [[graft.sources.Publish]]. */
class FaultyRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def rename(
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    // race interposition: when the flagged rename is reached, run the
    // concurrent writer's action first, then report THIS rename as
    // lost (false) — the platonic "publish raced, id taken" outcome,
    // fired exactly once
    if (FaultyRenameFs.hookRenameDstName.contains(dst.getName) &&
        FaultyRenameFs.hookOnce.compareAndSet(false, true)) {
      FaultyRenameFs.hook()
      return false
    }
    // nesting emulation: when armed, run the hook first (the winner
    // landing dst inside the caller's check-to-rename window), then
    // move src UNDER dst and return true — what a rename onto an
    // existing non-empty directory does
    if (FaultyRenameFs.nestRenameDstName.contains(dst.getName) &&
        FaultyRenameFs.nestOnce.compareAndSet(false, true)) {
      FaultyRenameFs.hook()
      return super.rename(src,
        new org.apache.hadoop.fs.Path(dst, src.getName))
    }
    if (FaultyRenameFs.failSrcName.contains(src.getName) ||
        FaultyRenameFs.failDstName.contains(dst.getName)) false
    else {
      // object-store-honesty recording: every rename that reaches the
      // real fs is logged so a spec can prove a publish path never
      // moves a directory outside write internals
      FaultyRenameFs.record.foreach(_.append((src.toString, dst.toString)))
      // no-overwrite emulation: rename onto an EXISTING plain file
      // refuses, as on `file://` and HDFS (the raw local fs would
      // overwrite) — the semantics the pointer compare-and-swap relies on
      if (FaultyRenameFs.hdfsNoOverwrite && exists(dst) &&
        getFileStatus(dst).isFile) false
      else super.rename(src, dst)
    }
  }
  override def delete(
      p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    // race interposition at a DELETE boundary (e.g. a compaction's
    // clearStaging — after its snapshot read, before its staging
    // writes): run the concurrent writer's action, then proceed
    if (FaultyRenameFs.hookDeleteName.contains(p.getName) &&
        FaultyRenameFs.hookOnce.compareAndSet(false, true))
      FaultyRenameFs.hook()
    super.delete(p, recursive)
  }
}
object FaultyRenameFs {
  @volatile var failSrcName: Option[String] = None
  @volatile var failDstName: Option[String] = None
  @volatile var hookRenameDstName: Option[String] = None
  @volatile var hookDeleteName: Option[String] = None
  @volatile var nestRenameDstName: Option[String] = None
  @volatile var hook: () => Unit = () => ()
  @volatile var record: Option[scala.collection.mutable.Buffer[(String, String)]] = None
  @volatile var hdfsNoOverwrite: Boolean = false
  val hookOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  val nestOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    failSrcName = None; failDstName = None
    hookRenameDstName = None; hookDeleteName = None
    nestRenameDstName = None
    record = None; hdfsNoOverwrite = false
    hook = () => (); hookOnce.set(false); nestOnce.set(false)
  }
}

/** The persisted IVF-PQ index round-trip: a written-then-loaded
  * index must answer BIT-IDENTICALLY to the inline
  * (train-in-query) path, its coded table must carry no vectors,
  * and the staging directory must be gone after the swap. Plus the
  * incremental-append closure property (append ≡ rebuild under the
  * same frozen model) and the swap's crash posture (a readable
  * index survives a failing rename at EVERY step). */
class AnnIndexSpec extends SparkSpec {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"
  /** The store's LIVE tree (through the pointer), as a local path —
    * layout assertions probe inside the resolved version dir. */
  private def rootOf(dir: String): String =
    graft.sources.Segments.resolve(spark, dir).stripPrefix("faulty://")
  /** Store-dir hygiene: after a successful full-tree publish the dir
    * holds exactly one pointer and one live version tree (crash
    * orphans are swept on the hour cutoff, never eagerly). */
  private def assertCleanStore(dir: String): Unit = {
    val names = new java.io.File(dir.stripPrefix("faulty://"))
      .listFiles().map(_.getName).toSet
    assert(names.count(_.startsWith("ptr-")) == 1,
      s"expected exactly one pointer file, got $names")
    assert(!names.exists(_.startsWith("_ptr.tmp")),
      s"pointer tmp files must not linger: $names")
  }
  private def r3(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("written+loaded index answers bit-identically to the inline path") {
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))

    val sample = Similarity.hashOrderedSample(corpus, "vec_id", "embedding", 256)
    val cents = Similarity.refineCentroids(sample, 8, 2)
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8)
    val inline = r3(Similarity.ivfPqTopKBatch(queries, corpus,
      "vec_id", "embedding", "vec_id", "embedding", k = 5, cents, cb, nprobe = 2))

    val dir = tmp("graft_annidx")
    AnnIndex.buildAndWrite(spark, dir, corpus, "vec_id", "embedding",
      nlist = 8, m = 8)
    val loaded = AnnIndex.read(spark, dir)
    val viaIndex = r3(AnnIndex.queryBatch(loaded, queries, "vec_id", "embedding",
      k = 5, nprobe = 2))

    assert(viaIndex == inline) // scores included — bit-exact
    assert(loaded.coded.columns.toSet == Set("id", "cell", "code"),
      "coded table must be vector-free")
    assert(rootOf(dir) != dir,
      "a build must publish through the pointer (versioned tree)")
    assertCleanStore(dir)
    assert(loaded.centroids.length == 8 && loaded.codebooks.length == 8)
  }

  test("rebuilding over an existing index replaces it atomically") {
    val corpus = emb.filter(col("vec_id") >= 6)
    val dir = tmp("graft_annidx2")
    AnnIndex.buildAndWrite(spark, dir, corpus, "vec_id", "embedding", nlist = 4, m = 8)
    val firstRoot = rootOf(dir)
    val second = AnnIndex.buildAndWrite(spark, dir, corpus, "vec_id", "embedding",
      nlist = 8, m = 8)
    assert(second.centroids.length == 8)
    assert(AnnIndex.read(spark, dir).centroids.length == 8)
    assert(rootOf(dir) != firstRoot, "rebuild must publish a NEW tree")
    // grace-period GC: the superseded tree lingers until its subtree
    // is stale past the cutoff (so a raced append can always complete
    // and flip-verify), then the NEXT flip's sweep drops it
    assert(new java.io.File(firstRoot).exists,
      "a just-superseded tree must survive the grace window")
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    def backdate(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(backdate))
      f.setLastModified(old)
    }
    backdate(new java.io.File(firstRoot))
    AnnIndex.buildAndWrite(spark, dir, corpus, "vec_id", "embedding",
      nlist = 8, m = 8)
    assert(!new java.io.File(firstRoot).exists,
      "a fully-stale superseded tree must sweep at the next flip")
    assertCleanStore(dir)
  }

  // ------------------------------------------------- incremental append

  test("IVF append-then-query ≡ rebuild-then-query under the same centroids") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val all = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)

    val dirA = tmp("graft_annidx_app")
    AnnIndex.buildAndWriteIvf(spark, dirA, base, "vec_id", "embedding", cents)
    AnnIndex.appendToIvf(spark, dirA, batch, "vec_id", "embedding")
    val appended = AnnIndex.readIvf(spark, dirA)
    val viaAppend = r3(AnnIndex.queryBatchIvf(
      appended, queries, "vec_id", "embedding", k = 5, nprobe = 2))

    val dirB = tmp("graft_annidx_reb")
    val rebuilt = AnnIndex.buildAndWriteIvf(
      spark, dirB, all, "vec_id", "embedding", cents)
    val viaRebuild = r3(AnnIndex.queryBatchIvf(
      rebuilt, queries, "vec_id", "embedding", k = 5, nprobe = 2))

    assert(viaAppend == viaRebuild) // closure: O(batch) append ≡ full rebuild
    assert(appended.assigned.columns.toSet == Set("id", "cell", "vec"),
      "seg partition column must be projected away")
    assert(new java.io.File(rootOf(dirA) + "/assigned/seg=1").isDirectory,
      "batch must land as its own segment")
    assert(appended.assigned.count() == all.count())
  }

  test("IVF-PQ append matches a from-scratch encode under the frozen model") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val all = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))

    val dir = tmp("graft_annidx_pqapp")
    AnnIndex.buildAndWrite(spark, dir, base, "vec_id", "embedding", nlist = 4, m = 8)
    assert(AnnIndex.append(spark, dir, batch, "vec_id", "embedding"))
    val appended = AnnIndex.read(spark, dir)
    val viaAppend = r3(AnnIndex.queryBatch(
      appended, queries, "vec_id", "embedding", k = 5, nprobe = 2))

    // from-scratch encode of corpus∪batch under the SAME (frozen) model
    val inline = r3(Similarity.ivfPqTopKBatchCoded(queries,
      Similarity.encodeForIndex(all, "vec_id", "embedding",
        appended.centroids, appended.codebooks),
      "vec_id", "embedding", k = 5, appended.centroids, appended.codebooks,
      nprobe = 2))

    assert(viaAppend == inline)
    assert(new java.io.File(rootOf(dir) + "/coded/seg=1").isDirectory)
  }

  test("append publishes atomically and sweeps a crashed append staging") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val dir = tmp("graft_annidx_sweep")
    AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
    val baseCount = AnnIndex.readIvf(spark, dir).assigned.count()

    // a crashed earlier append left its staging behind: readers must
    // ignore it (underscore prefix), the next append must sweep it
    val junk = new java.io.File(rootOf(dir) + "/assigned/_append.staging")
    assert(junk.mkdirs())
    java.nio.file.Files.write(junk.toPath.resolve("garbage.txt"), Array[Byte](1, 2, 3))
    assert(AnnIndex.readIvf(spark, dir).assigned.count() == baseCount,
      "a crashed append staging must be invisible to readers")

    AnnIndex.appendToIvf(spark, dir, batch, "vec_id", "embedding")
    assert(!junk.exists, "stale append staging must be swept")
    assert(new java.io.File(rootOf(dir) + "/assigned/seg=1").isDirectory)
  }

  test("driftAudit with a missing baseline (seg 0 fully tombstoned) " +
    "fails conservative: every surviving segment flags") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    // seg 1 = the base vectors under offset ids: identical
    // distribution, so the nominal (baseline-present) audit reads
    // exactly base far_ppm for both segments — deterministically clean
    val batch = base.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val dir = tmp("graft_annidx_nobase")
    AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
    AnnIndex.appendToIvf(spark, dir, batch, "vec_id", "embedding")
    // in-distribution batch under the live baseline: seg 1 must NOT
    // flag (the audit's nominal negative)...
    val before = AnnIndex.driftAudit(spark, dir, nearCut = 0.12)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(before == Map(0L -> false, 1L -> false))
    // ...but once the whole build segment is forgotten there is no
    // baseline to certify against — NULL-silent flags would report
    // "neither drifted nor clean"; the contract is flag = true
    AnnIndex.deleteIds(spark, dir, base.select("vec_id"), "vec_id")
    val after = AnnIndex.driftAudit(spark, dir, nearCut = 0.12).collect()
    assert(after.map(_.getLong(0)).toSet == Set(1L))
    assert(after.forall(r => !r.isNullAt(4) && r.getBoolean(4)),
      "missing baseline must fire the drift flag, not NULL it")
  }

  test("IVF compaction refuses the swap when an append lands " +
    "mid-compaction; no vector lost; re-run folds it in") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 3 === 0)
    val b1 = emb.filter(col("vec_id") >= 6 && col("vec_id") % 3 === 1)
    val b2 = emb.filter(col("vec_id") >= 6 && col("vec_id") % 3 === 2)
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val local = java.nio.file.Files.createTempDirectory("graft_annidx_race").toString
    val dir = s"faulty://$local/idx"
    try {
      AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
      AnnIndex.appendToIvf(spark, dir, b1, "vec_id", "embedding")
      val expected = base.count() + b1.count() + b2.count()
      // a daily-batch append lands between the compaction's snapshot
      // read and its publish — interposed at the compaction's FIRST
      // staging-table commit (the _temporary cleanup of the assigned
      // write — the centroids are a file copy — after the
      // watermark+read, before the fence check); an unfenced publish
      // would erase that batch
      FaultyRenameFs.hookDeleteName = Some("_temporary")
      FaultyRenameFs.hook = () => {
        AnnIndex.appendToIvf(spark, dir, b2, "vec_id", "embedding"); ()
      }
      val e = intercept[graft.sources.ConcurrentStoreWriteException] {
        AnnIndex.compact(spark, dir)
      }
      FaultyRenameFs.reset()
      assert(e.getMessage.contains("segments changed since"))
      assert(AnnIndex.readIvf(spark, dir).assigned.count() == expected,
        "the raced append must still be live after the refusal")
      AnnIndex.compact(spark, dir)
      assert(AnnIndex.readIvf(spark, dir).assigned.count() == expected,
        "the re-run compaction must fold the raced segment in")
      assert(new java.io.File(rootOf(dir) + "/assigned/seg=0").isDirectory)
      assert(!new java.io.File(rootOf(dir) + "/assigned/seg=2").exists)
    } finally FaultyRenameFs.reset()
  }

  test("compaction folds segments to one; answers unchanged; model frozen") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 3 === 0)
    val b1 = emb.filter(col("vec_id") >= 6 && col("vec_id") % 3 === 1)
    val b2 = emb.filter(col("vec_id") >= 6 && col("vec_id") % 3 === 2)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val dir = tmp("graft_annidx_compact")
    AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
    AnnIndex.appendToIvf(spark, dir, b1, "vec_id", "embedding")
    AnnIndex.appendToIvf(spark, dir, b2, "vec_id", "embedding")
    val appended = AnnIndex.readIvf(spark, dir)
    val before = r3(AnnIndex.queryBatchIvf(
      appended, queries, "vec_id", "embedding", k = 5, nprobe = 2))
    val nBefore = appended.assigned.count() // pre-swap handle dies with the swap
    assert(new java.io.File(rootOf(dir) + "/assigned/seg=2").isDirectory)

    AnnIndex.compact(spark, dir)
    val compacted = AnnIndex.readIvf(spark, dir)
    val segs = new java.io.File(rootOf(dir) + "/assigned").listFiles()
      .filter(_.getName.startsWith("seg=")).map(_.getName).toSet
    assert(segs == Set("seg=0"), s"expected one segment, got $segs")
    assert(r3(AnnIndex.queryBatchIvf(
      compacted, queries, "vec_id", "embedding", k = 5, nprobe = 2)) == before)
    assert(compacted.centroids.toSeq.map(_.toSeq) == cents.toSeq.map(_.toSeq),
      "compaction must not touch the frozen model")
    assert(compacted.assigned.count() == nBefore)
    // PQ twin: append, delete one id, then compact — answers
    // unchanged, the id physically gone, the tombstones GC'd, and the
    // model tables copied verbatim (never re-encoded)
    val dirPq = tmp("graft_annidx_compact_pq")
    AnnIndex.buildAndWrite(spark, dirPq, base, "vec_id", "embedding", nlist = 4, m = 8)
    AnnIndex.append(spark, dirPq, b1, "vec_id", "embedding")
    val deadPq = b1.select("vec_id").head().getLong(0)
    AnnIndex.deleteIds(spark, dirPq,
      b1.filter(col("vec_id") === deadPq).select("vec_id"), "vec_id")
    val appendedPq = AnnIndex.read(spark, dirPq)
    val beforePq = r3(AnnIndex.queryBatch(
      appendedPq, queries, "vec_id", "embedding", k = 5, nprobe = 2))
    AnnIndex.compact(spark, dirPq)
    val compactedPq = AnnIndex.read(spark, dirPq)
    assert(r3(AnnIndex.queryBatch(
      compactedPq, queries, "vec_id", "embedding", k = 5, nprobe = 2)) == beforePq)
    assert(!new java.io.File(rootOf(dirPq) + "/coded/seg=1").exists)
    assert(!new java.io.File(rootOf(dirPq) + "/tombstones").exists,
      "compaction must GC the tombstone table")
    assert(compactedPq.coded.filter(col("id") === deadPq).count() == 0,
      "compaction must physically drop the deleted id")
    assert(compactedPq.centroids.toSeq.map(_.toSeq) ==
      appendedPq.centroids.toSeq.map(_.toSeq),
      "compaction must copy the centroids verbatim")
    assert(compactedPq.codebooks.toSeq.map(_.toSeq.map(_.toSeq)) ==
      appendedPq.codebooks.toSeq.map(_.toSeq.map(_.toSeq)),
      "compaction must copy the codebooks verbatim")
  }

  // ----------------------------------------------------- crash posture

  test("a failing pointer flip never loses the live index — the only " +
    "mutating step of a publish is one small-file rename") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val base = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val local = java.nio.file.Files.createTempDirectory("graft_annidx_crash").toString
    val dir = s"faulty://$local/idx"
    try {
      AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
      val firstRoot = rootOf(dir)
      val good = r3(AnnIndex.queryBatchIvf(AnnIndex.readIvf(spark, dir),
        queries, "vec_id", "embedding", k = 5, nprobe = 2))

      // crash window: the rebuild's complete new tree is on disk but
      // the pointer flip (the ONLY mutating step) fails. The live
      // index must be untouched — and still answer — at every moment.
      FaultyRenameFs.failDstName = Some("ptr-2")
      val e1 = intercept[IllegalStateException] {
        AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
      }
      FaultyRenameFs.reset()
      assert(e1.getMessage.contains("live table unchanged"))
      assert(rootOf(dir) == firstRoot,
        "a failed flip must leave the pointer on the previous tree")
      assert(r3(AnnIndex.queryBatchIvf(AnnIndex.readIvf(spark, dir),
        queries, "vec_id", "embedding", k = 5, nprobe = 2)) == good,
        "live index must survive a failed pointer flip")

      // recovery: a plain rebuild over the same dir publishes a fresh
      // tree and GCs the superseded one; the failed attempt's orphan
      // tree is invisible to readers (the pointer never named it) and
      // sweeps on the staleness cutoff, not eagerly
      val healed = AnnIndex.buildAndWriteIvf(
        spark, dir, base, "vec_id", "embedding", cents)
      assert(r3(AnnIndex.queryBatchIvf(healed,
        queries, "vec_id", "embedding", k = 5, nprobe = 2)) == good)
      assert(rootOf(dir) != firstRoot)
      // grace-period GC: the superseded tree survives the flip; the
      // stale sweep (pinned in the rebuild test and SegmentsSpec)
      // owns dropping it once its subtree passes the cutoff
      assert(new java.io.File(firstRoot.stripPrefix("faulty://")).exists,
        "a just-superseded tree must survive the grace window")
    } finally FaultyRenameFs.reset()
  }

  test("LSH index round-trips bit-identically and append ≡ rebuild " +
    "under the frozen planes") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val all = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))

    // round-trip: written+loaded ≡ inline under the same planes
    val dirA = tmp("graft_annidx_lsh")
    val idx = AnnIndex.buildAndWriteLsh(
      spark, dirA, all, "vec_id", "embedding", numPlanes = 8)
    val viaIndex = r3(AnnIndex.queryBatchLsh(
      idx, queries, "vec_id", "embedding", k = 5, probeHamming = 2))
    val inline = r3(Similarity.lshTopKBatch(queries, all,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, numPlanes = 8, probeHamming = 2))
    assert(viaIndex == inline)

    // append closure: O(batch) append ≡ full rebuild (planes frozen
    // and deterministic from the seed, so the models coincide)
    val dirB = tmp("graft_annidx_lshapp")
    AnnIndex.buildAndWriteLsh(spark, dirB, base, "vec_id", "embedding", numPlanes = 8)
    assert(AnnIndex.appendToLsh(spark, dirB, batch, "vec_id", "embedding"))
    val appended = AnnIndex.readLsh(spark, dirB)
    val viaAppend = r3(AnnIndex.queryBatchLsh(
      appended, queries, "vec_id", "embedding", k = 5, probeHamming = 2))
    assert(viaAppend == inline)
    assert(appended.bucketed.columns.toSet == Set("id", "bucket", "vec"),
      "seg partition column must be projected away")
    assert(new java.io.File(rootOf(dirB) + "/bucketed/seg=1").isDirectory,
      "batch must land as its own segment")
    assert(appended.bucketed.count() == all.count())
  }

  test("tombstone delete: suppressed everywhere (later appends included), " +
    "answers match a never-ingested corpus, compaction GCs and re-admits") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val deadIds = base.filter(col("vec_id") % 7 === 0)

    val dirA = tmp("graft_annidx_del")
    AnnIndex.buildAndWriteIvf(spark, dirA, base, "vec_id", "embedding", cents)
    AnnIndex.deleteIds(spark, dirA, deadIds.select("vec_id"), "vec_id")
    // tombstone lands as its own atomic segment; corpus table untouched
    assert(new java.io.File(rootOf(dirA) + "/tombstones/seg=0").isDirectory)
    val afterDel = AnnIndex.readIvf(spark, dirA)
    val dead = deadIds.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty)
    assert(afterDel.assigned.filter(col("id").isInCollection(dead)).count() == 0)

    // query answers == an index over a corpus that never held the ids
    val dirB = tmp("graft_annidx_delref")
    val ref = AnnIndex.buildAndWriteIvf(spark, dirB,
      base.filter(!(col("vec_id") % 7 === 0)), "vec_id", "embedding", cents)
    assert(r3(AnnIndex.queryBatchIvf(afterDel, queries, "vec_id", "embedding", 5, 2)) ==
      r3(AnnIndex.queryBatchIvf(ref, queries, "vec_id", "embedding", 5, 2)))

    // the contract's sharp edge: a tombstone suppresses its id across
    // ALL segments, including one appended AFTER the delete
    AnnIndex.appendToIvf(spark, dirA, batch, "vec_id", "embedding")
    val deadBatch = batch.filter(col("vec_id") % 7 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    AnnIndex.deleteIds(spark, dirA,
      batch.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val twoSegs = AnnIndex.readIvf(spark, dirA)
    assert(twoSegs.assigned
      .filter(col("id").isInCollection(dead ++ deadBatch)).count() == 0)

    // compaction physically drops tombstoned rows AND clears the
    // tombstone table (the staging tree never carries it), so a
    // previously-deleted id can be re-ingested afterwards
    AnnIndex.compact(spark, dirA)
    val compacted = AnnIndex.readIvf(spark, dirA)
    assert(!new java.io.File(rootOf(dirA) + "/tombstones").exists,
      "compaction must GC the tombstone table")
    assert(compacted.assigned.count() ==
      base.count() + batch.count() - dead.size - deadBatch.size)
    AnnIndex.appendToIvf(spark, dirA,
      emb.filter(col("vec_id") === dead.min), "vec_id", "embedding")
    val reAdded = AnnIndex.readIvf(spark, dirA)
    assert(reAdded.assigned.filter(col("id") === dead.min).count() == 1,
      "post-compaction re-ingest of a once-deleted id must be visible")
  }

  test("LSH tombstone delete: suppressed across later appends, " +
    "compaction GCs the tombstones and preserves answers") {
    val base = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") >= 6 && col("vec_id") % 2 === 1)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val deadIds = base.filter(col("vec_id") % 7 === 0)
    val dead = deadIds.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty)

    val dirA = tmp("graft_annidx_lshdel")
    AnnIndex.buildAndWriteLsh(spark, dirA, base, "vec_id", "embedding", numPlanes = 8)
    AnnIndex.deleteIds(spark, dirA, deadIds.select("vec_id"), "vec_id")
    assert(new java.io.File(rootOf(dirA) + "/tombstones/seg=0").isDirectory)
    val afterDel = AnnIndex.readLsh(spark, dirA)
    assert(afterDel.bucketed.filter(col("id").isInCollection(dead)).count() == 0)

    // answers == an index whose corpus never held the ids (planes are
    // seed-deterministic, so the models coincide)
    val dirB = tmp("graft_annidx_lshdelref")
    val ref = AnnIndex.buildAndWriteLsh(spark, dirB,
      base.filter(!(col("vec_id") % 7 === 0)), "vec_id", "embedding", numPlanes = 8)
    assert(r3(AnnIndex.queryBatchLsh(afterDel, queries, "vec_id", "embedding", 5, 2)) ==
      r3(AnnIndex.queryBatchLsh(ref, queries, "vec_id", "embedding", 5, 2)))

    // suppression spans a segment appended AFTER the delete
    AnnIndex.appendToLsh(spark, dirA, batch, "vec_id", "embedding")
    val deadBatch = batch.filter(col("vec_id") % 7 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    AnnIndex.deleteIds(spark, dirA,
      batch.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val twoSegs = AnnIndex.readLsh(spark, dirA)
    assert(twoSegs.bucketed
      .filter(col("id").isInCollection(dead ++ deadBatch)).count() == 0)
    // materialize the pre-compaction answer NOW: handles die with the
    // compaction swap (stale file listing — the documented contract)
    val preCompact = r3(AnnIndex.queryBatchLsh(
      twoSegs, queries, "vec_id", "embedding", 5, 2))

    // compaction: the planes copy verbatim, the bucketed table folds
    // to one seg; tombstoned rows physically dropped, tombstone table
    // GC'd
    AnnIndex.compact(spark, dirA)
    val compacted = AnnIndex.readLsh(spark, dirA)
    assert(!new java.io.File(rootOf(dirA) + "/tombstones").exists,
      "compaction must GC the tombstone table")
    assert(new java.io.File(rootOf(dirA) + "/bucketed/seg=0").isDirectory)
    assert(!new java.io.File(rootOf(dirA) + "/bucketed/seg=1").exists,
      "compaction must fold segments into one")
    assert(compacted.planes.toSeq.map(_.toSeq) ==
      twoSegs.planes.toSeq.map(_.toSeq),
      "compaction must copy the planes verbatim")
    assert(compacted.bucketed.count() ==
      base.count() + batch.count() - dead.size - deadBatch.size)
    assert(r3(AnnIndex.queryBatchLsh(compacted, queries, "vec_id", "embedding", 5, 2)) ==
      preCompact, "answers must be identical before and after compaction")
  }

  test("a crashed FIRST deleteIds (unpublished tombstone staging) " +
    "leaves the live index fully readable") {
    val base = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 4, iters = 1)
    val dir = tmp("graft_annidx_delcrash")
    AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
    val good = r3(AnnIndex.queryBatchIvf(AnnIndex.readIvf(spark, dir),
      queries, "vec_id", "embedding", 5, 2))

    // simulate the crash: the tombstones table dir exists but holds
    // ONLY the underscore staging (publishSegment creates the dir, the
    // publishing rename never ran) — Spark readers skip underscore
    // paths, so a bare fs.exists gate would throw 'Unable to infer
    // schema' on every subsequent read of the index
    val stg = new java.io.File(rootOf(dir) + "/tombstones/_append.staging")
    assert(stg.mkdirs())
    java.nio.file.Files.write(
      stg.toPath.resolve("part-00000.parquet"), Array[Byte]())

    val loaded = AnnIndex.readIvf(spark, dir) // must not throw
    assert(loaded.assigned.count() == base.count(),
      "an unpublished delete must suppress nothing")
    assert(r3(AnnIndex.queryBatchIvf(loaded, queries, "vec_id", "embedding", 5, 2))
      == good)

    // and the next deleteIds sweeps the stale staging and publishes
    AnnIndex.deleteIds(spark, dir,
      base.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    assert(new java.io.File(rootOf(dir) + "/tombstones/seg=0").isDirectory)
    assert(AnnIndex.readIvf(spark, dir).assigned
      .filter(col("id") % 7 === 0).count() == 0)
  }

  // ------------------------------------------------------- retrain

  test("retrainIvf ≡ fresh build on the retained corpus; " +
    "post-retrain driftAudit baseline re-establishes and clears") {
    val base = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    // the drifted fixture: reversed vectors under offset ids land in
    // bad cells of the base-trained model — the flag's nominal fire
    val drifted = base.select((col("vec_id") + 1000000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"))
    val cents = Similarity.kmeansCentroidsDistributed(
      base, "vec_id", "embedding", nlist = 8, iters = 2)
    val dir = tmp("graft_annidx_retrain")
    AnnIndex.buildAndWriteIvf(spark, dir, base, "vec_id", "embedding", cents)
    AnnIndex.appendToIvf(spark, dir, drifted, "vec_id", "embedding")
    AnnIndex.deleteIds(spark, dir,
      base.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val flagged = AnnIndex.driftAudit(spark, dir, nearCut = 0.12)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(flagged(1L), "the drifted segment must flag before retrain")

    val retrained = AnnIndex.retrainIvf(spark, dir, nlist = 8, iters = 2)
    val viaRetrain = r3(AnnIndex.queryBatchIvf(
      retrained, queries, "vec_id", "embedding", k = 5, nprobe = 2))

    // the equivalence pin: a fresh build over the retained corpus
    // with survivor-trained centroids answers identically
    val survivors = base.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .unionByName(drifted
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
    val freshCents = Similarity.kmeansCentroidsDistributed(
      survivors, "id", "vec", nlist = 8, iters = 2)
    val dirB = tmp("graft_annidx_retrain_fresh")
    val fresh = AnnIndex.buildAndWriteIvf(
      spark, dirB, survivors, "id", "vec", freshCents)
    val viaFresh = r3(AnnIndex.queryBatchIvf(
      fresh, queries, "vec_id", "embedding", k = 5, nprobe = 2))
    assert(viaRetrain == viaFresh)
    assert(retrained.assigned.count() == survivors.count())
    assert(retrained.assigned.filter(col("id") % 7 === 0 &&
      col("id") < 1000000L).count() == 0,
      "a tombstoned id must not re-enter through retrain")

    // the remediation pin: one seg 0 under the NEW model, flag off —
    // and the tombstone table is GC'd by the swap
    val after = AnnIndex.driftAudit(spark, dir, nearCut = 0.12)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(after == Map(0L -> false),
      "retrain must re-establish a clean single-segment baseline")
    assert(!new java.io.File(rootOf(dir) + "/tombstones").exists ||
      !new java.io.File(rootOf(dir) + "/tombstones").listFiles
        .exists(_.getName.startsWith("seg=")),
      "retrain must GC the tombstone table like compaction does")
  }

  test("retrainLsh ≡ fresh LSH build on the retained corpus under the " +
    "new planes; post-retrain driftAuditLsh baseline re-establishes") {
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val dir = tmp("graft_annidx_retrain_lsh")
    AnnIndex.buildAndWriteLsh(spark, dir,
      corpus.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      numPlanes = 8)
    AnnIndex.appendToLsh(spark, dir,
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    AnnIndex.deleteIds(spark, dir,
      corpus.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    // retrain under NEW geometry (a reseeded plane set — the drifted-
    // embedder migration shape)
    val retrained = AnnIndex.retrainLsh(spark, dir, numPlanes = 8, seed = 43L)
    val viaRetrain = r3(AnnIndex.queryBatchLsh(
      retrained, queries, "vec_id", "embedding", k = 5, probeHamming = 2))

    val survivors = corpus.filter(col("vec_id") % 7 =!= 0)
    val dirB = tmp("graft_annidx_retrain_lsh_fresh")
    val fresh = AnnIndex.buildAndWriteLsh(
      spark, dirB, survivors, "vec_id", "embedding", numPlanes = 8, seed = 43L)
    val viaFresh = r3(AnnIndex.queryBatchLsh(
      fresh, queries, "vec_id", "embedding", k = 5, probeHamming = 2))
    assert(viaRetrain == viaFresh)
    assert(retrained.bucketed.count() == survivors.count())
    assert(retrained.bucketed.filter(col("id") % 7 === 0).count() == 0,
      "a tombstoned id must not re-enter through retrain")
    // remediation pin: one seg 0, exact-zero divergence, flag off —
    // and the tombstone table GC'd by the swap
    val audit = AnnIndex.driftAuditLsh(spark, dir).collect()
    assert(audit.map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .toSeq == Seq((0L, 0L, false)))
    assert(!new java.io.File(rootOf(dir) + "/tombstones").exists,
      "retrainLsh must GC the tombstone table like compaction does")
  }

  test("driftAuditLsh: identical-distribution append reads exact zero, " +
    "a degenerate-featurizer append flags, and a missing baseline " +
    "fails conservative") {
    val corpus = emb.filter(col("vec_id") >= 6)
    val dir = tmp("graft_annidx_lsh_drift")
    AnnIndex.buildAndWriteLsh(spark, dir, corpus, "vec_id", "embedding",
      numPlanes = 8)
    AnnIndex.appendToLsh(spark, dir,
      corpus.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val onehot = transform(sequence(lit(0), lit(63)),
      d => when(d === pmod(col("vec_id"), lit(64)).cast("int"), lit(1.0f))
        .otherwise(lit(0.0f)))
    AnnIndex.appendToLsh(spark, dir,
      corpus.select((col("vec_id") + 2000000L).as("vec_id"),
        onehot.as("embedding")),
      "vec_id", "embedding")
    val audit = AnnIndex.driftAuditLsh(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(audit(0L) == ((0L, false)), "the baseline reads exact zero")
    assert(audit(1L) == ((0L, false)),
      "an identically-distributed append must read exact-zero L1")
    assert(audit(2L)._1 > 500000L && audit(2L)._2,
      s"the degenerate batch must flag: ${audit(2L)}")
    // missing baseline: tombstone the whole build segment — every
    // surviving segment degrades to the all-zero base (~1e6 ppm) and
    // flags conservatively
    AnnIndex.deleteIds(spark, dir, corpus.select("vec_id"), "vec_id")
    val after = AnnIndex.driftAuditLsh(spark, dir).collect()
    assert(after.map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(after.forall(_.getBoolean(3)),
      "a missing baseline must fire the flag on every segment")
  }

  test("hash-cut training sample is unbiased: on a label-clustered " +
    "id order (the oldest-crawl-slice pathology) recall is unchanged " +
    "or improved vs the old id-prefix sample") {
    import org.apache.spark.sql.expressions.Window
    val e = emb.filter(col("vec_id") >= 6)
    // adversarial id order: contiguous ids assigned in label order, so
    // an id-prefix sample sees essentially ONE label's cluster — the
    // corpus-scale pathology where the lowest ids are the oldest crawl
    // slice and the sample under-represents the live distribution
    val sorted = e.select(
      (row_number().over(Window.orderBy(col("label"), col("vec_id"))) + 5L)
        .cast("long").as("vec_id"),
      col("embedding"))
    val queries = emb.filter(col("vec_id").between(1, 5))
    def meanRecall(cents: Array[Array[Double]]): Double =
      Similarity.recallAudit(queries, sorted, "vec_id", "embedding",
          "vec_id", "embedding", k = 5, cents, nprobe = 2)
        .agg(avg(col("recall"))).head().getDouble(0)
    // the OLD cut: first 64 rows by id — one cluster's worth
    val prefixSample = sorted.orderBy(col("vec_id").asc).limit(64)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val viaPrefix = meanRecall(Similarity.refineCentroids(prefixSample, 8, 2))
    // the hash cut spans the id range regardless of the sort
    val viaHash = meanRecall(Similarity.refineCentroids(
      Similarity.hashOrderedSample(sorted, "vec_id", "embedding", 64), 8, 2))
    assert(viaHash >= viaPrefix,
      s"hash-cut recall $viaHash must not regress vs id-prefix $viaPrefix")
  }

  test("retrainPq ≡ fresh IVF-PQ build on the retained corpus") {
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val dir = tmp("graft_annidx_retrain_pq")
    AnnIndex.buildAndWrite(spark, dir,
      corpus.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      nlist = 8, m = 8)
    AnnIndex.append(spark, dir,
      corpus.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    AnnIndex.deleteIds(spark, dir,
      corpus.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id")
    val retrained = AnnIndex.retrainPq(
      spark, dir, corpus, "vec_id", "embedding", nlist = 8, m = 8)
    val viaRetrain = r3(AnnIndex.queryBatch(
      retrained, queries, "vec_id", "embedding", k = 5, nprobe = 2))

    val survivors = corpus.filter(col("vec_id") % 7 =!= 0)
    val dirB = tmp("graft_annidx_retrain_pq_fresh")
    val fresh = AnnIndex.buildAndWrite(
      spark, dirB, survivors, "vec_id", "embedding", nlist = 8, m = 8)
    val viaFresh = r3(AnnIndex.queryBatch(
      fresh, queries, "vec_id", "embedding", k = 5, nprobe = 2))
    assert(viaRetrain == viaFresh)
    assert(retrained.coded.filter(col("id") % 7 === 0).count() == 0)
    assert(retrained.coded.count() == survivors.count())
  }
}
