package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Profile}
import graft.sources.DedupIndexStore

/** The corpus-wide right-to-be-forgotten contract, generalizing the
  * AnnIndexSpec four-phase tombstone contract to the text-dedup
  * standing indexes: (1) a delete suppresses the document everywhere,
  * (2) including segments appended AFTER the delete, (3) post-delete
  * answers equal a never-ingested corpus, (4) compaction physically
  * drops rows + GCs the tombstones and re-admits the id. Plus the
  * sketch half: KMV/CMS/manifest sketches cannot subtract, and their
  * rebuild-from-retained path is bit-identical to never-ingested. */
class DedupIndexStoreSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
  private def lineDocs = docs.select(col("doc_id"),
    replace(col("text"), lit(" a "), lit("\n")).as("text"))
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"
  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet
  /** The store's LIVE tree (through the pointer), as a local path. */
  private def rootOf(dir: String): String =
    graft.sources.Segments.resolve(spark, dir).stripPrefix("faulty://")

  test("minhash store: append ≡ one-shot build, params are frozen " +
    "on disk, probes answer through the persisted index") {
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val seg0 = corpus.filter(col("doc_id") % 10 < 4)
    val seg1 = corpus.filter(col("doc_id") % 10 >= 4)
    val dir = tmp("graft_mhidx")
    DedupIndexStore.buildMinhash(spark, dir, seg0, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16)
    DedupIndexStore.appendMinhash(spark, dir, seg1, "doc_id", "text")
    val appended = DedupIndexStore.readMinhash(spark, dir)
    assert(DedupIndexStore.minhashParams(spark, dir) == ((3, 64, 16)))
    assert(new java.io.File(rootOf(dir) + "/bands/seg=1").isDirectory)
    assert(rows(appended) ==
      rows(Dedup.corpusIndex(corpus, "doc_id", "text", 3, 64, 16)))

    // a probe through the persisted index ≡ the inline index
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    assert(rows(Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        index = Some(DedupIndexStore.readMinhash(spark, dir)))) ==
      rows(Dedup.dedupAgainst(batch, corpus, "doc_id", "text")))
  }

  test("minhash store tombstones: suppression spans later appends, " +
    "post-delete probes ≡ never-ingested, compaction GCs + re-admits") {
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val seg0 = corpus.filter(col("doc_id") % 10 < 4)
    val seg1 = corpus.filter(col("doc_id") % 10 >= 4)
    val deadIds = seg0.filter(col("doc_id") % 7 === 3).select("doc_id")
    val dead = deadIds.collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty)

    val dir = tmp("graft_mhidx_del")
    DedupIndexStore.buildMinhash(spark, dir, seg0, "doc_id", "text")
    DedupIndexStore.deleteIds(spark, dir, deadIds, "doc_id")
    assert(new java.io.File(rootOf(dir) + "/tombstones/seg=0").isDirectory)
    // (2) the delete suppresses across a segment appended AFTERWARD —
    // seg1 contains more %7==3 ids; delete those too, then check both
    DedupIndexStore.appendMinhash(spark, dir, seg1, "doc_id", "text")
    val deadIds1 = seg1.filter(col("doc_id") % 7 === 3).select("doc_id")
    val dead1 = deadIds1.collect().map(_.getLong(0)).toSet
    DedupIndexStore.deleteIds(spark, dir, deadIds1, "doc_id")
    val loaded = DedupIndexStore.readMinhash(spark, dir)
    assert(loaded.filter(col("id").isInCollection(dead ++ dead1)).count() == 0)

    // (3) ≡ never-ingested: the persisted post-delete index probes
    // exactly like an inline index over the retained corpus
    val retained = corpus.filter(!(col("doc_id") % 7 === 3))
    assert(rows(loaded) ==
      rows(Dedup.corpusIndex(retained, "doc_id", "text", 3, 64, 16)))
    assert(rows(Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
        index = Some(loaded))) ==
      rows(Dedup.dedupAgainst(batch, retained, "doc_id", "text")))

    // (4) compaction: physical drop, tombstone GC, re-admission
    // (materialize first: handles die with the compaction swap)
    val preCompact = rows(loaded)
    DedupIndexStore.compact(spark, dir)
    val compacted = DedupIndexStore.readMinhash(spark, dir)
    assert(!new java.io.File(rootOf(dir) + "/tombstones").exists)
    assert(!new java.io.File(rootOf(dir) + "/bands/seg=1").exists)
    assert(DedupIndexStore.minhashParams(spark, dir) == ((3, 64, 16)),
      "compaction must preserve the frozen params")
    assert(rows(compacted) == preCompact)
    DedupIndexStore.appendMinhash(spark, dir,
      corpus.filter(col("doc_id") === dead.min), "doc_id", "text")
    val reAdded = DedupIndexStore.readMinhash(spark, dir)
    assert(reAdded.filter(col("id") === dead.min).count() > 0,
      "post-compaction re-ingest of a once-deleted id must be visible")
  }

  test("line store tombstones: df view recomputed after the anti-join, " +
    "probes ≡ never-ingested, compaction GCs + re-admits") {
    val corpus = lineDocs.filter(col("doc_id") % 10 < 8)
    val batch = lineDocs.filter(col("doc_id") % 10 >= 8)
    val seg0 = corpus.filter(col("doc_id") % 10 < 4)
    val seg1 = corpus.filter(col("doc_id") % 10 >= 4)
    val deadIds = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    val dead = deadIds.collect().map(_.getLong(0)).toSet
    assert(dead.nonEmpty)

    val dir = tmp("graft_lnidx")
    DedupIndexStore.buildLines(spark, dir, seg0, "doc_id", "text")
    DedupIndexStore.appendLines(spark, dir, seg1, "doc_id", "text")
    val appended = DedupIndexStore.readLines(spark, dir)
    assert(DedupIndexStore.lineParams(spark, dir) == "\n")
    // pre-delete: merged segments ≡ the one-shot line index
    assert(rows(appended) == rows(Dedup.lineIndex(corpus, "doc_id", "text")))

    DedupIndexStore.deleteIds(spark, dir, deadIds, "doc_id")
    val retained = corpus.filter(!(col("doc_id") % 7 === 3))
    val loaded = DedupIndexStore.readLines(spark, dir)
    // (3) ≡ never-ingested, at both granularities
    assert(rows(loaded) == rows(Dedup.lineIndex(retained, "doc_id", "text")))
    assert(DedupIndexStore.readLineProvenance(spark, dir)
      .filter(col("id").isInCollection(dead)).count() == 0)
    // and the probe operator sees the post-delete df world
    assert(rows(Dedup.stripRepeatedLinesAgainst(batch, loaded,
        "doc_id", "text", minDocFreq = 2)) ==
      rows(Dedup.stripRepeatedLinesAgainst(batch,
        Dedup.lineIndex(retained, "doc_id", "text"),
        "doc_id", "text", minDocFreq = 2)))

    // (4) compaction + re-admission (pre-swap answer materialized
    // first — handles die with the swap)
    val preCompact = rows(loaded)
    DedupIndexStore.compact(spark, dir)
    val compacted = DedupIndexStore.readLines(spark, dir)
    assert(!new java.io.File(rootOf(dir) + "/tombstones").exists)
    assert(DedupIndexStore.lineParams(spark, dir) == "\n",
      "compaction must preserve the frozen delimiter")
    assert(rows(compacted) == preCompact)
    DedupIndexStore.appendLines(spark, dir,
      corpus.filter(col("doc_id") === dead.min), "doc_id", "text")
    val reAdded = DedupIndexStore.readLines(spark, dir)
    assert(rows(reAdded) == rows(Dedup.lineIndex(
      retained.unionByName(corpus.filter(col("doc_id") === dead.min)),
      "doc_id", "text")))
  }

  test("maintenanceAudit: segment and tombstone pressure trip the " +
    "compaction trigger, and compaction resets it") {
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val seg0 = corpus.filter(col("doc_id") % 10 < 4)
    val seg1 = corpus.filter(col("doc_id") % 10 >= 4)
    val dir = tmp("graft_mhidx_maint")
    DedupIndexStore.buildMinhash(spark, dir, seg0, "doc_id", "text")
    DedupIndexStore.appendMinhash(spark, dir, seg1, "doc_id", "text")
    val deadIds = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    val nDead = deadIds.count()
    val nAll = corpus.count()
    DedupIndexStore.deleteIds(spark, dir, deadIds, "doc_id")

    def audit(maxSegments: Int = 16, maxPpm: Long = 100000L) =
      DedupIndexStore.maintenanceAudit(spark, dir, "bands", maxSegments, maxPpm)
        .collect().head
    // exact integers: 2 segments, live = all - dead, ppm over totals
    val r = audit()
    assert(r.getLong(0) == 2L && r.getLong(1) == nAll - nDead &&
      r.getLong(2) == nDead)
    assert(r.getLong(3) == nDead * 1000000L / nAll)
    // the trigger fires on EITHER pressure axis
    assert(r.getBoolean(4), "default 10% tombstone cap must trip here")
    assert(!audit(maxPpm = 500000L).getBoolean(4))
    assert(audit(maxSegments = 1, maxPpm = 500000L).getBoolean(4))
    // compaction clears both pressures
    DedupIndexStore.compact(spark, dir)
    val after = audit()
    assert(after.getLong(0) == 1L && after.getLong(2) == 0L &&
      after.getLong(3) == 0L && !after.getBoolean(4))
    assert(after.getLong(1) == nAll - nDead)
  }

  test("a failing rename at any swap or publish step never loses the " +
    "live minhash store") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val local = java.nio.file.Files.createTempDirectory("graft_mhidx_crash").toString
    val dir = s"faulty://$local/idx"
    def probe() = rows(Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
      index = Some(DedupIndexStore.readMinhash(spark, dir))))
    try {
      DedupIndexStore.buildMinhash(spark, dir, corpus, "doc_id", "text")
      val firstRoot = rootOf(dir)
      val good = probe()

      // crash window 1: the rebuild's complete new tree is on disk
      // but the pointer flip (the ONLY mutating step of a publish)
      // fails — live store untouched and still answering
      FaultyRenameFs.failDstName = Some("ptr-2")
      val e1 = intercept[IllegalStateException] {
        DedupIndexStore.buildMinhash(spark, dir, corpus, "doc_id", "text")
      }
      FaultyRenameFs.reset()
      assert(e1.getMessage.contains("live table unchanged"))
      assert(rootOf(dir) == firstRoot,
        "a failed flip must leave the pointer on the previous tree")
      assert(probe() == good, "live store must survive a failed pointer flip")

      // heal, then crash window 2: the tombstone segment publish
      // fails — the delete reports failure, reads behave as if no
      // delete happened (the unpublished staging is invisible), and
      // the NEXT delete sweeps the stale staging and lands
      DedupIndexStore.buildMinhash(spark, dir, corpus, "doc_id", "text")
      val deadIds = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
      FaultyRenameFs.failDstName = Some("seg=0")
      val e3 = intercept[IllegalArgumentException] {
        DedupIndexStore.deleteIds(spark, dir, deadIds, "doc_id")
      }
      FaultyRenameFs.reset()
      assert(e3.getMessage.contains("could not publish segment"))
      assert(probe() == good, "an unpublished delete must suppress nothing")
      DedupIndexStore.deleteIds(spark, dir, deadIds, "doc_id")
      assert(DedupIndexStore.readMinhash(spark, dir)
        .filter(col("id") % 7 === 3).count() == 0)
    } finally FaultyRenameFs.reset()
  }

  test("sketches forget by rebuilding from retained rows ≡ never-ingested") {
    val dead = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val h = graft.functions.HashExpressions.mix64(
      graft.functions.HashExpressions.textFnv64(col("text")))

    // the documented path: rebuilt-from-retained states MERGE to the
    // manifest of a corpus that never held the forgotten ids
    val retained = docs.filter(!(col("doc_id") % 7 === 3))
    val rebuiltHalves =
      Profile.manifestStatesRebuild(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", dead, "source", "text")
        .unionByName(Profile.manifestStatesRebuild(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", dead, "source", "text"))
    assert(rows(Profile.manifestMerge(rebuiltHalves)) ==
      rows(Profile.manifestMerge(
        Profile.manifestStates(retained, "source", "text"))))

    // kmv/cms rebuilds are the same pure folds over the retained rows
    assert(rows(Profile.kmvRebuild(docs, "doc_id", dead, "source", h)) ==
      rows(Profile.kmvSketch(retained, "source", h)))
    assert(rows(Profile.cmsRebuild(docs, "doc_id", dead, h)) ==
      rows(Profile.cmsCells(retained, h)))
  }

  test("minhash compaction refuses the swap when a streamed publish " +
    "lands mid-compaction; no row lost; re-run picks it up") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val partA = docs.filter(col("doc_id") % 3 === 0)
    val partB = docs.filter(col("doc_id") % 3 === 1)
    val partC = docs.filter(col("doc_id") % 3 === 2)
    val local = java.nio.file.Files.createTempDirectory("graft_mhidx_race").toString
    val dir = s"faulty://$local/idx"
    try {
      DedupIndexStore.buildMinhash(spark, dir, partA, "doc_id", "text")
      DedupIndexStore.appendMinhash(spark, dir, partB, "doc_id", "text")
      // interpose a streaming-style publish between the compaction's
      // snapshot read and its publish: the first staging-table commit
      // (the _temporary cleanup of the bands write — params are a file
      // copy — after the watermark + read) triggers it
      FaultyRenameFs.hookDeleteName = Some("_temporary")
      FaultyRenameFs.hook = () =>
        DedupIndexStore.appendMinhash(spark, dir, partC, "doc_id", "text",
          at = Some(graft.sources.Segments.StreamSegBase))
      val e = intercept[graft.sources.ConcurrentStoreWriteException] {
        DedupIndexStore.compact(spark, dir)
      }
      FaultyRenameFs.reset()
      assert(e.getMessage.contains("segments changed since"))
      // nothing lost: the raced micro-batch's rows are in the live
      // table, alongside both pre-compaction segments
      val all = rows(DedupIndexStore.readMinhash(spark, dir))
      assert(all == rows(Dedup.corpusIndex(docs, "doc_id", "text", 3, 64, 16)))
      // and the RE-RUN compaction folds everything, raced rows included
      DedupIndexStore.compact(spark, dir)
      assert(new java.io.File(rootOf(dir) + "/bands/seg=0").isDirectory)
      assert(!new java.io.File(rootOf(dir) +
        s"/bands/seg=${graft.sources.Segments.StreamSegBase}").exists)
      assert(rows(DedupIndexStore.readMinhash(spark, dir)) == all)
    } finally FaultyRenameFs.reset()
  }

  test("line compaction refuses the swap when a deleteIds lands " +
    "mid-compaction; the delete is honored, never silently dropped") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_lnidx_race").toString
    val dir = s"faulty://$local/idx"
    val dead = lineDocs.filter(col("doc_id") % 7 === 3).select("doc_id")
    try {
      DedupIndexStore.buildLines(spark, dir,
        lineDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      DedupIndexStore.appendLines(spark, dir,
        lineDocs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      // a GDPR delete lands between the compaction's read and swap —
      // an unfenced publish would physically rewrite the corpus from
      // the pre-delete snapshot AND clear the tombstone: a silent
      // un-delete. The fence must refuse. (Interposed at the first
      // staging-table commit's _temporary cleanup.)
      FaultyRenameFs.hookDeleteName = Some("_temporary")
      FaultyRenameFs.hook = () =>
        DedupIndexStore.deleteIds(spark, dir, dead, "doc_id")
      intercept[graft.sources.ConcurrentStoreWriteException] {
        DedupIndexStore.compact(spark, dir)
      }
      FaultyRenameFs.reset()
      // the delete is live right now (tombstone anti-join)...
      val wanted = rows(DedupIndexStore.readLines(spark,
        {
          val ref = tmp("graft_lnidx_race_ref")
          DedupIndexStore.buildLines(spark, ref,
            lineDocs.filter(!(col("doc_id") % 7 === 3)), "doc_id", "text")
          ref
        }))
      assert(rows(DedupIndexStore.readLines(spark, dir)) == wanted)
      // ...and survives the re-run compaction (physical drop + GC)
      DedupIndexStore.compact(spark, dir)
      assert(!new java.io.File(rootOf(dir) + "/tombstones").exists)
      assert(rows(DedupIndexStore.readLines(spark, dir)) == wanted)
    } finally FaultyRenameFs.reset()
  }

  test("a GDPR delete racing a full-tree publish is never silently " +
    "lost: the flip-verified delete republishes into the new tree") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_delflip").toString
    val dir = s"faulty://$local/idx"
    val dead = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    try {
      DedupIndexStore.buildMinhash(spark, dir, docs, "doc_id", "text")
      val oldRoot = rootOf(dir)
      // interpose a fenced compaction INSIDE the delete's tombstone
      // publish (at its seg=0 rename): the compaction's fence check
      // runs before the tombstone lands — so it passes — and its flip
      // supersedes + GCs the very tree the delete is publishing into.
      // Without the flip-verified loop the delete would return
      // "success" with its tombstone in a deleted tree: a silent
      // un-delete, the worst GDPR failure mode.
      FaultyRenameFs.hookRenameDstName = Some("seg=0")
      FaultyRenameFs.hook = () => DedupIndexStore.compact(spark, dir)
      DedupIndexStore.deleteIds(spark, dir, dead, "doc_id")
      FaultyRenameFs.reset()
      assert(rootOf(dir) != oldRoot,
        "the interposed compaction must have flipped the pointer")
      // the delete is honored in the LIVE tree despite the race
      assert(new java.io.File(rootOf(dir) + "/tombstones/seg=0").isDirectory,
        "the verified delete must have republished into the new tree")
      assert(DedupIndexStore.readMinhash(spark, dir)
        .filter(col("id") % 7 === 3).count() == 0,
        "the raced delete must suppress its ids — never a silent un-delete")
    } finally FaultyRenameFs.reset()
  }

  test("two concurrent deleteIds both land: unique staging + " +
    "segment-id retry — neither delete set is lost") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyRenameFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_deldel_race").toString
    val dir = s"faulty://$local/idx"
    val deadA = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val deadB = docs.filter(col("doc_id") % 7 === 5).select("doc_id")
    try {
      DedupIndexStore.buildMinhash(spark, dir, docs, "doc_id", "text")
      // interpose delete B at the exact moment delete A publishes its
      // tombstone segment: A's rename to seg=0 yields to B (which
      // takes seg=0), then A retries and lands at seg=1 — the
      // unique-staging contract means B can never clobber A's staged
      // rows and the id retry means A still publishes
      FaultyRenameFs.hookRenameDstName = Some("seg=0")
      FaultyRenameFs.hook = () =>
        DedupIndexStore.deleteIds(spark, dir, deadB, "doc_id")
      DedupIndexStore.deleteIds(spark, dir, deadA, "doc_id")
      FaultyRenameFs.reset()
      assert(new java.io.File(rootOf(dir) + "/tombstones/seg=0").isDirectory)
      assert(new java.io.File(rootOf(dir) + "/tombstones/seg=1").isDirectory)
      val live = DedupIndexStore.readMinhash(spark, dir)
      assert(live.filter(col("id") % 7 === 3).count() == 0,
        "delete A must be honored")
      assert(live.filter(col("id") % 7 === 5).count() == 0,
        "delete B must be honored")
    } finally FaultyRenameFs.reset()
  }
}
