package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A concurrent writer mutated a segmented store between a
  * compaction's snapshot read and its staged swap — swapping would
  * silently drop the newly-published segments (or a new tombstone
  * set), so the swap REFUSES instead and preserves the staging tree.
  * Recovery protocol: nothing was lost — the live table still holds
  * every segment; re-run the compaction (it re-reads the grown
  * table). At 100 TB this is the normal occasional outcome of a
  * scheduled compaction racing the always-on streaming writer. */
final class ConcurrentStoreWriteException(msg: String)
  extends RuntimeException(msg)

/** The shared segmented-table discipline behind every persisted
  * standing store ([[AnnIndex]], [[DedupIndexStore]], the
  * [[graft.plans.IncrementalRelease]] state tables): corpus-sized
  * tables live as `table/seg=N` children (Spark partition discovery;
  * the `seg` column is projected away on read), appends stage under
  * an underscore dir readers skip and publish with ONE atomic rename,
  * deletes are an id tombstone table under the same discipline, and
  * full-tree publication goes through POINTER-FILE indirection
  * (`ptr-<seq>` names the live `v-<uuid>` tree — see the
  * pointer-publication section) so a complete readable copy exists
  * at every crash point AND the contract survives object stores,
  * where directory rename is a copy.
  *
  * A store tree is its model-sized tables (centroids, codebooks,
  * planes, params — any number, possibly none) plus ONE segmented
  * table. Exactly two entry points write a whole tree, and no store
  * calls the pointer primitives itself: [[publishTree]] (every
  * build, retrain and wholesale replace — fenced whenever the new
  * tree is computed from the store it replaces) and [[compact]] (the
  * one compaction: model tables copied verbatim, the segmented table
  * folded to `seg=0` through the tombstone filter).
  *
  * Extracted from AnnIndex (reference semantics unchanged — the
  * `_append.staging*` path names and the pointer/version layout are
  * part of the crash-posture contract the specs interpose on) so the
  * dedup corpus index and the line index can carry the identical
  * tombstone right-to-be-forgotten path the ANN index already has.
  *
  * Scale posture: an append costs O(batch) write + one rename; a
  * delete costs O(deletion) ids; only compaction touches the
  * corpus-sized table, and it reads THROUGH the tombstone filter so
  * GC and physical drop are one atomic swap.
  */
private[graft] object Segments {

  val SegDir = "seg=(\\d+)".r

  /** The segment-id floor reserved for STREAMING writers (explicit
    * [[publishSegment]] ids keyed by micro-batch id): auto-numbered
    * publishes only ever assign ids BELOW this, so a manual append
    * can never land inside the streamed
    * range — where a later micro-batch's publish would mistake the
    * occupied id for its own already-replayed segment and silently
    * drop that batch's rows. */
  val StreamSegBase: Long = 1000000000L

  // Concurrency contract: appends/publishes/deletes stage under a
  // UNIQUE `_append.staging-<uuid>` path each, so two concurrent
  // writers on the same table can never clobber each other's staging
  // (the GDPR-critical case: two deleteIds on one store must BOTH
  // land). Auto-numbered appends that race to the same segment id
  // retry at the next id (bounded); same-segment-id replays are the
  // tolerated no-op overlap ([[publishSegment]]). Compaction fences
  // itself against every concurrent publish via [[segmentWatermark]]
  // + [[publishVersionFenced]] — a segment published after the compaction
  // snapshot makes the swap refuse with
  // [[ConcurrentStoreWriteException]] rather than silently vanish.
  // Reads are always safe concurrently.

  private def fsFor(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Newest modification time anywhere in a subtree. The sweep keys
    * on this, not the root dir's mtime: a directory's mtime is set
    * when the parquet job CREATES it and does not refresh while
    * tasks write underneath — a root-mtime cutoff would sweep a live
    * writer's staging the moment its append runs longer than the
    * cutoff (realistic for a large batch at the 100 TB posture).
    * Cost: one recursive listing of each leftover staging tree —
    * normally none exist; a live staging's tree is
    * written-so-far-sized. */
  private def newestMtime(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    // a subtree that vanished between the parent listing and this stat
    // (a concurrent writer published it, or another sweeper won) is
    // treated as FRESH so the sweep skips it instead of aborting the
    // whole append with the propagated FileNotFoundException
    val self =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return Long.MaxValue }
    val children =
      try fs.listStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    children.foldLeft(self) { (mx, c) =>
      math.max(mx,
        if (c.isDirectory) newestMtime(fs, c.getPath)
        else c.getModificationTime)
    }
  }

  /** How long nothing in a staging or superseded tree must have been
    * touched before a sweep treats it as a crashed writer's orphan. */
  private val StaleAfterMs = 3600L * 1000L

  /** Sweep every child of `dir` accepted by `named` whose SUBTREE
    * ([[newestMtime]]) has been untouched past [[StaleAfterMs]] — the
    * leftovers of CRASHED writers (append staging, a release run's
    * `_staging` trees, which repeated crash/resume cycles would
    * otherwise accumulate indefinitely). A live concurrent writer's
    * in-flight tree always has a fresh file underneath, however long
    * its write runs, and is never swept from under it. A child named
    * `_append.staging` (the fixed staging name of writers before
    * unique staging) always goes. Orphans are invisible to readers
    * either way (underscore prefix). */
  private[graft] def sweepStaleChildren(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      named: String => Boolean = _ => true): Unit = {
    if (!fs.exists(dir)) return
    val cutoff = System.currentTimeMillis() - StaleAfterMs
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name == "_append.staging" ||
        (named(name) && newestMtime(fs, st.getPath) < cutoff))
        fs.delete(st.getPath, true)
    }
  }

  /** The whole content of a small file (a pointer, a run
    * fingerprint, a JSON config) as UTF-8 text. */
  private[graft] def readText(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Publish `rows` as one `seg=N` of a segmented table: stage under
    * a unique underscore dir readers skip, then ONE atomic rename
    * ([[Publish.dir]]). Returns true when this call published.
    *
    *   - `at = Some(id)` — the idempotent, replay-safe form: if
    *     `seg=<id>` is already published the call is a no-op that
    *     computes nothing, and a same-id publish that lands while we
    *     stage wins (a same-id publish carries the same rows by
    *     contract, so our staging just sweeps). A foreachBatch writer
    *     keyed by the micro-batch id, or a retried bootstrap, can
    *     therefore be REPLAYED without appending the same rows twice.
    *   - `at = None` — auto-numbered: the next id above every
    *     published segment below [[StreamSegBase]], so manual appends
    *     interleave safely with a streaming writer's explicit ids. Two
    *     CONCURRENT auto-numbered publishes race to the same id, the
    *     loser's rename fails, and it retries at the next free id
    *     (bounded) — both land, neither clobbers (the
    *     deleteIds-vs-deleteIds case).
    *
    * The one failure exit self-cleans and fails loudly with the live
    * table unchanged: an explicit id that could not be renamed into
    * place, or an auto-numbered publish that lost the same id twice
    * (nothing raced us there — an environmental failure) or ran out
    * of its retry budget. */
  def publishSegment(
      spark: SparkSession, table: String, rows: DataFrame,
      at: Option[Long]): Boolean = {
    val fs = fsFor(spark, table)
    def segOf(id: Long) = new org.apache.hadoop.fs.Path(s"$table/seg=$id")
    if (at.exists(id => fs.exists(segOf(id)))) return false // replay no-op
    val t = new org.apache.hadoop.fs.Path(table)
    sweepStaleChildren(fs, t, _.startsWith("_append.staging-"))
    val staging = new org.apache.hadoop.fs.Path(t,
      s"_append.staging-${java.util.UUID.randomUUID()}")
    rows.write.mode("overwrite").parquet(staging.toString)
    def nextId(): Long = at.getOrElse(
      fs.listStatus(t)
        .map(_.getPath.getName).collect { case SegDir(n) => n.toLong }
        .filter(_ < StreamSegBase)
        .foldLeft(-1L)(math.max) + 1)
    @annotation.tailrec
    def attempt(n: Int, last: Long): Boolean = {
      val id = nextId()
      val seg = segOf(id)
      // exists-precheck before the rename: never attempt a rename
      // onto a KNOWN-occupied id; [[Publish.dir]] catches the race
      // that lands inside the check-to-rename window
      if (!fs.exists(seg) && Publish.dir(fs, staging, seg)) true
      else if (at.isDefined && fs.exists(seg)) {
        fs.delete(staging, true) // a concurrent same-id publish won
        false
      } else if (at.isDefined || id == last || n == 7) {
        fs.delete(staging, true)
        throw new IllegalArgumentException(
          s"Segments: could not publish segment $seg after ${n + 1} " +
            "attempts — live table unchanged")
      } else attempt(n + 1, id)
    }
    attempt(0, -1L)
  }

  /** Tombstone DELETE: publish the ids as one new segment of the
    * `tombstones` table under the STORE dir — O(deletion), the live
    * corpus table untouched. Contract (spec-pinned on every store
    * that uses it): a tombstone suppresses its id across ALL
    * segments, including segments appended AFTER the delete;
    * re-ingesting a previously-deleted id requires a compaction
    * first. Concurrent deleteIds on one store both land (unique
    * staging + segment-id retry in [[publishSegment]]).
    *
    * FLIP-VERIFIED — a right-to-be-forgotten delete must never be
    * silently lost to a concurrent full-tree publish, so this call
    * resolves the live tree itself and only returns once the tree it
    * published into is STILL the live one. The race ladder:
    *
    *   - delete publishes BEFORE the compactor's watermark capture →
    *     the compaction reads THROUGH the tombstone filter, the
    *     delete survives physically;
    *   - delete publishes between the watermark and the fence check →
    *     the exact-set fence REFUSES the flip;
    *   - delete publishes inside the ms between fence check and flip
    *     → its segment sits in the doomed tree; the post-publish
    *     re-resolve here detects the moved pointer (or the tree
    *     vanishing mid-publish under the flip's GC) and REPUBLISHES
    *     the ids into the new tree — idempotent, because a tombstone
    *     set is model-free (valid across compactions and retrains;
    *     retrained trees built from a pre-delete read still carry the
    *     ids, which is exactly why the republish must happen).
    *
    * The residual is the intersection of two ms-scale windows (a
    * flip that STRADDLES the publish-plus-re-resolve) — documented
    * accepted, same class as the append-vs-flip note above. */
  def deleteIds(
      spark: SparkSession, dir: String, ids: DataFrame, idCol: String): Unit =
    publishToStore(spark, dir, "tombstones",
      ids.select(col(idCol).cast("long").as("id")).distinct())

  /** FLIP-VERIFIED publish into a pointer-published store: publish
    * `rows` as one segment of `<tree>/<table>` ([[publishSegment]],
    * `at` as there), then verify the pointer did not move while we
    * published. Returns true when this call published (false: the
    * `at` segment was already there — a replay). What a moved
    * pointer means depends on the rows:
    *
    *   - MODEL-FREE rows (`pinnedRoot = None`: tombstones,
    *     minhash/line signatures keyed only by store params, release
    *     state deltas) are valid under every tree of the store. The
    *     call resolves the live tree itself; when that tree vanished
    *     mid-publish (a flip's eventual GC) or the pointer moved, the
    *     rows sit (at most) in a superseded, never-resolved tree the
    *     grace-period GC owns, and they are REPUBLISHED into the new
    *     live tree (bounded) — idempotent, because the flipped tree
    *     cannot contain them (a fenced flip that had seen the segment
    *     would have refused; an unfenced build reads source data, not
    *     the store). The race ladder is [[deleteIds]]'s.
    *   - MODEL-COUPLED rows (`pinnedRoot = Some(root)`: IVF cell
    *     assignments, PQ codes, LSH buckets — encoded with the frozen
    *     model of the tree the caller resolved and read) land only if
    *     the pointer names `root` before AND after the segment
    *     rename. Any move refuses with
    *     [[ConcurrentStoreWriteException]]: the raced rows sit (at
    *     most) in the superseded tree, and the caller re-encodes
    *     against the new live tree and re-publishes. No verbatim
    *     retry is possible — replaying old-model rows into a
    *     retrained tree would corrupt it silently. A same-`at` replay
    *     against the same root is the tolerated no-op, which is what
    *     makes a crash-replayed micro-batch append exactly-once
    *     ([[graft.plans.IncrementalRelease.runDeltas]]' ANN leg).
    *
    * Either way raced rows land exactly once in the LIVE tree (where
    * the fence in [[publishVersionFenced]] guarantees any LATER
    * compaction reads through them or refuses), or the caller hears
    * about it typed — never a silent vanish. Any failure with the
    * pointer UNMOVED is environmental and rethrows. */
  def publishToStore(
      spark: SparkSession, dir: String, table: String, rows: DataFrame,
      at: Option[Long] = None, pinnedRoot: Option[String] = None): Boolean = {
    def moved(root: String) = resolve(spark, dir) != root
    def refuse(root: String): Nothing = throw new ConcurrentStoreWriteException(
      s"Segments: the publish into $dir/$table raced a full-tree publish " +
        s"— the live tree is no longer $root and the rows are encoded " +
        "against its frozen model, so they cannot be replayed verbatim. " +
        "Nothing is visible to readers; re-encode against the new live " +
        "tree and re-publish.")
    pinnedRoot.filter(moved).foreach(refuse)
    var attempts = 0
    while (attempts < 8) {
      val root = pinnedRoot.getOrElse(resolve(spark, dir))
      try {
        val published = publishSegment(spark, s"$root/$table", rows, at)
        if (!moved(root) || (!published && pinnedRoot.isEmpty)) return published
      } catch {
        // the tree vanished under the publish (a flip's GC) — handled
        // below; any failure with the pointer UNMOVED rethrows
        case _: java.io.FileNotFoundException | _: IllegalArgumentException |
          _: IllegalStateException if moved(root) => ()
      }
      // the pointer moved: model-coupled rows refuse, model-free rows
      // republish into the live tree (the raced copy sits in a doomed
      // tree no reader resolves)
      pinnedRoot.foreach(refuse)
      attempts += 1
    }
    throw new IllegalStateException(
      s"Segments: could not land a verified publish on $dir/$table " +
        "after 8 attempts — full-tree publishes kept racing the append")
  }

  /** Subtract the index's tombstone set (if any) from its corpus
    * table — the single filter every load path applies, joining on
    * `idCol`. The tombstone table counts as PRESENT only when a
    * published `seg=N` child exists: a crashed first [[deleteIds]]
    * leaves only the underscore staging, which readers must treat as
    * "no delete happened" (parquet would otherwise fail to infer a
    * schema from the empty listing). At scale the tombstone table is
    * deletion-sized and AQE broadcasts it into the anti-join. */
  def minusTombstones(
      spark: SparkSession, dir: String, table: DataFrame,
      idCol: String = "id"): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = fsFor(spark, dir)
    val published = fs.exists(p) &&
      fs.listStatus(p).exists(st => SegDir.matches(st.getPath.getName))
    if (!published) table
    else table.join(
      spark.read.parquet(s"$dir/tombstones").select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  // ------------------------------------------ pointer publication
  //
  // Full-tree publication (build / compact / retrain) is OBJECT-STORE
  // SAFE: it never renames a directory. The store directory holds
  //
  //   <dir>/ptr-<seq>     one small pointer FILE naming the live tree
  //   <dir>/v-<uuid>/     immutable versioned trees (tables + segments)
  //
  // Writers build a COMPLETE new tree directly at its final versioned
  // path ([[newVersionPath]] — no tree-level rename ever happens, so
  // "rename is a COPY on object stores" stops mattering), then flip
  // the pointer by creating `ptr-<seq+1>` — one small-file
  // [[Publish.marker]]. The create-at-a-fixed-name IS the compare-and-swap:
  // two racing publishers both target `ptr-<seq+1>`, exactly one
  // rename lands, and the loser sees the occupied name and refuses
  // (typed) or retries — this closes the ms-scale publish-vs-publish
  // TOCTOU window the old directory-swap fence documented as residual
  // (two fenced publishers can no longer both land; where rename
  // overwrites a file, see [[Publish]], the sub-ms residual is
  // last-writer-wins — benign for fenced publishers, which passed the
  // same watermark, and the contract of unfenced builds). Append-vs-flip
  // is closed STRUCTURALLY since round 15: superseded trees are
  // grace-period GC'd (an hour after their last touch, at the next
  // flip's sweep), so an append racing a flip always completes its
  // write — into the doomed tree — and the flip-verified wrappers
  // ([[publishToStore]] / [[deleteIds]])
  // re-resolve after publishing and retry into the live tree (or
  // refuse typed for model-coupled rows), so raced rows land exactly
  // once in the LIVE tree or the caller hears about it. Readers
  // [[resolve]] through the highest-seq pointer; a stale pointer
  // listing that raced a publish+GC relists (bounded). Crash posture:
  // a crash before the flip leaves an orphan v-tree (swept stale,
  // like append staging) and the previous tree live at every moment —
  // never zero readable copies. Stores written before this layout
  // (tables directly under <dir>) resolve to <dir> itself until
  // their first full-tree publish upgrades them.

  val PointerName = "ptr-(\\d+)".r

  /** Where a full-tree publisher writes its new tree: a fresh
    * versioned path under the store dir. Write every table of the
    * COMPLETE tree here, then [[publishVersion]] /
    * [[publishVersionFenced]] it. */
  def newVersionPath(dir: String): String =
    s"$dir/v-${java.util.UUID.randomUUID()}"

  /** (pointer seq, version name) — (0, None) for a legacy/new store.
    * A pointer file GC'd between the listing and the open (a
    * concurrent flip's stale-pointer sweep) relists (bounded) — the
    * same race-and-remedy [[resolve]] applies one level up, pulled
    * down here so [[segmentWatermark]] capture and
    * [[publishVersion]]'s prev read survive it too. */
  private def pointer(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String): (Long, Option[String]) = {
    var attempts = 0
    while (attempts < 5) {
      try return pointerOnce(fs, dir)
      catch { case _: java.io.FileNotFoundException => () }
      attempts += 1
    }
    throw new IllegalStateException(
      s"Segments: could not read a live pointer for $dir after 5 " +
        "attempts — pointer files kept racing concurrent flips")
  }

  private def pointerOnce(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String): (Long, Option[String]) = {
    val d = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(d)) return (0L, None)
    val ptrs = fs.listStatus(d).map(_.getPath.getName)
      .collect { case PointerName(n) => n.toLong }
    if (ptrs.isEmpty) (0L, None)
    else {
      val seq = ptrs.max
      val p = new org.apache.hadoop.fs.Path(s"$dir/ptr-$seq")
      val content = readText(fs, p).trim
      require(content.nonEmpty, s"Segments: empty pointer file $p")
      (seq, Some(content))
    }
  }

  /** The live tree root of a store: the versioned tree the
    * highest-seq pointer names, or `dir` itself for a legacy/new
    * store (tables directly under the dir). A pointer naming a
    * GC'd tree means our listing raced a publish — relist
    * (bounded). */
  def resolve(spark: SparkSession, dir: String): String = {
    val fs = fsFor(spark, dir)
    var attempts = 0
    while (attempts < 5) {
      try {
        pointer(fs, dir) match {
          case (_, None) => return dir
          case (_, Some(v)) =>
            val p = new org.apache.hadoop.fs.Path(s"$dir/$v")
            if (fs.exists(p)) return s"$dir/$v"
        }
      } catch {
        // the pointer file itself was GC'd between list and open —
        // same race, same remedy
        case _: java.io.FileNotFoundException => ()
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"Segments: could not resolve a live tree for $dir after 5 " +
        "attempts — pointer kept racing publishes")
  }

  /** A store's consistency snapshot, captured BEFORE constructing a
    * compaction/retrain's read (watermark first, THEN the read — a
    * write landing between the two then makes the fence refuse
    * harmlessly; the reverse order could let the publish pass while
    * the new tree misses the raced rows): the pointer seq + version,
    * and per segmented child table of the RESOLVED tree (tombstones
    * included) the exact SET of `seg=N` ids. A set, not the max id:
    * manual appends auto-number BELOW [[StreamSegBase]] while
    * streamed publishes sit above it, so with any streamed segment
    * present a raced manual append lands below the table's max — a
    * max-only watermark would wave it through. Feed to
    * [[publishVersionFenced]]. */
  final case class StoreWatermark(
      ptrSeq: Long,
      version: Option[String],
      segs: Map[String, Set[Long]])

  def segmentWatermark(spark: SparkSession, dir: String): StoreWatermark = {
    val fs = fsFor(spark, dir)
    val (seq, version) = pointer(fs, dir)
    val root = version.map(v => s"$dir/$v").getOrElse(dir)
    val segs = tablesOf(fs, root).flatMap { t =>
      val ids = segIds(fs, t)
      if (ids.isEmpty) None else Some(t.getName -> ids)
    }.toMap
    StoreWatermark(seq, version, segs)
  }

  /** The table children of a store tree: every directory but the
    * underscore/dot staging ones and `v-` trees (a legacy root holds
    * its versions beside its tables). */
  private def tablesOf(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String): Array[org.apache.hadoop.fs.Path] = {
    val d = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).filter(_.isDirectory).map(_.getPath).filterNot { p =>
      val n = p.getName
      n.startsWith("_") || n.startsWith(".") || n.startsWith("v-")
    }
  }

  /** The published `seg=N` ids of a table (empty for an unsegmented
    * model table, or a table that vanished under a concurrent GC). */
  private def segIds(
      fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Set[Long] = {
    val children =
      try fs.listStatus(table)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    children.map(_.getPath.getName).collect { case SegDir(n) => n.toLong }.toSet
  }

  /** After a successful flip from `prev`: retire stale pointers and
    * sweep crash/superseded orphans. Superseded `v-` trees are GRACE-
    * PERIOD GC'd, not deleted at the flip: they linger until nothing
    * in their subtree has been touched for an hour (the staging sweep
    * cutoff), then the NEXT flip's sweep drops them. This closes the
    * append-vs-flip residual structurally — an append that resolved
    * the old tree and publishes inside the flip window now always
    * LANDS on disk (in the doomed tree) instead of dying on the
    * deleted parent at an arbitrary step, and the flip-verified
    * publish wrappers ([[publishToStore]] / [[deleteIds]]) detect the moved pointer and retry/refuse TYPED.
    * Cost: one superseded tree of transient disk per publish per
    * grace hour. The one-time legacy-layout upgrade still drops the
    * dead flat children at the flip (they have no pointer to race),
    * but exempts in-flight `_ptr.tmp-*` files — deleting a concurrent
    * flipper's fresh tmp regardless of age could fail its CAS
    * spuriously mid-attempt; the age-gated sweep below owns those. */
  private def gcAfterFlip(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      newSeq: Long,
      newVersion: String,
      prev: (Long, Option[String])): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    prev._2 match {
      case Some(_) => () // superseded v-tree: grace-period sweep below
      case None =>
        // legacy flat layout superseded: its table children are dead
        fs.listStatus(d).foreach { st =>
          val n = st.getPath.getName
          val keep = n.startsWith("v-") || PointerName.matches(n) ||
            n.startsWith("_ptr.tmp-")
          if (!keep) fs.delete(st.getPath, true)
        }
    }
    val cutoff = System.currentTimeMillis() - StaleAfterMs
    fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      n match {
        case PointerName(s) if s.toLong < newSeq => fs.delete(st.getPath, false)
        case _ if n.startsWith("_ptr.tmp-") &&
          st.getModificationTime < cutoff => fs.delete(st.getPath, false)
        case _ if n.startsWith("v-") && n != newVersion &&
          newestMtime(fs, st.getPath) < cutoff => fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Publish the complete tree at `versionPath` as the store's live
    * tree. Unfenced form — for BUILDS, whose contract is "replace
    * whatever is there": a lost pointer race retries at the next seq
    * (bounded). The previous tree stays readable until the instant
    * the pointer flips. */
  def publishVersion(
      spark: SparkSession, dir: String, versionPath: String): Unit = {
    val fs = fsFor(spark, dir)
    val vp = new org.apache.hadoop.fs.Path(versionPath)
    require(versionPath.startsWith(dir.stripSuffix("/") + "/"),
      s"Segments: version path $versionPath must live under $dir")
    require(fs.exists(vp), s"Segments: no tree at $versionPath to publish")
    val versionName = vp.getName
    var attempts = 0
    while (attempts < 8) {
      val prev = pointer(fs, dir)
      val next = prev._1 + 1
      if (Publish.marker(fs, new org.apache.hadoop.fs.Path(s"$dir/ptr-$next"),
        versionName.getBytes(java.nio.charset.StandardCharsets.UTF_8))) {
        gcAfterFlip(fs, dir, next, versionName, prev)
        return
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"Segments: could not publish $versionPath into $dir after 8 " +
        "pointer attempts — live table unchanged")
  }

  // ------------------------------------------------ full-tree writers

  /** One complete store tree: its model-sized tables (name → rows,
    * each written as a plain parquet table) and its one segmented
    * table `table`, whose `rows` are written as `table/seg=0`. */
  final case class Tree(
      model: Seq[(String, DataFrame)], table: String, rows: DataFrame)

  /** The one full-tree writer: evaluate `tree`, write it under a
    * fresh version path, and publish it. Unfenced (`fenced = false`)
    * for BUILDS, whose contract is "replace whatever is there"
    * ([[publishVersion]]). Fenced for every writer whose tree is
    * computed from the store it replaces (retrain, wholesale
    * replace): the [[segmentWatermark]] is captured BEFORE `tree` is
    * evaluated — so every read `tree` makes of the store comes after
    * it — and the publish refuses ([[publishVersionFenced]]) if any
    * segment or tombstone landed since. */
  def publishTree(spark: SparkSession, dir: String, fenced: Boolean)(
      tree: => Tree): Unit =
    publishNewVersion(spark, dir, fenced) { staging =>
      val t = tree
      t.model.foreach { case (name, rows) =>
        rows.write.mode("overwrite").parquet(s"$staging/$name")
      }
      t.rows.write.mode("overwrite").parquet(s"$staging/${t.table}/seg=0")
    }

  /** The one compaction, for every store family: fold the live
    * tree's segmented table back to one `seg=0`, read THROUGH the
    * tombstone filter (joined on `idCol`), so deleted ids are
    * physically dropped and the tombstone table is cleared in the
    * same flip. Every other child (the model tables) is copied byte
    * for byte — compaction is a file operation that never decodes a
    * model. Fenced like [[publishTree]]: a segment or tombstone
    * published after the watermark refuses the flip with
    * [[ConcurrentStoreWriteException]] (nothing lost — re-run).
    * Handles read BEFORE a compaction hold the pre-flip file listing;
    * re-read after. */
  def compact(spark: SparkSession, dir: String, idCol: String): Unit = {
    val fs = fsFor(spark, dir)
    publishNewVersion(spark, dir, fenced = true) { staging =>
      val root = resolve(spark, dir)
      val (segmented, model) = tablesOf(fs, root)
        .filter(_.getName != "tombstones").partition(segIds(fs, _).nonEmpty)
      require(segmented.length == 1,
        s"Segments: $root must hold exactly one segmented table besides " +
          s"tombstones to compact, found ${segmented.map(_.getName).toSeq}")
      model.foreach { p =>
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
          new org.apache.hadoop.fs.Path(s"$staging/${p.getName}"), false,
          spark.sparkContext.hadoopConfiguration)
      }
      val table = segmented.head.getName
      minusTombstones(spark, root,
        spark.read.parquet(s"$root/$table").drop("seg"), idCol)
        .write.mode("overwrite").parquet(s"$staging/$table/seg=0")
    }
  }

  /** Capture the watermark (when fenced), `write` a complete tree at
    * a fresh version path, publish it. */
  private def publishNewVersion(
      spark: SparkSession, dir: String, fenced: Boolean)(
      write: String => Unit): Unit = {
    val watermark = if (fenced) Some(segmentWatermark(spark, dir)) else None
    val staging = newVersionPath(dir)
    write(staging)
    watermark match {
      case Some(w) => publishVersionFenced(spark, dir, staging, w)
      case None => publishVersion(spark, dir, staging)
    }
  }

  /** [[publishVersion]] fenced against concurrent writers: refuses
    * (typed error, built tree preserved at `versionPath`, live table
    * untouched) unless the store is EXACTLY as the compaction's
    * [[segmentWatermark]] snapshot left it — same pointer seq, same
    * segment id set per child table. Divergence in either direction
    * means the staged tree was built from a stale snapshot: a
    * segment published since (a streamed micro-batch, or a tombstone
    * set — a lost GDPR delete) would silently vanish with the flip;
    * a segment REMOVED since (a raced full-tree publish) means the
    * snapshot itself no longer describes the live store
    * (compaction-vs-compaction). The pointer create IS the
    * compare-and-swap, so even two fenced publishers passing the
    * check concurrently cannot both land — the loser's flip hits the
    * occupied `ptr-<seq+1>` name and refuses typed. Recovery is
    * always: nothing lost, re-run against the grown table. */
  def publishVersionFenced(
      spark: SparkSession, dir: String, versionPath: String,
      watermark: StoreWatermark): Unit = {
    val fs = fsFor(spark, dir)
    val now = segmentWatermark(spark, dir)
    def refuse(why: String): Nothing =
      throw new ConcurrentStoreWriteException(
        s"Segments: refusing to publish compacted tree into $dir — $why. " +
          s"Live table unchanged, built tree preserved at $versionPath; " +
          "re-run the compaction against the grown table.")
    if (now.ptrSeq != watermark.ptrSeq || now.version != watermark.version)
      refuse(s"the live tree was republished since the compaction read " +
        s"(pointer ${watermark.ptrSeq} -> ${now.ptrSeq})")
    if (now.segs != watermark.segs) {
      val diffs = (now.segs.keySet ++ watermark.segs.keySet).toSeq.sorted
        .flatMap { t =>
          val a = watermark.segs.getOrElse(t, Set.empty)
          val b = now.segs.getOrElse(t, Set.empty)
          val fresh = (b -- a).toSeq.sorted.map(n => s"+seg=$n")
          val gone = (a -- b).toSeq.sorted.map(n => s"-seg=$n")
          if (fresh.isEmpty && gone.isEmpty) None
          else Some(s"$t ${(fresh ++ gone).mkString(",")}")
        }
      refuse(s"segments changed since the compaction read: ${diffs.mkString("; ")}")
    }
    val versionName = new org.apache.hadoop.fs.Path(versionPath).getName
    val next = watermark.ptrSeq + 1
    if (!Publish.marker(fs, new org.apache.hadoop.fs.Path(s"$dir/ptr-$next"),
      versionName.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      refuse(s"a concurrent publisher won the pointer compare-and-swap at " +
        s"ptr-$next")
    gcAfterFlip(fs, dir, next, versionName,
      (watermark.ptrSeq, watermark.version))
  }
}
