package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery,
  StreamingQueryListener}
import org.apache.spark.storage.StorageLevel
import graft.operators.{Stage, Transportor}
import graft.plans.TransportPlan
import graft.sources.{OverlayIO, TableIO}

/** Structured Streaming operators over the events stream
  * (`events(event_id, ts, user_id, event_type, value, props)`).
  *
  * The reference engine is strictly batch (SURVEY.md §2.10); these are
  * the north-star streaming extensions. Each transform takes a
  * DataFrame so the same code runs on `readStream` (incremental,
  * watermarked state) and on a batch read (backfill) — the
  * batch-equivalent parity queries in
  * [[graft.queries.ParityQueries]] (q_events_hourly,
  * q_events_sessionize) are the oracle-checked twins. Per-micro-batch
  * work — any batch operator run on each micro-batch — goes through
  * [[eachBatch]], the one place a `foreachBatch` query starts.
  */
object StreamOps {

  final case class Event(event_id: Long, user_id: Long, tsMicros: Long,
      event_type: String, value: Double)

  final case class SessionAssign(user_id: Long, event_id: Long, session_seq: Long)

  private final case class SessionState(lastTsMicros: Long, seq: Long)

  /** Event-time sessionizer state, kept as a plain tuple because
    * Spark's state-encoder codegen handles nested product types more
    * reliably than a bespoke case class holding a collection:
    * (pending events in the reorder horizon, last finalized ts, seq). */
  private type SessionBuffer = (List[Event], Long, Long)

  /** Hopping (sliding) window aggregate with a 2h watermark — 1 h
    * windows every 30 min by default, each event in size/slide
    * overlapping windows: the streaming form of q_events_hopping, and
    * with size = slide = 1 hour (which Spark plans as a tumbling
    * window) of q_events_hourly. State is bounded by the watermark
    * horizon: the state store holds only ~2h × |event_type| ×
    * (size/slide) live windows per partition. */
  def hoppingCounts(
      events: DataFrame,
      size: String = "1 hour",
      slide: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.ExactAgg.moneySum(col("value"), 100).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))

  /** The one micro-batch loop: start a query over `stream`,
    * checkpointed under `checkpointDir`, that runs `f(batch, batchId)`
    * on every micro-batch. batchId is deterministic from the
    * checkpoint, so a replayed micro-batch sees the id it had before
    * the restart; an `f` that publishes idempotently by id (see
    * [[publishBatch]], or `Segments.publishSegment` at
    * `StreamSegBase + batchId`) is exactly-once.
    *
    * `frozen` are the query's static sides — a dedup corpus index
    * (`Dedup.corpusIndex`, `embeddingCorpusIndex`,
    * `semanticCorpusIndex`, `DedupIndexStore.readMinhash`), an eval
    * shingle set (`Dedup.evalShingleSet`), a frozen weight table.
    * Each is persisted before the query starts, so every micro-batch
    * pays only its own side of the probe (pass it to the batch
    * operator's `index`/`evalShingles` argument), never a rebuild of
    * the static one. `Dataset.persist` returns the same instance, so
    * `f` reads the caller's own handle. A frozen side is FIXED at
    * query start: refreshing it is a query restart, which the
    * checkpoint makes safe.
    *
    * These are the one cache kept outside [[graft.operators.Stage]]:
    * they outlive any scope. A listener keyed to this query's id
    * unpersists them when the query terminates — stopped or failed —
    * and removes itself, so a retrain-and-restart cadence never
    * accumulates stale caches. unpersist is idempotent, so the benign
    * race — a query that dies before the listener registers — is
    * closed by checking once after registration. */
  def eachBatch(stream: DataFrame, checkpointDir: String, frozen: DataFrame*)(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    def release(): Unit = frozen.foreach(_.unpersist())
    frozen.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    val query =
      try stream.writeStream.option("checkpointLocation", checkpointDir).foreachBatch(f).start()
      catch { case e: Throwable => release(); throw e }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // the query may have died BEFORE registration — its termination
    // event was posted to the bus pre-registration and will never
    // reach this listener, so release AND deregister here (both
    // idempotent; a double removeListener is a no-op)
    if (!query.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    query
  }

  /** Publish one micro-batch's result as `dir/batch=<batchId>` (one
    * file). Each batch OVERWRITES its own partition, so a replayed
    * micro-batch (restart inside the checkpoint window) republishes
    * identical rows instead of double counting — idempotence via
    * path, the same discipline as the AnnIndex staged swap. A reader
    * merges the partitions on read (`Profile.cmsMerge`,
    * `Dedup.lineIndexMerge`, [[ingestManifest]]): each is a counter
    * addition or sketch union, so merge-on-read IS the corpus-wide
    * result, exact as long as every row lands in exactly one batch. */
  def publishBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/batch=$batchId")

  /** Continuous transport: run one table's declarative TableMap over a
    * STREAMING source. Each micro-batch overlays the batch DataFrame
    * as the map's original table and executes the same Transportor
    * compilation (renames, defaults, derived columns, refer lookup
    * joins against static tables), appending the result to the
    * target — incremental micro-batch ETL the reference's chunk loop
    * could never restart safely (exactly-once via the checkpoint +
    * idempotent sink contract).
    *
    * The plan is checked before the query starts: it must pass
    * `Transportor.validate()`, and the map must not look up a
    * target-side table the same plan fills (per batch that table
    * would be rebuilt from the static IO; cross-stream joins need
    * their own watermark design). A target-side lookup of a table in
    * `preSeeded` reads the table `io` already holds, as in the batch
    * [[Transportor]]. */
  def transportStream(
      stream: DataFrame,
      plan: TransportPlan,
      tableKey: String,
      io: TableIO,
      checkpointDir: String,
      preSeeded: Set[String] = Set.empty): StreamingQuery = {
    val map = plan.byKey(tableKey)
    val sourceName = map.originalTable.getOrElse(
      throw new IllegalArgumentException("streaming transport needs original_table"))
    new Transportor(io, plan, preSeeded).validate()
    val samePlan = TransportPlan.targetLookups(map).filter(plan.keyFor(_).nonEmpty)
    if (samePlan.nonEmpty)
      throw new IllegalArgumentException(
        s"streaming transport of '$tableKey' looks up target table(s) " +
          s"${samePlan.distinct.mkString(", ")} filled by the same plan")
    eachBatch(stream, checkpointDir) { (batch, _) =>
      val overlay = new OverlayIO(io, Map(sourceName -> batch))
      io.writeTarget(plan.targetName(tableKey), new Transportor(overlay, plan, preSeeded).frame(tableKey))
    }
  }

  /** Streaming exact dedup on a key expression with watermark-bounded
    * state: the streaming twin of Dedup.exactByFingerprint. State
    * holds one entry per distinct key inside the watermark horizon;
    * late duplicates beyond the horizon age out (the documented
    * at-most-horizon dedup guarantee of dropDuplicates-with-watermark). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /** Streaming near-duplicate suppression: drop events whose text
    * payload MinHash-signature-matches one already seen inside the
    * watermark horizon. The native MinHashSignature expression runs
    * per-row inside the streaming plan; identical signatures ==
    * near-identical text (full-signature match is the strictest LSH
    * band). State = one entry per distinct signature in-horizon:
    * dropDuplicatesWithinWatermark evicts each signature's state once
    * the watermark passes its first-seen event time, so state is
    * bounded by the horizon even though the signature itself is not an
    * event-time column (plain dropDuplicates on a non-event-time key
    * would never evict and grow without bound). Versus a static
    * corpus, run `Dedup.dedupAgainst` per batch through [[eachBatch]];
    * compose the two for "new vs corpus, then new vs itself". */
  def nearDupDropStream(docs: DataFrame, textCol: String, tsCol: String = "ts",
      watermark: String = "2 hours", shingleN: Int = 3): DataFrame =
    docs
      .withColumn("__sig",
        graft.functions.HashExpressions.minhashSignature(
          graft.functions.HashExpressions.shingleHashes(col(textCol), shingleN)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Continuous FORGETTABLE indexing — the streaming producer for the
    * persisted [[graft.sources.DedupIndexStore]] minhash index: each
    * micro-batch's banded signature rows publish as segment
    * `StreamSegBase + batchId`. A replayed micro-batch republishes the
    * SAME segment id and [[graft.sources.Segments.publishSegment]]
    * makes that a no-op — exactly-once appends across restarts;
    * manual auto-numbered appends stay BELOW
    * [[graft.sources.Segments.StreamSegBase]] by construction, so the
    * two ranges never collide. The standing corpus index GROWS from
    * the stream while keeping the full tombstone
    * right-to-be-forgotten contract (deleteIds works mid-stream; the
    * anti-join applies on every read). Versus per-batch
    * `Dedup.lineIndex` tables under [[publishBatch]], this writes the
    * FORGETTABLE granularity. The store must exist (build it first,
    * over the seed corpus or empty) — the frozen banding params are
    * read from it, never from the caller. */
  def minhashStoreStream(
      docs: DataFrame,
      indexDir: String,
      idCol: String,
      textCol: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      graft.sources.DedupIndexStore.appendMinhash(docs.sparkSession, indexDir, batch,
        idCol, textCol, Some(graft.sources.Segments.StreamSegBase + batchId))
      ()
    }

  /** [[minhashStoreStream]]'s line-index twin: per micro-batch
    * (id, line_hash) provenance published at `StreamSegBase + batchId`
    * — the forgettable streaming form of per-batch `Dedup.lineIndex`
    * tables (which hold unforgettable df aggregates). */
  def lineStoreStream(
      docs: DataFrame,
      indexDir: String,
      idCol: String,
      textCol: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      graft.sources.DedupIndexStore.appendLines(docs.sparkSession, indexDir, batch,
        idCol, textCol, Some(graft.sources.Segments.StreamSegBase + batchId))
      ()
    }

  /** Continuous incremental dedup against a PERSISTED
    * [[graft.sources.DedupIndexStore]] minhash index — the streaming
    * path of corpus-wide right-to-be-forgotten: the index loads at
    * query start THROUGH the tombstone anti-join, so a document
    * deleted from the store stops suppressing new near-duplicates of
    * itself the moment the stream (re)starts — no rebuild, no
    * re-signature (the store was built once; the load is a parquet
    * scan + a deletion-sized anti-join). `corpusTexts` supplies the
    * rescore side; candidates can only reference retained index rows,
    * so a deleted doc's text row is inert (and doubles as the leak
    * canary, exactly as in q_forget). The index is [[eachBatch]]'s
    * frozen side. The banding parameters come from the STORE's frozen
    * params table, never from the caller — a probe banded differently
    * from the index would silently never collide (the exact hazard
    * the params table exists to prevent, and why appendMinhash
    * re-reads it too). */
  def dedupAgainstStoreStream(
      docs: DataFrame,
      corpusTexts: DataFrame,
      indexDir: String,
      idCol: String,
      textCol: String,
      checkpointDir: String,
      jaccardThreshold: Double = 0.5)(
      sink: DataFrame => Unit): StreamingQuery = {
    val (shingleN, numHashes, bands) = graft.sources.DedupIndexStore
      .minhashParams(docs.sparkSession, indexDir)
    val idx = graft.sources.DedupIndexStore.readMinhash(docs.sparkSession, indexDir)
    eachBatch(docs, checkpointDir, idx) { (batch, _) =>
      sink(graft.operators.Dedup.dedupAgainst(
        batch, corpusTexts, idCol, textCol,
        shingleN = shingleN, numHashes = numHashes, bands = bands,
        jaccardThreshold = jaccardThreshold, index = Some(idx)))
    }
  }

  /** One micro-batch of the composed INGEST chain — the shared batch
    * function behind [[ingestStream]] and its batch/backfill twin
    * (StreamingSpec's parity case runs THIS on the union of the
    * replayed micro-batches): encoding gate
    * ([[graft.functions.TextFunctions.encodingOk]]) → boilerplate
    * strip + NFC normalize → language/quality/length gate (the
    * q_pipeline_ingest stages, `__mid` pushdown barrier included so
    * the heavy text scoring runs once per row) → incremental dedup
    * against the standing corpus ([[graft.operators.Dedup
    * .dedupAgainst]]). Returns the surviving (id, source, text) rows.
    * Every per-row decision depends only on the row and the FROZEN
    * corpus — no cross-batch state — which is exactly what makes the
    * micro-batched run ≡ the one-shot run on the union. */
  def ingestBatch(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      index: Option[DataFrame] = None,
      lang: String = "en",
      minQuality: Double = 0.5,
      minTokens: Long = 5L,
      maxTokens: Long = 1000L,
      jaccardThreshold: Double = 0.5): DataFrame = {
    import graft.functions.TextFunctions
    val cleaned = batch
      .filter(TextFunctions.encodingOk(col(textCol)))
      .select(col(idCol), col(sourceCol),
        TextFunctions.normalizeText(
          TextFunctions.stripBoilerplate(col(textCol))).as(textCol))
    val gated = cleaned
      .select(col(idCol), col(sourceCol), col(textCol),
        TextFunctions.langId(col(textCol)).as("__lang"),
        TextFunctions.qualityScore(col(textCol)).as("__q"),
        TextFunctions.tokenCount(col(textCol)).as("__tok"),
        monotonically_increasing_id().as("__mid"))
      .filter(col("__mid") >= 0 && col("__lang") === lang &&
        col("__q") >= minQuality && col("__tok").between(minTokens, maxTokens))
      .select(col(idCol), col(sourceCol), col(textCol))
    graft.operators.Dedup.dedupAgainst(gated, corpus, idCol, textCol,
      jaccardThreshold = jaccardThreshold, index = index)
  }

  /** The COMPOSED streaming ingest pipeline — encoding/quality gates →
    * incremental dedup against a standing corpus → per-batch manifest
    * STATE publish, all in one micro-batch chain: the streaming form
    * of the q_pipeline_ingest endgame. Per micro-batch,
    * [[ingestBatch]] gates and dedups (the corpus index is
    * [[eachBatch]]'s frozen side — each batch pays only its own
    * signatures), then the survivors' mergeable manifest state
    * ([[graft.operators.Profile.manifestStates]]) publishes through
    * [[publishBatch]], so restarts never double-count. The live corpus
    * manifest at any moment is [[ingestManifest]] (merge-on-read —
    * KMV/counter closure, exactly what the parity spec pins against
    * the batch chain on the union). The curried `sink` receives each
    * batch's SURVIVORS (the pipeline's actual product — write them to
    * the training corpus); survivors persist for the batch so the
    * gate/dedup chain runs once for sink + states, and a sink that
    * writes idempotently by batch id keeps the whole chain
    * exactly-once.
    *
    * Composition drift — a gate reordered, dedup run before the
    * quality gate, states built pre-dedup — breaks the stream ≡ batch
    * parity StreamingSpec replays across 3 batches. */
  def ingestStream(
      docs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      sourceCol: String,
      textCol: String,
      statesDir: String,
      checkpointDir: String,
      lang: String = "en",
      minQuality: Double = 0.5,
      minTokens: Long = 5L,
      maxTokens: Long = 1000L,
      jaccardThreshold: Double = 0.5,
      k: Int = 16)(
      sink: DataFrame => Unit = _ => ()): StreamingQuery = {
    val idx = graft.operators.Dedup.corpusIndex(corpus, idCol, textCol)
    eachBatch(docs, checkpointDir, idx) { (batch, batchId) =>
      // survivors feed BOTH the caller's sink and the state publish;
      // persist for the batch's lifetime so the gate/dedup chain
      // runs once, not once per consumer
      Stage.scope {
        val survivors = Stage("ingest survivors", Stage.Persist())(
          ingestBatch(batch, corpus, idCol, sourceCol, textCol, Some(idx),
            lang, minQuality, minTokens, maxTokens, jaccardThreshold))
        sink(survivors)
        publishBatch(graft.operators.Profile.manifestStates(survivors, sourceCol, textCol, k),
          statesDir, batchId)
      }
    }
  }

  /** STREAMED incremental release — the continuous composition of
    * [[graft.plans.IncrementalRelease]]: the crawl feed itself keeps
    * every standing store warm (each micro-batch releases through
    * `runDeltas`, which probes the minhash / holdout / conversation /
    * ANN stores and appends the batch's deltas and store segments),
    * and the release artifact at any moment is
    * [[graft.plans.IncrementalRelease.artifact]] over the state dir —
    * the "stream maintains the stores, a scheduled release consumes
    * them" production loop. IncrementalReleaseSpec pins N streamed
    * micro-batches + one artifact read ≡ the from-scratch batch
    * release over day-0 ∪ everything streamed.
    *
    * Ordering contract: micro-batches must arrive id-ordered above
    * the bootstrap corpus (the incremental monotone-id contract — a
    * crawl feed's ids are; `runDeltas` fences it against the standing
    * watermark and refuses typed on violation). Restart posture:
    * REPLAY-SAFE at every crash point — `runDeltas` under an explicit
    * micro-batch id publishes all 13 state/store deltas idempotently
    * at `StreamSegBase + batchId` and reads every pre-append table
    * with the batch's own segment excluded, so a checkpoint replay of
    * a crashed batch (fully processed OR strictly mid-batch, after
    * any prefix of the appends) recomputes identical deltas and each
    * re-publish lands exactly once. The per-batch completion marker
    * is kept purely as a fast-path skip for the fully-processed
    * replay (saves recomputing a batch whose work all landed). Run
    * [[graft.plans.IncrementalRelease.compactState]] only at rest —
    * compacting between a crash and its replay would fold the crashed
    * batch's partial deltas into a new tree the replay cannot see. */
  def releaseStream(
      docs: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      stateDir: String,
      checkpointDir: String,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig()): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(
        s"$stateDir/_released/batch=$batchId")
      if (!fs.exists(marker)) {
        graft.plans.IncrementalRelease.runDeltas(spark, batch,
          embeddings, transcriptsOf, merges, stateDir, cfg,
          batchId = Some(batchId))
        // completion marker, written only after every delta landed; a
        // concurrent replay that marked first is the same outcome
        require(graft.sources.Publish.marker(fs, marker, Array.emptyByteArray) ||
          fs.exists(marker),
          s"releaseStream: could not publish completion marker $marker")
      }
    }

  /** The live corpus manifest over an [[ingestStream]] states
    * directory: merge-on-read of the published per-batch states
    * (counter addition + KMV union — both exact closures, so this IS
    * the manifest of everything ingested so far). */
  def ingestManifest(
      spark: org.apache.spark.sql.SparkSession,
      statesDir: String,
      k: Int = 16): DataFrame =
    graft.operators.Profile.manifestMerge(spark.read.parquet(statesDir), k)

  /** The session gap rule shared by both sessionizers: walk `events` in
    * event-time order from the chain's (lastTs, seq); no prior event,
    * or a gap above `gapMicros`, opens the next session. Returns the
    * assignments and the chain's new (lastTs, seq). */
  private def chainSessions(
      userId: Long,
      events: List[Event],
      lastTs: Long,
      seq: Long,
      gapMicros: Long): (List[SessionAssign], Long, Long) = {
    var last = lastTs
    var s = seq
    val out = events.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
      if (last == Long.MinValue || e.tsMicros - last > gapMicros) s += 1
      last = e.tsMicros
      SessionAssign(userId, e.event_id, s)
    }
    (out, last, s)
  }

  /** The settle step shared by the event-time folds
    * ([[sessionizeEventTime]], [[ewmaEventTime]]) once a group has
    * emitted what the watermark passed. With events still pending,
    * keep `next` and fire again when the watermark reaches the
    * earliest of `pendingMicros`. With nothing pending, keep `next`
    * (arming the idle timeout when `idleStateTimeoutMs` is set), or
    * evict the key when that idle timeout fired and nothing arrived
    * or was emitted (`quiet`). */
  private def settle[S](
      state: GroupState[S],
      next: S,
      pendingMicros: List[Long],
      quiet: Boolean,
      idleStateTimeoutMs: Option[Long]): Unit =
    if (pendingMicros.nonEmpty) {
      state.update(next)
      // +1ms: the timeout must sit strictly beyond the current watermark
      state.setTimeoutTimestamp(
        math.max(pendingMicros.min / 1000L, state.getCurrentWatermarkMs() + 1L))
    } else idleStateTimeoutMs match {
      case Some(_) if state.hasTimedOut && quiet =>
        // silent for the idle window: evict (the key restarts cold)
        state.remove()
      case Some(idle) =>
        state.update(next)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + math.max(idle, 1L))
      case None =>
        state.update(next)
    }

  /** Stateful sessionization via flatMapGroupsWithState: 30-minute
    * inactivity gap starts a new session; state per user is one
    * (lastTs, seq) pair. Events inside each micro-batch are sorted
    * per group before applying the gap rule, so a single-batch run
    * reproduces the batch sessionizer exactly. ProcessingTime timeout
    * reaps idle users' state.
    *
    * This is the BATCH/BACKFILL path (and is exact on in-order
    * streams): events already processed are never revisited, so a
    * cross-micro-batch late arrival would be sequenced against the
    * then-current state, not its true event-time position. For
    * out-of-order streams use [[sessionizeEventTime]], which buffers
    * until the watermark closes each event's reorder window.
    *
    * Skew caveat (both sessionizers): state and ordering are per
    * user, so one pathological hot user serializes at that key —
    * inherent to session semantics (a session is a sequential walk of
    * one user's timeline), and un-saltable without changing what a
    * session means. Keys are users, so real skew is bounded by the
    * busiest single user, not by corpus size.
    *
    * Streaming caveat: the ProcessingTimeTimeout idle-eviction here
    * makes a STREAMING run re-trigger an empty micro-batch on every
    * trigger interval (shouldRunAnotherBatch is unconditionally true
    * under processing-time timeouts — see [[ewmaStream]]'s NoTimeout
    * rationale); that is wasteful-but-correct for a real trigger
    * interval, and `processAllAvailable` on such a query never
    * returns. In batch (the intended path) timeouts never fire and
    * none of this applies. */
  def sessionize(events: Dataset[Event],
      gapMicros: Long = 30L * 60 * 1000 * 1000): Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
            val (out, last, seq) =
              chainSessions(userId, it.toList, st.lastTsMicros, st.seq, gapMicros)
            state.update(SessionState(last, seq))
            state.setTimeoutDuration("1 hour")
            out.iterator
          }
        })
  }

  /** Event-time sessionization for out-of-order STREAMS: incoming
    * events buffer in per-user state and are finalized only once the
    * watermark passes their event time — at that point no in-horizon
    * arrival can precede them (anything earlier than the watermark is
    * dropped by the framework as late), so the emitted sequence is
    * identical however the same events are split across micro-batches
    * (StreamingSpec replays 1-batch vs 3-batch to prove it).
    * EventTimeTimeout re-fires the group when the watermark reaches
    * its earliest pending event, flushing without waiting for new
    * per-user traffic.
    *
    * State per user = pending events inside the reorder horizon
    * (bounded: watermarkDelay × per-user event rate) plus one
    * (lastTs, seq) pair. By default the pair persists after the
    * buffer drains so session numbering stays continuous across idle
    * gaps (the batch sessionizer's per-user ordinal semantics) — at
    * the cost of one small state row per distinct user EVER seen,
    * which on an unbounded-cardinality stream grows without bound.
    * Set `idleStateTimeout` to evict a user's state after that much
    * idle event time: state becomes horizon-bounded, and a user
    * returning later restarts at session_seq 1 (the documented
    * trade).
    *
    * Streaming-only by design: batch execution never advances a
    * watermark, so nothing would flush — use [[sessionize]] for
    * batch/backfill (same gap rule, oracle-checked via
    * q_events_sessionize). */
  def sessionizeEventTime(
      events: Dataset[Event],
      gapMicros: Long = 30L * 60 * 1000 * 1000,
      watermarkDelay: String = "30 minutes",
      idleStateTimeoutMs: Option[Long] = None): Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    events
      .withColumn("__event_time", timestamp_micros(col("tsMicros")))
      .withWatermark("__event_time", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, it: Iterator[Event], state: GroupState[SessionBuffer]) => {
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val (pending, lastTs, seq0) =
            state.getOption.getOrElse((Nil: List[Event], Long.MinValue, 0L))
          val arrived = if (state.hasTimedOut) Nil else it.toList
          // emit every event the watermark has passed (no in-horizon
          // arrival can precede it); keep the rest pending
          val (ready, rest) = (pending ++ arrived).partition(_.tsMicros <= wmMicros)
          val (out, last, seq) = chainSessions(userId, ready, lastTs, seq0, gapMicros)
          settle(state, (rest, last, seq), rest.map(_.tsMicros),
            arrived.isEmpty && out.isEmpty, idleStateTimeoutMs)
          out.iterator
        })
  }

  final case class TickValue(key: String, tick: Long, value: Long)
  final case class EwmaPoint(key: String, tick: Long, value: Long,
      ewma_num: Long, ewma_den: Long, ewma: Double)

  /** The EWMA weight-ladder step shared by [[ewmaStream]] and
    * [[ewmaEventTime]]: fold `ticks`, in the given order, through the
    * integer ladder `weights` (`Resample.ewmaWeights`) over the last
    * `window − 1` (tick, value) pairs, newest first. Returns the
    * points and the new tail. */
  private def ewmaFold(
      key: String,
      ticks: List[TickValue],
      recent0: List[(Long, Long)],
      weights: Seq[Long],
      window: Int): (List[EwmaPoint], List[(Long, Long)]) = {
    var recent = recent0
    val out = ticks.map { tv =>
      var num = tv.value * weights.head
      var den = weights.head
      recent.take(window - 1).zipWithIndex.foreach { case ((_, v), i) =>
        num += v * weights(i + 1)
        den += weights(i + 1)
      }
      recent = ((tv.tick, tv.value) :: recent).take(window - 1)
      EwmaPoint(key, tv.tick, tv.value, num, den, num.toDouble / den.toDouble)
    }
    (out, recent)
  }

  /** State for [[ewmaEventTime]]: ticks still inside the reorder
    * horizon + the last `window − 1` FINALIZED (tick, value) pairs,
    * newest first. */
  private type EwmaBuffer = (List[TickValue], List[(Long, Long)])

  /** Event-time twin of [[ewmaStream]] for OUT-OF-ORDER tick streams
    * (the round-7 known limit): `tick` is interpreted as event-time
    * MICROS, arrivals buffer in per-key state, and a tick is folded
    * into the smoothed series only once the watermark passes it — at
    * that point no in-horizon arrival can precede it, so the output
    * is identical however the same ticks are split or reordered
    * across micro-batches (StreamingSpec replays ordered-1-batch vs
    * shuffled-3-batch). EventTimeTimeout re-fires idle keys when the
    * watermark reaches their earliest pending tick, flushing without
    * new per-key traffic — the same machinery as
    * [[sessionizeEventTime]], folded over
    * [[graft.operators.Resample.ewmaWeights]]'s integer ladder.
    *
    * State per key = in-horizon pending ticks (bounded by
    * watermarkDelay × per-key rate) + `window − 1` long pairs. As
    * with [[sessionizeEventTime]], the finalized tail persists so the
    * series continues across idle gaps; set `idleStateTimeoutMs` to
    * evict silent keys (the series restarts cold if they return). */
  def ewmaEventTime(
      ticks: Dataset[TickValue],
      decayNum: Int,
      decayDen: Int,
      window: Int,
      watermarkDelay: String = "30 minutes",
      idleStateTimeoutMs: Option[Long] = None): Dataset[EwmaPoint] = {
    import ticks.sparkSession.implicits._
    val weights = graft.operators.Resample.ewmaWeights(decayNum, decayDen, window)
    ticks
      .withColumn("__event_time", timestamp_micros(col("tick")))
      .withWatermark("__event_time", watermarkDelay)
      .as[TickValue]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, it: Iterator[TickValue], state: GroupState[EwmaBuffer]) => {
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val (pending, recent0) =
            state.getOption.getOrElse((Nil: List[TickValue], Nil: List[(Long, Long)]))
          val arrived = if (state.hasTimedOut) Nil else it.toList
          val (ready, rest) = (pending ++ arrived).partition(_.tick <= wmMicros)
          val (out, recent) =
            ewmaFold(key, ready.sortBy(t => (t.tick, t.value)), recent0, weights, window)
          settle(state, (rest, recent), rest.map(_.tick),
            arrived.isEmpty && out.isEmpty, idleStateTimeoutMs)
          out.iterator
        })
  }

  /** Streaming twin of [[graft.operators.Resample.ewmaSmooth]]: the
    * same integer weight ladder (`Resample.ewmaWeights`) folded
    * through per-key state instead of window lags — state is just
    * the last `window − 1` (tick, value) pairs, newest first, so a
    * key's smoothed series continues seamlessly across micro-batches
    * without rescanning history. Rows inside a micro-batch sort by
    * tick; ACROSS batches ticks must arrive non-decreasing per key
    * (the processing-time contract, same as [[sessionize]] — feed it
    * from an upstream windowed aggregate, which emits in watermark
    * order). StreamingSpec proves 1-batch vs split-batch replay
    * yields byte-identical output to the batch operator.
    *
    * Scale posture: state per key is `window − 1` long pairs —
    * constant per key, no watermark horizon needed. Deliberately
    * NoTimeout: a processing-time timeout would force Spark to run
    * an empty micro-batch on EVERY trigger just in case a timeout
    * fired (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    * unconditionally true under ProcessingTimeTimeout — the query
    * never idles and processAllAvailable never returns). The cost is
    * one tiny state row per key EVER seen — fine for bounded key
    * domains (event types, sources); an unbounded-cardinality stream
    * should sessionize its keys upstream instead. */
  def ewmaStream(
      ticks: Dataset[TickValue],
      decayNum: Int,
      decayDen: Int,
      window: Int): Dataset[EwmaPoint] = {
    import ticks.sparkSession.implicits._
    val weights = graft.operators.Resample.ewmaWeights(decayNum, decayDen, window)
    ticks
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[TickValue], state: GroupState[List[(Long, Long)]]) => {
          val (out, recent) = ewmaFold(key, it.toList.sortBy(_.tick),
            state.getOption.getOrElse(Nil), weights, window)
          state.update(recent)
          out.iterator
        })
  }
}
