package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Control-flow signal: a [[Stage.Durable]] run reached its
  * `stopAfter` stage. Never escapes [[graft.plans.ReleaseRun.run]]. */
private[graft] final class ReleaseHalted extends RuntimeException

/** The ONE way the engine cuts a plan: `Stage(name, policy)(df)`
  * materializes `df` at a named boundary and returns a frame reading
  * the materialized rows.
  *
  *   - [[Local]]: `localCheckpoint` — eager, lineage truncated; a lost
  *     block fails its readers.
  *   - [[Persist]]: MEMORY_AND_DISK InternalRow blocks rebuilt into a
  *     fresh frame — the logical plan is cut, RDD lineage and output
  *     partitioning are kept, so a lost block recomputes; `eager`
  *     computes the blocks now instead of in the first consuming job.
  *   - [[Durable]]: a parquet stage table published with one atomic
  *     rename; a resumed run skips the builder of every existing stage.
  *
  * Every Local/Persist cut registers with the innermost open [[scope]]
  * (threads started inside it inherit it), which frees them all on
  * exit. Entry points whose result reads no cut — `ReleaseRun.run`,
  * `IncrementalRelease.{runDeltas,bootstrap,forget,compactState}` and
  * each Durable stage — close their own scope. A cut outside any scope
  * (behind a catalog query's returned frame) lives until its caller
  * frees it. Durable stages label their jobs `release stage <name>`;
  * Local/Persist cuts run under the caller's label.
  */
object Stage {

  sealed trait Policy
  case object Local extends Policy
  final case class Persist(eager: Boolean = false) extends Policy

  /** One open scope's cuts; a thread that outlives its scope cuts
    * untracked. */
  private final class Frame {
    private val cuts = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]
    @volatile private var open = true
    def add(r: RDD[_]): Unit = if (open) cuts.put(r.id, r)
    def remove(id: Int): Unit = cuts.remove(id)
    def close(): Unit = {
      open = false
      cuts.values.forEach(r => ColumnBridge.unpersist(r))
      cuts.clear()
    }
  }

  private val current = new InheritableThreadLocal[Frame]

  private def track(name: String, rdd: RDD[_]): Unit = {
    rdd.setName(name)
    Option(current.get()).foreach(_.add(rdd))
  }

  /** Materialize `df` at the boundary `name` under `policy`. */
  def apply(name: String, policy: Policy)(df: => DataFrame): DataFrame =
    policy match {
      case Local =>
        val out = df.localCheckpoint()
        out.queryExecution.logical.foreach {
          case lr: LogicalRDD => track(name, lr.rdd)
          case _ => ()
        }
        out
      case Persist(eager) =>
        val d = df
        // copy(): the execution RDD reuses its row buffer
        val rdd = d.queryExecution.toRdd.map(_.copy())
          .persist(StorageLevel.MEMORY_AND_DISK)
        track(name, rdd)
        if (eager) rdd.count()
        ColumnBridge.dataFrameFromInternalRows(d, rdd)
      case d: Durable => d.cut(name, df)
    }

  /** Run `body`, then free every Local/Persist cut made inside it.
    * Only wrap a body whose result reads none of its cuts. */
  def scope[T](body: => T): T = {
    val outer = current.get()
    val frame = new Frame
    current.set(frame)
    try body
    finally {
      current.set(outer)
      frame.close()
    }
  }

  /** Drop the blocks behind `df` now: the NEAREST persisted ancestor
    * on each plan leaf's RDD lineage (deeper persisted state, like an
    * iteration's still-live edge set, belongs to other frames). A
    * Persist cut stays usable — it recomputes from lineage. */
  def free(df: DataFrame): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val f = Option(current.get())
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      if (r.getStorageLevel != StorageLevel.NONE) {
        ColumnBridge.unpersist(r)
        f.foreach(_.remove(r.id))
      } else r.dependencies.foreach(d => walk(d.rdd))
    }
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => walk(lr.rdd)
      case _ => ()
    }
  }

  /** Free every persisted RDD of the session: the per-query sweep of
    * a harness that caches nothing across queries (Verify, Bench,
    * ProfileQuery). Goes through [[ColumnBridge.unpersist]], so a
    * local cut left behind a query's returned frame frees without
    * Spark's per-RDD "cannot be recomputed" WARN. */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(r => ColumnBridge.unpersist(r))

  /** Run independent `tasks` side by side and return their results in
    * order: the no-dependency case of the keyed [[parallel]], every
    * task started at once. */
  def parallel[T](tasks: (() => T)*): Seq[T] =
    parallel(tasks.size max 1, tasks.indices.zip(tasks), (_: Int) => Nil)

  /** The engine's one scheduler: run the keyed `tasks` at most `width`
    * at a time, each started once every task `waitsFor` names has
    * finished (ready tasks start in `tasks` order), and return the
    * results in `tasks` order.
    *
    * Each task runs on a thread the caller starts when the task
    * becomes ready, so it inherits the caller's Spark local properties
    * (job description, job group, scheduler pool — cloned at thread
    * creation) and its open [[scope]]. When at most one task can run at
    * a time (`width` 1, or a single task) tasks run inline on the
    * caller's thread instead, in the same order; a task that sets local
    * properties restores them itself.
    *
    * Failure: after the first failure no further task starts, tasks
    * already running finish, and the first failure is thrown with every
    * later one attached via `addSuppressed`. Running tasks are not
    * cancelled, so a replay after a failed group of publishes sees the
    * same "some subset published" states a sequential run could leave. */
  def parallel[K, T](width: Int, tasks: Seq[(K, () => T)], waitsFor: K => Iterable[K]): Seq[T] = {
    require(width >= 1, s"width must be >= 1, got $width")
    val (keys, bodies) = tasks.toIndexedSeq.unzip
    val results = new Array[Any](tasks.size)
    val finished = new java.util.concurrent.LinkedBlockingQueue[(Int, Option[Throwable])]
    val inline = width == 1 || tasks.sizeIs == 1
    def start(i: Int): Unit = {
      val run: Runnable = () => {
        val failure =
          try { results(i) = bodies(i)(); None }
          catch { case e: Throwable => Some(e) }
        finished.put(i -> failure)
      }
      if (inline) run.run() else new Thread(run, s"graft-parallel-${keys(i)}").start()
    }
    val done = scala.collection.mutable.Set.empty[K]
    val failures = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    var pending: Seq[Int] = tasks.indices
    var running = 0
    while (running > 0 || (failures.isEmpty && pending.nonEmpty)) {
      if (failures.isEmpty) {
        val ready = pending.filter(i => waitsFor(keys(i)).forall(done)).take(width - running)
        if (ready.isEmpty && running == 0)
          throw new IllegalArgumentException(
            s"tasks wait on each other or on no task: ${pending.map(keys)}")
        pending = pending.diff(ready)
        running += ready.size
        ready.foreach(start)
      }
      val (i, failure) = finished.take()
      running -= 1
      failure match {
        case None    => done += keys(i)
        case Some(e) => failures += e
      }
    }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** Every job `body` spawns — including broadcast-exchange child
    * jobs, which capture the submitting thread's locals — carries
    * `desc`. */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val prev = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(prev)
  }

  /** Parquet stage tables under `<outDir>/stages/<name>`: compute →
    * `<outDir>/_staging/<name>-<uuid>` → ONE rename. A crash mid-write
    * leaves only staging (overwritten on resume); the final directory
    * IS the completion marker. `stopAfter` halts the run once the
    * named stage is published (the resume spec's crash drill). */
  final class Durable(
      spark: SparkSession,
      outDir: String,
      stopAfter: Option[String] = None) extends Policy {

    /** Stages whose builder RAN this invocation (never resumed ones). */
    val evaluated = scala.collection.mutable.ArrayBuffer.empty[String]
    private var halted = false
    /** True once the `stopAfter` stage materialized. */
    def haltedNow: Boolean = halted

    private[Stage] def cut(name: String, df: => DataFrame): DataFrame = {
      if (halted) throw new ReleaseHalted
      val dir = new Path(s"$outDir/stages/$name")
      val f = FileSystem.get(new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
      // resume path: sweep any loser tree a crash left nested INSIDE
      // the published table (between a nesting rename and
      // Publish.dir's move back), where no _staging sweep reaches — a
      // resumed read would see duplicate children
      if (f.exists(dir)) {
        val loser = (java.util.regex.Pattern.quote(name) + "-[0-9a-fA-F-]{36}").r
        f.listStatus(dir).foreach { st =>
          if (st.isDirectory && loser.matches(st.getPath.getName))
            f.delete(st.getPath, true)
        }
      }
      if (!f.exists(dir)) {
        evaluated += name
        val staging = new Path(s"$outDir/_staging/$name-${java.util.UUID.randomUUID()}")
        // the builder's cuts are freed once the table is written
        scope(labeled(spark, s"release stage $name") {
          df.write.mode("overwrite").parquet(staging.toString)
        })
        f.mkdirs(dir.getParent)
        if (!graft.sources.Publish.dir(f, staging, dir)) {
          // a concurrent runner won the publish with the same rows
          require(f.exists(dir), s"ReleaseRun: could not publish stage table $dir")
          f.delete(staging, true)
        }
      }
      if (stopAfter.contains(name)) halted = true
      spark.read.parquet(dir.toString)
    }
  }
}
