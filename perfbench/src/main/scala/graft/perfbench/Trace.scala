package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded span: a call the benchmark made into a layer. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span or one job description. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  /** [first job start, last job end] in listener wall-clock ms. */
  var firstMs = Long.MaxValue
  var lastMs = Long.MinValue
  def add(c: Counters): Counters = {
    jobs += c.jobs; stages += c.stages; tasks += c.tasks
    cpuNs += c.cpuNs; runMs += c.runMs; gcMs += c.gcMs
    shuffleWrite += c.shuffleWrite; shuffleRead += c.shuffleRead
    spill += c.spill; input += c.input; output += c.output
    firstMs = math.min(firstMs, c.firstMs); lastMs = math.max(lastMs, c.lastMs)
    this
  }
}

/** In-memory span recorder plus the SparkListener that assigns every
  * job, stage and task to the span open on the submitting thread when
  * the job started. Spans are entered only from the benchmark's own
  * code, around its calls into the program; the span id travels to
  * Spark as a thread-local job property, which threads the program
  * spawns inherit, so jobs from its `inParallel` helpers land on the
  * enclosing span too. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val SpanProp = "perfbench.span"
  private var enabled = false
  private var nextId = 1
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[Span]
  var iter = 0

  // listener-side state (listener bus thread)
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobDesc = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** (span id, description, start ms) of every job. */
  val jobStarts = mutable.ArrayBuffer.empty[(Int, String, Long)]
  /** (start ms, end ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  val bySpan = mutable.Map.empty[Int, Counters]
  /** Counters per (span id, job description) — the program's own
    * stage/phase labels, kept apart per enclosing span. */
  val byDesc = mutable.Map.empty[(Int, String), Counters]

  def enable(on: Boolean): Unit = {
    if (on && !enabled) sc.addSparkListener(this)
    if (!on && enabled) sc.removeSparkListener(this)
    enabled = on
  }
  def isEnabled: Boolean = enabled

  /** Run `body` inside a span named `name`. A no-op wrapper when
    * tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.get()
      val s = Span(nextId, name, if (parent == null) 0 else parent.id, iter,
        System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      spans += s
      open.set(s)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(SpanProp, prevProp)
        open.set(parent)
      }
    }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchShim.drainListeners(sc)

  private def counters(m: mutable.Map[Int, Counters], k: Int) =
    m.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val sid = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobSpan(e.jobId) = sid
    jobDesc(e.jobId) = desc
    jobStartMs(e.jobId) = e.time
    jobStarts += ((sid, desc, e.time))
    e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
    Seq(counters(bySpan, sid), byDesc.getOrElseUpdate((sid, desc), new Counters))
      .foreach { c => c.jobs += 1; c.firstMs = math.min(c.firstMs, e.time) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStartMs.remove(e.jobId).getOrElse(e.time)
    jobIntervals += ((start, e.time))
    val sid = jobSpan.getOrElse(e.jobId, 0)
    val desc = jobDesc.getOrElse(e.jobId, "")
    Seq(counters(bySpan, sid), byDesc.getOrElseUpdate((sid, desc), new Counters))
      .foreach(c => c.lastMs = math.max(c.lastMs, e.time))
  }

  private def ofStage(stageId: Int): Seq[Counters] = {
    val job = stageJob.getOrElse(stageId, -1)
    val sid = jobSpan.getOrElse(job, 0)
    Seq(counters(bySpan, sid),
      byDesc.getOrElseUpdate((sid, jobDesc.getOrElse(job, "")), new Counters))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    ofStage(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    ofStage(e.stageId).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Spans of iteration `it` whose name matches, in start order. */
  def spansOf(it: Int, name: String): Seq[Span] =
    spans.filter(s => s.iter == it && s.name == name).toSeq

  /** All spans in the subtree rooted at `root` (root included). */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).toSeq.flatMap(go)
    go(root)
  }

  /** Sum of the counters attributed to a span subtree. */
  def totals(root: Span): Counters = synchronized {
    val out = new Counters
    subtree(root).flatMap(s => bySpan.get(s.id)).foreach(out.add)
    out
  }

  /** Counters per job description over the jobs of a span subtree. */
  def byDescIn(root: Span): Map[String, Counters] = synchronized {
    val ids = subtree(root).map(_.id).toSet
    byDesc.toSeq.collect { case ((sid, d), c) if ids(sid) => d -> c }
      .groupBy(_._1).map { case (d, cs) =>
        d -> cs.foldLeft(new Counters)((acc, c) => acc.add(c._2)) }
  }

  /** Total length of the union of [a, b) intervals. */
  private def unionLen(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = 0L
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Seconds of [fromMs, toMs] during which no job was running. */
  def noJobS(fromMs: Long, toMs: Long): Double = synchronized {
    (toMs - fromMs - unionLen(jobIntervals.toSeq.map { case (a, b) =>
      (math.max(a, fromMs), math.min(b, toMs)) })) / 1e3
  }

  /** A span's duration minus the part of it its children cover. */
  def selfS(s: Span): Double =
    (s.endNs - s.startNs -
      unionLen(spans.toSeq.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)))) / 1e9

  /** The trace as JSON: every span with its self time and counters,
    * plus per-job-description counters. */
  def toJson(extra: Map[String, Any]): String = synchronized {
    def c2j(c: Counters): String =
      s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_cpu_s":${c.cpuNs / 1e9},"task_run_s":${c.runMs / 1e3},""" +
        s""""gc_s":${c.gcMs / 1e3},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"spill_bytes":${c.spill},""" +
        s""""input_bytes":${c.input},"output_bytes":${c.output}}"""
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val sp = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""iter":${s.iter},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9},"dur_s":${s.durS},""" +
        s""""self_s":${selfS(s)},"spark":${c2j(bySpan.getOrElse(s.id, new Counters))}}"""
    }.mkString("[\n", ",\n", "\n]")
    val bd = byDesc.toSeq.sortBy(_._1).map { case ((sid, d), c) =>
      s"""{"span":$sid,"description":${Json.str(d)},"spark":${c2j(c)}}"""
    }.mkString("[\n", ",\n", "\n]")
    s"""{"meta":${Json.obj(extra)},"spans":$sp,"job_descriptions":$bd}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
