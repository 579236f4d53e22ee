package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Input sizes per scale. `full` is what the benchmark measures;
  * `smoke` is the self-test's tiny run. */
final case class Sizes(tpchSf: Double, docs: Int, embeddings: Int,
    fnRows: Int)

object Sizes {
  val full = Sizes(tpchSf = 0.01, docs = 500, embeddings = 500, fnRows = 100000)
  val smoke = Sizes(tpchSf = 0.001, docs = 200, embeddings = 100, fnRows = 5000)
}

/** One closed-loop workload: set up once, then run the timed unit
  * back to back from one client thread. */
trait Workload {
  /** Everything before the first timed unit: inputs, warm-up. */
  def setup(): Unit
  /** Outside the timing: give the next unit a clean start. */
  def reset(it: Int): Unit
  /** The timed unit; returns named phase timings (s), if it has any. */
  def unit(it: Int): Map[String, Double]
  /** Outside the timing: record what unit `it` wrote (digests); with
    * `corrupt`, first damage the output so the check must fail. */
  def record(it: Int, corrupt: Boolean): Unit
  /** After the loop: failure messages for unit `it`, judged against
    * references built by independent paths. */
  def failures(it: Int): Seq[String]
  /** Rows the unit processes, for rows_per_s. */
  def rows: Long
  /** Per-layer metrics of traced unit `it` (tracer enabled). */
  def layerMetrics(it: Int): Map[String, Double]
  /** Per-layer metrics measured once per run (setup spans). */
  def setupLayerMetrics: Map[String, Double] = Map.empty
  /** Units every untraced run measures, whatever `--seconds` says. The
    * JIT keeps speeding the driver up over the first units, so a fixed
    * count keeps the per-run median at the same point of that curve. */
  def minUnits: Int
  /** Units of a traced run: untraced and traced alternate (U T U …). */
  def traceUnits: Int = 3
}

final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val sizes: Sizes, val tracer: Tracer) {
  def dir(name: String): String = s"$work/$name"
  def fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  def delete(path: String): Unit = { fs.delete(new org.apache.hadoop.fs.Path(path), true); () }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** (files, bytes) of the data files under a directory tree. */
  def treeSize(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(root.toPath).iterator()
      var n = 0L
      var b = 0L
      while (files.hasNext) {
        val f = files.next().toFile
        val nm = f.getName
        if (f.isFile && !nm.startsWith(".") && !nm.startsWith("_")) { n += 1; b += f.length }
      }
      (n, b)
    }
  }

  /** Order-independent digest of a frame: row count plus the decimal
    * sum of a 64-bit hash of every row rendered as text (columns in
    * name order), and the column names. */
  def digest(df: DataFrame): String = digests(Seq("" -> df))("")

  /** [[digest]] of several frames in one job. */
  def digests(frames: Seq[(String, DataFrame)]): Map[String, String] = {
    val parts = frames.map { case (name, df) =>
      val cols = df.columns.sorted
      val row = concat_ws("\u0001", cols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000null"))).toSeq: _*)
      df.select(lit(name).as("t"), xxhash64(row).cast("decimal(38,0)").as("h"))
    }
    val got = parts.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> s"${r.getLong(1)}|${r.get(2)}").toMap
    frames.map { case (name, df) =>
      name -> s"${df.columns.sorted.mkString(",")}|${got.getOrElse(name, "0|0")}" }.toMap
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Main {

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, seconds since the harness started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", sys.error("missing --workload"))
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val corrupt = args.getOrElse("corrupt", "0") == "1"
    val sizes = if (args.getOrElse("scale", "full") == "smoke") Sizes.smoke else Sizes.full
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val root = new java.io.File(".").getCanonicalPath
    val work = s"$root/.bench_work/$workload-$seed-${ProcessHandle.current().pid()}"

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, sizes, tracer)
    try {
      val w: Workload = workload match {
        case "migrate" => new Migrate(ctx)
        case "release_day0" => new ReleaseDay0(ctx)
        case "release_incr" => new ReleaseIncr(ctx)
        case other => sys.error(s"unknown workload '$other'")
      }
      log("session up")
      tracer.enable(trace)
      w.setup()
      tracer.enable(false)
      // the reference path's stage cuts stay cached until GC finds them
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      log("setup done")
      val setupS = (System.currentTimeMillis() - startMs) / 1e3

      // closed loop, one client thread. A traced run alternates untraced
      // and traced units; the untraced ones give the tracing overhead.
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val walls = mutable.Map.empty[Int, Double]
      val phases = mutable.Map.empty[Int, Map[String, Double]]
      val leaked = mutable.Map.empty[Int, Int]
      val tracedIts = mutable.ArrayBuffer.empty[Int]
      val layer = mutable.Map.empty[Int, Map[String, Double]]
      val thrown = mutable.Map.empty[Int, String]
      var it = 0
      // a traced run brackets each traced unit with untraced ones
      def enough = System.nanoTime() >= deadline &&
        it >= (if (trace) w.traceUnits else w.minUnits)
      while (!enough) {
        it += 1
        val traced = trace && it % 2 == 0
        w.reset(it)
        tracer.iter = it
        tracer.enable(traced)
        try {
          val t0 = System.nanoTime()
          phases(it) = tracer.span("unit")(w.unit(it))
          walls(it) = (System.nanoTime() - t0) / 1e9
          if (traced) {
            tracer.drain()
            tracedIts += it
            layer(it) = w.layerMetrics(it) ++ sparkMetrics(tracer, it, walls(it))
          }
          tracer.enable(false)
          // what the unit left cached without releasing it; GC timing can
          // let Spark's cleaner free some first, so a traced unit also
          // counts after a forced GC (the ones still reachable)
          leaked(it) = spark.sparkContext.getPersistentRDDs.size
          if (traced) {
            System.gc()
            Thread.sleep(500)
            layer(it) = layer(it) + ("spark.leaked_rdds_after_gc" ->
              spark.sparkContext.getPersistentRDDs.size.toDouble)
          }
          w.record(it, corrupt && it == 1)
          log(f"unit $it: ${walls(it)}%.2f s")
        } catch {
          case e: Throwable =>
            thrown(it) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            e.printStackTrace()
        } finally {
          tracer.enable(false)
          // sweep what the unit left cached, after counting it
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          spark.catalog.clearCache()
        }
      }

      log(s"$it units done")
      val fails = (1 to it).map { i =>
        i -> (thrown.get(i).toSeq ++ (if (thrown.contains(i)) Nil else
          try w.failures(i) catch { case e: Throwable =>
            e.printStackTrace(); Seq(s"check threw ${e.getMessage}") }))
      }.toMap
      fails.toSeq.sortBy(_._1).foreach { case (i, fs) =>
        fs.foreach(f => System.err.println(s"[perfbench] unit $i FAILED: $f")) }
      log("checks done")
      val good = (1 to it).filter(i => fails(i).isEmpty)
      val nFailed = it - good.size
      val untracedGood = good.filterNot(tracedIts.contains)

      val wall = ctx.median(untracedGood.map(walls))
      val rowsPerS = ctx.median(untracedGood.map(i => w.rows / walls(i)))
      def phaseMed(k: String) = ctx.median(untracedGood.flatMap(i => phases(i).get(k)))
      val rss = peakRssMb()
      val e2e = Seq(
        ("setup_s", setupS, "s"), ("wall_s", wall, "s"),
        ("rows_per_s", rowsPerS, "1/s"), ("peak_rss_mb", rss, "MB"),
        ("batch_s", phaseMed("batch_s"), "s"), ("artifact_s", phaseMed("artifact_s"), "s"),
        ("forget_s", phaseMed("forget_s"), "s"),
        ("failed_frac", nFailed.toDouble / math.max(it, 1), "1"))
      println(s"[perfbench] workload=$workload seed=$seed units=$it failed=$nFailed " +
        s"traced=${tracedIts.size} unit_walls=${(1 to it).flatMap(walls.get).map(x => f"$x%.3f").mkString(",")} " +
        s"leaked_rdds=${(1 to it).flatMap(leaked.get).mkString(",")}")
      e2e.foreach { case (k, v, u) =>
        val applies = !(Set("batch_s", "artifact_s", "forget_s")(k) && workload != "release_incr")
        println(f"[perfbench] $k%-12s ${if (applies) f"$v%.4f" else "n/a"}%12s $u")
      }

      val metrics: Seq[(String, Double, String)] =
        if (!trace) e2e.filter { case (k, _, _) => Metrics.endToEnd.contains(k) }
        else {
          val tracedGood = tracedIts.filter(good.contains).toSeq
          val perIt = tracedGood.map(i => layer(i) ++ Map(
            "spark.leaked_rdds" -> leaked.getOrElse(i, 0).toDouble))
          val fixed = w.setupLayerMetrics ++ (if (tracedGood.nonEmpty)
            FunctionsBench.run(ctx) else Map.empty[String, Double])
          // each traced unit against the mean of the untraced units around it
          val pairs = tracedGood.flatMap { i =>
            val nb = Seq(i - 1, i + 1).filter(untracedGood.contains).map(walls)
            if (nb.isEmpty) None else Some((walls(i), nb.sum / nb.size))
          }
          val overhead = Map(
            "trace.overhead_s" -> ctx.median(pairs.map { case (t, u) => t - u }),
            "trace.overhead_frac" -> ctx.median(pairs.map { case (t, u) => t / u - 1 }))
          // which Spark counts repeat exactly across the traced units
          Seq("spark.jobs", "spark.stages", "spark.tasks").foreach { k =>
            val vs = perIt.map(_.getOrElse(k, 0.0)).distinct
            println(s"[perfbench] $k across traced units: ${vs.mkString(",")}" +
              (if (vs.size > 1) " (does not repeat)" else ""))
          }
          val all = fixed ++ overhead ++
            perIt.flatMap(_.keys).distinct.map(k => k -> ctx.median(perIt.flatMap(_.get(k))))
          // the workload's full breakdown, then the shared set for the JSON
          all.toSeq.sortBy(_._1).foreach { case (k, v) =>
            println(f"[perfbench] layer $k%-44s ${Json.num(v)}") }
          Metrics.perLayer.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
        }
      if (trace) {
        val dir = new java.io.File(s"$root/.bench_traces")
        dir.mkdirs()
        val f = new java.io.File(dir, s"trace-$workload-$seed.json")
        java.nio.file.Files.write(f.toPath, tracer.toJson(Map(
          "workload" -> workload, "seed" -> seed, "units" -> it,
          "traced_units" -> tracedIts.toSeq)).getBytes("UTF-8"))
        println(s"[perfbench] trace written to .bench_traces/${f.getName}")
      }
      val body = metrics.map { case (k, v, u) =>
        s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
        .mkString("{", ",", "}")
      println(s"""{"correct":${nFailed == 0},"attempted":$it,"failed":$nFailed,"metrics":$body}""")
    } finally {
      spark.stop()
      ctx.delete(work)
      log("stopped")
    }
  }

  /** Engine-layer metrics of one traced unit, from the listener. */
  private def sparkMetrics(tr: Tracer, it: Int, wall: Double): Map[String, Double] = {
    val root = tr.spansOf(it, "unit").head
    val c = tr.totals(root)
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.task_run_s" -> c.runMs / 1e3, "spark.gc_s" -> c.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.input_bytes" -> c.input.toDouble,
      "spark.output_bytes" -> c.output.toDouble,
      "spark.busy_frac" -> c.runMs / 1e3 / (wall * 4),
      "spark.no_job_s" -> tr.noJobS(root.startMs, root.endMs))
  }
}
