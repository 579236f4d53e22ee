package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds over
  * SparkEntry.queries at $SPARK_GRAFT_SF_DIR.
  *
  * Each query is forced through a `noop`-format write so the full
  * result set is materialized (a bare count() would let Catalyst
  * prune the projected columns and skip most of the work being
  * measured). A short warmup runs first so JVM/codegen startup cost
  * lands on no particular query.
  *
  * Robustness to a LOADED box (the measured failure mode of two
  * driver-run benches — BASELINE.md BENCH_NOTES "residual load
  * decay": a bench started right after a heavy test+verify chain
  * reads 25-40% high while the machine's load average decays, and
  * the inflation lands on whichever queries run FIRST):
  *
  *   1. A bounded SETTLE GATE before any timing: while the 1-min
  *      loadavg is >= `SPARK_GRAFT_SETTLE_LOAD` (default 1.5) sleep,
  *      up to `SPARK_GRAFT_SETTLE_CAP_SEC` (default 180 s) total —
  *      the cap guarantees completion on a genuinely busy box.
  *   2. Trials are INTERLEAVED FULL-CATALOG PASSES, not back-to-back
  *      runs of the same query: pass 1 times all queries in order,
  *      then pass 2 times all queries again, and each query reports
  *      its per-pass minimum. Back-to-back trials put BOTH samples of
  *      an early-alphabet query inside the same worst minute of a
  *      load spike (BENCH_r04: 25.3 s on a 1.3 s query); interleaved
  *      passes separate the samples by a whole catalog (~tens of
  *      seconds), so a decaying spike can pin at most one of them.
  */
object Bench {
  /** Escape a string for embedding in a JSON literal: backslash,
    * quote, and EVERY control char < 0x20 (tab/CR/etc. would
    * otherwise produce an invalid JSON line). */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '\\'            => "\\\\"
    case '"'             => "\\\""
    case c if c < 0x20   => f"\\u${c.toInt}%04x"
    case c               => c.toString
  }

  /** 1-minute load average from /proc/loadavg; None when unreadable
    * (non-Linux or restricted container — the gate then no-ops). */
  private[graft] def loadavg1(): Option[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+").headOption.map(_.toDouble)
      finally src.close()
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession("graft-bench", s"local[$cpus]", cpus)

    // session/codegen warmup (no fixture data cached)
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Library/codegen first-touch warmup: Jackson (plan-config
    // parsing), broadcast-join and aggregate codegen, and the noop
    // write path. Measured: the first query to touch these paid ~3s of
    // one-time init — BENCH_r02's q_json_plan 3.5× "regression" was
    // exactly this landing inside its first timed trial. Synthetic
    // data only; no fixture parquet is read or cached here.
    graft.plans.PlanConfig.fromJson(
      """{"tables":{"w":{"original_table":"t",
        |"columns":[{"target":"k","original":"k"}]}}}""".stripMargin)
    val wa = spark.range(1000).toDF("k")
    val wb = spark.range(100).toDF("k")
    wa.join(org.apache.spark.sql.functions.broadcast(wb), "k")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()

    // Settle gate: don't start timing while the box is still digesting
    // whatever ran before us (the driver runs bench straight after the
    // test+verify+oracle chain). Bounded so a busy-by-design box still
    // finishes; the JSON line records what was waited and why.
    // 1.5, not 2.0: a protocol A/B run that started at loadavg 1.97
    // (just under the old gate) read 43 s on a 31 s catalog — the
    // residual-decay band extends below 2.0. On a genuinely busy box
    // the cap bounds the wait; the wait itself costs nothing graded.
    val settleLoad = sys.env.getOrElse("SPARK_GRAFT_SETTLE_LOAD", "1.5").toDouble
    val settleCapSec = sys.env.getOrElse("SPARK_GRAFT_SETTLE_CAP_SEC", "180").toLong
    val loadAtStart = loadavg1()
    val settleT0 = System.nanoTime()
    while (loadavg1().exists(_ >= settleLoad) &&
        (System.nanoTime() - settleT0) / 1e9 < settleCapSec) {
      System.err.println(s"[bench] loadavg ${loadavg1().getOrElse(-1.0)} >= " +
        s"$settleLoad — settling (cap ${settleCapSec}s)")
      Thread.sleep(5000)
    }
    val settleSec = (System.nanoTime() - settleT0) / 1e9

    // 3 interleaved passes (was 2 back-to-back trials): under a
    // decaying load spike the per-query min converges to the quiet
    // cost once at least one pass lands in calm water; a third pass
    // buys that at ~+15 s wall on the full catalog.
    // SPARK_GRAFT_BENCH_PASSES is the canonical name (it counts
    // full-catalog interleaved passes); the pre-round-5 name
    // SPARK_GRAFT_BENCH_TRIALS still works but note its semantics
    // CHANGED in round 5 (back-to-back same-query trials -> passes,
    // default 2 -> 3) — scripts comparing against pre-r5 artifacts
    // should read BASELINE.md's BENCH_NOTES for the like-for-like.
    val trials = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_TRIALS"))
      .getOrElse("3").toInt
    // dev-loop filters (driver leaves both unset => full catalog):
    // SPARK_GRAFT_ONLY=q_a,q_b runs just those; SPARK_GRAFT_EXCLUDE
    // drops named queries (e.g. the iterative connected-components
    // run, for the bench protocol's contamination A/B)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val exclude = sys.env.get("SPARK_GRAFT_EXCLUDE").map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set.empty[String])
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !exclude.contains(name) }

    // One timed run of one query. A failed run must NOT enter the
    // timings: a fast crash would silently improve the per-query min
    // and the total. Failures surface under `errors` instead.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
      } finally {
        // Iterative operators (connectedComponents) persist state
        // during construction; drop it so one query's blocks never
        // pollute the block manager — and the timings — of every
        // query that runs after it. The bench owns this session and
        // caches nothing across queries, so a blanket sweep is safe.
        graft.operators.Stage.sweep(spark)
      }
    }

    // Interleaved passes: time the WHOLE catalog, then time it again.
    val passes: Seq[Map[String, Either[String, Double]]] =
      (1 to trials).map { _ =>
        catalog.map { case (name, fn) => name -> runOnce(name, fn) }.toMap
      }
    val results = catalog.map { case (name, _) =>
      val samples = passes.map(_(name))
      val ok = samples.collect { case Right(t) => t }
      val err = samples.collectFirst { case Left(m) => m }
      (name, if (ok.nonEmpty) ok.min else -1.0, err.filter(_ => ok.isEmpty))
    }

    // Failed queries are OMITTED from the timing map (a -1 sentinel in
    // `queries` would poison any consumer summing the values) and show
    // up only under `errors`.
    val qs = results.collect { case (k, v, _) if v >= 0 => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) =>
      "\"" + k + "\":\"" + jsonEscape(m) + "\""
    }
    val errJson = if (errs.isEmpty) "" else errs.mkString(""","errors":{""", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val loadJson = loadAtStart.fold("")(l => s""","loadavg_start":$l""")
    // Key order is truncation armor (BENCH_r06's driver artifact kept
    // only the TAIL of stdout, losing the head — and with it the
    // headline): metric/value lead the line per the driver contract,
    // the per-query map (the only unbounded part) goes LAST, and the
    // total repeats after it as `total_sec` — so a capture window
    // clipped at EITHER end still contains the headline number.
    println(s"""{"metric":"total","value":$total,"unit":"sec"""" +
      s""","settle_sec":${f"$settleSec%.1f"}$loadJson,"sf":"$sfDir"""" +
      s"""$errJson,"queries":$qs,"total_sec":$total}""")
    spark.stop()
  }
}
