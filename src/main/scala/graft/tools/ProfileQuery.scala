package graft.tools

/** Dev-only profiler (guide §1: measure first): run one or more
  * catalog queries exactly as [[graft.Bench]] does (same session
  * shape, same noop sink) with a listener that attributes wall time
  * to Spark JOBS by call site — the breakdown a 100-job composite
  * query (release/bootstrap/incremental) needs before any of it is
  * optimized. Not part of the bench contract; never run by the
  * driver.
  *
  * Usage: sbt "runMain graft.tools.ProfileQuery q_pipeline_release_incr"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same env default as Bench/Verify ("4") so default-config profiles
    // reflect bench parallelism; pass SPARK_GRAFT_CPUS=32 for the
    // bench_quiet shape
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.LocalSession("graft-profile-query", s"local[$cpus]", cpus)

    val jc = JobCounter(spark)

    // same warmup block as Bench: session/codegen, Jackson plan-config
    // parsing, broadcast-join + aggregate codegen, and the noop write
    // path — so the first profiled query does not absorb ~3s of
    // one-time init Bench deliberately pre-pays
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.plans.PlanConfig.fromJson(
      """{"tables":{"w":{"original_table":"t",
        |"columns":[{"target":"k","original":"k"}]}}}""".stripMargin)
    val wa = spark.range(1000).toDF("k")
    val wb = spark.range(100).toDF("k")
    wa.join(org.apache.spark.sql.functions.broadcast(wb), "k")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      jc.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.operators.Stage.sweep(spark)
      val recs = jc.jobs
      def dur(j: JobCounter.Job) = math.max(0L, j.endMs - j.startMs)
      val bySite = recs.groupBy(_.site).map { case (s, js) =>
        (s, js.size, js.map(dur).sum)
      }.toSeq.sortBy(-_._3)
      println(f"== $name%s wall=$wall%.2f s jobs=${recs.size}%d " +
        f"jobTimeSum=${recs.map(dur).sum / 1000.0}%.2f s " +
        f"taskTime=${recs.map(_.taskRunMs).sum / 1000.0}%.2f s")
      bySite.take(40).foreach { case (site, n, ms) =>
        println(f"  ${ms / 1000.0}%8.2f s  n=$n%-4d $site%s")
      }
    }
    spark.stop()
  }
}
