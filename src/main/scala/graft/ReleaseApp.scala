package graft


/** CLI entry for the DURABLE release pipeline
  * ([[graft.plans.ReleaseRun]]): raw crawl to digest-verified
  * training artifact, with every stage boundary a real parquet table
  * so a killed run RESUMES from its last completed stage and a
  * finished run re-verifies idempotently.
  *
  * Usage:
  *   runMain graft.ReleaseApp --sf-dir=/root/testdata/sf0.01 \
  *     --out=/data/release_run [--cpus=8]
  *     [--config=release.json]  # gates/thresholds as reviewable JSON
  *                              #   ([[graft.plans.ReleaseConfig]])
  *     [--capacity=512] [--num-shards=4]  # overrides on the config
  *     [--stop-after=s5_keep]   # halt after a stage (crash drill)
  *     [--fresh=true]           # delete the run dir first
  *
  * Resume is the DEFAULT: pointing at an existing --out skips every
  * completed stage. The run prints per-part row counts of the
  * verified artifact; stage tables stay queryable under
  * `<out>/stages/` as the release's audit surface.
  */
object ReleaseApp {
  def main(rawArgs: Array[String]): Unit = {
    val args = rawArgs.collect {
      case a if a.startsWith("--") && a.contains("=") =>
        val Array(k, v) = a.drop(2).split("=", 2)
        k -> v
    }.toMap
    val sfDir = args.getOrElse("sf-dir", sys.error("missing --sf-dir"))
    val out = args.getOrElse("out", sys.error("missing --out"))
    val cpus = args.getOrElse("cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val spark = LocalSession("graft-release-run",
      args.getOrElse("master", s"local[$cpus]"), cpus)
    try {
      if (args.get("fresh").exists(_.toBoolean)) {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(out), spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(out), true)
      }
      // gates/thresholds from a reviewable JSON file (the --plan=
      // discipline applied to the release); --capacity/--num-shards
      // remain as overrides on top of whatever the config says
      val cfg0 = args.get("config")
        .map(p => graft.plans.ReleaseConfig.fromJson(spark, p))
        .getOrElse(graft.plans.ReleaseConfig())
      val cfg = cfg0.copy(pack = cfg0.pack.copy(
        capacity = args.get("capacity").map(_.toInt)
          .getOrElse(cfg0.pack.capacity),
        numShards = args.get("num-shards").map(_.toInt)
          .getOrElse(cfg0.pack.numShards)))
      val result = graft.plans.ReleaseRun.run(
        spark,
        graft.queries.ExtensionQueries.releaseRawInput(spark, sfDir),
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        keep => graft.queries.ExtensionQueries.sftTranscriptsOf(spark, keep),
        () => graft.queries.ExtensionQueries.releaseMerges(spark, sfDir),
        out,
        cfg,
        stopAfter = args.get("stop-after"))
      result match {
        case None =>
          println(s"[release] halted after --stop-after=${args("stop-after")} " +
            s"— resume by re-running against --out=$out")
        case Some(artifact) =>
          import org.apache.spark.sql.functions.{col, count}
          artifact.groupBy(col("part")).agg(count(col("k")).as("rows"))
            .orderBy(col("part")).collect()
            .foreach(r => println(s"[release] ${r.getString(0)}: ${r.getLong(1)} rows"))
          println(s"[release] digest-verified artifact at $out/release.parquet")
      }
    } finally spark.stop()
  }
}
