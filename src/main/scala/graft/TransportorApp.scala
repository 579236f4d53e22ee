package graft

import org.apache.spark.sql.SparkSession
import graft.operators.Transportor
import graft.plans.TransportPlan
import graft.sources.{ParquetDirIO, TableIO}

/** A user-defined transport job — the analogue of the reference's
  * scaffolded transportor classes (src/CreateTemp.temp): implement
  * this trait in an object, point [[TransportorApp]] at it by name.
  */
trait TransportJob {
  def plan: TransportPlan
  def io(spark: SparkSession, args: Map[String, String]): TableIO =
    new ParquetDirIO(spark,
      args.getOrElse("original-dir", sys.error("missing --original-dir")),
      args.getOrElse("target-dir", sys.error("missing --target-dir")))
  def preSeeded: Set[String] = Set.empty
}

/** CLI entry — the Spark-native `php artisan transport [--class=X]`
  * (reference: src/Console/TransportCommand.php:17,31-45). Resolves
  * the named [[TransportJob]] object reflectively (the Laravel
  * container lookup becomes a classloader lookup), builds the
  * Transportor, runs and writes every target table in dependency
  * order.
  *
  * Usage:
  *   runMain graft.TransportorApp --class=my.pkg.MyJob \
  *     --original-dir=/data/src --target-dir=/data/out [--cpus=8]
  *     [--write-parallelism=4]   # tables built+written at once (default: defaultParallelism)
  *     [--lineage=only]          # print column lineage, run nothing
  */
object TransportorApp {
  def main(rawArgs: Array[String]): Unit = {
    val args = rawArgs.collect {
      case a if a.startsWith("--") && a.contains("=") =>
        val Array(k, v) = a.drop(2).split("=", 2)
        k -> v
    }.toMap
    // a migration is either a Scala TransportJob object (--class=) or a
    // declarative JSON plan (--plan=), mirroring the reference's
    // config-array-driven surface
    val job: TransportJob = (args.get("class"), args.get("plan")) match {
      case (Some(className), None) =>
        val clazz = Class.forName(className + "$") // Scala object MODULE
        clazz.getField("MODULE$").get(null).asInstanceOf[TransportJob]
      case (None, Some(planPath)) =>
        new TransportJob {
          def plan: TransportPlan = graft.plans.PlanConfig.fromFile(planPath)
        }
      case _ => sys.error("need exactly one of --class=<TransportJob> or --plan=<plan.json>")
    }
    val className = args.getOrElse("class", args.getOrElse("plan", "json"))
    val cpus = args.getOrElse("cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val spark = LocalSession(s"graft-transport-$className",
      args.getOrElse("master", s"local[$cpus]"), cpus)
    try {
      // --lineage=only: static impact analysis, no IO touched — the
      // dry-run a migration review wants before anything executes
      if (args.get("lineage").contains("only")) {
        graft.plans.Lineage.report(job.plan).foreach { e =>
          println(s"[lineage] ${e.targetTable}.${e.targetColumn} <- " +
            s"${e.sourceTable}[${e.sourceColumns.mkString(", ")}] " +
            s"(${e.kind}/${e.role}${if (e.isTemp) ", temp" else ""})")
        }
      } else {
        val t = new Transportor(job.io(spark, args), job.plan, job.preSeeded)
        val frames = args.get("write-parallelism")
          .fold(t.runAndWrite())(p => t.runAndWrite(writeParallelism = p.toInt))
        frames.foreach { case (name, df) =>
          println(s"[transport] wrote $name")
        }
      }
    } finally spark.stop()
  }
}

/** Demo job over the driver fixtures (also exercised in tests). */
object DemoTransportJob extends TransportJob {
  import graft.plans._
  def plan: TransportPlan = TransportPlan.of(
    "dim_nation" -> TableMap(Some("nation"),
      Seq(Rename("nation_id", "n_nationkey"), Rename("nation_name", "n_name"))),
    "customers" -> TableMap(Some("customer"), Seq(
      Rename("id", "c_custkey"),
      Rename("username", "c_name"),
      Refer("nation_name", Seq("c_nationkey"), SearchSource.Target, "dim_nation",
        Seq("nation_id"), "nation_name", default = Some("NONE"), broadcastLookup = true))))
}
