package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StringType
import graft.operators.Transportor
import graft.plans.{PlanConfig, RowUdf, TransportPlan}
import graft.sources.{ParquetDirIO, TableIO}
import scala.collection.mutable

/** `migrate`: the paper's own surface. One unit loads the JSON plan,
  * builds a Transportor over parquet directories and runs
  * `runAndWrite()` at the CLI default (write parallelism 1) into a
  * fresh target directory. */
final class Migrate(ctx: Ctx) extends Workload {
  import ctx.spark

  private val src = ctx.dir("src")
  private def tgt(it: Int) = ctx.dir(s"tgt-$it")
  private val planPath = "perfbench/plans/migrate.json"
  private val digests = mutable.Map.empty[Int, Map[String, String]]
  private val buildS = mutable.Map.empty[Int, (Double, Long)]
  private val writeS = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var reference: Map[String, (String, Long)] = Map.empty

  /** The reference README's row-function example (name + "-" + id):
    * a closure, so it rides on the parsed plan from Scala. */
  private def withRowUdf(p: TransportPlan): TransportPlan =
    p.copy(tables = p.tables.map {
      case ("dim_customer", m) => "dim_customer" -> m.copy(columns = m.columns :+
        RowUdf("label", (r: Row) =>
          s"${r.getAs[String]("c_name")}-${r.getAs[Long]("c_custkey")}", StringType))
      case other => other
    })

  /** TableIO wrapper that times each target write and notes when the
    * first one starts (the end of the plan build). */
  private final class TimingIO(base: TableIO, it: Int, t0: Long) extends TableIO {
    def readOriginal(table: String): DataFrame = base.readOriginal(table)
    def readTarget(table: String): DataFrame = base.readTarget(table)
    def writeTarget(table: String, df: DataFrame): Unit = {
      val s = System.nanoTime()
      if (!buildS.contains(it)) {
        val jobs = if (!ctx.tracer.isEnabled) 0L else {
          ctx.tracer.drain()
          ctx.tracer.spansOf(it, "operators.transportor.run_and_write").headOption
            .flatMap(sp => ctx.tracer.bySpan.get(sp.id)).map(_.jobs).getOrElse(0L)
        }
        buildS(it) = ((s - t0) / 1e9, jobs)
      }
      ctx.span(s"sources.write.$table")(base.writeTarget(table, df))
      writeS.getOrElseUpdate(it, mutable.Map.empty)(table) = (System.nanoTime() - s) / 1e9
    }
  }

  private def runOnce(it: Int, out: String): Unit = {
    val plan = ctx.span("plans.plan_config.from_file")(withRowUdf(PlanConfig.fromFile(planPath)))
    val io = new TimingIO(new ParquetDirIO(spark, src, out), it, System.nanoTime())
    val t = new Transportor(io, plan)
    ctx.span("operators.transportor.run_and_write")(t.runAndWrite())
    ()
  }

  def setup(): Unit = {
    ctx.span("setup.generate") {
      Gen.tpch(spark, ctx.seed, ctx.sizes.tpchSf).foreach { case (name, df) =>
        Gen.write(df, src, name)
      }
    }
    Main.log("inputs generated")
    // the reference path doubles as the JVM/codegen warm-up
    reference = ctx.span("setup.reference")(buildReference())
  }

  def reset(it: Int): Unit = ctx.delete(tgt(it - 1))

  def unit(it: Int): Map[String, Double] = { runOnce(it, tgt(it)); Map.empty }

  def minUnits: Int = 3

  def record(it: Int, corrupt: Boolean): Unit = {
    if (corrupt) // append a duplicate row to one target table
      spark.read.parquet(s"${tgt(it)}/fact_orders.parquet").limit(1)
        .write.mode("append").parquet(s"${tgt(it)}/fact_orders.parquet")
    digests(it) = ctx.digests(Metrics.migrateTables.map(t =>
      t -> spark.read.parquet(s"${tgt(it)}/$t.parquet")))
  }

  def failures(it: Int): Seq[String] = Metrics.migrateTables.flatMap { t =>
    val got = digests.get(it).flatMap(_.get(t))
    if (got.contains(reference(t)._1)) None
    else Some(s"$t: digest ${got.getOrElse("missing")} != reference ${reference(t)._1}")
  }

  def rows: Long = reference.values.map(_._2).sum

  def layerMetrics(it: Int): Map[String, Double] = {
    val tr = ctx.tracer
    val (files, bytes) = ctx.treeSize(tgt(it))
    val (b, jobs) = buildS.getOrElse(it, (0.0, 0L))
    val load = tr.spansOf(it, "plans.plan_config.from_file")
    val writes = writeS.getOrElse(it, mutable.Map.empty)
    Map("operators.transportor.build_s" -> b,
      "operators.transportor.build_jobs" -> jobs.toDouble,
      "plans.s" -> load.map(_.durS).sum,
      "plans.jobs" -> load.map(tr.totals(_).jobs).sum.toDouble,
      "operators.s" -> b, "operators.jobs" -> jobs.toDouble,
      "sources.write_s" -> writes.values.sum,
      "sources.output_files" -> files.toDouble,
      "sources.output_bytes" -> bytes.toDouble) ++
      writes.map { case (t, s) => s"sources.write.${t}_s" -> s }
  }

  /** The same plan as plain Spark SQL over the generated inputs,
    * written without the Transportor: (digest, rows) per target. */
  private def buildReference(): Map[String, (String, Long)] = {
    Seq("supplier", "part", "customer", "orders", "lineitem", "order_parts",
      "supplier_alias").foreach(t =>
      spark.read.parquet(s"$src/$t.parquet").createOrReplaceTempView(s"r_$t"))
    def view(name: String, sql: String): DataFrame = {
      val df = spark.sql(sql)
      df.createOrReplaceTempView(s"ref_$name")
      df
    }
    val grams = (c: String) =>
      s"""CASE WHEN length(trim(regexp_replace(lower($c), '[^a-z0-9]+', ' '))) >= 3
         |THEN array_distinct(transform(sequence(1,
         |  length(trim(regexp_replace(lower($c), '[^a-z0-9]+', ' '))) - 2),
         |  i -> substr(trim(regexp_replace(lower($c), '[^a-z0-9]+', ' ')), i, 3)))
         |ELSE array() END""".stripMargin
    val frames = Seq(
      "dim_supplier" -> view("dim_supplier", """
        SELECT s_suppkey AS id, s_name AS name, 'active' AS status,
          CASE WHEN s_acctbal >= 5000 THEN 'A' WHEN s_acctbal >= 0 THEN 'B'
               ELSE 'C' END AS tier
        FROM r_supplier"""),
      "dim_part" -> view("dim_part", """
        SELECT p_partkey AS id, p_name AS name, p_brand AS brand,
          CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        FROM r_part WHERE p_brand NOT LIKE 'Brand#55' AND p_size BETWEEN 1 AND 45"""),
      "dim_customer" -> view("dim_customer", """
        SELECT c_custkey AS id, c_name AS name,
          coalesce(c_mktsegment, 'UNKNOWN') AS segment, c_acctbal AS balance,
          concat(c_name, '-', c_custkey) AS label
        FROM r_customer WHERE c_acctbal > 0 AND c_custkey % 7 <> 3"""),
      "returns" -> view("returns", """
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
          l_quantity AS ret_qty
        FROM r_lineitem WHERE l_returnflag = 'R'"""),
      "fact_lines" -> view("fact_lines", """
        SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
          coalesce(p.w, 'n/a') AS part_name, coalesce(s.w, 'n/a') AS supplier_name,
          r.w AS ret_qty,
          CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS net_cents
        FROM r_lineitem l
        LEFT JOIN (SELECT p_partkey AS k, min(p_name) AS w FROM r_part GROUP BY p_partkey) p
          ON l.l_partkey = p.k
        LEFT JOIN (SELECT id AS k, min(name) AS w FROM ref_dim_supplier GROUP BY id) s
          ON l.l_suppkey = s.k
        LEFT JOIN (SELECT orderkey AS k1, linenumber AS k2, min(ret_qty) AS w
                   FROM ref_returns GROUP BY orderkey, linenumber) r
          ON l.l_orderkey <=> r.k1 AND l.l_linenumber <=> r.k2"""),
      "fact_orders" -> view("fact_orders", """
        SELECT o.o_orderkey AS id, coalesce(c.w, 'UNKNOWN') AS customer_name,
          coalesce(a.n, 0) AS n_lines, coalesce(a.s, 0) AS net_cents,
          coalesce(g.s, 0) AS gross_cents
        FROM r_orders o
        LEFT JOIN (SELECT id AS k, min(name) AS w FROM ref_dim_customer GROUP BY id) c
          ON o.o_custkey = c.k
        LEFT JOIN (SELECT orderkey AS k, count(1) AS n, sum(net_cents) AS s
                   FROM ref_fact_lines GROUP BY orderkey) a ON o.o_orderkey = a.k
        LEFT JOIN (SELECT l_orderkey AS k,
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s
                   FROM r_lineitem GROUP BY l_orderkey) g ON o.o_orderkey = g.k
        WHERE o.o_orderstatus IN ('O', 'F')"""),
      "order_parts_bridge" -> view("order_parts_bridge", """
        SELECT op.op_orderkey AS order_id, d.id AS part_id
        FROM (SELECT op_orderkey,
                explode(transform(split(trim(part_csv), ','), x -> trim(x))) AS k
              FROM r_order_parts WHERE part_csv IS NOT NULL AND part_csv <> '') op
        JOIN ref_dim_part d ON op.k = CAST(d.id AS STRING)"""),
      "vendor_map" -> view("vendor_map", s"""
        WITH names AS (SELECT name AS k, min(id) AS w FROM ref_dim_supplier GROUP BY name),
        probes AS (SELECT DISTINCT a_name AS p FROM r_supplier_alias),
        scored AS (
          SELECT p, k, w, size(array_intersect(gp, gk)) AS inter,
                 size(gp) AS np, size(gk) AS nk
          FROM (SELECT p, ${grams("p")} AS gp FROM probes) x
          CROSS JOIN (SELECT k, w, ${grams("k")} AS gk FROM names) y),
        sims AS (
          SELECT p, k, w, CAST(inter AS DOUBLE) / (np + nk - inter) AS j
          FROM scored WHERE np > 0 AND nk > 0),
        best AS (
          SELECT p, w FROM (
            SELECT p, w, row_number() OVER (PARTITION BY p ORDER BY j DESC, k) AS rn
            FROM sims WHERE j >= 0.5) WHERE rn = 1)
        SELECT a.a_id AS alias_id, a.a_name AS alias, coalesce(b.w, -1) AS supplier_id
        FROM r_supplier_alias a LEFT JOIN best b ON a.a_name = b.p"""),
      "contacts" -> view("contacts", """
        SELECT concat('c', c_custkey) AS contact_id, c_name AS name, 'customer' AS kind
        FROM r_customer
        UNION ALL
        SELECT concat('s', s_suppkey) AS contact_id, s_name AS name, 'supplier' AS kind
        FROM r_supplier"""))
    ctx.digests(frames).map { case (t, d) => t -> (d, d.split('|')(1).toLong) }
  }
}
