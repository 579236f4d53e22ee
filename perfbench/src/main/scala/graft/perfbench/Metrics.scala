package graft.perfbench

/** The metric names of the JSON result line: the end-to-end set of an
  * untraced run and the per-layer set of a traced run. BENCHMARK.json
  * lists the same names. */
object Metrics {
  val endToEnd: Seq[String] = Seq("setup_s", "wall_s")

  val migrateTables: Seq[String] = Seq("dim_supplier", "dim_part",
    "dim_customer", "returns", "fact_lines", "fact_orders",
    "order_parts_bridge", "vendor_map", "contacts")

  val incrPhases: Seq[(String, String)] = Seq(
    "incr1_ingest" -> "incr 1: ingest", "incr2_exact" -> "incr 2: exact",
    "incr3_neardup" -> "incr 3: neardup",
    "incr3b_store_appends" -> "incr 3b: store appends",
    "incr4_split" -> "incr 4: split", "incr5_decontam" -> "incr 5: decontam",
    "incr6_sft" -> "incr 6: sft", "incr7_pack" -> "incr 7: pack",
    "incr9_ledger_manifest" -> "incr 9: ledger/manifest")

  /** Per-layer metrics every workload reports (the JSON of a traced
    * run). Each workload also prints its own finer breakdown. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "spark.busy_frac" -> "1",
    "spark.no_job_s" -> "s", "spark.leaked_rdds" -> "count",
    "plans.s" -> "s", "plans.jobs" -> "count",
    "operators.s" -> "s", "operators.jobs" -> "count",
    "sources.write_s" -> "s", "sources.output_files" -> "count",
    "sources.output_bytes" -> "bytes",
    "functions.scan_ns_per_row" -> "ns", "functions.tokens_ns_per_row" -> "ns",
    "functions.normalize_ns_per_row" -> "ns", "functions.minhash_ns_per_row" -> "ns",
    "functions.simhash_ns_per_row" -> "ns", "functions.cdc_ns_per_row" -> "ns",
    "trace.overhead_s" -> "s", "trace.overhead_frac" -> "1")
}
