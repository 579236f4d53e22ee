package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.operators.Transportor
import graft.plans._
import graft.sources.{OverlayIO, ParquetDirIO}
import Catalog.{Q, pq}

/** One named query per reference operator (SURVEY.md §2 inventory),
  * exercised THROUGH the graft engine over the driver's TPC-H-ish
  * parquet fixtures, each with an equivalent DuckDB oracle SQL.
  *
  * Numeric discipline for oracle hash-parity: every aggregate over
  * doubles is computed in exact DECIMAL(18,2/4) then cast back to
  * DOUBLE on both sides, so Spark's and DuckDB's summation order
  * cannot produce differing low bits.
  */
object ParityQueries {

  private def io(spark: SparkSession, dir: String) = new ParquetDirIO(spark, dir, dir)

  /** events.parquet's `ts` physical type varies across generator
    * versions: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as long via `nanosAsLong` and floor to micros
    * with integer `div`, since nanos ~1.7e18 exceed double precision)
    * vs TIMESTAMP(MICROS) with isAdjustedToUTC=false (read natively
    * as TIMESTAMP_NTZ). Both normalize to a session-tz TIMESTAMP —
    * all graft sessions pin spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast is value-preserving. DuckDB reads either physical
    * type and `epoch_us`/`epoch_ns` floor identically, so oracle
    * parity holds under both generators. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = pq(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  // ------------------------------------------------------------------
  // S1/S2: chunked + filtered scan (filters pushed down by Catalyst,
  // like the reference compiles extra_conditions into source SQL).
  private val qFilterScan: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "orders_f" -> TableMap(
        originalTable = Some("orders"),
        extraConditions = Seq(
          Condition.Eq("o_orderstatus", "F"),
          Condition.Gt("o_totalprice", 50000.0),
          Condition.Ne("o_orderpriority", null),
          Condition.Lt("o_orderdate", java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))))
    new Transportor(io(s, dir), plan).frame("orders_f")
  }

  // 2.3 full predicate set incl. raw-SQL passthrough.
  private val qPredicateSet: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "part_f" -> TableMap(
        originalTable = Some("part"),
        extraConditions = Seq(
          Condition.Like("p_type", "%ECO%"),
          Condition.NotLike("p_name", "%green%"),
          Condition.In("p_size", Seq(1, 5, 9, 15, 23, 24)),
          Condition.NotIn("p_brand", Seq("Brand#11", "Brand#12")),
          Condition.Between("p_retailprice", 900.0, 1600.0),
          Condition.NotBetween("p_size", 10, 14),
          Condition.Raw("p_partkey % 2 = 0"))))
    new Transportor(io(s, dir), plan).frame("part_f")
  }

  // S3 ordered scan.
  private val qOrderedScan: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "big_orders" -> TableMap(
        originalTable = Some("orders"),
        columns = Seq(Rename("o_orderkey", "o_orderkey"), Rename("o_totalprice", "o_totalprice")),
        extraConditions = Seq(Condition.Gt("o_totalprice", 150000.0)),
        order = Some(Order("o_totalprice", "desc"))))
    new Transportor(io(s, dir), plan).frame("big_orders")
  }

  // P1 rename projection.
  private val qRename: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "new_customer" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          Rename("username", "c_name"),
          Rename("nation_id", "c_nationkey"),
          Rename("balance", "c_acctbal"))))
    new Transportor(io(s, dir), plan).frame("new_customer")
  }

  // P2 constant/default injection.
  private val qInject: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "cust_tagged" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          Inject("status", "migrated"),
          Inject("batch_no", 1))))
    new Transportor(io(s, dir), plan).frame("cust_tagged")
  }

  // P3 NULL-coalescing default (null source/UDF value => default).
  private val qNullDefault: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "cust_seg" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          Derived("seg", expr("nullif(c_mktsegment, 'BUILDING')"), default = Some("REPLACED")))))
    new Transportor(io(s, dir), plan).frame("cust_seg")
  }

  // P4 scalar row UDF — the true closure escape hatch, instantiated
  // with a SQL-mirrorable body (reference README.md:118-133).
  private val qRowUdf: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "cust_udf" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          RowUdf("tagged",
            r => r.getAs[String]("c_name") + "-" + r.getAs[Long]("c_custkey"),
            StringType))))
    new Transportor(io(s, dir), plan).frame("cust_udf")
  }

  // P5 affection: one computation filling multiple target columns.
  private val qAffection: Q = (s, dir) => {
    val parts = split(col("c_name"), "#")
    val plan = TransportPlan.of(
      "cust_parsed" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          Affection("name_prefix",
            struct(parts.getItem(0).as("p"), parts.getItem(1).cast("bigint").as("n")),
            mainField = "p",
            alsoFills = Seq("n" -> "name_num")))))
    new Transportor(io(s, dir), plan).frame("cust_parsed")
  }

  // P6 temp column: materialized for downstream use, dropped from output.
  private val qTempDrop: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "cust_tmp" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          Rename("temp_seg", "c_mktsegment", deleteAfterTransport = true),
          Derived("seg_tag", concat(col("temp_seg"), lit(":"), col("c_name"))))))
    new Transportor(io(s, dir), plan).frame("cust_tmp")
  }

  // J1 single-key batched lookup join: miss => default.
  private val qReferSingle: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "orders_named" -> TableMap(
        originalTable = Some("orders"),
        columns = Seq(
          Rename("o_orderkey", "o_orderkey"),
          Rename("o_custkey", "o_custkey"),
          Refer("cust_name",
            accordingColumns = Seq("o_custkey"),
            searchSource = SearchSource.Original,
            searchTable = "customer",
            searchColumns = Seq("c_custkey"),
            wantedColumn = "c_name",
            default = Some("UNKNOWN"),
            conditions = Seq(Condition.Gt("c_acctbal", 2000.0)),
            broadcastLookup = true))))
    new Transportor(io(s, dir), plan).frame("orders_named")
  }

  // J1 under skew salting: saltFactor splits each probe key into
  // deterministic sub-keys and replicates the (deduplicated) lookup
  // to match — bounded task sizes under a hot key, row-identical
  // output. Shares q_refer_single's oracle SQL because salting MUST
  // be result-invariant; this row gates that invariant continuously.
  // broadcastLookup is off so the salted shuffle-join path (where
  // salting actually matters) is the one exercised.
  private val qReferSalted: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "orders_named" -> TableMap(
        originalTable = Some("orders"),
        columns = Seq(
          Rename("o_orderkey", "o_orderkey"),
          Rename("o_custkey", "o_custkey"),
          Refer("cust_name",
            accordingColumns = Seq("o_custkey"),
            searchSource = SearchSource.Original,
            searchTable = "customer",
            searchColumns = Seq("c_custkey"),
            wantedColumn = "c_name",
            default = Some("UNKNOWN"),
            conditions = Seq(Condition.Gt("c_acctbal", 2000.0)),
            saltFactor = 4))))
    new Transportor(io(s, dir), plan).frame("orders_named")
  }

  // J1 with pre_format + format_wanted key/result UDF wraps.
  private val qReferFormatted: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "supp_nation" -> TableMap(
        originalTable = Some("supplier"),
        columns = Seq(
          Rename("s_suppkey", "s_suppkey"),
          Refer("nation_tag",
            accordingColumns = Seq("s_nationkey"),
            searchSource = SearchSource.Original,
            searchTable = "nation",
            searchColumns = Seq("n_nationkey"),
            wantedColumn = "n_name",
            default = Some("NONE"),
            preFormat = Some(c => c + lit(0)), // identity-normalizing key UDF
            formatWanted = Some(c => lower(c)),
            broadcastLookup = true))))
    new Transportor(io(s, dir), plan).frame("supp_nation")
  }

  // J2 composite-key lookup: miss => NULL (never default — reference
  // asymmetry, src/DBT.php:340 vs :317).
  private val qReferComposite: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "li_big" -> TableMap(
        originalTable = Some("lineitem"),
        columns = Seq(
          Rename("l_orderkey", "l_orderkey"),
          Rename("l_linenumber", "l_linenumber"),
          Refer("big_qty",
            accordingColumns = Seq("l_orderkey", "l_linenumber"),
            searchSource = SearchSource.Original,
            searchTable = "lineitem",
            searchColumns = Seq("l_orderkey", "l_linenumber"),
            wantedColumn = "l_quantity",
            default = Some(-1.0), // must be IGNORED on composite miss
            conditions = Seq(Condition.Gt("l_quantity", 25.0))))))
    new Transportor(io(s, dir), plan).frame("li_big")
  }

  // J3 aggregate lookup: group lookup side, fold, default on miss.
  private val qRefersAgg: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "orders_spend" -> TableMap(
        originalTable = Some("orders"),
        columns = Seq(
          Rename("o_orderkey", "o_orderkey"),
          Refers("total_spend",
            accordingColumn = "o_orderkey",
            searchSource = SearchSource.Original,
            searchTable = "lineitem",
            searchColumn = "l_orderkey",
            processor = sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
            default = Some(0.0),
            conditions = Seq(Condition.Gt("l_quantity", 10.0))))))
    new Transportor(io(s, dir), plan).frame("orders_spend")
  }

  // J4 many-to-many bridge: CSV FK list exploded + joined.
  private val qMiddleBridge: Q = (s, dir) => {
    // collect_list order is nondeterministic but the exploded pair
    // multiset is order-independent, so no sort is needed
    val csv = pq(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok_id"), col("l_partkey"))
      .groupBy("ok_id")
      .agg(concat_ws(",", collect_list(col("l_partkey").cast("string"))).as("part_csv"))
    val overlay = new OverlayIO(io(s, dir), Map("orders_csv" -> csv))
    val plan = TransportPlan.of(
      "order_parts" -> TableMap(
        originalTable = None,
        middle = Some(Middle(
          one = MiddleOne(SearchSource.Original, "orders_csv",
            wantedColumn = "ok_id", accordingColumn = "part_csv", fillColumn = "order_id"),
          many = MiddleMany(SearchSource.Original, "part",
            wantedColumn = "p_partkey", searchColumn = "p_partkey", fillColumn = "part_id")))))
    new Transportor(overlay, plan).frame("order_parts")
  }

  // J5/orchestration: refer against a TARGET-side table that the plan
  // itself fills — toposort resolves dim_nation before cust.
  private val qReferTargetDep: Q = (s, dir) => {
    val plan = TransportPlan.of(
      "dim_nation" -> TableMap(
        originalTable = Some("nation"),
        columns = Seq(Rename("nation_id", "n_nationkey"), Rename("nation_name", "n_name"))),
      "cust_located" -> TableMap(
        originalTable = Some("customer"),
        columns = Seq(
          Rename("id", "c_custkey"),
          Refer("nation_name",
            accordingColumns = Seq("c_nationkey"),
            searchSource = SearchSource.Target,
            searchTable = "dim_nation",
            searchColumns = Seq("nation_id"),
            wantedColumn = "nation_name",
            default = Some("NONE"),
            broadcastLookup = true))))
    new Transportor(io(s, dir), plan).frame("cust_located")
  }

  // Config-driven surface: the same engine driven by a declarative
  // JSON plan (the reference's config-array-is-the-program property).
  private val qJsonPlan: Q = (s, dir) => {
    val json =
      """{ "tables": {
        |  "supp_tagged": {
        |    "original_table": "supplier",
        |    "columns": [
        |      {"target": "s_suppkey", "original": "s_suppkey"},
        |      {"target": "sname", "expr": "upper(s_name)"},
        |      {"target": "origin", "refer": {
        |         "according_column": "s_nationkey",
        |         "search_source": "original", "search_table": "nation",
        |         "search_column": "n_nationkey", "wanted_column": "n_name",
        |         "default": "NONE", "broadcast": true}},
        |      {"target": "li_count", "refers": {
        |         "according_column": "s_suppkey",
        |         "search_source": "original", "search_table": "lineitem",
        |         "search_column": "l_suppkey",
        |         "processor": "count(1)", "default": 0}}
        |    ],
        |    "extra_conditions": [["s_acctbal", ">", 0.0]]
        |  }
        |} }""".stripMargin
    new Transportor(io(s, dir), graft.plans.PlanConfig.fromJson(json)).frame("supp_tagged")
  }

  // 2.7 implicit union: two map entries appending into one target.
  private val qUnionAppend: Q = (s, dir) => {
    def seg(k: String, v: String) = k -> TableMap(
      originalTable = Some("customer"),
      targetTable = Some("seg_union"),
      columns = Seq(
        Rename("id", "c_custkey"),
        Rename("segment", "c_mktsegment")),
      extraConditions = Seq(Condition.Eq("c_mktsegment", v)))
    val plan = TransportPlan.of(seg("seg_a", "AUTOMOBILE"), seg("seg_b", "BUILDING"))
    new Transportor(io(s, dir), plan).run()("seg_union")
  }

  // ------------------------------------------------------------------
  // Beyond-reference relational ops (SURVEY.md §2.15), Spark built-ins.

  /** See [[graft.functions.ExactAgg.moneySum]] — exact integer-cents
    * sums, bit-exact across engines and overflow-proof at scale. */
  private def moneySum(c: Column, scale: Int): Column =
    graft.functions.ExactAgg.moneySum(c, scale)

  private val qAggGroup: Q = (s, dir) =>
    pq(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-12-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity"), 100).as("sum_qty"),
        moneySum(col("l_extendedprice"), 100).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  private val qDistinct: Q = (s, dir) =>
    pq(s, dir, "customer").select("c_mktsegment").distinct()

  private val qTopK: Q = (s, dir) =>
    pq(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_totalprice")

  private val qWindowRank: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    pq(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  // §2.15: semi/anti joins — customers with / without open orders.
  private val qSemiJoin: Q = (s, dir) => {
    val open = pq(s, dir, "orders").filter(col("o_orderstatus") === "O")
    pq(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  private val qAntiJoin: Q = (s, dir) => {
    val open = pq(s, dir, "orders").filter(col("o_orderstatus") === "O")
    pq(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  // §2.15: grouping sets — ROLLUP over returnflag/linestatus.
  private val qRollup: Q = (s, dir) =>
    pq(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("l_quantity"), 100).as("qty"))

  /** Full CUBE over the same pair as [[qRollup]] — all four grouping
    * sets in one pass (Spark plans a single Expand + hash aggregate,
    * not four scans). */
  private val qCube: Q = (s, dir) =>
    pq(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("l_quantity"), 100).as("qty"))

  /** Wide pivot: order counts per priority × status. The pivot value
    * list is EXPLICIT (O/F/P) — deterministic output schema with no
    * pre-pass to discover values (at corpus scale an implicit pivot
    * first runs a distinct over the pivot column); absent cells
    * coalesce to 0 so the grid is dense. */
  private val qPivot: Q = (s, dir) =>
    pq(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("P"), lit(0L)).as("P"))

  /** Unpivot (melt) lineitem's four money/rate measures to long form —
    * the inverse reshape, a pure zero-shuffle Expand (each input row
    * emits 4). */
  private val qUnpivot: Q = (s, dir) =>
    pq(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")

  // §2.15: JSON functions — extract a typed field from the props blob.
  private val qJsonExtract: Q = (s, dir) =>
    events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("bigint").as("k_value"))

  // §2.15: string/date/math scalar sampler (tie-free functions only:
  // round() differs between engines at banker's-rounding ties).
  private val qScalarFuncs: Q = (s, dir) =>
    pq(s, dir, "orders").select(
      col("o_orderkey"),
      upper(substring(col("o_orderpriority"), 1, 3)).as("prio3"),
      length(col("o_orderstatus")).cast("bigint").as("status_len"),
      year(col("o_orderdate")).cast("bigint").as("y"),
      month(col("o_orderdate")).cast("bigint").as("m"),
      dayofmonth(col("o_orderdate")).cast("bigint").as("d"),
      abs(col("o_totalprice") - lit(100000.0)).as("price_dev"),
      floor(col("o_totalprice") / lit(1000.0)).cast("bigint").as("price_k"),
      pmod(col("o_orderkey"), lit(7L)).cast("bigint").as("k_mod"),
      concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("joined"))

  private val qEventsHourly: Q = (s, dir) =>
    events(s, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"), col("value"))
      .groupBy("h", "event_type")
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("value"), 100).as("total_value"))

  /** Hopping-window aggregation — 1 h windows sliding every 30 min,
    * so each event lands in exactly two overlapping windows. The
    * batch twin of `window(ts, size, slide)` streaming aggregation
    * (§2.10); both engines align windows to the epoch (UTC session
    * timezone), and the DuckDB mirror spells the two memberships out
    * explicitly (`time_bucket(30 min)` and the same minus 30 min). */
  private val qEventsHopping: Q = (s, dir) =>
    events(s, dir)
      .select(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"), col("value"))
      .select(col("w.start").as("ws"), col("event_type"), col("value"))
      .groupBy("ws", "event_type")
      .agg(
        count(lit(1)).as("n"),
        moneySum(col("value"), 100).as("total_value"))

  /** As-of join: each click enriched with the latest prior purchase
    * value of the same user — oracle-checked against DuckDB's native
    * ASOF LEFT JOIN. */
  private val qAsofJoin: Q = (s, dir) => {
    val ev = events(s, dir)
    graft.operators.AsOfJoin.asofLeft(
      left = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts"),
      right = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value"),
      keyColumns = Seq("user_id"),
      leftTime = "ts", rightTime = "ts",
      valueColumns = Seq("value" -> "last_purchase_value"))
      .select("event_id", "user_id", "last_purchase_value")
  }

  /** Range join: click/purchase pairs of the same user within 30
    * minutes — binning construction, oracle-checked against DuckDB's
    * inequality join. */
  private val qRangeJoin: Q = (s, dir) => {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("ct"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        (unix_micros(col("ts")) - lit(1800000000L)).as("lo"),
        (unix_micros(col("ts")) + lit(1800000000L)).as("hi"))
    graft.operators.RangeJoin.pointInRange(
      clicks, purchases, Seq("cu" -> "pu"), "ct", "lo", "hi",
      binWidth = 1800000000L)
      .select("click_id", "purchase_id")
  }

  /** Batch sessionization (30-min inactivity gap) — the oracle-checkable
    * twin of the Structured Streaming sessionizer in graft.streaming.
    * The gap rule itself lives in ONE place
    * ([[graft.operators.Funnel.withSessionSeq]]) shared with the
    * session-stats/paths/interval-session queries; ordering by the
    * micros projection is order-identical to ordering by the raw
    * timestamp. */
  private val qEventsSessionize: Q = (s, dir) =>
    graft.operators.Funnel.withSessionSeq(
      events(s, dir).withColumn("__ts_us", unix_micros(col("ts"))),
      "user_id", "__ts_us", "event_id", 1800000000L)
      .select("user_id", "event_id", "session_seq")

  /** Per-session rollup on top of [[qEventsSessionize]]'s assignment:
    * event count, span, and exact-quantized value mass per
    * (user, session) — the session-features table every behavioral
    * pipeline derives next. One extra hash-aggregate over the
    * sessionized frame (map-side partials; the window's user_id
    * partitioning is reused by the aggregate's shuffle key prefix). */
  private val qEventsSessionStats: Q = (s, dir) => {
    graft.operators.Funnel.withSessionSeq(
      events(s, dir).withColumn("__ts_us", unix_micros(col("ts"))),
      "user_id", "__ts_us", "event_id", 1800000000L)
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
        // cents-quantized exact sum — order-independent, oracle-exact
        sum(round(col("value") * 100).cast("bigint")).as("sum_cents"))
  }

  /** view → click → purchase funnel, first greedy completion within
    * 24 h ([[graft.operators.Funnel.firstCompletion]]); timestamps
    * surfaced as epoch micros so the cross-engine compare never
    * depends on timestamp-unit metadata. */
  private val qEventsFunnel: Q = (s, dir) =>
    graft.operators.Funnel.firstCompletion(
      events(s, dir), "user_id", "event_type", "ts",
      steps = Seq("view", "click", "purchase"), withinUs = 86400000000L)
      .select(col("user_id"),
        unix_micros(col("started_at")).as("started_us"),
        unix_micros(col("completed_at")).as("completed_us"),
        col("duration_us"))

  // ------------------------------------------------------------------

  /** The catalog: each query beside its DuckDB oracle. */
  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_filter_scan", qFilterScan,
      """SELECT * FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
        |  AND o_orderpriority IS NOT NULL
        |  AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'""".stripMargin),
    CatalogEntry("q_predicate_set", qPredicateSet,
      """SELECT * FROM part
        |WHERE p_type LIKE '%ECO%' AND p_name NOT LIKE '%green%'
        |  AND p_size IN (1,5,9,15,23,24)
        |  AND p_brand NOT IN ('Brand#11','Brand#12')
        |  AND p_retailprice BETWEEN 900.0 AND 1600.0
        |  AND p_size NOT BETWEEN 10 AND 14
        |  AND p_partkey % 2 = 0""".stripMargin),
    CatalogEntry("q_ordered_scan", qOrderedScan,
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000.0 ORDER BY o_totalprice DESC"),
    CatalogEntry("q_rename", qRename,
      "SELECT c_custkey AS id, c_name AS username, c_nationkey AS nation_id, c_acctbal AS balance FROM customer"),
    CatalogEntry("q_inject", qInject,
      "SELECT c_custkey AS id, 'migrated' AS status, 1 AS batch_no FROM customer"),
    CatalogEntry("q_null_default", qNullDefault,
      "SELECT c_custkey AS id, COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'REPLACED') AS seg FROM customer"),
    CatalogEntry("q_row_udf", qRowUdf,
      "SELECT c_custkey AS id, c_name || '-' || CAST(c_custkey AS VARCHAR) AS tagged FROM customer"),
    CatalogEntry("q_affection", qAffection,
      """SELECT c_custkey AS id, str_split(c_name, '#')[1] AS name_prefix,
        |       CAST(str_split(c_name, '#')[2] AS BIGINT) AS name_num
        |FROM customer""".stripMargin),
    CatalogEntry("q_temp_drop", qTempDrop,
      "SELECT c_custkey AS id, c_mktsegment || ':' || c_name AS seg_tag FROM customer"),
    CatalogEntry("q_refer_single", qReferSingle,
      """SELECT o.o_orderkey, o.o_custkey, COALESCE(l.c_name, 'UNKNOWN') AS cust_name
        |FROM orders o
        |LEFT JOIN (SELECT c_custkey, MIN(c_name) AS c_name FROM customer
        |           WHERE c_acctbal > 2000.0 GROUP BY c_custkey) l
        |ON o.o_custkey = l.c_custkey""".stripMargin),
    // identical SQL on purpose: salting is result-invariant
    CatalogEntry("q_refer_salted", qReferSalted,
      """SELECT o.o_orderkey, o.o_custkey, COALESCE(l.c_name, 'UNKNOWN') AS cust_name
        |FROM orders o
        |LEFT JOIN (SELECT c_custkey, MIN(c_name) AS c_name FROM customer
        |           WHERE c_acctbal > 2000.0 GROUP BY c_custkey) l
        |ON o.o_custkey = l.c_custkey""".stripMargin),
    CatalogEntry("q_refer_formatted", qReferFormatted,
      """SELECT s.s_suppkey,
        |       CASE WHEN l.n_name IS NOT NULL THEN lower(l.n_name) ELSE 'NONE' END AS nation_tag
        |FROM supplier s
        |LEFT JOIN (SELECT n_nationkey, MIN(n_name) AS n_name FROM nation GROUP BY n_nationkey) l
        |ON s.s_nationkey + 0 = l.n_nationkey""".stripMargin),
    CatalogEntry("q_refer_composite", qReferComposite,
      """SELECT li.l_orderkey, li.l_linenumber, b.w AS big_qty
        |FROM lineitem li
        |LEFT JOIN (SELECT l_orderkey AS k1, l_linenumber AS k2, MIN(l_quantity) AS w
        |           FROM lineitem WHERE l_quantity > 25.0 GROUP BY 1, 2) b
        |ON li.l_orderkey = b.k1 AND li.l_linenumber = b.k2""".stripMargin),
    CatalogEntry("q_refers_agg", qRefersAgg,
      """SELECT o.o_orderkey, COALESCE(l.s, 0.0) AS total_spend
        |FROM orders o
        |LEFT JOIN (SELECT l_orderkey,
        |                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        |           FROM lineitem WHERE l_quantity > 10.0 GROUP BY l_orderkey) l
        |ON o.o_orderkey = l.l_orderkey""".stripMargin),
    CatalogEntry("q_middle_bridge", qMiddleBridge,
      """SELECT l_orderkey AS order_id, l_partkey AS part_id FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part)""".stripMargin),
    CatalogEntry("q_refer_target_dep", qReferTargetDep,
      """SELECT c.c_custkey AS id, COALESCE(l.nation_name, 'NONE') AS nation_name
        |FROM customer c
        |LEFT JOIN (SELECT n_nationkey AS nation_id, MIN(n_name) AS nation_name
        |           FROM nation GROUP BY 1) l
        |ON c.c_nationkey = l.nation_id""".stripMargin),
    CatalogEntry("q_json_plan", qJsonPlan,
      """SELECT s.s_suppkey, upper(s.s_name) AS sname,
        |       COALESCE(n.n_name, 'NONE') AS origin,
        |       COALESCE(l.c, 0) AS li_count
        |FROM supplier s
        |LEFT JOIN (SELECT n_nationkey, MIN(n_name) AS n_name FROM nation GROUP BY 1) n
        |  ON s.s_nationkey = n.n_nationkey
        |LEFT JOIN (SELECT l_suppkey, count(1) AS c FROM lineitem GROUP BY 1) l
        |  ON s.s_suppkey = l.l_suppkey
        |WHERE s.s_acctbal > 0.0""".stripMargin),
    CatalogEntry("q_union_append", qUnionAppend,
      """SELECT c_custkey AS id, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION ALL
        |SELECT c_custkey AS id, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin),
    // money sums mirror moneySum: round to integer cents, exact
    // integer accumulate (DuckDB BIGINT sum promotes to HUGEINT —
    // never overflows), cast the exact integer to DOUBLE, divide
    CatalogEntry("q_agg_group", qAggGroup,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    CatalogEntry("q_distinct", qDistinct,
      "SELECT DISTINCT c_mktsegment FROM customer"),
    CatalogEntry("q_topk", qTopK,
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    CatalogEntry("q_window_rank", qWindowRank,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin),
    CatalogEntry("q_events_hourly", qEventsHourly,
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    CatalogEntry("q_events_hopping", qEventsHopping,
      """SELECT ws, event_type, count(*) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts)
        |               - (o.k * INTERVAL '30 minutes') AS ws,
        |             event_type, value
        |      FROM events CROSS JOIN (VALUES (0), (1)) o(k)) t
        |GROUP BY 1, 2""".stripMargin),
    CatalogEntry("q_semi_join", qSemiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin),
    CatalogEntry("q_anti_join", qAntiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin),
    CatalogEntry("q_rollup", qRollup,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    CatalogEntry("q_cube", qCube,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),
    CatalogEntry("q_pivot", qPivot,
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY 1""".stripMargin),
    CatalogEntry("q_unpivot", qUnpivot,
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin),
    CatalogEntry("q_json_extract", qJsonExtract,
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        |FROM events""".stripMargin),
    CatalogEntry("q_scalar_funcs", qScalarFuncs,
      """SELECT o_orderkey,
        |  upper(substring(o_orderpriority, 1, 3)) AS prio3,
        |  CAST(length(o_orderstatus) AS BIGINT) AS status_len,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS d,
        |  abs(o_totalprice - 100000.0) AS price_dev,
        |  CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_k,
        |  CAST(o_orderkey % 7 AS BIGINT) AS k_mod,
        |  concat_ws('|', o_orderstatus, o_orderpriority) AS joined
        |FROM orders""".stripMargin),
    CatalogEntry("q_range_join", qRangeJoin,
      """SELECT l.event_id AS click_id, r.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND epoch_us(l.ts) BETWEEN epoch_us(r.ts) - 1800000000 AND epoch_us(r.ts) + 1800000000""".stripMargin),
    CatalogEntry("q_asof_join", qAsofJoin,
      """SELECT l.event_id, l.user_id, r.value AS last_purchase_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin),
    CatalogEntry("q_events_sessionize", qEventsSessionize,
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events)
        |SELECT user_id, event_id,
        |       CAST(SUM(CASE WHEN prev_ts IS NULL
        |                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |FROM t""".stripMargin),
    // per-session rollup over the identical session assignment; the
    // value mass is a cents-quantized integer sum (order-independent,
    // DuckDB's HUGEINT sum cast back to BIGINT = Spark's long sum)
    CatalogEntry("q_events_session_stats", qEventsSessionStats,
      """WITH t AS (
        |  SELECT user_id, event_id, ts, value,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |       CAST(SUM(CASE WHEN prev_ts IS NULL
        |                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM t)
        |SELECT user_id, session_seq,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM s GROUP BY user_id, session_seq""".stripMargin),
    // greedy first-completion funnel: t1 = earliest 'view', then the
    // earliest 'click' strictly after t1, then the earliest
    // 'purchase' strictly after t2; completion iff t3 - t1 <= 24h
    CatalogEntry("q_events_funnel", qEventsFunnel,
      """WITH f1 AS (SELECT user_id, min(ts) AS t1
        |            FROM events WHERE event_type = 'view' GROUP BY user_id),
        |f2 AS (SELECT e.user_id, f1.t1, min(e.ts) AS t2
        |       FROM events e JOIN f1 ON e.user_id = f1.user_id AND e.ts > f1.t1
        |       WHERE e.event_type = 'click' GROUP BY e.user_id, f1.t1),
        |f3 AS (SELECT e.user_id, f2.t1, min(e.ts) AS t3
        |       FROM events e JOIN f2 ON e.user_id = f2.user_id AND e.ts > f2.t2
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id, f2.t1)
        |SELECT user_id, epoch_us(t1) AS started_us, epoch_us(t3) AS completed_us,
        |       epoch_us(t3) - epoch_us(t1) AS duration_us
        |FROM f3 WHERE epoch_us(t3) - epoch_us(t1) <= 86400000000""".stripMargin))
}
