package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import graft.plans._
import graft.sources.TableIO
import scala.collection.immutable.SeqMap
import scala.collection.mutable

/** The plan interpreter — Spark-native `DBT::doTransport`
  * (reference: src/DBT.php:85-225).
  *
  * Where the reference streams 2000-row chunks through single-threaded
  * PHP loops (src/DBT.php:144-214), graft compiles each table's map to
  * ONE lazy DataFrame chain — scan → filter → orderBy → projections /
  * UDFs → lookup joins → aggregate-lookup joins → temp-column drop —
  * and lets Catalyst/Tungsten/AQE pick physical strategy. Lookup
  * hashes become hash joins (broadcast when small), N+1 correlated
  * probes become single equi joins, chunking becomes partitioning.
  *
  * Across tables, [[runAndWrite]] builds and writes each target table
  * as soon as the tables it depends on ([[graft.plans.Toposort]]) are
  * written, independent tables concurrently; within a table everything
  * is distributed.
  */
final class Transportor(
    io: TableIO,
    plan: TransportPlan,
    preSeeded: Set[String] = Set.empty,
    preload: Set[String] = Set.empty) {

  /** Cache handles for preloaded lookup tables (reference `$preload`,
    * src/DBT.php:21-26, 71-78 — declared there but dead; here it
    * marks hot lookup tables reused across several refers so the scan
    * + dedup work happens once and later joins read the cached
    * relation). Concurrent: tables build on [[runAndWrite]]'s task
    * threads, and `computeIfAbsent` gives each table exactly one
    * `cache()`. */
  private val preloaded = new ConcurrentHashMap[String, DataFrame]()

  /** One plan key's frame, built at most once even when several task
    * threads ask for it (the lazy val's lock is per key; a build that
    * recurses into its dependencies takes theirs, and the plan is
    * acyclic, so no two builds wait on each other). */
  private final class Built(key: String) {
    lazy val df: DataFrame = buildFrame(plan.byKey(key))
  }

  /** Memo of built frames by plan key, temp columns still present —
    * the reference's `finished[]` (src/DBT.php:54, 119-122). Lazy
    * DataFrames, so nothing executes until an action/write. */
  private val built = new ConcurrentHashMap[String, Built]()

  /** Execution order (dependencies first). */
  lazy val executionOrder: Seq[String] = Toposort(plan)

  /** Per target table, the target tables it waits for: those filled
    * by any key its alias keys depend on ([[Toposort.dependencies]]). */
  private lazy val tableDeps: Map[String, Seq[String]] =
    executionOrder.map(plan.targetName).distinct.map { name =>
      name -> keysOf(name).flatMap(k => Toposort.dependencies(plan, plan.byKey(k)))
        .map(plan.targetName).distinct.filter(_ != name)
    }.toMap

  /** Target table names in dependency order, each at its LAST alias
    * key's position in [[executionOrder]] unless a table it waits for
    * comes later. */
  private lazy val targetOrder: Seq[String] =
    Toposort.order(executionOrder.map(plan.targetName).reverse.distinct.reverse)(tableDeps)

  /** Upfront plan validation with named errors — misconfigurations
    * fail before any job runs, not mid-migration (the reference
    * surfaces most of these as PHP runtime fatals mid-chunk). */
  def validate(): Unit = {
    plan.tables.foreach { case (key, m) =>
      if (m.middle.isEmpty && m.originalTable.isEmpty)
        throw new IllegalArgumentException(
          s"table '$key': needs original_table or middle (src/DBT.php:135-144)")
      if (m.middle.nonEmpty && m.columns.nonEmpty)
        throw new IllegalArgumentException(
          s"table '$key': middle tables take no column specs (reference ignores them " +
            "silently, src/DBT.php:135-136; graft fails fast)")
      val targets = m.columns.map(_.target) ++
        m.columns.collect { case a: Affection => a.alsoFills.map(_._2) }.flatten
      val dups = targets.groupBy(identity).collect { case (t, ts) if ts.size > 1 => t }
      if (dups.nonEmpty)
        throw new IllegalArgumentException(
          s"table '$key': duplicate target column(s) ${dups.mkString(", ")}")
      TransportPlan.targetLookups(m).foreach { t =>
        if (plan.keyFor(t).isEmpty && !preSeeded.contains(t))
          throw new NoSuchElementException(
            s"table '$key': looks up target table '$t' which is neither " +
              "in the plan nor pre-seeded")
      }
    }
    targetOrder // cycle check, over plan keys and over target tables
    ()
  }

  /** Build every table frame and return the final per-TARGET-table
    * frames (temp columns dropped, aliased entries targeting the same
    * physical table unioned — README.md:59-63), in dependency order.
    * Side-effect free; see [[runAndWrite]] for the writing variant. */
  def run(): SeqMap[String, DataFrame] = {
    validate()
    validateSeeds()
    targetFrames()
  }

  /** Full migration: build and write each target table, then fire
    * `run_after_transport` hooks (reference destructor,
    * src/DBT.php:596-613 — hooks run after all transports; temp
    * columns are never written because the written frame drops them,
    * replacing the reference's temp-column DDL + drop dance,
    * src/DBT.php:423-446, 604-613).
    *
    * One dependency-driven schedule ([[Stage.parallel]], at most
    * `writeParallelism` tables at a time) replaces the reference's
    * strictly sequential table loop (src/DBT.php:85-225): each target
    * table is one task that BUILDS its alias frames and writes them,
    * started as soon as every table it depends on
    * ([[Toposort.dependencies]], including `transport_after`) has been
    * written. Independent tables' planning (schema reads, lookup
    * dedups) and their many small Spark jobs overlap instead of leaving
    * the cluster idle between small tables; a dependent's lazy lineage
    * still recomputes its parents, but only after their writes have
    * finished, so it never races them for slots. `writeParallelism = 1`
    * runs the same schedule on the caller's thread, in dependency
    * order. Each task runs under its own scheduler pool
    * (`spark.scheduler.pool` = `graft-<table>`; with
    * `spark.scheduler.mode=FAIR` concurrent tables share executors
    * evenly) and its own job group (`graft-write-<table>`), so the
    * Spark UI / event log attributes every job, build jobs included,
    * to its table. [[TableIO.writeTarget]] is therefore called
    * concurrently for distinct tables.
    *
    * Failure follows [[Stage.parallel]]: the first failed table stops
    * the schedule — no further table starts, tables already running
    * finish — and that failure is rethrown with any later ones attached
    * via `addSuppressed`; the `run_after_transport` hooks do not run.
    * Running siblings are not cancelled: a half-written target is only
    * safe to abandon once every publish is one atomic step.
    *
    * Returns the written frames in dependency order, like [[run]]. */
  def runAndWrite(
      writeParallelism: Int = SparkSession.active.sparkContext.defaultParallelism)
      : SeqMap[String, DataFrame] = {
    require(writeParallelism >= 1, s"writeParallelism must be >= 1, got $writeParallelism")
    validate()
    validateSeeds()
    val sc = SparkSession.active.sparkContext
    Stage.parallel(writeParallelism,
      targetOrder.map(name => name -> (() => writeTable(sc, name))), tableDeps)
    plan.tables.foreach { case (_, m) => m.runAfterTransport.foreach(_.apply()) }
    targetFrames()
  }

  /** One schedule task: build target table `name` and write it, under
    * its own scheduler pool and job group. The properties are
    * thread-local, so concurrent tables never tag each other's jobs;
    * a task that [[Stage.parallel]] runs inline on the caller's thread
    * gives the caller back its own group, pool and description. */
  private def writeTable(sc: org.apache.spark.SparkContext, name: String): Unit = {
    val props = Seq("spark.scheduler.pool", "spark.jobGroup.id",
      "spark.job.description", "spark.job.interruptOnCancel")
    val prev = props.map(sc.getLocalProperty)
    sc.setLocalProperty("spark.scheduler.pool", s"graft-$name")
    sc.setJobGroup(s"graft-write-$name", s"transport write $name", interruptOnCancel = false)
    try io.writeTarget(name, targetFrame(name))
    finally props.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Build a single table's final frame (dependencies resolved
    * in-memory, temp columns dropped). */
  def frame(key: String): DataFrame =
    dropTemps(plan.byKey(key), resolveKey(key))

  // ---------------------------------------------------------------- internals

  private def resolveKey(key: String): DataFrame =
    built.computeIfAbsent(key, new Built(_)).df

  /** The plan keys appending into target table `name`, in execution order. */
  private def keysOf(name: String): Seq[String] =
    executionOrder.filter(plan.targetName(_) == name)

  /** One target table's final frame. */
  private def targetFrame(name: String): DataFrame = unionKeys(keysOf(name))

  /** Every target table's final frame, in dependency order. */
  private def targetFrames(): SeqMap[String, DataFrame] =
    SeqMap.from(targetOrder.map(name => name -> targetFrame(name)))

  /** The frames of plan keys appending into one physical table, temp
    * columns dropped, unioned. allowMissingColumns: aliased entries
    * may fill different column subsets; the reference (a SQL INSERT
    * per alias) null-fills the absent ones. */
  private def unionKeys(keys: Seq[String]): DataFrame =
    keys.map(k => dropTemps(plan.byKey(k), resolveKey(k)))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Reference checkSeed (src/DBT.php:512-518): pre-seeded lookup
    * tables must exist and be non-empty. */
  private def validateSeeds(): Unit =
    preSeeded.foreach { t =>
      require(!io.readTarget(t).isEmpty,
        s"pre-seeded target table '$t' is empty (reference checkSeed, src/DBT.php:512-518)")
    }

  private def readSide(source: SearchSource, table: String): DataFrame = {
    val df = source match {
      case SearchSource.Original => io.readOriginal(table)
      case SearchSource.Target =>
        plan.keysFor(table) match {
          case Seq(k) => resolveKey(k) // temp columns visible to dependents
          case ks if ks.nonEmpty =>
            // Several aliased entries append into this physical table
            // (README.md:59-63): the reference reads the table with
            // every alias's rows in it, so union them all. Temp columns
            // are dropped first — aliases share only the final target
            // schema (temps stay visible through single-alias deps).
            unionKeys(ks)
          case _ if preSeeded.contains(table) => io.readTarget(table)
          case _ =>
            throw new NoSuchElementException(
              s"target-side lookup table '$table' is neither in the plan nor pre-seeded")
        }
    }
    // a Transportor-lifetime cache, not a Stage cut: reused across refers
    if (preload.contains(table))
      preloaded.computeIfAbsent(table, _ => df.cache())
    else df
  }

  private def dropTemps(map: TableMap, df: DataFrame): DataFrame = {
    val temps = map.columns.filter(_.deleteAfterTransport).map(_.target) ++
      map.columns.collect { case a: Affection if a.deleteAfterTransport =>
        a.alsoFills.map(_._2)
      }.flatten
    if (temps.isEmpty) df else df.drop(temps.distinct: _*)
  }

  private def buildFrame(map: TableMap): DataFrame = map.middle match {
    case Some(m) => buildMiddle(m)
    case None =>
      val source = map.originalTable.getOrElse(throw new IllegalArgumentException(
        "table map needs original_table or middle (src/DBT.php:135-144)"))
      var df = io.readOriginal(source)
      if (map.extraConditions.nonEmpty) df = df.filter(Predicates.all(map.extraConditions))
      // Reference-mandated source ORDER BY (src/DBT.php:168). SCALE
      // WARNING: this is a GLOBAL sort — a full range-shuffle of the
      // source — whose ordering an appending parquet/JDBC write then
      // mostly discards. Keep `order` only when the destination truly
      // needs ordered ingestion; at 100 TB it is usually the most
      // expensive line in the plan.
      map.order.foreach { o =>
        df = df.orderBy(if (o.direction == "desc") col(o.orderBy).desc else col(o.orderBy).asc)
      }
      if (map.columns.isEmpty) df // passthrough scan
      else {
        // RowUdf closures receive the PRISTINE source row (the
        // reference passes $source untouched by earlier column specs,
        // src/DBT.php:395, 407-408). Snapshot the source columns into
        // hidden aliases before any spec can overwrite a same-named
        // column; the final select drops the snapshots.
        val hasRowUdf = map.columns.exists(_.isInstanceOf[RowUdf])
        val sourceCols = df.columns.toSeq
        if (hasRowUdf)
          df = df.select(df.columns.map(col).toSeq ++
            sourceCols.map(c => col(c).as(s"__graft_src_$c")): _*)
        val srcStruct =
          if (hasRowUdf) struct(sourceCols.map(c => col(s"__graft_src_$c").as(c)): _*)
          else struct(sourceCols.map(col): _*)
        val outCols = mutable.ArrayBuffer.empty[String]
        map.columns.foreach { spec =>
          df = applyColumn(df, spec, srcStruct)
          outCols += spec.target
          spec match {
            case a: Affection => outCols ++= a.alsoFills.map(_._2)
            case _            =>
          }
        }
        df.select(outCols.toSeq.map(col): _*)
      }
  }

  private def applyColumn(df: DataFrame, spec: ColumnSpec, srcStruct: Column): DataFrame =
    spec match {
    case Rename(t, orig, default, _) =>
      df.withColumn(t, withDefault(col(orig), default))
    case Inject(t, v, _) =>
      df.withColumn(t, lit(v))
    case Derived(t, e, default, _) =>
      df.withColumn(t, withDefault(e, default))
    case RowUdf(t, fn, dt, default, _) =>
      val f = makeRowUdf(fn, dt)
      df.withColumn(t, withDefault(f(srcStruct), default))
    case Affection(t, e, mainField, alsoFills, _) =>
      val tmp = s"__aff_$t"
      val withStruct = df.withColumn(tmp, e)
      val filled = alsoFills.foldLeft(withStruct.withColumn(t, col(tmp)(mainField))) {
        case (d, (field, targetCol)) => d.withColumn(targetCol, col(tmp)(field))
      }
      filled.drop(tmp)
    case r: Refer      => applyRefer(df, r)
    case r: Refers     => applyRefers(df, r)
    case r: FuzzyRefer => applyFuzzyRefer(df, r)
  }

  private def withDefault(c: Column, default: Option[Any]): Column =
    default.map(d => coalesce(c, lit(d))).getOrElse(c)

  /** Scala-closure UDF over the whole row (reference `function`,
    * src/DBT.php:395-408). Java-UDF API keeps the untyped
    * Row => Any shape without legacy-UDF flags. */
  private def makeRowUdf(fn: Row => Any, dt: DataType) =
    udf(new UDF1[Row, Any] { override def call(r: Row): Any = fn(r) }, dt)

  /** rtrim normalization, string keys only. The reference rtrims every
    * lookup key blindly (src/DBT.php:306, 310-312) because PHP array
    * keys compare loosely; for typed columns that is only meaningful —
    * and only cheap — for strings. */
  private def normKey(df: DataFrame, c: Column): Column =
    if (df.select(c).schema.head.dataType == StringType) rtrim(c) else c

  private def maybeBroadcast(df: DataFrame, flag: Boolean): DataFrame =
    if (flag) broadcast(df) else df

  /** J1 single-key batched lookup / J2 composite-key lookup
    * (src/DBT.php:277-343). See [[graft.plans.Refer]] scaladoc for the
    * semantics mapping. */
  /** Deterministic min over the deduped lookup's wanted column.
    * Strings dispatch to the hash-aggregatable
    * [[graft.functions.MinString]] (ObjectHashAggregate — no sort of
    * the lookup table; the builtin string `min` falls back to
    * SortAggregate); everything else keeps the builtin `min`
    * (HashAggregate already). Identical ordering and results. */
  private def minWanted(frame: DataFrame, wCol: String): Column =
    frame.schema(wCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        graft.functions.MinString.minString(col(wCol))
      case _ => min(col(wCol))
    }

  private def applyRefer(df: DataFrame, r: Refer): DataFrame = {
    val lookup = readSide(r.searchSource, r.searchTable)
      .filter(Predicates.all(r.conditions))

    if (r.accordingColumns.size == 1) {
      // J1: dedup lookup keys (reference pluck-hash, src/DBT.php:300-307;
      // last-wins there is order-undefined — deterministic min here),
      // left join. Probe normalization order follows the reference
      // exactly: rtrim FIRST, then pre_format (src/DBT.php:309-313 —
      // `pre_format(rtrim(value))`), with no re-trim of the formatted
      // key. Result shape is `coalesce(format_wanted(w), default)`
      // (src/DBT.php:314-318): format_wanted applies even to a missed
      // (null) lookup, and default kicks in whenever the formatted
      // value is null.
      val keyCol = s"__graft_k_${r.target}"
      val wCol = s"__graft_w_${r.target}"
      val lk0 = lookup.select(col(r.searchColumns.head).as(keyCol), col(r.wantedColumn).as(wCol))
      val lkDedup = lk0.select(normKey(lk0, col(keyCol)).as(keyCol), col(wCol))
        .groupBy(keyCol).agg(minWanted(lk0, wCol).as(wCol))
      val probeNorm = normKey(df, col(r.accordingColumns.head))
      val probe = r.preFormat.map(_.apply(probeNorm)).getOrElse(probeNorm)
      val joined =
        if (r.saltFactor <= 1)
          df.join(maybeBroadcast(lkDedup, r.broadcastLookup), probe === lkDedup(keyCol), "left")
        else {
          // skew salting: split hot probe keys across saltFactor
          // sub-partitions (deterministic row-hash salt), replicate the
          // deduped lookup once per salt — identical rows, bounded tasks
          val saltCol = s"__graft_salt_${r.target}"
          val salted = df.withColumn(saltCol,
            pmod(hash(df.columns.map(col).toSeq: _*), lit(r.saltFactor)))
          val replicated = lkDedup.withColumn(saltCol,
            explode(sequence(lit(0), lit(r.saltFactor - 1))))
          salted.join(maybeBroadcast(replicated, r.broadcastLookup),
              probe === replicated(keyCol) && salted(saltCol) === replicated(saltCol), "left")
            .drop(saltCol)
        }
      val formatted = r.formatWanted.map(_.apply(col(wCol))).getOrElse(col(wCol))
      val value = r.default match {
        case Some(d) => coalesce(formatted, lit(d))
        case None    => formatted
      }
      joined.withColumn(r.target, value).drop(keyCol, wCol)
    } else {
      // J2: one multi-key left join replaces the reference's
      // query-per-row correlated lookup (src/DBT.php:320-343).
      // pre_format applies per key value (src/DBT.php:324-329); each
      // pair matches with `queryComposer(=)` semantics, so a NULL key
      // matches IS NULL rows => null-safe equality. Miss => NULL,
      // never default (src/DBT.php:340) — preserved. format_wanted
      // only on hits (src/DBT.php:334-338).
      val wCol = s"__graft_w_${r.target}"
      val keyCols = r.searchColumns.indices.map(i => s"__graft_k${i}_${r.target}")
      val lk = lookup.select(
        r.searchColumns.zip(keyCols).map { case (s, k) => col(s).as(k) } :+
          col(r.wantedColumn).as(wCol): _*)
        .groupBy(keyCols.map(col): _*).agg(minWanted(lookup.select(col(r.wantedColumn).as(wCol)), wCol).as(wCol))
      val cond = r.accordingColumns.zip(keyCols)
        .map { case (a, k) =>
          val probe = r.preFormat.map(_.apply(col(a))).getOrElse(col(a))
          probe <=> lk(k)
        }.reduce(_ && _)
      val joined = df.join(maybeBroadcast(lk, r.broadcastLookup), cond, "left")
      val formatted = r.formatWanted.map(_.apply(col(wCol))).getOrElse(col(wCol))
      joined.withColumn(r.target, when(col(wCol).isNotNull, formatted))
        .drop(keyCols :+ wCol: _*)
    }
  }

  /** Approximate-key lookup (see [[graft.plans.FuzzyRefer]]): resolve
    * each DISTINCT probe value to its best canonical match
    * ([[FuzzyJoin.bestMatches]] — lossless prefix-filtered candidate
    * generation, exact Jaccard verify, max-sim/min-key pick), attach
    * the deterministic wanted value (same min discipline as the exact
    * refer's dedup), then fill rows with ONE equi-join on the probe
    * value. The fuzzy stage runs on the value domains only; the
    * corpus-side cost is the final join. */
  private def applyFuzzyRefer(df: DataFrame, r: FuzzyRefer): DataFrame = {
    val lookup = readSide(r.searchSource, r.searchTable)
      .filter(Predicates.all(r.conditions))
    val keyCol = s"__graft_k_${r.target}"
    val wCol = s"__graft_w_${r.target}"
    val probeCol = s"__graft_p_${r.target}"
    val canon = lookup.select(col(r.searchColumn).as(keyCol), col(r.wantedColumn).as(wCol))
    val canonDedup = canon.groupBy(keyCol).agg(minWanted(canon, wCol).as(wCol))
    val probes = df.select(col(r.accordingColumn).as(probeCol)).distinct()
    val resolved = FuzzyJoin.bestMatches(
        probes, probeCol, probeCol, canonDedup, keyCol, keyCol,
        r.threshold, r.gramN)
      .select(col("left_id").as(probeCol), col("right_id").as(keyCol))
      .join(canonDedup, Seq(keyCol))
      .select(col(probeCol), col(wCol))
    val joined = df.join(maybeBroadcast(resolved, r.broadcastLookup),
      df(r.accordingColumn) === resolved(probeCol), "left")
    joined.withColumn(r.target, withDefault(col(wCol), r.default))
      .drop(probeCol, wCol)
  }

  /** J3 aggregate lookup (reference `refers` / multiReferExtractor,
    * src/DBT.php:227-268): group lookup side by search key, fold with
    * the processor aggregate, left-join back, default on miss.
    * Spark gives partial aggregation (map-side combine) before the
    * shuffle for free — the reference materialized whole groups in
    * driver memory. */
  private def applyRefers(df: DataFrame, r: Refers): DataFrame = {
    val keyCol = s"__graft_k_${r.target}"
    val aggCol = s"__graft_a_${r.target}"
    val lookup = readSide(r.searchSource, r.searchTable)
      .filter(Predicates.all(r.conditions))
    val agg = lookup
      .groupBy(normKey(lookup, col(r.searchColumn)).as(keyCol))
      .agg(r.processor.as(aggCol))
    // probe normalization mirrors the reference: pre_format(rtrim(v))
    // (src/DBT.php:256-261)
    val probeNorm = normKey(df, col(r.accordingColumn))
    val probe = r.preFormat.map(_.apply(probeNorm)).getOrElse(probeNorm)
    df.join(maybeBroadcast(agg, r.broadcastLookup), probe === agg(keyCol), "left")
      .withColumn(r.target, withDefault(col(aggCol), r.default))
      .drop(keyCol, aggCol)
  }

  /** J4 many-to-many bridge (reference middleExtractor,
    * src/DBT.php:448-505): read the "one" side, pre_format the
    * according column into a key array (default: trimmed-CSV split,
    * README.md:349), explode, inner-join the "many" side on its search
    * column — replacing the reference's per-one-row "many"-side query
    * (src/DBT.php:490). */
  private def buildMiddle(m: Middle): DataFrame = {
    val oneW = "__graft_one_w"
    val key = "__graft_key"
    val manyW = "__graft_many_w"
    val manyS = "__graft_many_s"

    // The reference skips "one" rows whose according value is PHP-empty
    // before pre_format (src/DBT.php:485-487). We skip null/'' — not
    // PHP's "0"-is-empty quirk, which would silently drop legitimate
    // zero keys.
    val one0 = readSide(m.one.referSource, m.one.referTable)
      .select(col(m.one.wantedColumn).as(oneW), col(m.one.accordingColumn).as("__graft_acc"))
      .filter(col("__graft_acc").isNotNull && col("__graft_acc").cast("string") =!= "")
    val keys = m.one.preFormat.map(_.apply(col("__graft_acc")))
      .getOrElse(split(trim(col("__graft_acc")), ","))
    val exploded = one0.withColumn(key, explode(keys)).drop("__graft_acc")

    val many0 = readSide(m.many.referSource, m.many.referTable)
      .select(col(m.many.wantedColumn).as(manyW), col(m.many.searchColumn).as(manyS))

    val keyType = exploded.schema(key).dataType
    val searchMatch =
      if (many0.schema(manyS).dataType == keyType) col(key) === col(manyS)
      else col(key) === col(manyS).cast(keyType)

    exploded.join(many0, searchMatch, "inner")
      .select(col(oneW).as(m.one.fillColumn), col(manyW).as(m.many.fillColumn))
  }
}
