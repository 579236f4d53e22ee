package graft.plans

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.types.DataType

/** Which side of the pipeline a lookup reads from.
  *
  * The reference engine addresses two live connections, "original"
  * (source) and "target" (destination); `refer`/`refers`/`middle`
  * specs pick a side via `search_source` / `refer_source`
  * (reference: src/DBT.php:280-288, 230-238, 456-474). Lookups
  * against the target side induce a dependency on the table that
  * fills it — resolved by [[Toposort]].
  */
sealed trait SearchSource
object SearchSource {
  case object Original extends SearchSource
  case object Target extends SearchSource
}

/** Source-filter predicate ADT — the reference's `extra_conditions`
  * triples plus raw-SQL passthrough (src/DBT.php:145-153, 357-388;
  * README.md:146-176). Conditions AND-chain. Divergences from the
  * reference, per SURVEY.md §4.2: unknown operators throw instead of
  * being silently dropped, and raw SQL is compiled as a Catalyst
  * `expr` rather than string-spliced.
  */
sealed trait Condition
object Condition {
  /** `=`; a null value rewrites to IS NULL (src/DBT.php:369-370). */
  final case class Eq(column: String, value: Any) extends Condition
  /** `<>` / `!=`; null rewrites to IS NOT NULL (src/DBT.php:366-368). */
  final case class Ne(column: String, value: Any) extends Condition
  /** `>`; null value is an error (src/DBT.php:372-374). */
  final case class Gt(column: String, value: Any) extends Condition
  /** `<`; null value is an error (src/DBT.php:372-374). */
  final case class Lt(column: String, value: Any) extends Condition
  final case class Like(column: String, pattern: String) extends Condition
  final case class NotLike(column: String, pattern: String) extends Condition
  final case class In(column: String, values: Seq[Any]) extends Condition
  final case class NotIn(column: String, values: Seq[Any]) extends Condition
  final case class Between(column: String, lo: Any, hi: Any) extends Condition
  final case class NotBetween(column: String, lo: Any, hi: Any) extends Condition
  /** Verbatim SQL fragment, the reference's string-condition escape
    * hatch (src/DBT.php:147-148, 348-349). */
  final case class Raw(sql: String) extends Condition

  /** Parse a reference-style `[column, operator, value]` triple
    * (README.md:162-176 is the exhaustive operator list). */
  def apply(column: String, op: String, value: Any): Condition = (op, value) match {
    case ("=", v)                       => Eq(column, v)
    case ("<>" | "!=", v)               => Ne(column, v)
    case (">", v)                       => Gt(column, v)
    case ("<", v)                       => Lt(column, v)
    case ("like", v)                    => Like(column, String.valueOf(v))
    case ("notlike", v)                 => NotLike(column, String.valueOf(v))
    case ("in", vs: Seq[_])             => In(column, vs)
    case ("notin", vs: Seq[_])          => NotIn(column, vs)
    case ("between", Seq(lo, hi))       => Between(column, lo, hi)
    case ("notbetween", Seq(lo, hi))    => NotBetween(column, lo, hi)
    case (other, _)                     =>
      throw new IllegalArgumentException(
        s"unsupported condition operator '$other' on column '$column' " +
          "(reference silently ignores unknown operators, src/DBT.php:385; graft fails fast)")
  }
}

/** Optional source ORDER BY (reference `order` key, src/DBT.php:168). */
final case class Order(orderBy: String, direction: String = "asc") {
  require(direction == "asc" || direction == "desc", s"bad order direction '$direction'")
}

/** Per-target-column mapping spec — the reference's `columns` entry
  * shapes (src/DBT.php:172-194; README.md:65-315). Every spec names
  * the target column it fills; `deleteAfterTransport` marks it as a
  * temp column kept through the run (so later tables can look it up)
  * and dropped from the final output (src/DBT.php:423-446, 584-613).
  */
sealed trait ColumnSpec {
  def target: String
  def deleteAfterTransport: Boolean
}

/** `"new" => "old"` plain rename; null source values fall back to
  * `default` when given (src/DBT.php:176-177, 391, 409-411). */
final case class Rename(
    target: String,
    original: String,
    default: Option[Any] = None,
    deleteAfterTransport: Boolean = false) extends ColumnSpec

/** Column defined only by `default` — same literal injected into every
  * row (`dataInjector`, src/DBT.php:179-180, 416-421). */
final case class Inject(
    target: String,
    value: Any,
    deleteAfterTransport: Boolean = false) extends ColumnSpec

/** The reference's row-`function` closure, re-expressed as a Catalyst
  * `Column` so it stays inside codegen (src/DBT.php:395-408 — there a
  * PHP closure over the whole row; here any expression over the source
  * columns). Null results fall back to `default` (src/DBT.php:405-407).
  */
final case class Derived(
    target: String,
    expr: Column,
    default: Option[Any] = None,
    deleteAfterTransport: Boolean = false) extends ColumnSpec

/** True closure escape hatch for transforms that genuinely cannot be
  * expressed as a `Column`: the whole source row is passed to `fn`
  * (mirrors the reference's `function($data_value, $source)`,
  * src/DBT.php:395, 407-408). Runs as a Scala UDF over `struct(*)` —
  * breaks codegen, so prefer [[Derived]] whenever possible.
  */
final case class RowUdf(
    target: String,
    fn: Row => Any,
    dataType: DataType,
    default: Option[Any] = None,
    deleteAfterTransport: Boolean = false) extends ColumnSpec

/** The reference's `affection` multi-output transform: one computation
  * fills the main column and extra target columns from its fields
  * (src/DBT.php:396-405). Here: a struct-valued expression; `target`
  * takes `mainField`, each `(field -> targetColumn)` in `alsoFills`
  * is projected out as its own column.
  */
final case class Affection(
    target: String,
    expr: Column,
    mainField: String,
    alsoFills: Seq[(String, String)] = Nil,
    deleteAfterTransport: Boolean = false) extends ColumnSpec

/** Single- or composite-key lookup join (the reference's `refer`,
  * src/DBT.php:277-344; README.md:199-273).
  *
  * Single key (J1): the reference builds one batched in-memory hash
  * from the lookup side and probes per row, `rtrim`-normalizing both
  * sides and falling back to `default` on a miss (src/DBT.php:294-319).
  * Spark-first: a left-outer equi join against the key-deduplicated
  * lookup; rtrim is applied only when the key is string-typed (the
  * reference rtrims blindly because PHP compares loosely — forcing a
  * string cast on numeric keys would wreck join performance at scale).
  * Duplicate lookup keys are order-dependent in the reference (last
  * row wins, undefined SQL order); graft deterministically keeps
  * `min(wanted)` per key.
  *
  * Composite key (J2): the reference does an N+1 correlated point
  * lookup per row and yields NULL on a miss — no default, an
  * asymmetry we preserve (src/DBT.php:320-343, miss at :340 vs :317).
  * Spark-first: one multi-key left-outer join with null-safe key
  * equality (the reference probes each pair through queryComposer's
  * `=`, whose NULL value rewrites to IS NULL); the N+1 disappears.
  *
  * `preFormat` normalizes the probe key before matching — applied
  * AFTER rtrim, `pre_format(rtrim(v))`, exactly as the reference
  * (src/DBT.php:295-298, 309-313), and per-key in the composite case
  * (src/DBT.php:324-329). `formatWanted` post-processes the looked-up
  * value; in the single-key shape the result is
  * `coalesce(format_wanted(w), default)` — the closure sees even a
  * missed (null) lookup and default applies to a null RESULT
  * (src/DBT.php:314-318) — while the composite shape formats on hits
  * only (src/DBT.php:334-338).
  * `broadcastLookup` forces a broadcast hint for small dimensions;
  * default leaves strategy choice to Catalyst/AQE. `saltFactor > 1`
  * salts the single-key join for extreme probe-key skew (hot
  * customer / null bucket): the base side splits each key into
  * saltFactor deterministic sub-keys and the (deduplicated) lookup
  * replicates to match — row-identical output, bounded task sizes.
  */
final case class Refer(
    target: String,
    accordingColumns: Seq[String],
    searchSource: SearchSource,
    searchTable: String,
    searchColumns: Seq[String],
    wantedColumn: String,
    default: Option[Any] = None,
    preFormat: Option[Column => Column] = None,
    formatWanted: Option[Column => Column] = None,
    conditions: Seq[Condition] = Nil,
    broadcastLookup: Boolean = false,
    saltFactor: Int = 1,
    deleteAfterTransport: Boolean = false) extends ColumnSpec {
  require(saltFactor >= 1, s"refer '$target': saltFactor must be >= 1")
  require(accordingColumns.nonEmpty, s"refer '$target': empty according columns")
  require(accordingColumns.size == searchColumns.size,
    s"refer '$target': according/search arity mismatch " +
      s"(${accordingColumns.size} vs ${searchColumns.size})")
}

/** Aggregate lookup (the reference's `refers`, src/DBT.php:227-268;
  * README.md:279-315): group the lookup side by its search column,
  * fold each group with `processor`, left-join the aggregate back on
  * the probe key, `default` on miss. The reference's `processor` is a
  * PHP closure over the whole group; here it is an aggregate `Column`
  * (e.g. `sum(col("amount"))`), which keeps the partial/final split
  * and map-side combine that Spark gives aggregates for free.
  */
final case class Refers(
    target: String,
    accordingColumn: String,
    searchSource: SearchSource,
    searchTable: String,
    searchColumn: String,
    processor: Column,
    default: Option[Any] = None,
    preFormat: Option[Column => Column] = None,
    conditions: Seq[Condition] = Nil,
    broadcastLookup: Boolean = false,
    deleteAfterTransport: Boolean = false) extends ColumnSpec

/** Approximate-key lookup — the fuzzy [[Refer]] for dirty string
  * keys (misspelled vendor names, inconsistent host spellings): each
  * DISTINCT probe value resolves to its best lookup match at
  * char-`gramN`-gram Jaccard ≥ `threshold`
  * ([[graft.operators.FuzzyJoin.bestMatches]] — max similarity, ties
  * by minimum search value), and the row-level fill is one equi-join
  * on the resolved value; miss ⇒ `default` (NULL without one).
  * Extension beyond the reference's exact-key refer
  * (src/DBT.php:277-343): same target/search/wanted/default surface,
  * approximate key equality. Matching cost is per DISTINCT value —
  * the domains, not the tables, size the fuzzy stage. */
final case class FuzzyRefer(
    target: String,
    accordingColumn: String,
    searchSource: SearchSource,
    searchTable: String,
    searchColumn: String,
    wantedColumn: String,
    threshold: Double,
    gramN: Int = 3,
    default: Option[Any] = None,
    conditions: Seq[Condition] = Nil,
    broadcastLookup: Boolean = false,
    deleteAfterTransport: Boolean = false) extends ColumnSpec {
  require(threshold > 0 && threshold <= 1,
    s"fuzzy refer '$target': threshold must be in (0,1], got $threshold")
  require(gramN >= 1, s"fuzzy refer '$target': gramN must be >= 1, got $gramN")
}

/** "One" half of a many-to-many bridge (reference `middle.one`,
  * src/DBT.php:456-489; README.md:336-352): scan `referTable`
  * reading `(wantedColumn, accordingColumn)`, run `preFormat` over
  * the according value to obtain an array of foreign keys (default:
  * split a trimmed CSV string — README.md:349), explode, and emit
  * `wantedColumn` as `fillColumn` per match.
  */
final case class MiddleOne(
    referSource: SearchSource,
    referTable: String,
    wantedColumn: String,
    accordingColumn: String,
    fillColumn: String,
    preFormat: Option[Column => Column] = None)

/** "Many" half of a many-to-many bridge (reference `middle.many`,
  * src/DBT.php:490-497): match each exploded key against
  * `searchColumn` (search_method `in` ⇒ equi join) and emit
  * `wantedColumn` as `fillColumn`.
  */
final case class MiddleMany(
    referSource: SearchSource,
    referTable: String,
    wantedColumn: String,
    searchColumn: String,
    fillColumn: String,
    searchMethod: String = "in") {
  require(searchMethod == "in" || searchMethod == "=",
    s"unsupported middle search_method '$searchMethod'")
}

/** Many-to-many bridge-table builder (reference `middle`,
  * src/DBT.php:448-505). Spark-first: explode + inner equi join —
  * the reference's per-row "many"-side query (src/DBT.php:490, an
  * N+1) disappears. */
final case class Middle(one: MiddleOne, many: MiddleMany)

/** One target table's spec (one entry of the reference's `$maps`
  * array, src/DBT.php:119-194). The map key is an alias; the real
  * destination name is `targetTable` when set (src/DBT.php:129-133),
  * which lets several entries append into one physical table
  * (README.md:59-63).
  */
final case class TableMap(
    originalTable: Option[String],
    columns: Seq[ColumnSpec] = Nil,
    targetTable: Option[String] = None,
    extraConditions: Seq[Condition] = Nil,
    order: Option[Order] = None,
    middle: Option[Middle] = None,
    transportAfter: Option[String] = None,
    runAfterTransport: Option[() => Unit] = None)

/** The whole transport plan — the reference's `$maps` config array
  * (the config IS the logical plan, SURVEY.md §1.3). Declaration
  * order is preserved; execution order is decided by [[Toposort]].
  */
final case class TransportPlan(tables: Seq[(String, TableMap)]) {
  val byKey: Map[String, TableMap] = tables.toMap
  require(byKey.size == tables.size, "duplicate table keys in plan")

  def keys: Seq[String] = tables.map(_._1)

  /** Resolve a map key to its physical destination table name. */
  def targetName(key: String): String =
    byKey(key).targetTable.getOrElse(key)

  /** Map a referenced table name (key or physical name) back to its
    * plan key, if the plan fills it. When several aliased entries
    * append into one physical `targetTable` (README.md:59-63) this
    * returns the first; use [[keysFor]] anywhere the full physical
    * table contents matter (target-side lookups, dependency edges). */
  def keyFor(name: String): Option[String] = keysFor(name).headOption

  /** ALL plan keys that fill the named table — the exact plan key
    * itself AND every aliased entry whose `targetTable` matches. A
    * target-side lookup against a multi-alias table must see the union
    * of all of them, because the reference reads the physical table
    * after every alias appended into it (src/DBT.php:280-288). The two
    * conditions merge (not short-circuit): a bare-key entry `dim` plus
    * an alias `dim_b -> targetTable "dim"` both fill physical `dim`,
    * so `keysFor("dim")` must return both. A key whose own
    * `targetTable` points elsewhere (`x -> targetTable "y"`) is still
    * found by its plan key, preserving direct-key lookup. */
  def keysFor(name: String): Seq[String] =
    tables.collect { case (k, m) if k == name || m.targetTable.contains(name) => k }
}

object TransportPlan {
  def of(entries: (String, TableMap)*): TransportPlan = TransportPlan(entries.toSeq)

  /** The target-side tables one map reads: `search_source == "target"`
    * refer / refers / fuzzy refer lookups and middle halves. */
  def targetLookups(map: TableMap): Seq[String] =
    map.columns.collect {
      case r: Refer if r.searchSource == SearchSource.Target => r.searchTable
      case r: Refers if r.searchSource == SearchSource.Target => r.searchTable
      case r: FuzzyRefer if r.searchSource == SearchSource.Target => r.searchTable
    } ++ map.middle.toSeq
      .flatMap(m => Seq(m.one.referSource -> m.one.referTable, m.many.referSource -> m.many.referTable))
      .collect { case (SearchSource.Target, t) => t }
}
