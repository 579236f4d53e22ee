package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Transportor
import graft.plans._
import graft.sources.InMemoryIO

/** Orchestration + operator edge cases beyond the README goldens. */
class TransportorSpec extends SparkSpec {

  test("toposort: target-side refer dependencies run first; cycles throw") {
    val t = df("k BIGINT", Row(1L))
    def refTo(name: String) = TableMap(Some("src"), Seq(
      Rename("k", "k"),
      Refer("x", Seq("k"), SearchSource.Target, name, Seq("k"), "k")))
    val plan = TransportPlan.of(
      "a" -> refTo("b"), "b" -> refTo("c"), "c" -> TableMap(Some("src"), Seq(Rename("k", "k"))))
    assert(Toposort(plan) == Seq("c", "b", "a"))

    val cyclic = TransportPlan.of("a" -> refTo("b"), "b" -> refTo("a"))
    assertThrows[IllegalStateException](Toposort(cyclic))
    val _ = t
  }

  test("transport_after explicit edge is honored") {
    val plan = TransportPlan.of(
      "late" -> TableMap(Some("src"), Seq(Rename("k", "k")), transportAfter = Some("early")),
      "early" -> TableMap(Some("src"), Seq(Rename("k", "k"))))
    assert(Toposort(plan) == Seq("early", "late"))
  }

  test("Reconcile passes on a faithful write and names a corrupted table") {
    val base = df("k STRING, v BIGINT", Row("a", 1L), Row("b", 2L), Row("c", null))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(Rename("k", "k"), Rename("v", "v"))))
    val io = new InMemoryIO(Map("base" -> base))
    val t = new Transportor(io, plan)
    val frames = t.runAndWrite()
    val rep = graft.operators.Reconcile.report(io, frames).collect()
    assert(rep.length == 1 && rep.head.getBoolean(5), rep.mkString(","))
    graft.operators.Reconcile.assertClean(io, frames) // no throw
    // corrupt the written table: same row count, one value changed —
    // the count matches but the content checksum must not
    io.written("out") = df("k STRING, v BIGINT", Row("a", 1L), Row("b", 99L), Row("c", null))
    val rep2 = graft.operators.Reconcile.report(io, frames).collect()
    assert(!rep2.head.getBoolean(5))
    assert(rep2.head.getLong(1) == rep2.head.getLong(2)) // counts agree; checksum caught it
    assertThrows[IllegalArgumentException](
      graft.operators.Reconcile.assertClean(io, frames))
  }

  test("J1 duplicate lookup keys are deduplicated deterministically (min wanted)") {
    val base = df("k STRING", Row("a"))
    val lookup = df("key STRING, v BIGINT", Row("a", 9L), Row("a", 3L), Row("a", 7L))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("key"), "v"))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    assertRows(new Transportor(io, plan).frame("out"), Seq(Row("a", 3L)))
  }

  test("J1 string lookup dedup is hash-based (ObjectHashAggregate), never a sort") {
    val base = df("k STRING", Row("a"), Row("b"))
    val lookup = df("key STRING, v STRING", Row("a", "z"), Row("a", "y"), Row("b", "x"))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("key"), "v"))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    val frame = new Transportor(io, plan).frame("out")
    // min semantics identical to the builtin: "y" < "z"
    assertRows(frame, Seq(Row("a", "y"), Row("b", "x")))
    val physical = frame.queryExecution.executedPlan.toString
    assert(physical.contains("ObjectHashAggregate"), physical)
    assert(!physical.contains("SortAggregate"), physical)
  }

  test("J1 rtrim normalization applies to string keys on both sides") {
    val base = df("k STRING", Row("x  "), Row("y"))
    val lookup = df("key STRING, v BIGINT", Row("x", 1L), Row("y   ", 2L))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("key"), "v"))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    assertRows(new Transportor(io, plan).frame("out"), Seq(Row("x  ", 1L), Row("y", 2L)))
  }

  test("J1 null wanted value on a matched key counts as a miss (PHP isset semantics)") {
    val base = df("k STRING", Row("a"))
    val lookup = df("key STRING, v STRING", Row("a", null))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("key"), "v",
          default = Some("D")))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    assertRows(new Transportor(io, plan).frame("out"), Seq(Row("a", "D")))
  }

  test("pre_format applies to the probe key; format_wanted only on hits") {
    val base = df("k STRING", Row("A-1"), Row("B-9"))
    val lookup = df("key STRING, v STRING", Row("1", "one"))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("key"), "v",
          default = Some("MISS"),
          preFormat = Some(c => element_at(split(c, "-"), 2)),
          formatWanted = Some(c => upper(c))))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    // hit formats to upper; miss takes the raw default, not format(default)
    assertRows(new Transportor(io, plan).frame("out"),
      Seq(Row("A-1", "ONE"), Row("B-9", "MISS")))
  }

  test("J1 default applies when format_wanted nulls a HIT value (coalesce shape)") {
    val base = df("k STRING", Row("a"), Row("b"))
    val lookup = df("key STRING, v STRING", Row("a", "x"), Row("b", "ok"))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("key"), "v",
          default = Some("D"),
          formatWanted = Some(c => when(c === "x", lit(null)).otherwise(c))))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    // "a" hits but format nulls it => default (reference ?? semantics)
    assertRows(new Transportor(io, plan).frame("out"), Seq(Row("a", "D"), Row("b", "ok")))
  }

  test("J2 composite refer: pre_format per key and null-safe equality") {
    val base = df("k1 STRING, k2 INT", Row("A-1", 7), Row("B-2", null))
    val lookup = df("s1 STRING, s2 INT, v STRING",
      Row("1", 7, "hit1"), Row("2", null, "hitnull"))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("k1", "k1"),
        Refer("v", Seq("k1", "k2"), SearchSource.Original, "lookup", Seq("s1", "s2"), "v",
          preFormat = Some(c =>
            when(c.cast("string").contains("-"), element_at(split(c.cast("string"), "-"), 2))
              .otherwise(c))))))
    val io = new InMemoryIO(Map("base" -> base, "lookup" -> lookup))
    // null k2 matches the IS NULL lookup row (queryComposer `= NULL` rewrite)
    assertRows(new Transportor(io, plan).frame("out"),
      Seq(Row("A-1", "hit1"), Row("B-2", "hitnull")))
  }

  test("middle skips one-side rows with null/empty according values") {
    val one = df("oid BIGINT, csv STRING", Row(1L, "5"), Row(2L, null), Row(3L, ""))
    val many = df("mid BIGINT", Row(5L))
    val plan = TransportPlan.of("bridge" -> TableMap(None, middle = Some(Middle(
      MiddleOne(SearchSource.Original, "one", "oid", "csv", "a"),
      MiddleMany(SearchSource.Original, "many", "mid", "mid", "b")))))
    val io = new InMemoryIO(Map("one" -> one, "many" -> many))
    assertRows(new Transportor(io, plan).frame("bridge"), Seq(Row(1L, 5L)))
  }

  test("affection fills main + extra target columns from one struct") {
    val base = df("full STRING", Row("ann:30"))
    val parts = split(col("full"), ":")
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Affection("name",
          struct(parts.getItem(0).as("n"), parts.getItem(1).cast("int").as("a")),
          mainField = "n", alsoFills = Seq("a" -> "age")))))
    val io = new InMemoryIO(Map("base" -> base))
    val got = new Transportor(io, plan).frame("out")
    assert(got.columns.toSeq == Seq("name", "age"))
    assertRows(got, Seq(Row("ann", 30)))
  }

  test("aliased entries targeting one table union on run(); writes + hooks fire") {
    var hookRan = false
    val base = df("id BIGINT, seg STRING", Row(1L, "A"), Row(2L, "B"))
    def entry(k: String, v: String, hook: Option[() => Unit] = None) =
      k -> TableMap(Some("base"), Seq(Rename("id", "id")),
        targetTable = Some("all"),
        extraConditions = Seq(Condition.Eq("seg", v)),
        runAfterTransport = hook)
    val plan = TransportPlan.of(
      entry("ka", "A", Some(() => hookRan = true)), entry("kb", "B"))
    val io = new InMemoryIO(Map("base" -> base))
    val frames = new Transportor(io, plan).runAndWrite()
    assert(frames.keySet == Set("all"))
    assertRows(io.readTarget("all"), Seq(Row(1L), Row(2L)))
    assert(hookRan)
  }

  test("pre-seeded lookup tables must be non-empty (checkSeed)") {
    val base = df("k BIGINT", Row(1L))
    val empty = df("k BIGINT")
    val plan = TransportPlan.of("out" -> TableMap(Some("base"), Seq(Rename("k", "k"))))
    val io = new InMemoryIO(Map("base" -> base), Map("seeded" -> empty))
    assertThrows[IllegalArgumentException](
      new Transportor(io, plan, preSeeded = Set("seeded")).run())
  }

  test("middle resolves target-side halves via the plan (dependency ordering)") {
    val materials = df("mid BIGINT, csv STRING", Row(1L, "10,20"))
    val typesSrc = df("tid BIGINT, nm STRING", Row(10L, "x"), Row(20L, "y"), Row(30L, "z"))
    val plan = TransportPlan.of(
      "bridge" -> TableMap(None, middle = Some(Middle(
        one = MiddleOne(SearchSource.Original, "materials", "mid", "csv", "material_id"),
        many = MiddleMany(SearchSource.Target, "new_types", "type_id", "type_id", "type_id")))),
      "new_types" -> TableMap(Some("types_src"), Seq(Rename("type_id", "tid"))))
    assert(Toposort(plan) == Seq("new_types", "bridge"))
    val io = new InMemoryIO(Map("materials" -> materials, "types_src" -> typesSrc))
    assertRows(new Transportor(io, plan).frame("bridge"), Seq(Row(1L, 10L), Row(1L, 20L)))
  }

  test("validate(): duplicate targets, middle+columns, missing lookup table fail fast") {
    val base = df("k BIGINT", Row(1L))
    val io = new InMemoryIO(Map("base" -> base))
    def t(plan: TransportPlan) = new Transportor(io, plan)

    assertThrows[IllegalArgumentException](t(TransportPlan.of(
      "a" -> TableMap(Some("base"), Seq(Rename("x", "k"), Inject("x", 1)))))
      .validate())
    assertThrows[IllegalArgumentException](t(TransportPlan.of(
      "a" -> TableMap(Some("base"), Seq(Rename("x", "k")),
        middle = Some(Middle(
          MiddleOne(SearchSource.Original, "base", "k", "k", "a"),
          MiddleMany(SearchSource.Original, "base", "k", "k", "b"))))))
      .validate())
    assertThrows[NoSuchElementException](t(TransportPlan.of(
      "a" -> TableMap(Some("base"), Seq(
        Refer("x", Seq("k"), SearchSource.Target, "nowhere", Seq("k"), "k")))))
      .validate())
    assertThrows[IllegalArgumentException](t(TransportPlan.of(
      "a" -> TableMap(None))).validate())
    // acyclic over keys, cyclic over target tables: n reads alias key x
    // of table y, and y's other alias w reads n
    def lookup(tbl: String) = Refer(s"x_$tbl", Seq("k"), SearchSource.Target, tbl, Seq("k"), "k")
    val e = intercept[IllegalStateException](t(TransportPlan.of(
      "x" -> TableMap(Some("base"), Seq(Rename("k", "k")), targetTable = Some("y")),
      "n" -> TableMap(Some("base"), Seq(Rename("k", "k"), lookup("x"))),
      "w" -> TableMap(Some("base"), Seq(Rename("k", "k"), lookup("n")),
        targetTable = Some("y")))).validate())
    assert(e.getMessage.contains("dependency cycle"), e.getMessage)
  }

  test("validate(): a middle whose target-side refer_table is unfilled fails before any job") {
    val materials = df("mid BIGINT, csv STRING", Row(1L, "10,20"))
    val io = new InMemoryIO(Map("materials" -> materials))
    val plan = TransportPlan.of(
      "bridge" -> TableMap(None, middle = Some(Middle(
        one = MiddleOne(SearchSource.Original, "materials", "mid", "csv", "material_id"),
        many = MiddleMany(SearchSource.Target, "nowhere", "type_id", "type_id", "type_id")))))
    val e = intercept[NoSuchElementException](new Transportor(io, plan).validate())
    assert(e.getMessage.contains("'nowhere'"), e.getMessage)
    // pre-seeding the table satisfies the lookup
    new Transportor(io, plan, preSeeded = Set("nowhere")).validate()
  }

  test("passthrough scan (no column specs) keeps the source schema") {
    val base = df("a BIGINT, b STRING", Row(1L, "x"))
    val plan = TransportPlan.of("out" -> TableMap(Some("base")))
    val io = new InMemoryIO(Map("base" -> base))
    assert(new Transportor(io, plan).frame("out").columns.toSeq == Seq("a", "b"))
  }

  test("target-side lookup against a multi-alias table sees the union of all aliases") {
    // Two aliased entries append into physical table "dim"
    // (README.md:59-63); a downstream refer against "dim" must resolve
    // keys transported by EITHER alias, exactly as the reference reads
    // the physical table after both appends (src/DBT.php:280-288).
    val srcA = df("k BIGINT, v STRING", Row(1L, "fromA"))
    val srcB = df("k BIGINT, v STRING", Row(2L, "fromB"))
    val probe = df("fk BIGINT", Row(1L), Row(2L), Row(3L))
    val plan = TransportPlan.of(
      "dim_a" -> TableMap(Some("srcA"),
        Seq(Rename("k", "k"), Rename("v", "v")), targetTable = Some("dim")),
      "dim_b" -> TableMap(Some("srcB"),
        Seq(Rename("k", "k"), Rename("v", "v")), targetTable = Some("dim")),
      "fact" -> TableMap(Some("probe"), Seq(
        Rename("fk", "fk"),
        Refer("dim_v", Seq("fk"), SearchSource.Target, "dim", Seq("k"), "v",
          default = Some("miss")))))
    val io = new InMemoryIO(Map("srcA" -> srcA, "srcB" -> srcB, "probe" -> probe))
    val tr = new Transportor(io, plan)
    assert(tr.executionOrder.indexOf("fact") == 2) // both aliases are dependencies
    assertRows(tr.frame("fact"),
      Seq(Row(1L, "fromA"), Row(2L, "fromB"), Row(3L, "miss")))
  }

  test("keysFor merges a bare-key entry with aliases targeting it (no short-circuit)") {
    // Advisor r2: 'dim' (no targetTable) plus 'dim_b' -> targetTable
    // 'dim' both fill physical 'dim'; a target-side lookup must see
    // BOTH, not just the bare-key entry. Direct-key lookup of an entry
    // whose own targetTable points elsewhere still works.
    val srcA = df("k BIGINT, v STRING", Row(1L, "fromBare"))
    val srcB = df("k BIGINT, v STRING", Row(2L, "fromAlias"))
    val probe = df("fk BIGINT", Row(1L), Row(2L), Row(3L))
    val plan = TransportPlan.of(
      "dim" -> TableMap(Some("srcA"), Seq(Rename("k", "k"), Rename("v", "v"))),
      "dim_b" -> TableMap(Some("srcB"),
        Seq(Rename("k", "k"), Rename("v", "v")), targetTable = Some("dim")),
      "fact" -> TableMap(Some("probe"), Seq(
        Rename("fk", "fk"),
        Refer("dim_v", Seq("fk"), SearchSource.Target, "dim", Seq("k"), "v",
          default = Some("miss")))))
    assert(plan.keysFor("dim") == Seq("dim", "dim_b"))
    // direct-key lookup: a key with a different physical target is
    // still addressable by its plan key
    val aliased = TransportPlan.of(
      "x" -> TableMap(Some("srcA"), Seq(Rename("k", "k")), targetTable = Some("y")))
    assert(aliased.keysFor("x") == Seq("x"))
    val io = new InMemoryIO(Map("srcA" -> srcA, "srcB" -> srcB, "probe" -> probe))
    val tr = new Transportor(io, plan)
    assert(tr.executionOrder.indexOf("fact") == 2)
    assertRows(tr.frame("fact"),
      Seq(Row(1L, "fromBare"), Row(2L, "fromAlias"), Row(3L, "miss")))
  }

  test("aliases filling different column subsets null-fill the union (INSERT semantics)") {
    // An append into one physical table null-fills columns an alias
    // doesn't set; strict unionByName would throw AnalysisException.
    val srcA = df("k BIGINT, v STRING", Row(1L, "hasV"))
    val srcB = df("k BIGINT", Row(2L))
    val probe = df("fk BIGINT", Row(1L), Row(2L))
    val plan = TransportPlan.of(
      "dim_a" -> TableMap(Some("srcA"),
        Seq(Rename("k", "k"), Rename("v", "v")), targetTable = Some("dim")),
      "dim_b" -> TableMap(Some("srcB"), Seq(Rename("k", "k")), targetTable = Some("dim")),
      "fact" -> TableMap(Some("probe"), Seq(
        Rename("fk", "fk"),
        Refer("dim_v", Seq("fk"), SearchSource.Target, "dim", Seq("k"), "v",
          default = Some("miss")))))
    val io = new InMemoryIO(Map("srcA" -> srcA, "srcB" -> srcB, "probe" -> probe))
    val tr = new Transportor(io, plan)
    // run(): union of the written "dim" table null-fills v for dim_b rows
    val frames = tr.run()
    assertRows(frames("dim").select("k", "v"), Seq(Row(1L, "hasV"), Row(2L, null)))
    // target-side lookup: k=2 exists but its v is null => miss => default
    assertRows(tr.frame("fact"), Seq(Row(1L, "hasV"), Row(2L, "miss")))
  }

  test("upsert write mode makes re-runs idempotent and converges on changed sources") {
    import graft.sources.OverlayIO
    val base1 = df("id BIGINT, v STRING", Row(1L, "a"), Row(2L, "b"))
    val base2 = df("id BIGINT, v STRING", Row(2L, "B2"), Row(3L, "c"))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(Rename("id", "id"), Rename("v", "v"))))
    val io = new InMemoryIO(Map("base" -> base1), upsertKeys = Map("out" -> Seq("id")))
    new Transportor(io, plan).runAndWrite()
    new Transportor(io, plan).runAndWrite() // identical re-run: no duplicate rows
    assertRows(io.readTarget("out"), Seq(Row(1L, "a"), Row(2L, "b")))
    // changed source: key 2 updated in place, key 3 added, key 1 kept
    new Transportor(new OverlayIO(io, Map("base" -> base2)), plan).runAndWrite()
    assertRows(io.readTarget("out"), Seq(Row(1L, "a"), Row(2L, "B2"), Row(3L, "c")))
  }

  test("Reconcile verifies a real parquet round-trip (types survive re-read)") {
    import graft.sources.ParquetDirIO
    val src = java.nio.file.Files.createTempDirectory("graft_rec_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_rec_dst").toString
    // mixed types incl. null, timestamp, double — the canonicalized
    // string digest must agree between the in-memory frame and the
    // frame re-read from parquet
    df("id BIGINT, v STRING, w DOUBLE, ts TIMESTAMP",
      Row(1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      Row(2L, null, Double.NaN, null))
      .write.mode("overwrite").parquet(s"$src/base.parquet")
    val io = new ParquetDirIO(spark, src, dst)
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("id", "id"), Rename("v", "v"), Rename("w", "w"), Rename("ts", "ts"))))
    val frames = new Transportor(io, plan).runAndWrite()
    graft.operators.Reconcile.assertClean(io, frames) // no throw
    // drop a row behind the IO's back (collect first — can't overwrite
    // a parquet path while reading it): the count catches it
    val survivor = io.readTarget("out").filter(col("id") === 1L).collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(survivor, 1), frames("out").schema)
      .write.mode("overwrite").parquet(s"$dst/out.parquet")
    val rep = graft.operators.Reconcile.report(io, frames).collect().head
    assert(!rep.getBoolean(5) && rep.getLong(1) == 2L && rep.getLong(2) == 1L)
  }

  test("ParquetDirIO upsert merges via staging swap; re-runs converge") {
    import graft.sources.ParquetDirIO
    val src = java.nio.file.Files.createTempDirectory("graft_upsert_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_upsert_dst").toString
    df("id BIGINT, v STRING", Row(1L, "a"), Row(2L, "b"))
      .write.mode("overwrite").parquet(s"$src/base.parquet")
    val io = new ParquetDirIO(spark, src, dst, upsertKeys = Map("out" -> Seq("id")))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(Rename("id", "id"), Rename("v", "v"))))
    new Transportor(io, plan).runAndWrite()
    new Transportor(io, plan).runAndWrite() // re-run against existing files
    assertRows(io.readTarget("out"), Seq(Row(1L, "a"), Row(2L, "b")))
    df("id BIGINT, v STRING", Row(2L, "B2"), Row(3L, "c"))
      .write.mode("overwrite").parquet(s"$src/base.parquet")
    new Transportor(io, plan).runAndWrite()
    assertRows(io.readTarget("out"), Seq(Row(1L, "a"), Row(2L, "B2"), Row(3L, "c")))
    // the staging dir swapped away cleanly
    assert(!new java.io.File(s"$dst/out.parquet.__graft_staging").exists())
  }

  test("partitioned upsert rewrites ONLY the touched partitions") {
    import graft.sources.ParquetDirIO
    val src = java.nio.file.Files.createTempDirectory("graft_pupsert_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_pupsert_dst").toString
    def listFiles(p: String): Map[String, Long] = {
      val d = new java.io.File(p)
      if (!d.exists) Map.empty
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    df("id BIGINT, day STRING, v STRING",
      Row(1L, "d1", "a"), Row(2L, "d1", "b"), Row(3L, "d2", "c"))
      .write.mode("overwrite").parquet(s"$src/base.parquet")
    val io = new ParquetDirIO(spark, src, dst,
      upsertKeys = Map("out" -> Seq("id")),
      partitionCols = Map("out" -> Seq("day")))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("id", "id"), Rename("day", "day"), Rename("v", "v"))))
    new Transportor(io, plan).runAndWrite()
    val d2Before = listFiles(s"$dst/out.parquet/day=d2")
    assert(d2Before.nonEmpty)
    Thread.sleep(1100) // mtime resolution guard
    // delta: update id=2 (partition d1), insert id=4 (new partition d3)
    df("id BIGINT, day STRING, v STRING",
      Row(2L, "d1", "B2"), Row(4L, "d3", "d"))
      .write.mode("overwrite").parquet(s"$src/base.parquet")
    new Transportor(io, plan).runAndWrite()
    assertRows(io.readTarget("out").select("id", "day", "v"),
      Seq(Row(1L, "d1", "a"), Row(2L, "d1", "B2"),
        Row(3L, "d2", "c"), Row(4L, "d3", "d")))
    // the untouched partition's files were neither replaced nor rewritten
    assert(listFiles(s"$dst/out.parquet/day=d2") == d2Before,
      "untouched partition d2 was rewritten")
    // re-run converges (idempotent merge)
    new Transportor(io, plan).runAndWrite()
    assert(io.readTarget("out").count() == 4)
  }

  test("ParquetDirIO upsert recovers a crash between delete and rename") {
    import graft.sources.ParquetDirIO
    val src = java.nio.file.Files.createTempDirectory("graft_crash_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_crash_dst").toString
    df("id BIGINT, v STRING", Row(3L, "c"))
      .write.mode("overwrite").parquet(s"$src/base.parquet")
    // simulate the crash window: the merged result reached the staging
    // dir, the old target was deleted, the rename never happened
    df("id BIGINT, v STRING", Row(1L, "a"), Row(2L, "b"))
      .write.parquet(s"$dst/out.parquet.__graft_staging")
    val io = new ParquetDirIO(spark, src, dst, upsertKeys = Map("out" -> Seq("id")))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(Rename("id", "id"), Rename("v", "v"))))
    new Transportor(io, plan).runAndWrite()
    // recovery first (staging becomes the target), THEN the upsert —
    // so the previously merged rows survive instead of being clobbered
    assertRows(io.readTarget("out"), Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    assert(!new java.io.File(s"$dst/out.parquet.__graft_staging").exists())
  }

  test("upsert re-run null-fills a newly added column instead of throwing") {
    val base1 = df("id BIGINT, v STRING", Row(1L, "a"))
    val base2 = df("id BIGINT, v STRING, extra STRING", Row(2L, "b", "x"))
    val io = new InMemoryIO(Map("b1" -> base1, "b2" -> base2),
      upsertKeys = Map("out" -> Seq("id")))
    val p1 = TransportPlan.of(
      "out" -> TableMap(Some("b1"), Seq(Rename("id", "id"), Rename("v", "v"))))
    val p2 = TransportPlan.of(
      "out" -> TableMap(Some("b2"),
        Seq(Rename("id", "id"), Rename("v", "v"), Rename("extra", "extra"))))
    new Transportor(io, p1).runAndWrite()
    new Transportor(io, p2).runAndWrite() // plan evolved: +extra column
    assertRows(io.readTarget("out").select("id", "v", "extra"),
      Seq(Row(1L, "a", null), Row(2L, "b", "x")))
  }

  test("FormatDirIO ingests JSONL (with malformed lines) and writes parquet") {
    import graft.sources.FormatDirIO
    import org.apache.spark.sql.types._
    val src = java.nio.file.Files.createTempDirectory("graft_jsonl_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_jsonl_dst").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "the quick brown fox"}""",
      """{"doc_id": 2, "text": "jumps over the lazy dog"}""",
      """this line is not json at all""",
      """{"doc_id": 3, "text": "a third document"}""")
    val dir = new java.io.File(s"$src/docs.jsonl"); dir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$src/docs.jsonl/part-00000.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val io = new FormatDirIO(spark, src, dst, schemas = Map("docs" -> schema))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("docs"), Seq(
        Rename("doc_id", "doc_id"),
        Derived("n_tokens", graft.functions.TextFunctions.tokenCount(col("text"))))))
    new Transportor(io, plan).runAndWrite()
    // the malformed line nulls out (PERMISSIVE), not a job failure;
    // the output landed as parquet and reads back
    val back = io.readTarget("out").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(back == Map(1L -> 4L, 2L -> 5L, 3L -> 3L, -1L -> -1L))
  }

  test("RowUdf receives the pristine source row even after earlier specs overwrite columns") {
    // The reference passes the untouched $source row to `function`
    // closures (src/DBT.php:395, 407-408); earlier column specs must
    // not leak into what the closure sees.
    val base = df("name STRING, qty BIGINT", Row("ann", 5L))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        // overwrites source column "name" before the RowUdf runs
        Derived("name", concat(col("name"), lit("-MUTATED"))),
        RowUdf("echo",
          (r: Row) => r.getAs[String]("name") + ":" + r.getAs[Long]("qty"),
          org.apache.spark.sql.types.StringType))))
    val io = new InMemoryIO(Map("base" -> base))
    assertRows(new Transportor(io, plan).frame("out"),
      Seq(Row("ann-MUTATED", "ann:5"))) // udf saw "ann", not "ann-MUTATED"
  }

  test("FuzzyRefer: best-match fill, min-key ties, default on miss, dep edge") {
    val obs = df("id BIGINT, name STRING",
      Row(1L, "smal ring"),   // typo -> matches "small ring"
      Row(2L, "blue boltz"),  // matches "blue bolt"
      Row(3L, "qqqq"))        // no match above threshold -> default
    val canon = df("cname STRING, price DOUBLE",
      Row("small ring", 10.0), Row("blue bolt", 20.0), Row("red gear", 30.0),
      Row("small ring", 11.0)) // duplicate key -> deterministic min wanted
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("obs"), Seq(
        Rename("id", "id"),
        FuzzyRefer("canon_price", "name", SearchSource.Original, "canon",
          "cname", "price", threshold = 0.4, default = Some(-1.0d)))))
    val io = new InMemoryIO(Map("obs" -> obs, "canon" -> canon))
    assertRows(new Transportor(io, plan).frame("out"),
      Seq(Row(1L, 10.0), Row(2L, 20.0), Row(3L, -1.0)))

    // target-side fuzzy lookup orders the canon build first
    val dep = TransportPlan.of(
      "probe_t" -> TableMap(Some("obs"), Seq(
        Rename("id", "id"),
        FuzzyRefer("cp", "name", SearchSource.Target, "canon_t",
          "cname", "price", threshold = 0.4))),
      "canon_t" -> TableMap(Some("canon"), Seq(
        Rename("cname", "cname"), Rename("price", "price"))))
    assert(Toposort(dep) == Seq("canon_t", "probe_t"))
  }

  test("schemaDiff names missing/extra/type-changed columns; clean round-trip reports nothing") {
    import graft.operators.Reconcile
    val base = df("k BIGINT, v STRING", Row(1L, "a"))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(Rename("k", "k"), Rename("v", "v"))))
    val io = new InMemoryIO(Map("base" -> base))
    val frames = new Transportor(io, plan).runAndWrite()
    assert(Reconcile.schemaDiff(io, frames).isEmpty)
    // drift the target: drop v, add extra, retype k
    io.written("out") = df("k STRING, extra BIGINT", Row("1", 9L))
    val drift = Reconcile.schemaDiff(io, frames)
      .map { case (_, c, kind, _, _) => c -> kind }.toSet
    assert(drift == Set("v" -> "missing_in_target", "extra" -> "extra_in_target",
      "k" -> "type_changed"))
    // a target table that doesn't exist yet reports every column missing
    val io2 = new InMemoryIO(Map("base" -> base))
    val unwritten = new Transportor(io2, plan).run()
    assert(Reconcile.schemaDiff(io2, unwritten)
      .forall(_._3 == "missing_in_target"))
  }

  test("Lineage.report walks every spec shape; impactOf inverts probe-side reads") {
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("base"), Seq(
        Rename("id", "src_id"),
        Inject("version", 7),
        Derived("total", col("price") * col("qty"), deleteAfterTransport = true),
        Refer("nation", Seq("nkey"), SearchSource.Target, "dim_nation",
          Seq("n_id"), "n_name"),
        Refers("order_sum", "cust", SearchSource.Original, "orders", "o_cust",
          sum(col("o_total")))),
        targetTable = Some("physical_out")),
      "dim_nation" -> TableMap(Some("nation"), Seq(Rename("n_id", "n_nationkey"),
        Rename("n_name", "n_name"))))
    val edges = Lineage.report(plan)
    def edge(colName: String, role: String) =
      edges.find(e => e.targetColumn == colName && e.role == role).get
    assert(edge("id", "probe").sourceColumns == Seq("src_id"))
    assert(edge("version", "probe").sourceColumns.isEmpty)
    val d = edge("total", "probe")
    assert(d.sourceColumns.toSet == Set("price", "qty") && d.isTemp)
    assert(edge("nation", "probe").sourceColumns == Seq("nkey"))
    val lk = edge("nation", "lookup")
    assert(lk.sourceTable == "<target-side> dim_nation" &&
      lk.sourceColumns == Seq("n_id", "n_name"))
    val rs = edge("order_sum", "lookup")
    assert(rs.sourceTable == "orders" && rs.sourceColumns.toSet == Set("o_cust", "o_total"))
    assert(edges.forall(_.targetTable != "out"), "alias resolved to physical name")

    val impact = Lineage.impactOf(plan)
    assert(impact("base.price") == Seq("physical_out" -> "total"))
    assert(impact("nation.n_nationkey") == Seq("dim_nation" -> "n_id"))
    // DataFrame form materializes
    assert(Lineage.toDf(spark, plan).count() == edges.length)
  }

  /** A TableIO whose write IS a Spark job (a noop-sink save), so each
    * table's job-group window brackets its write. */
  private def noopIO(base: org.apache.spark.sql.DataFrame): graft.sources.TableIO =
    new graft.sources.TableIO {
      def readOriginal(table: String) = base
      def readTarget(table: String) = throw new NoSuchElementException(table)
      def writeTarget(table: String, d: org.apache.spark.sql.DataFrame): Unit =
        d.write.format("noop").mode("overwrite").save()
    }

  /** Per table, [first job start, last job end] of its
    * `graft-write-<table>` job group. */
  private def writeWindows(jc: graft.tools.JobCounter): Map[String, (Long, Long)] =
    jc.jobs.filter(_.group.exists(_.startsWith("graft-write-")))
      .groupBy(_.group.get.stripPrefix("graft-write-"))
      .map { case (t, js) => t -> (js.map(_.startMs).min, js.map(_.endMs).max) }

  test("runAndWrite schedule: a table starts after its dependencies' writes end") {
    def refTo(names: String*) = TableMap(Some("src"),
      Rename("k", "k") +: names.map(n =>
        Refer(s"x_$n", Seq("k"), SearchSource.Target, n, Seq("k"), "k")))
    val seed = TableMap(Some("src"), Seq(Rename("k", "k")))
    // d -> {b, c} -> a; e independent
    val plan = TransportPlan.of(
      "d" -> refTo("b", "c"), "b" -> refTo("a"), "c" -> refTo("a"),
      "a" -> seed, "e" -> seed)
    val base = df("k BIGINT", (1L to 8L).map(Row(_)): _*)
    val jc = graft.tools.JobCounter(spark)
    val frames = try new Transportor(noopIO(base), plan).runAndWrite() finally jc.close()
    assert(frames.keys.toSeq == Seq("a", "b", "c", "d", "e"))
    val w = writeWindows(jc)
    assert(w.keySet == plan.keys.toSet, w)
    plan.keys.foreach { t =>
      Toposort.dependencies(plan, plan.byKey(t)).foreach { d =>
        assert(w(t)._1 >= w(d)._2, s"$t opened at ${w(t)._1} before $d closed at ${w(d)._2}")
      }
    }
  }

  test("run() and runAndWrite() return target tables in dependency order") {
    val base = df("k BIGINT", Row(1L))
    def lookup(t: String) = Refer(s"x_$t", Seq("k"), SearchSource.Target, t, Seq("k"), "k")
    // contacts = c1 (a seed) ++ c2 (reads dim), so contacts follows dim
    val plan = TransportPlan.of(
      "fact" -> TableMap(Some("base"), Seq(Rename("k", "k"), lookup("contacts"))),
      "c1" -> TableMap(Some("base"), Seq(Rename("k", "k")), targetTable = Some("contacts")),
      "c2" -> TableMap(Some("base"), Seq(Rename("k", "k"), lookup("dim")),
        targetTable = Some("contacts")),
      "dim" -> TableMap(Some("base"), Seq(Rename("k", "k"))),
      "z" -> TableMap(Some("base"), Seq(Rename("k", "k"))))
    val order = Seq("dim", "contacts", "fact", "z")
    assert(new Transportor(new InMemoryIO(Map("base" -> base)), plan).run().keys.toSeq == order)
    val io = new InMemoryIO(Map("base" -> base))
    assert(new Transportor(io, plan).runAndWrite(writeParallelism = 1).keys.toSeq == order)
    assert(io.written.keys.toSeq == order, "one thread writes in dependency order")
    assert(new Transportor(new InMemoryIO(Map("base" -> base)), plan).runAndWrite()
      .keys.toSeq == order)
  }

  test("runAndWrite failure: dependents never start, running siblings finish") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val base = df("k BIGINT", Row(1L))
    val slowStarted = new CountDownLatch(1)
    val badFailed = new CountDownLatch(2)
    var hookRan = false
    val seed = TableMap(Some("base"), Seq(Rename("k", "k")))
    val plan = TransportPlan.of(
      "bad" -> seed, "bad2" -> seed, "slow" -> seed.copy(runAfterTransport = Some(() => hookRan = true)),
      "later" -> seed,
      "dep" -> TableMap(Some("base"), Seq(Rename("k", "k"),
        Refer("x", Seq("k"), SearchSource.Target, "bad", Seq("k"), "k"))))
    val mem = new InMemoryIO(Map("base" -> base))
    val io = new graft.sources.TableIO {
      def readOriginal(table: String) = mem.readOriginal(table)
      def readTarget(table: String) = mem.readTarget(table)
      def writeTarget(table: String, d: org.apache.spark.sql.DataFrame): Unit = table match {
        case "slow" =>
          slowStarted.countDown()
          assert(badFailed.await(20, TimeUnit.SECONDS))
          Thread.sleep(300) // both failures reach the schedule before this write lands
          mem.writeTarget(table, d)
        case "bad" | "bad2" =>
          assert(slowStarted.await(20, TimeUnit.SECONDS))
          badFailed.countDown()
          throw new IllegalStateException(s"$table write failed")
        case _ => mem.writeTarget(table, d)
      }
    }
    val e = intercept[IllegalStateException](new Transportor(io, plan).runAndWrite(writeParallelism = 3))
    val all = (e +: e.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(all == Set("bad write failed", "bad2 write failed"), all)
    assert(mem.written.keySet == Set("slow"), "only the running sibling lands")
    assert(!hookRan, "run_after_transport hooks do not run after a failure")
  }

  test("runAndWrite leaves the caller's job group, pool and description as they were") {
    val sc = spark.sparkContext
    val base = df("k BIGINT", Row(1L))
    val mem = new InMemoryIO(Map("base" -> base))
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]
    val io = new graft.sources.TableIO {
      def readOriginal(table: String) = mem.readOriginal(table)
      def readTarget(table: String) = mem.readTarget(table)
      def writeTarget(table: String, d: org.apache.spark.sql.DataFrame): Unit = {
        seen.put(table, (sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("spark.scheduler.pool"),
          sc.getLocalProperty("spark.job.description")))
        mem.writeTarget(table, d)
      }
    }
    val seed = TableMap(Some("base"), Seq(Rename("k", "k")))
    def props = Seq("spark.jobGroup.id", "spark.scheduler.pool", "spark.job.description")
      .map(sc.getLocalProperty)
    sc.setJobGroup("caller-group", "caller description")
    sc.setLocalProperty("spark.scheduler.pool", "caller-pool")
    try {
      val before = props
      // one table (a lone task) and one slot both write on the caller's thread
      new Transportor(io, TransportPlan.of("solo" -> seed)).runAndWrite()
      new Transportor(io, TransportPlan.of("x" -> seed, "y" -> seed)).runAndWrite(writeParallelism = 1)
      new Transportor(io, TransportPlan.of("p" -> seed, "q" -> seed)).runAndWrite(writeParallelism = 2)
      assert(props == before)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
    }
    Seq("solo", "x", "y", "p", "q").foreach { t =>
      assert(seen.get(t) == ((s"graft-write-$t", s"graft-$t", s"transport write $t")), t)
    }
  }

  test("ParquetDirIO infers a source schema once, and again after a rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_memo").toString
    df("k BIGINT", Row(1L), Row(2L)).write.parquet(s"$dir/t.parquet")
    val io = new graft.sources.ParquetDirIO(spark, dir, s"$dir/out")
    val sc = spark.sparkContext
    val jc = graft.tools.JobCounter(spark)
    sc.setJobGroup("schema-memo", "schema memo reads")
    val second =
      try { io.readOriginal("t"); io.readOriginal("t") }
      finally { sc.clearJobGroup(); jc.close() }
    assert(jc.counts("schema-memo").jobs == 1, jc.jobs)
    assertRows(second, Seq(Row(1L), Row(2L)))
    df("k BIGINT, v STRING", Row(3L, "x")).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assertRows(io.readOriginal("t"), Seq(Row(3L, "x")))
  }

  test("parallel runAndWrite overlaps same-level writes (latch proof + job-group windows)") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val jc = graft.tools.JobCounter(spark)
    try {
      TransportorSpec.overlapLatch = new CountDownLatch(2)
      TransportorSpec.overlapSeen = false
      val rendezvous = udf { id: Long =>
        TransportorSpec.overlapLatch.countDown()
        // both writes must be IN FLIGHT at once to release the latch;
        // a sequential schedule times out here and fails the assert
        if (TransportorSpec.overlapLatch.await(20, TimeUnit.SECONDS))
          TransportorSpec.overlapSeen = true
        id
      }
      val base = df("k BIGINT", (1L to 4L).map(Row(_)): _*).repartition(1)
      val plan = TransportPlan.of(
        "ta" -> TableMap(Some("base"), Seq(Derived("k", rendezvous(col("k"))))),
        "tb" -> TableMap(Some("base"), Seq(Derived("k", rendezvous(col("k"))))))
      // materializing IO: the write IS a Spark job (InMemoryIO's map
      // insert would stay lazy and never run the rendezvous UDF)
      new Transportor(noopIO(base), plan).runAndWrite(writeParallelism = 2)
      assert(TransportorSpec.overlapSeen, "independent writes did not overlap")
    } finally jc.close()
    // job-group windows recorded for both tables, and they intersect
    val w = writeWindows(jc)
    val Seq((s1, e1), (s2, e2)) = Seq("ta", "tb").map(w(_))
    assert(s1 < e2 && s2 < e1, s"job-group windows disjoint: [$s1,$e1] vs [$s2,$e2]")
  }
}

object TransportorSpec {
  // shared by the rendezvous UDF's task closures (local mode: one JVM)
  @volatile var overlapLatch: java.util.concurrent.CountDownLatch = _
  @volatile var overlapSeen: Boolean = false
}
