package graft

import graft.queries.{ExtensionQueries, ParityQueries}

/** Guards on the driver contract so future edits can't silently drift:
  * each catalog entry carries its query and its oracle SQL together,
  * so the checks left are that names are unique, every oracle SQL is
  * real text, and the two driver views cover the same names. */
class ContractSpec extends SparkSpec {

  test("every catalog entry has a unique name and non-blank oracle SQL") {
    val entries = ParityQueries.entries ++ ExtensionQueries.entries
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    assert(dups.isEmpty, s"duplicate catalog names: ${dups.toSeq.sorted}")
    // a null here is an entry list that reads an oracle val declared below it
    val blank = entries.filter(e => e.oracleSql == null || e.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"null or blank oracle SQL: $blank")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  // also: a query built inside a Stage.scope leaves no persisted RDD behind
  test("every query analyzes against sf0.001 (schema-level smoke, no execution)") {
    val sc = spark.sparkContext
    SparkEntry.queries.foreach { case (name, query) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      // the query built inside its own scope; analysis needs no block
      val fn = (s: org.apache.spark.sql.SparkSession, dir: String) =>
        graft.operators.Stage.scope(query(s, dir))
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
      val after = sc.getPersistentRDDs.toMap
      assert(after.keySet == before,
        s"$name: persisted RDDs changed across its scope: " +
          s"${(after -- before).values.map(_.name)}")
    }
  }

  test("entry: the flagship query returns rows at sf0.001 (driver smoke twin)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("preloaded lookup tables are cached once and reused") {
    import org.apache.spark.sql.Row
    import graft.plans._
    import graft.sources.InMemoryIO
    val base = df("k BIGINT", Row(1L), Row(2L))
    val dim = df("dk BIGINT, v STRING", Row(1L, "a"), Row(2L, "b"))
    val plan = TransportPlan.of("out" -> TableMap(Some("base"), Seq(
      Rename("k", "k"),
      Refer("v1", Seq("k"), SearchSource.Original, "dim", Seq("dk"), "v"),
      Refer("v2", Seq("k"), SearchSource.Original, "dim", Seq("dk"), "v",
        formatWanted = Some(c => org.apache.spark.sql.functions.upper(c))))))
    val io = new InMemoryIO(Map("base" -> base, "dim" -> dim))
    val t = new graft.operators.Transportor(io, plan, preload = Set("dim"))
    assertRows(t.frame("out"), Seq(Row(1L, "a", "A"), Row(2L, "b", "B")))
    assert(dim.storageLevel.useMemory || spark.sparkContext.getPersistentRDDs.nonEmpty)
  }
}
