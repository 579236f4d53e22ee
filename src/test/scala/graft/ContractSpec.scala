package graft

/** Guards on the driver contract so future edits can't silently drift:
  * every query either carries oracle SQL or sits on the documented
  * rows-only allowlist. Only operators built on murmur/FNV hashes
  * (minhash/simhash band buckets, the multimodal stub decoder) remain
  * rows-only — those hashes have no DuckDB mirror; each is covered by
  * ground-truth ScalaTests instead. The vector/cosine queries are
  * fully oracled via bit-exact double-fold SQL mirrors. */
class ContractSpec extends SparkSpec {

  // Round 7 closed the last waiver: the catalog's distinct-sketch row
  // is now the KMV sketch (q_profile_kmv — k smallest distinct mix64
  // hashes, exact-integer estimator), fully SQL-replayable. The
  // DataSketches HLL variant stays in the library (Profile.
  // distinctSketch) covered by ExtensionSpec's estimate band + merge
  // identity; its estimator is library-specific, so it never rides
  // the driver catalog. Every catalog query carries oracle SQL.
  private val rowsOnlyAllowlist = Set.empty[String]

  test("every query has oracle SQL or a documented rows-only waiver") {
    val queries = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    val unoracled = queries -- oracled
    assert(unoracled == rowsOnlyAllowlist,
      s"drift: unexpected rows-only=${(unoracled -- rowsOnlyAllowlist).toSeq.sorted} " +
        s"missing=${(rowsOnlyAllowlist -- unoracled).toSeq.sorted}")
    assert((oracled -- queries).isEmpty, s"orphan oracle SQL: ${oracled -- queries}")
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
