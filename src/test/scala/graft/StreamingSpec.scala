package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** Structured Streaming operators, driven synchronously with the
  * memory sink; sessionize is additionally checked against the
  * oracle-verified batch sessionizer (q_events_sessionize logic). */
class StreamingSpec extends SparkSpec {

  private def eventsDf =
    graft.queries.ParityQueries.events(spark, "/root/testdata/sf0.001")

  test("streaming hoppingCounts with size = slide matches the batch hourly aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    eventsDf.coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = eventsDf.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.hoppingCounts(stream, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .select(col("ws").as("h"), col("event_type"), col("n"), col("total_value")).collect().toSet
      val batch = eventsDf
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"), col("value"))
        .groupBy("h", "event_type")
        .agg(count(lit(1)).as("n"),
          graft.functions.ExactAgg.moneySum(col("value"), 100).as("total_value"))
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming hoppingCounts matches the batch sliding-window aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hop_stream").toString
    eventsDf.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(eventsDf.schema).parquet(dir)
    val q = StreamOps.hoppingCounts(stream)
      .writeStream.format("memory").queryName("hopping").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hopping")
        .select("ws", "event_type", "n", "total_value").collect().toSet
      val batch = eventsDf
        .select(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"), col("value"))
        .select(col("w.start").as("ws"), col("event_type"), col("value"))
        .groupBy("ws", "event_type")
        .agg(count(lit(1)).as("n"),
          graft.functions.ExactAgg.moneySum(col("value"), 100).as("total_value"))
        .collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops in-horizon duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_stream").toString
    // duplicate every event once
    eventsDf.unionAll(eventsDf).coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(eventsDf.schema).parquet(dir)
    val q = StreamOps.dedupStream(stream, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == eventsDf.count())
    } finally q.stop()
  }

  test("continuous transport: TableMap with refer join runs per micro-batch") {
    import org.apache.spark.sql.Row
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("graft_tstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tstream_ck").toString
    eventsDf.coalesce(1).write.mode("overwrite").parquet(dir)

    val dim = df("etype STRING, code BIGINT",
      Row("click", 1L), Row("purchase", 2L), Row("signup", 3L), Row("error", 4L), Row("view", 5L))
    val io = new graft.sources.InMemoryIO(Map("event_types" -> dim))
    val plan = TransportPlan.of(
      "fact_events" -> TableMap(Some("events_stream"), Seq(
        Rename("eid", "event_id"),
        Rename("uid", "user_id"),
        Refer("type_code", Seq("event_type"), SearchSource.Original, "event_types",
          Seq("etype"), "code", default = Some(-1L), broadcastLookup = true))))

    val stream = spark.readStream.schema(eventsDf.schema).parquet(dir)
    val q = graft.streaming.StreamOps.transportStream(stream, plan, "fact_events", io, ckpt)
    try q.processAllAvailable() finally q.stop()

    val out = io.readTarget("fact_events")
    assert(out.columns.toSeq == Seq("eid", "uid", "type_code"))
    assert(out.count() == eventsDf.count())
    assert(out.filter(org.apache.spark.sql.functions.col("type_code") === -1L).count() == 0)
  }

  test("continuous transport: FuzzyRefer resolves dirty keys per micro-batch") {
    import org.apache.spark.sql.Row
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("graft_fzstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fzstream_ck").toString
    val obs = df("id BIGINT, name STRING",
      Row(1L, "smal ring"), Row(2L, "blue boltz"), Row(3L, "qqqq"))
    obs.coalesce(1).write.mode("overwrite").parquet(dir)

    val canon = df("cname STRING, price DOUBLE",
      Row("small ring", 10.0), Row("blue bolt", 20.0), Row("red gear", 30.0))
    val io = new graft.sources.InMemoryIO(Map("canon" -> canon))
    val plan = TransportPlan.of(
      "out" -> TableMap(Some("obs_stream"), Seq(
        Rename("id", "id"),
        FuzzyRefer("canon_price", "name", SearchSource.Original, "canon",
          "cname", "price", threshold = 0.4, default = Some(-1.0d)))))

    val stream = spark.readStream.schema(obs.schema).parquet(dir)
    val q = graft.streaming.StreamOps.transportStream(stream, plan, "out", io, ckpt)
    try q.processAllAvailable() finally q.stop()

    // the fuzzy stage (windows + joins) runs on each micro-batch's
    // BATCH plan inside foreachBatch — no streaming-unsupported ops
    assertRows(io.readTarget("out").select("id", "canon_price"),
      Seq(Row(1L, 10.0), Row(2L, 20.0), Row(3L, -1.0)))
  }

  test("continuous transport: a map looks up a pre-seeded target table") {
    import org.apache.spark.sql.Row
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("graft_seedstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seedstream_ck").toString
    eventsDf.coalesce(1).write.mode("overwrite").parquet(dir)
    val seeded = df("etype STRING, code BIGINT", Row("click", 1L), Row("view", 5L))
    val io = new graft.sources.InMemoryIO(Map.empty, Map("event_codes" -> seeded))
    val plan = TransportPlan.of(
      "fact_events" -> TableMap(Some("events_stream"), Seq(
        Rename("eid", "event_id"),
        Refer("type_code", Seq("event_type"), SearchSource.Target, "event_codes",
          Seq("etype"), "code", default = Some(-1L)))))
    val stream = spark.readStream.schema(eventsDf.schema).parquet(dir)
    val q = StreamOps.transportStream(stream, plan, "fact_events", io, ckpt,
      preSeeded = Set("event_codes"))
    try q.processAllAvailable() finally q.stop()
    val codes = eventsDf.select(org.apache.spark.sql.functions.col("event_id").as("eid"),
      org.apache.spark.sql.functions.expr(
        "CASE event_type WHEN 'click' THEN 1L WHEN 'view' THEN 5L ELSE -1L END").as("type_code"))
    assertRows(io.readTarget("fact_events"), codes.collect().toSeq)
  }

  test("continuous transport refuses, before starting, a plan it cannot run per micro-batch") {
    import org.apache.spark.sql.Row
    import graft.plans._
    val dir = java.nio.file.Files.createTempDirectory("graft_rejstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rejstream_ck").toString
    eventsDf.coalesce(1).write.mode("overwrite").parquet(dir)
    val dim = df("etype STRING, code BIGINT", Row("click", 1L), Row("view", 5L))
    val io = new graft.sources.InMemoryIO(Map("event_types" -> dim))
    def lookup(table: String) = Refer("type_code", Seq("event_type"), SearchSource.Target,
      table, Seq("etype"), "code", default = Some(-1L))
    // a target-side lookup into a table the same plan fills: per batch
    // it would be rebuilt from the static IO, not from the stream
    val samePlan = TransportPlan.of(
      "dim_out" -> TableMap(Some("event_types"), Seq(Rename("etype", "etype"),
        Rename("code", "code"))),
      "fact_events" -> TableMap(Some("events_stream"), Seq(
        Rename("eid", "event_id"), lookup("dim_out"))))
    // a target-side lookup into a table neither in the plan nor pre-seeded
    val unfilled = TransportPlan.of(
      "fact_events" -> TableMap(Some("events_stream"), Seq(
        Rename("eid", "event_id"), lookup("missing_dim"))))
    val active0 = spark.streams.active.map(_.id).toSet
    val stream = spark.readStream.schema(eventsDf.schema).parquet(dir)
    val e1 = intercept[IllegalArgumentException](
      StreamOps.transportStream(stream, samePlan, "fact_events", io, ckpt))
    assert(e1.getMessage.contains("dim_out"))
    val e2 = intercept[NoSuchElementException](
      StreamOps.transportStream(stream, unfilled, "fact_events", io, ckpt))
    assert(e2.getMessage.contains("missing_dim"))
    assert(spark.streams.active.map(_.id).toSet == active0, "no query may be left running")
  }

  test("streaming near-dup drop suppresses signature-identical texts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    import org.apache.spark.sql.Row
    val docs = df("doc_id BIGINT, ts TIMESTAMP, text STRING",
      Row(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "the quick brown fox jumps over"),
      Row(2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "THE  Quick brown FOX jumps over"), // same shingles
      Row(3L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "completely different text entirely here"))
    docs.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamOps.nearDupDropStream(stream, "text")
      .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("neardup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept.size == 2 && kept.contains(3L))
      assert(kept.intersect(Set(1L, 2L)).size == 1) // one of the near-dups survives
    } finally q.stop()
  }

  test("streaming near-dup drop over a replayed corpus matches batch dedupAgainst") {
    // The streaming twin of incremental dedup: the standing corpus
    // replays as micro-batch 1, the daily batch arrives as micro-batch
    // 2 — batch-2 survivors must equal Dedup.dedupAgainst(batch,
    // corpus) under the SAME match rule. nearDupDropStream drops on
    // full-signature equality, which is dedupAgainst with the
    // strictest band (bands = 1 — the whole signature is the bucket
    // key) and no jaccard gate (threshold 0: a full-signature
    // collision IS the match).
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val corpus = df("doc_id BIGINT, ts TIMESTAMP, text STRING",
      Row(100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "the quick brown fox jumps over the lazy dog"),
      Row(101L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "completely different text about query engines"))
    val batch = df("doc_id BIGINT, ts TIMESTAMP, text STRING",
      Row(1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "THE  Quick brown FOX jumps over the lazy dog"), // sig-dup of 100
      Row(2L, java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), "entirely novel text on watermarks and state"),
      Row(3L, java.sql.Timestamp.valueOf("2024-01-01 00:12:00"), "another novel document about sessionization"))
    corpus.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(corpus.schema).parquet(dir)
    val q = StreamOps.nearDupDropStream(stream, "text")
      .writeStream.format("memory").queryName("incdedup_out").outputMode("append").start()
    try {
      q.processAllAvailable() // corpus replay = micro-batch 1
      batch.coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable() // the new batch = micro-batch 2
      val streamSurvivors = spark.table("incdedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet.intersect(Set(1L, 2L, 3L))
      val batchSurvivors = graft.operators.Dedup.dedupAgainst(
        batch, corpus, "doc_id", "text",
        numHashes = 64, bands = 1, jaccardThreshold = 0.0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchSurvivors == Set(2L, 3L))
      assert(streamSurvivors == batchSurvivors)
    } finally q.stop()
  }

  test("streaming KMV profile: per-micro-batch sketches merge to the exact batch sketch") {
    // the incremental distinct-profile story end to end: each ingest
    // micro-batch contributes its own bounded sketch rows (foreachBatch
    // + kmvSketchBy), history is never rescanned, and the cross-batch
    // kmvMerge must equal the whole-corpus batch sketch VALUE-for-value
    // (KMV closure — the property q_profile_kmv_merge holds at the
    // driver gate, here proven through the real streaming machinery)
    import org.apache.spark.sql.Row
    import graft.functions.HashExpressions
    val srcDir = java.nio.file.Files.createTempDirectory("graft_kmv_src").toString
    val rows1 = (1L to 400L).map(i => Row(s"g${i % 2}", i % 97))
    val rows2 = (401L to 800L).map(i => Row(s"g${i % 2}", i % 89))
    val all = df("g STRING, v BIGINT", (rows1 ++ rows2): _*)
    val schema = all.schema
    val sketchRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var sketchSchema: org.apache.spark.sql.types.StructType = null
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sk = graft.operators.Profile.kmvSketchBy(
          batch.withColumn("__h", HashExpressions.mix64(col("v")))
            .withColumn("__b", lit(id)),
          Seq("g", "__b"), col("__h"), k = 32)
        sketchSchema = sk.schema
        sketchRows.synchronized { sketchRows ++= sk.collect() }
        ()
      }.start()
    try {
      df("g STRING, v BIGINT", rows1: _*).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      df("g STRING, v BIGINT", rows2: _*).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(sketchRows.nonEmpty && sketchRows.map(_.getLong(1)).toSet.size >= 2,
        "expected sketch rows from at least two micro-batches")
      val parts = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(sketchRows.toSeq: _*)), sketchSchema)
      val merged = graft.operators.Profile.kmvMerge(parts, k = 32, by = Seq("g"))
        .collect().map(r => r.getString(0) ->
          (r.getSeq[Long](1), r.getLong(2), r.getLong(4))).toMap
      val direct = graft.operators.Profile.kmvSketch(
        all.withColumn("__h", HashExpressions.mix64(col("v"))), "g", col("__h"), k = 32)
        .collect().map(r => r.getString(0) ->
          (r.getSeq[Long](1), r.getLong(2), r.getLong(4))).toMap
      assert(merged == direct, s"merged $merged vs direct $direct")
    } finally q.stop()
  }

  test("streaming incremental stats: micro-batch states merge to the direct batch aggregate") {
    // Incremental's streaming face: each ingest micro-batch contributes
    // its own group-cardinality-sized aggregate state (foreachBatch +
    // Incremental.aggregate), history is never rescanned, and the
    // cross-batch merge must equal the from-scratch aggregate row for
    // row — the q_agg_incremental closure property through the real
    // streaming machinery.
    import org.apache.spark.sql.Row
    import graft.operators.Incremental
    import graft.operators.Incremental.Measure
    val srcDir = java.nio.file.Files.createTempDirectory("graft_incstat_src").toString
    val rows1 = (1L to 300L).map(i => Row(s"s${i % 3}", i))
    val rows2 = (301L to 500L).map(i => Row(s"s${i % 3}", i))
    val all = df("k STRING, v BIGINT", (rows1 ++ rows2): _*)
    val schema = all.schema
    val ms = Seq(Measure("count"), Measure("sum", "v"),
      Measure("min", "v"), Measure("max", "v"))
    val stateRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var stateSchema: org.apache.spark.sql.types.StructType = null
    var batches = 0
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val st = Incremental.aggregate(batch, Seq("k"), ms)
        stateSchema = st.schema
        stateRows.synchronized { stateRows ++= st.collect(); batches += 1 }
        ()
      }.start()
    try {
      df("k STRING, v BIGINT", rows1: _*).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      df("k STRING, v BIGINT", rows2: _*).coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(batches >= 2, "expected at least two micro-batches")
      val parts = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(stateRows.toSeq: _*)), stateSchema)
      def canon(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      val merged = Incremental.merge(parts, parts.limit(0), Seq("k"), ms)
      val direct = Incremental.aggregate(all, Seq("k"), ms)
      assert(canon(merged) == canon(direct))
    } finally q.stop()
  }

  test("dedupAgainstStream drops corpus matches per micro-batch, passes novel docs to the sink") {
    import org.apache.spark.sql.Row
    val srcDir = java.nio.file.Files.createTempDirectory("graft_das_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_das_ckpt").toString
    val corpus = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      Row(101L, "completely different content about spark query engines and shuffles"))
    val schema = corpus.schema
    val survivors = scala.collection.mutable.Set.empty[Long]
    val idx = graft.operators.Dedup.corpusIndex(corpus, "doc_id", "text")
    val q = StreamOps.eachBatch(spark.readStream.schema(schema).parquet(srcDir), ckpt, idx) {
      (b, _) => survivors ++= graft.operators.Dedup.dedupAgainst(
        b, corpus, "doc_id", "text", index = Some(idx))
        .select("doc_id").collect().map(_.getLong(0))
    }
    try {
      df("doc_id BIGINT, text STRING",
        Row(1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 100
        Row(2L, "entirely novel text about streaming watermarks and state stores"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      df("doc_id BIGINT, text STRING",
        Row(3L, "THE  Quick   Brown fox jumps over the lazy dog near the river bank"), // fp-dup of 100
        Row(4L, "a second novel document mentioning sessionization and state"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(survivors.toSet == Set(2L, 4L))
    } finally q.stop()
  }

  test("embeddingDedupStream: LSH and semantic modes match their batch operators per micro-batch") {
    import org.apache.spark.sql.Row
    import graft.operators.Dedup
    def vec(axis: Int, wobble: Double): Seq[Double] =
      Seq.tabulate(64)(d => if (d == axis) 1.0 else if (d == axis + 1) wobble else 0.0)
    def fl(v: Seq[Double]): Seq[Float] = v.map(_.toFloat)
    import spark.implicits._
    val corpus = Seq((100L, fl(vec(0, 0.01))), (101L, fl(vec(30, 0.01))))
      .toDF("vec_id", "embedding")
    val b1 = Seq((1L, fl(vec(0, 0.02))), (2L, fl(vec(15, 0.0))))  // 1 = near-dup, 2 novel
    val b2 = Seq((3L, fl(vec(30, 0.02))), (4L, fl(vec(45, 0.0)))) // 3 = near-dup, 4 novel
    val schema = corpus.schema
    val centroids = Array(
      Array.tabulate(64)(d => if (d == 0) 1.0 else 0.0),
      Array.tabulate(64)(d => if (d == 30) 1.0 else 0.0))

    for (mode <- Seq(None, Some(centroids))) {
      val srcDir = java.nio.file.Files.createTempDirectory("graft_eds_src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_eds_ckpt").toString
      val survivors = scala.collection.mutable.Set.empty[Long]
      val idx = mode match {
        case Some(c) => Dedup.semanticCorpusIndex(corpus, "vec_id", "embedding", c)
        case None => Dedup.embeddingCorpusIndex(corpus, "vec_id", "embedding")
      }
      val q = StreamOps.eachBatch(spark.readStream.schema(schema).parquet(srcDir), ckpt, idx) {
        (b, _) => survivors ++= (mode match {
          case Some(c) => Dedup.semanticDedupAgainst(
            b, corpus, "vec_id", "embedding", c, threshold = 0.9, index = Some(idx))
          case None => Dedup.embeddingDedupAgainst(
            b, corpus, "vec_id", "embedding", threshold = 0.9, index = Some(idx))
        }).select("vec_id").collect().map(_.getLong(0))
      }
      try {
        b1.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
        b2.toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
        // stream survivors == the batch operator over b1 ∪ b2
        val batchAll = (b1 ++ b2).toDF("vec_id", "embedding")
        val expect = (mode match {
          case Some(c) => Dedup.semanticDedupAgainst(
            batchAll, corpus, "vec_id", "embedding", c, threshold = 0.9)
          case None => Dedup.embeddingDedupAgainst(
            batchAll, corpus, "vec_id", "embedding", threshold = 0.9)
        }).select("vec_id").collect().map(_.getLong(0)).toSet
        assert(survivors.toSet == expect, s"mode=$mode")
        assert(survivors.toSet == Set(2L, 4L), s"mode=$mode")
      } finally q.stop()
    }
  }

  test("cmsStream: merge-on-read over published batch cells == whole-corpus batch sketch") {
    import org.apache.spark.sql.Row
    import graft.functions.HashExpressions
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cms_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cms_ckpt").toString
    val cellsDir = java.nio.file.Files.createTempDirectory("graft_cms_cells").toString + "/cells"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    val b1 = Seq(Row(1L, "alpha alpha beta"), Row(2L, "gamma"))
    val b2 = Seq(Row(3L, "alpha beta beta delta"))
    def writeBatch(rows: Seq[Row]): Unit =
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("append").parquet(srcDir)
    val q = StreamOps.eachBatch(spark.readStream.schema(schema).parquet(srcDir), ckpt) {
      (b, id) => StreamOps.publishBatch(graft.operators.Profile.cmsCells(
        b.select(explode(HashExpressions.tokenHashes(col("text"))).as("__h")),
        col("__h"), depth = 4, width = 64, seed = 5L), cellsDir, id)
    }
    try {
      writeBatch(b1); q.processAllAvailable()
      writeBatch(b2); q.processAllAvailable()
      val merged = graft.operators.Profile.cmsMerge(spark.read.parquet(cellsDir))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val whole = graft.operators.Profile.cmsCells(
        spark.read.parquet(srcDir).select(
          explode(HashExpressions.tokenHashes(col("text"))).as("__h")),
        col("__h"), depth = 4, width = 64, seed = 5L)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(merged == whole)
      // counters really count occurrences: total mass = 4 rows x 8 tokens
      assert(merged.collect { case ((0, _), c) => c }.sum == 8L)
    } finally q.stop()
  }

  test("lineIndexStream: merged per-batch indexes == whole-corpus lineIndex; " +
    "the merged index drives stripRepeatedLinesAgainst") {
    import org.apache.spark.sql.Row
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lis_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lis_ckpt").toString
    val idxDir = java.nio.file.Files.createTempDirectory("graft_lis_idx").toString + "/idx"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    val b1 = Seq(Row(1L, "hot line\nown text"), Row(2L, "hot line\nmore text"))
    val b2 = Seq(Row(3L, "hot line\nonce only"))
    def writeBatch(rows: Seq[Row]): Unit =
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("append").parquet(srcDir)
    val q = StreamOps.eachBatch(spark.readStream.schema(schema).parquet(srcDir), ckpt) {
      (b, id) => StreamOps.publishBatch(
        graft.operators.Dedup.lineIndex(b, "doc_id", "text"), idxDir, id)
    }
    try {
      writeBatch(b1); q.processAllAvailable()
      writeBatch(b2); q.processAllAvailable()
      val merged = graft.operators.Dedup.lineIndexMerge(spark.read.parquet(idxDir))
      val mergedMap = merged.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val whole = graft.operators.Dedup.lineIndex(
        spark.read.parquet(srcDir), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mergedMap == whole) // df addition == corpus count: one batch per doc
      // 4 distinct lines: "hot line" in all three docs + three singletons
      assert(mergedMap.values.toSeq.sorted == Seq(1L, 1L, 1L, 3L))
      // the merged index is a drop-in corpus side for the batch probe
      val batch = df("doc_id BIGINT, text STRING",
        Row(10L, "hot line\nfresh stuff"))
      val stripped = graft.operators.Dedup.stripRepeatedLinesAgainst(
        batch, merged, "doc_id", "text", minDocFreq = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(stripped.toSeq == Seq((10L, "fresh stuff", 1L)))
    } finally q.stop()
  }

  test("dedupAgainstStoreStream honors tombstone deletes at query start — " +
    "the streaming right-to-be-forgotten path") {
    import org.apache.spark.sql.Row
    import graft.sources.DedupIndexStore
    val corpus = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      Row(101L, "completely different content about spark query engines and shuffles"))
    val schema = corpus.schema
    val b1 = Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 100
      Row(2L, "entirely novel text about streaming watermarks and state stores"))

    // baseline: with the full store, the near-dup of 100 is suppressed
    def run(idxDir: String): Set[Long] = {
      val srcDir = java.nio.file.Files.createTempDirectory("graft_dss_src").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dss_ckpt").toString
      val survivors = scala.collection.mutable.Set.empty[Long]
      val q = StreamOps.dedupAgainstStoreStream(
        spark.readStream.schema(schema).parquet(srcDir),
        corpus, idxDir, "doc_id", "text", ckpt)(out =>
        survivors ++= out.select("doc_id").collect().map(_.getLong(0)))
      try {
        spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(b1: _*)), schema)
          .coalesce(1).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
      } finally q.stop()
      survivors.toSet
    }

    // NON-default banding: the probe must band under the STORE's
    // frozen params (read from disk), or this suppression never fires
    val dirA = java.nio.file.Files.createTempDirectory("graft_dss_idx").toString + "/idx"
    DedupIndexStore.buildMinhash(spark, dirA, corpus, "doc_id", "text",
      shingleN = 4, numHashes = 32, bands = 8)
    assert(run(dirA) == Set(2L), "pre-delete: the near-dup must be suppressed")

    // forget doc 100, restart the stream: its near-dup now SURVIVES —
    // the forgotten document no longer suppresses anything, even
    // though its text row is still passed as the (inert) rescore side
    DedupIndexStore.deleteIds(spark, dirA,
      corpus.filter(col("doc_id") === 100L).select("doc_id"), "doc_id")
    assert(run(dirA) == Set(1L, 2L),
      "post-delete: a forgotten doc must stop suppressing new near-dups")
  }

  test("ingestStream: gates -> incremental dedup -> per-batch states in one " +
    "foreachBatch chain; 3-batch replay merges to the batch chain on the union") {
    import org.apache.spark.sql.Row
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ing_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ing_ckpt").toString
    val statesDir = java.nio.file.Files.createTempDirectory("graft_ing_states").toString + "/states"
    val corpus = df("doc_id BIGINT, source STRING, text STRING",
      Row(100L, "srcA", "the quick brown fox jumps over the lazy dog near the river bank"),
      Row(101L, "srcA", "completely different content about the spark query engines and the shuffles"))
    val schema = corpus.schema
    // each batch carries one clean survivor plus a distinct reject class,
    // so every stage of the chain fires across the replay:
    val b1 = Seq(
      Row(1L, "srcA", "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup -> dedup
      Row(2L, "srcA", "a genuinely novel document about the streaming watermarks and the state stores"),
      Row(3L, "srcB", "this text was damaged in transit � and the gate must drop it")) // encoding
    val b2 = Seq(
      Row(4L, "srcB", "another novel document discussing the sessionization and the window state"),
      Row(5L, "srcB", "zzz qqq xxx vvv kkk pppp mmmm"), // lang/quality gate
      Row(6L, "srcA", "too short here")) // token gate
    val b3 = Seq(
      Row(7L, "srcA", "THE  Quick   Brown fox jumps over the lazy dog near the river bank"), // fp-dup
      Row(8L, "srcB", "a third novel document about the broadcast joins and the partition pruning"))
    def writeBatch(rows: Seq[Row]): Unit =
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("append").parquet(srcDir)
    val sunk = scala.collection.mutable.Set.empty[Long]
    val q = StreamOps.ingestStream(
      spark.readStream.schema(schema).parquet(srcDir),
      corpus, "doc_id", "source", "text", statesDir, ckpt)(out =>
      sunk ++= out.select("doc_id").collect().map(_.getLong(0)))
    try {
      writeBatch(b1); q.processAllAvailable()
      writeBatch(b2); q.processAllAvailable()
      writeBatch(b3); q.processAllAvailable()
      assert(new java.io.File(statesDir + "/batch=2").isDirectory,
        "each micro-batch must publish its own state partition")

      def canon(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      // the live merge-on-read manifest == the composed BATCH chain
      // (gates -> dedupAgainst -> states -> merge) on the union
      val union = spark.read.parquet(srcDir)
      val batchChain = graft.operators.Profile.manifestMerge(
        graft.operators.Profile.manifestStates(
          StreamOps.ingestBatch(union, corpus, "doc_id", "source", "text"),
          "source", "text"))
      assert(canon(StreamOps.ingestManifest(spark, statesDir)) == canon(batchChain))
      // and the gates really fired: exactly the three clean novel docs survive
      val survivors = StreamOps.ingestBatch(union, corpus, "doc_id", "source", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(survivors == Set(2L, 4L, 8L))
      // the sink saw the same survivors the state publish counted
      assert(sunk.toSet == survivors,
        "the survivors sink and the published states must see one world")
    } finally q.stop()
  }

  test("minhash/line store streams append idempotent forgettable segments; " +
    "deletes keep working on the streamed store") {
    import org.apache.spark.sql.Row
    import graft.sources.DedupIndexStore
    import graft.operators.Dedup
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    val seed = df("doc_id BIGINT, text STRING",
      Row(100L, "seed corpus line\nthe quick brown fox jumps over the lazy dog"))
    val b1 = Seq(Row(1L, "seed corpus line\nnovel text about the streaming watermarks"),
      Row(2L, "another document with its own content entirely"))
    val b2 = Seq(Row(3L, "seed corpus line\na third document arrives later"))
    def writeBatch(srcDir: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
        .coalesce(1).write.mode("append").parquet(srcDir)

    // ---- line store stream
    val lnDir = java.nio.file.Files.createTempDirectory("graft_lss_idx").toString + "/idx"
    DedupIndexStore.buildLines(spark, lnDir, seed, "doc_id", "text")
    val lnSrc = java.nio.file.Files.createTempDirectory("graft_lss_src").toString
    val lnCkpt = java.nio.file.Files.createTempDirectory("graft_lss_ckpt").toString
    val lq = StreamOps.lineStoreStream(
      spark.readStream.schema(schema).parquet(lnSrc), lnDir, "doc_id", "text", lnCkpt)
    try {
      writeBatch(lnSrc, b1); lq.processAllAvailable()
      writeBatch(lnSrc, b2); lq.processAllAvailable()
    } finally lq.stop()
    assert(new java.io.File(graft.sources.Segments.resolve(spark, lnDir) +
      s"/lines/seg=${graft.sources.Segments.StreamSegBase}").isDirectory)
    def lnRows = DedupIndexStore.readLines(spark, lnDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = Dedup.lineIndex(
      seed.unionByName(spark.read.parquet(lnSrc)), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lnRows == whole, "streamed store == one-shot index over the union")
    // replaying a batch publish at the same segment id is a no-op
    assert(!DedupIndexStore.appendLines(spark, lnDir,
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(b1: _*)), schema),
      "doc_id", "text", Some(graft.sources.Segments.StreamSegBase)))
    assert(lnRows == whole, "a replayed publish must not double-count")
    // and the streamed store still honors deletes
    DedupIndexStore.deleteIds(spark, lnDir,
      seed.select("doc_id"), "doc_id")
    assert(DedupIndexStore.readLines(spark, lnDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Dedup.lineIndex(spark.read.parquet(lnSrc), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "post-delete streamed store == never-ingested index")

    // ---- minhash store stream
    val mhDir = java.nio.file.Files.createTempDirectory("graft_mss_idx").toString + "/idx"
    DedupIndexStore.buildMinhash(spark, mhDir, seed, "doc_id", "text")
    val mhSrc = java.nio.file.Files.createTempDirectory("graft_mss_src").toString
    val mhCkpt = java.nio.file.Files.createTempDirectory("graft_mss_ckpt").toString
    val mq = StreamOps.minhashStoreStream(
      spark.readStream.schema(schema).parquet(mhSrc), mhDir, "doc_id", "text", mhCkpt)
    try {
      writeBatch(mhSrc, b1); mq.processAllAvailable()
      writeBatch(mhSrc, b2); mq.processAllAvailable()
    } finally mq.stop()
    def mhRows = DedupIndexStore.readMinhash(spark, mhDir)
      .collect().map(_.toString).toSet
    assert(mhRows == Dedup.corpusIndex(
      seed.unionByName(spark.read.parquet(mhSrc)), "doc_id", "text", 3, 64, 16)
      .collect().map(_.toString).toSet)
    assert(!DedupIndexStore.appendMinhash(spark, mhDir,
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(b2: _*)), schema),
      "doc_id", "text", Some(graft.sources.Segments.StreamSegBase + 1)))

    // range separation: a manual append AFTER streamed segments exist
    // must auto-number BELOW the streamed floor (never inside it —
    // where it would masquerade as a future batch's replayed publish),
    // and the next streamed batch id must still publish
    val manual = Seq(Row(9L, "a late manual backfill document arrives"))
    DedupIndexStore.appendMinhash(spark, mhDir,
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(manual: _*)), schema),
      "doc_id", "text")
    assert(new java.io.File(graft.sources.Segments.resolve(spark, mhDir) +
      "/bands/seg=1").isDirectory,
      "manual append must land below the streamed range")
    assert(DedupIndexStore.appendMinhash(spark, mhDir,
      spark.createDataFrame(new java.util.ArrayList(java.util.Arrays.asList(manual: _*)), schema),
      "doc_id", "text", Some(graft.sources.Segments.StreamSegBase + 2)),
      "the next streamed batch id must still be publishable")
  }

  test("bloomDedupStream drops exact corpus dupes per micro-batch, matches the batch operator") {
    import org.apache.spark.sql.Row
    val srcDir = java.nio.file.Files.createTempDirectory("graft_bds_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bds_ckpt").toString
    val corpus = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      Row(101L, "completely different content about spark query engines and shuffles"))
    val schema = corpus.schema
    val b1 = df("doc_id BIGINT, text STRING",
      Row(1L, "THE  Quick   Brown fox jumps over the lazy dog near the river bank"), // fp-dup of 100
      Row(2L, "entirely novel text about streaming watermarks and state stores"))
    val b2 = df("doc_id BIGINT, text STRING",
      Row(3L, "completely different content about spark query engines and shuffles"), // exact dup of 101
      Row(4L, "a second novel document mentioning sessionization and state"))
    val survivors = scala.collection.mutable.Set.empty[Long]
    val bloom = graft.operators.Dedup.corpusBloom(corpus, "text")
    val q = StreamOps.eachBatch(spark.readStream.schema(schema).parquet(srcDir), ckpt) {
      (b, _) => survivors ++= graft.operators.Dedup.bloomDedupAgainst(
        b, corpus, "doc_id", "text", bloom = Some(bloom))
        .select("doc_id").collect().map(_.getLong(0))
    }
    try {
      b1.coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(survivors.toSet == Set(2L, 4L))
      // parity: the batch operator on the replayed batches keeps the same ids
      val batchKept = graft.operators.Dedup
        .bloomDedupAgainst(b1.union(b2), corpus, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchKept == survivors.toSet)
    } finally q.stop()
  }

  test("decontaminateStream drops eval-overlapping docs per micro-batch, matches the batch operator") {
    import org.apache.spark.sql.Row
    val srcDir = java.nio.file.Files.createTempDirectory("graft_dcs_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dcs_ckpt").toString
    val evalSet = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps high above"))
    val schema = evalSet.schema
    val b1 = df("doc_id BIGINT, text STRING",
      Row(1L, "once the quick brown fox jumps away"), // shares a 4-gram -> dropped
      Row(2L, "entirely novel text about streaming watermarks and state stores"))
    val b2 = df("doc_id BIGINT, text STRING",
      Row(3L, "we saw the quick brown fox jumps high again"), // shares -> dropped
      Row(4L, "a second novel document mentioning sessionization and state"))
    val survivors = scala.collection.mutable.Set.empty[Long]
    val evalSh = graft.operators.Dedup.evalShingleSet(evalSet, "text", shingleN = 4)
    val q = StreamOps.eachBatch(spark.readStream.schema(schema).parquet(srcDir), ckpt, evalSh) {
      (b, _) =>
        val hits = graft.operators.Dedup.contaminationMatches(
          b, evalSet, "doc_id", "text", shingleN = 4, evalShingles = Some(evalSh))
        survivors ++= b.join(hits, b("doc_id") === hits("doc_id"), "left_anti")
          .select("doc_id").collect().map(_.getLong(0))
    }
    try {
      b1.coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      b2.coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(survivors.toSet == Set(2L, 4L))
      // parity: the batch operator on the replayed batches drops the same ids
      val replay = b1.union(b2)
      val batchHits = graft.operators.Dedup
        .contaminationMatches(replay, evalSet, "doc_id", "text", shingleN = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchHits == Set(1L, 3L))
    } finally q.stop()
  }

  test("event-time sessionize: identical assignments whether events arrive in 1 or 3 batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, uid: Long, tsSec: Long) = Event(id, uid, tsSec * 1000000L, "e", 1.0)
    // event 2 (ts 10060) ARRIVES after event 4 (ts 15000) — the
    // cross-batch out-of-order case the processing-time sessionizer
    // would missequence; the sentinels only push the final watermark
    // past every real event so the buffers fully flush
    val b1 = Seq(ev(1, 1, 10000), ev(4, 1, 15000), ev(10, 2, 10100))
    val b2 = Seq(ev(2, 1, 10060), ev(11, 2, 12000))
    val sentinelIds = Set(98L, 99L)
    val b3 = Seq(ev(3, 1, 15060), ev(12, 2, 12100), ev(99, 1, 200000), ev(98, 2, 200000))

    def run(name: String, batches: Seq[Seq[Event]]): Map[(Long, Long), Long] = {
      val ms = MemoryStream[Event]
      val q = StreamOps.sessionizeEventTime(ms.toDS(), watermarkDelay = "2 hours")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        q.processAllAvailable()
        spark.table(name).as[StreamOps.SessionAssign].collect()
          .filterNot(s => sentinelIds.contains(s.event_id))
          .map(s => (s.user_id, s.event_id) -> s.session_seq).toMap
      } finally q.stop()
    }

    val three = run("sess3", Seq(b1, b2, b3))
    val one = run("sess1", Seq(b1 ++ b2 ++ b3))
    assert(three == one)
    // ground truth from the 30-min gap rule in EVENT-TIME order:
    // user 1: 10000,10060 | 15000,15060 — user 2: 10100 | 12000,12100
    val expect = Map(
      (1L, 1L) -> 1L, (1L, 2L) -> 1L, (1L, 4L) -> 2L, (1L, 3L) -> 2L,
      (2L, 10L) -> 1L, (2L, 11L) -> 2L, (2L, 12L) -> 2L)
    assert(three == expect)
  }

  test("event-time sessionize idle eviction resets seq; default persists it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, uid: Long, tsSec: Long) = Event(id, uid, tsSec * 1000000L, "e", 1.0)
    // user 1: one early session; user 2 is the watermark mover whose
    // sentinels advance event time far enough to fire user 1's idle
    // timeout before user 1 speaks again
    val batches = Seq(
      Seq(ev(1, 1, 1000), ev(90, 2, 1000)),
      Seq(ev(91, 2, 50000)),            // wm -> ~49990: flushes user 1, arms idle timeout
      Seq(ev(92, 2, 100000)),           // wm -> ~99990: idle timeout fires (evict if enabled)
      Seq(ev(2, 1, 150000), ev(93, 2, 200000))) // user 1 returns; final sentinel flushes
    def run(name: String, idle: Option[Long]): Map[Long, Long] = {
      val ms = MemoryStream[Event]
      val q = StreamOps.sessionizeEventTime(ms.toDS(), watermarkDelay = "10 seconds",
        idleStateTimeoutMs = idle)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        q.processAllAvailable()
        spark.table(name).as[StreamOps.SessionAssign].collect()
          .filter(_.user_id == 1L).map(s => s.event_id -> s.session_seq).toMap
      } finally q.stop()
    }
    // default: (lastTs, seq) persists while idle -> second session is seq 2
    val persisted = run("sess_keep", None)
    assert(persisted == Map(1L -> 1L, 2L -> 2L))
    // with idle eviction: user 1's state is reaped during the silence,
    // so the returning event restarts at seq 1 (the documented trade)
    val evicted = run("sess_evict", Some(10000L))
    assert(evicted == Map(1L -> 1L, 2L -> 1L))
  }

  test("stateful sessionize (flatMapGroupsWithState) matches the batch sessionizer") {
    import spark.implicits._
    val ev = eventsDf.select(
      col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsMicros"),
      col("event_type"), col("value")).as[Event]

    val streamed = StreamOps.sessionize(ev)
      .collect().map(s => (s.user_id, s.event_id) -> s.session_seq).toMap

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val prev = lag(col("ts"), 1).over(w)
    val batch = eventsDf
      .withColumn("__new",
        when(prev.isNull || unix_micros(col("ts")) - unix_micros(prev) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("__new")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)).cast("bigint"))
      .select("user_id", "event_id", "session_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("streaming golden-record states merge to the direct batch master table") {
    // incremental MDM through the real machinery: each micro-batch
    // contributes its cluster-keyed arg-max witness states
    // (foreachBatch + goldenRecordState), history is never rescanned,
    // and the cross-batch merge must equal the from-scratch golden
    // record row for row — the struct-max closure property
    import org.apache.spark.sql.Row
    import graft.operators.FuzzyJoin
    val srcDir = java.nio.file.Files.createTempDirectory("graft_golden_src").toString
    val rows1 = Seq(
      Row(1L, 10L, 1L, "111", "rome"),
      Row(1L, 20L, 2L, null, "oslo"),
      Row(2L, 5L, 3L, null, null))
    val rows2 = Seq(
      Row(1L, 30L, 4L, null, null),     // newest, knows nothing new
      Row(2L, 9L, 5L, "222", null))
    val schema = df("c BIGINT, o BIGINT, id BIGINT, phone STRING, city STRING",
      rows1: _*).schema
    val stateRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var stateSchema: org.apache.spark.sql.types.StructType = null
    var batches = 0
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val st = FuzzyJoin.goldenRecordState(batch, "c", "o", "id",
          Seq("phone", "city"))
        stateSchema = st.schema
        stateRows.synchronized { stateRows ++= st.collect(); batches += 1 }
        ()
      }.start()
    try {
      df("c BIGINT, o BIGINT, id BIGINT, phone STRING, city STRING", rows1: _*)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      df("c BIGINT, o BIGINT, id BIGINT, phone STRING, city STRING", rows2: _*)
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(batches >= 2, "expected at least two micro-batches")
      val parts = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(stateRows.toSeq: _*)), stateSchema)
      val merged = FuzzyJoin.goldenFromState(
        FuzzyJoin.mergeGoldenStates(Seq(parts), "c", Seq("phone", "city")),
        "c", Seq("phone", "city"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getString(2), r.getLong(3)))).toSet
      val direct = FuzzyJoin.goldenRecord(
        df("c BIGINT, o BIGINT, id BIGINT, phone STRING, city STRING",
          (rows1 ++ rows2): _*), "c", "o", "id", Seq("phone", "city"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getString(2), r.getLong(3)))).toSet
      assert(direct == Set(1L -> (("111", "oslo", 3L)), 2L -> (("222", null, 2L))))
      assert(merged == direct)
    } finally q.stop()
  }

  test("streaming EWMA across split micro-batches matches the batch window operator") {
    import org.apache.spark.sql.Row
    import graft.streaming.StreamOps.TickValue
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma").toString
    val part1 = df("key STRING, tick BIGINT, value BIGINT",
      Row("a", 1L, 5L), Row("a", 2L, 0L), Row("a", 3L, 9L),
      Row("b", 1L, 2L))
    val part2 = df("key STRING, tick BIGINT, value BIGINT",
      Row("a", 4L, 7L), Row("a", 5L, 1L),
      Row("b", 2L, 4L), Row("b", 3L, 6L))
    part1.coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(part1.schema).parquet(dir)
    import spark.implicits._
    val q = StreamOps.ewmaStream(stream.as[TickValue], 1, 2, 3)
      .writeStream.format("memory").queryName("ewma_out").outputMode("append").start()
    try {
      q.processAllAvailable()              // micro-batch 1
      part2.coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()              // micro-batch 2 continues the state
      val streamed = spark.table("ewma_out")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      val batch = graft.operators.Resample.ewmaSmooth(
        part1.unionByName(part2), "key", "tick", "value", 1, 2, 3)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      assert(streamed.size == 8)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("event-time ewma: out-of-order ticks finalize in event-time order; " +
    "shuffled 3-batch ≡ ordered 1-batch ≡ batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tv(k: String, sec: Long, v: Long) = StreamOps.TickValue(k, sec * 1000000L, v)
    val sentinelTick = 999999L * 1000000L
    // a@200 ARRIVES after a@300 — the cross-batch reorder the
    // processing-time ewmaStream would fold in the wrong order; the
    // sentinels only push the final watermark past every real tick
    val b1 = Seq(tv("a", 100, 10), tv("a", 300, 30), tv("b", 100, 5))
    val b2 = Seq(tv("a", 200, 20), tv("b", 50, 7))
    val b3 = Seq(tv("a", 400, 40), tv("a", 999999, 0), tv("b", 999999, 0))

    def run(name: String, batches: Seq[Seq[StreamOps.TickValue]]) = {
      val ms = MemoryStream[StreamOps.TickValue]
      val q = StreamOps.ewmaEventTime(ms.toDS(), 1, 2, 3,
        watermarkDelay = "2 hours")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        q.processAllAvailable()
        spark.table(name).collect()
          .filter(_.getLong(1) != sentinelTick)
          .map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      } finally q.stop()
    }

    val three = run("etewma3", Seq(b1, b2, b3))
    val one = run("etewma1", Seq((b1 ++ b2 ++ b3).sortBy(_.tick)))
    assert(three == one)
    val batch = graft.operators.Resample.ewmaSmooth(
      (b1 ++ b2).toDF().select(col("key"), col("tick"), col("value"))
        .unionByName(Seq(tv("a", 400, 40)).toDF()
          .select(col("key"), col("tick"), col("value"))),
      "key", "tick", "value", 1, 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(three.size == 6)
    assert(three == batch)
  }

  test("streaming chat gate: the stateless inline validator runs per micro-batch unchanged") {
    import graft.operators.Chat
    val rows = Seq(
      org.apache.spark.sql.Row(1L, """[{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]"""),
      org.apache.spark.sql.Row(2L, """[{"role":"user","content":"a"},{"role":"user","content":"b"}]"""),
      org.apache.spark.sql.Row(3L, """not json"""),
      org.apache.spark.sql.Row(4L, """[{"role":"user","content":"q"},{"role":"assistant","content":""}]"""))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, transcript STRING")
    val batchDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = java.nio.file.Files.createTempDirectory("graft_chat_stream").toString
    batchDf.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    // the zero-shuffle gate is a pure projection, so it attaches to a
    // stream with APPEND output — no state store, no watermark
    val q = Chat.validateTranscripts(stream, "doc_id", "transcript")
      .writeStream.format("memory").queryName("chat_gate").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chat_gate").collect().map(_.toSeq).toSet
      val batch = Chat.validateTranscripts(batchDf, "doc_id", "transcript")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.size == 3) // doc 3 malformed -> absent
    } finally q.stop()
  }

  test("scoreStream: frozen batch-trained weights score micro-batches " +
    "exactly like batch scoreFx over the union") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import graft.operators.{Classifier, Search}
    val corpus = df("doc_id BIGINT, text STRING",
      Row(1L, "the quick brown fox jumps over the lazy dog"),
      Row(2L, "spark query engines shuffle and broadcast and spill"),
      Row(3L, "a short clean sentence about rivers and banks"),
      Row(4L, "tokenizer vocabularies grow with corpus entropy"),
      Row(5L, "the quick brown fox naps under the lazy dog"),
      Row(6L, "watermarks close reorder windows in event time"))
    // batch-side training: the model the stream will serve frozen
    val feats = Search.hashedFeatures(corpus, "doc_id", "text", dims = 64, seed = 11L)
    val labels = corpus.select(col("doc_id"),
      (col("doc_id") % 2).cast("long").as("label"))
    val w = Classifier.trainLogisticFx(feats, labels, dims = 64, iters = 2)
    val want = Classifier.scoreFx(corpus, "doc_id", feats, w)
      .collect().map(_.toSeq).toSet
    val srcDir = java.nio.file.Files.createTempDirectory("graft_score_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_score_ckpt").toString
    val got = scala.collection.mutable.Set.empty[Seq[Any]]
    val q = StreamOps.eachBatch(spark.readStream.schema(corpus.schema).parquet(srcDir), ckpt, w) {
      (b, _) => got ++= Classifier.scoreFx(b, "doc_id",
        Search.hashedFeatures(b, "doc_id", "text", dims = 64, seed = 11L), w)
        .collect().map(_.toSeq)
    }
    try {
      // two micro-batches — per-doc scores must not depend on the split
      corpus.filter(col("doc_id") <= 3).coalesce(1)
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      corpus.filter(col("doc_id") > 3).coalesce(1)
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      assert(got.toSet == want && want.size == 6)
    } finally q.stop()
    // the cached weight table releases itself when the query
    // terminates (QueryTerminated listener) — the retrain-and-restart
    // cadence must not leak a cached table per restart. The listener
    // bus is async; poll briefly.
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (w.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
           System.nanoTime() < deadline) Thread.sleep(100)
    assert(w.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "eachBatch must unpersist its frozen weights on query termination")
  }

  test("eachBatch frees its frozen frames and its listener when a batch fails") {
    import org.apache.spark.storage.StorageLevel
    val srcDir = java.nio.file.Files.createTempDirectory("graft_eb_fail_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_eb_fail_ckpt").toString
    val frozenA = spark.range(10).toDF("k")
    val frozenB = spark.range(5).toDF("k")
    // by identity: an earlier query's listener may still be leaving the bus
    val listeners0 = spark.streams.listListeners().toSet
    val q = StreamOps.eachBatch(spark.readStream.schema("k BIGINT").parquet(srcDir), ckpt,
      frozenA, frozenB) { (_, _) => throw new IllegalStateException("batch function failed") }
    try {
      assert(frozenA.storageLevel != StorageLevel.NONE &&
        frozenB.storageLevel != StorageLevel.NONE, "frozen frames persist at query start")
      spark.range(3).toDF("k").coalesce(1).write.mode("append").parquet(srcDir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.getMessage == "batch function failed"), e.toString)
    } finally q.stop()
    // the listener bus is async; poll briefly
    def added = spark.streams.listListeners().toSet -- listeners0
    def released = Seq(frozenA, frozenB).forall(_.storageLevel == StorageLevel.NONE) &&
      added.isEmpty
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!released && System.nanoTime() < deadline) Thread.sleep(100)
    assert(frozenA.storageLevel == StorageLevel.NONE && frozenB.storageLevel == StorageLevel.NONE,
      "a failed query must unpersist every frozen frame")
    assert(added.isEmpty, "a failed query must remove its termination listener")
  }
}
