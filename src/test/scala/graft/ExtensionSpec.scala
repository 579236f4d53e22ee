package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions, SimilarityFunctions, TextFunctions}
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity}

/** Dedup / similarity / text / multimodal operators: deterministic
  * unit semantics plus LSH-vs-brute-force ground truth. */
class ExtensionSpec extends SparkSpec {

  private def docs = df("doc_id BIGINT, text STRING",
    Row(1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    Row(2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    Row(3L, "completely different content about spark query engines and shuffles"),
    Row(4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    Row(5L, "THE  Quick   Brown fox jumps over the lazy dog near the river bank")) // fp-dup of 1

  test("minhash signature is deterministic and identical for equal shingle sets") {
    val sig = docs.select(col("doc_id"),
      HashExpressions.minhashSignature(TextFunctions.shingles(col("text"), 3)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(4L))
    assert(sig(1L) != sig(3L))
    assert(sig(1L).size == 64)
  }

  test("minhashPairs finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 3,
      numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated never passes 0.5
  }

  test("minhash LSH candidates cover all high-jaccard pairs on a broader corpus (vs brute force)") {
    // deterministic synthetic corpus: clusters of small perturbations
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val rows = (0 until 40).map { i =>
      val words = base.split(" ").toVector.updated(i % 16, s"w$i")
      Row(i.toLong, words.mkString(" "))
    }
    val corpus = df("doc_id BIGINT, text STRING", rows: _*)
    // brute-force ground truth at jaccard >= 0.6 over the same shingles
    val sh = corpus.select(col("doc_id"),
      array_distinct(TextFunctions.shingles(col("text"), 2)).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("j") >= 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minhashPairs(corpus, "doc_id", "text", shingleN = 2,
      numHashes = 64, bands = 32, jaccardThreshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    // exact-jaccard filter removes FPs => got ⊆ truth; banding at r=2 keeps recall high
    assert(got.subsetOf(truth))
    assert(got.size >= (truth.size * 0.9).toInt,
      s"LSH recall too low: ${got.size}/${truth.size}")
  }

  test("simhashPairs: exact dup at hamming 0; near-dup within radius; unrelated outside") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("editDistancePairs: LSH candidates gated by exact levenshtein") {
    val docs = df("doc_id BIGINT, text STRING",
      Row(1L, "the quick brown fox jumps over the lazy dog tonight"),
      Row(2L, "the quick brown fox jumps over the lazy cat tonight"), // dist 3
      Row(3L, "the quick brown fox jumps over the lazy dog tonight"), // dist 0 to 1
      Row(4L, "completely different content about spark aggregation plans"))
    val pairs = graft.operators.Dedup.editDistancePairs(
        docs, "doc_id", "text", maxDistance = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 3L, 0)))
    assert(pairs.contains((1L, 2L, 3)) && pairs.contains((2L, 3L, 3)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("exact dedup groups and fingerprint dedup (case/whitespace-insensitive)") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.count() == 4) // 1==4 exactly
    val kept = Dedup.exactByFingerprint(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L)) // 4 exact-dups 1; 5 normalizes to 1
  }

  test("cosine matches a hand computation; zero vector yields 0") {
    val v = df("id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
      Row(1L, Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Row(2L, Seq(1.0, 2.0), Seq(2.0, 4.0)),
      Row(3L, Seq(0.0, 0.0), Seq(1.0, 1.0)))
    val got = v.select(col("id"), SimilarityFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 0.0) < 1e-12)
    assert(math.abs(got(2L) - 1.0) < 1e-12)
    assert(got(3L) == 0.0)
  }

  test("LSH top-k recall vs brute force on the embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .select("id").collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(rest, "vec_id", "embedding", q, 10,
      numPlanes = 8, probeHamming = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lsh.size == 10)
    // random-ish fixture vectors: multi-probe at hamming<=3 of 8 planes
    // must recover a meaningful fraction of the true neighbors
    assert((brute intersect lsh).size >= 4,
      s"ANN recall too low: ${(brute intersect lsh).size}/10")
  }

  test("multimodal: pack schema, deterministic stub decode, batch shape") {
    val packed = Multimodal.pack(docs, "doc_id", "text")
    assert(packed.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "payload", "byte_len"))
    assert(packed.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.features(spark, docs, "doc_id", "text")
    assert(feats.count() == 5)
    val f1 = feats.filter(col("doc_id") === 1).head()
    val f4 = feats.filter(col("doc_id") === 4).head()
    assert(f1.getLong(f1.fieldIndex("feat_hash")) == f4.getLong(f4.fieldIndex("feat_hash"))) // same payload => same features
    assert(f1.getInt(f1.fieldIndex("width")) >= 64 && f1.getInt(f1.fieldIndex("height")) >= 64)
  }

  test("connectedComponents matches brute union-find on chains, cycles, and isolates") {
    // chain 1-2-3-4, cycle 10-11-12-10, bridge 4-10 merging them,
    // separate pair 50-51, long chain 100..110 exercising propagation depth
    val pairRows = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
      (4L, 10L), (50L, 51L)) ++ (100L until 110L).map(i => (i, i + 1))
    val pairs = df("id_a BIGINT, id_b BIGINT", pairRows.map(p => Row(p._1, p._2)): _*)
    val got = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = pairRows.flatMap(p => Seq(p._1, p._2)).distinct
    val truth = ids.map(i => i -> find(i)).toMap
    assert(got == truth)
    // the merged chain+cycle component labels everyone with the min id
    assert(got(12L) == 1L && got(4L) == 1L)
    assert(got(51L) == 50L)
    assert(got(110L) == 100L)
  }

  test("connectedComponents with a reliable checkpointDir matches the default path") {
    val pairRows = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L), (50L, 51L))
    val pairs = df("id_a BIGINT, id_b BIGINT", pairRows.map(p => Row(p._1, p._2)): _*)
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    try {
      val got = graft.operators.Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
        50L -> 50L, 51L -> 50L))
      // reliable checkpoints actually got written (cluster-durable state)
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected reliable checkpoint files on disk")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("connectedComponents releases its working state; release() frees the result") {
    // start from a clean block manager — earlier tests' results are
    // legitimately still persisted
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val pairs = df("id_a BIGINT, id_b BIGINT",
      (1L until 20L).map(i => Row(i, i + 1)): _*)
    val result = graft.operators.Dedup.connectedComponents(pairs)
    val persisted = spark.sparkContext.getPersistentRDDs
    // only the result's own backing RDD may remain persisted —
    // superseded passes, the edge set, and the pair set are freed
    assert(persisted.size <= 1,
      s"iteration state leaked: ${persisted.size} persisted RDDs")
    assert(result.count() == 20)
    graft.operators.Stage.free(result)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must unpersist the result's backing RDD")
    // released frame stays valid — it recomputes from lineage
    assert(result.count() == 20)
  }

  test("keepOnePerCluster auto-releases the components labeling") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val docs = df("doc_id BIGINT, text STRING",
      (1L to 6L).map(i => Row(i, s"doc $i")): _*)
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Row(1L, 2L), Row(2L, 3L), Row(5L, 6L))
    val kept = graft.operators.Dedup.keepOnePerCluster(docs, "doc_id", pairs)
    // the full components labeling was released at construction; only
    // the materialized drop set (one id column) stays persisted
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      "auto-release left components state persisted")
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 4L, 5L))
    graft.operators.Stage.free(kept)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release(result) must free the drop set")
    // released frame stays valid — recomputes from lineage
    assert(kept.count() == 3)
  }

  test("keepOnePerCluster keeps the min id per cluster plus unpaired rows") {
    val docs = df("doc_id BIGINT, text STRING",
      (1L to 6L).map(i => Row(i, s"doc $i")): _*)
    // clusters {1,2,3} and {5,6}; 4 unpaired
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Row(1L, 2L), Row(2L, 3L), Row(5L, 6L))
    val kept = graft.operators.Dedup.keepOnePerCluster(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("keepBestPerCluster keeps the max-score member, ties on min id, unpaired pass") {
    val docs = df("doc_id BIGINT, score DOUBLE",
      Row(1L, 0.2), Row(2L, 0.9), Row(3L, 0.9), Row(4L, 0.5),
      Row(5L, 0.1), Row(6L, 0.7))
    // clusters {1,2,3} (best: 2 and 3 tie at 0.9 -> min id 2) and
    // {5,6} (best: 6); 4 unpaired
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Row(1L, 2L), Row(2L, 3L), Row(5L, 6L))
    val kept = graft.operators.Dedup.keepBestPerCluster(
        docs, "doc_id", col("score"), pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L))
  }

  test("psiDrift: hand-computed terms, one-sided bins dropped, marginals use full totals") {
    val a = df("v DOUBLE", Row(5.0), Row(5.0), Row(15.0), Row(35.0))
    val b = df("v DOUBLE", Row(5.0), Row(15.0), Row(15.0), Row(25.0))
    val got = graft.operators.Profile.psiDrift(a, b, "v", binWidth = 10.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    // shared bins 0 and 1; bin 3 (A-only) and bin 2 (B-only) dropped
    assert(got.keySet == Set(0L, 1L))
    val q = (1L << 20).toDouble
    def termQ(ca: Double, cb: Double): Long =
      math.floor((ca / 4.0 - cb / 4.0) * math.log((ca / 4.0) / (cb / 4.0)) * q).toLong
    assert(got(0L).getLong(1) == 2L && got(0L).getLong(2) == 1L)
    assert(got(0L).getLong(5) == termQ(2, 1))
    assert(got(1L).getLong(5) == termQ(1, 2))
    // totals include the dropped bins: p_a uses n=4, not 3
    assert(got(0L).getDouble(3) == 0.5)
  }

  test("dedupAgainst drops exact/fp/near corpus matches, keeps novel rows, never self-pairs the corpus") {
    val corpus = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      // corpus-INTERNAL exact dup: must not affect the batch result and
      // must never appear in the output (the corpus is not self-paired)
      Row(101L, "the quick brown fox jumps over the lazy dog near the river bank"),
      Row(102L, "completely different content about spark query engines and shuffles"))
    val batch = df("doc_id BIGINT, text STRING",
      Row(1L, "THE  Quick   Brown fox jumps over the lazy dog near the river bank"), // fp-dup of 100
      Row(2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 100
      Row(3L, "entirely novel text about streaming watermarks and state stores"))
    val out = Dedup.dedupAgainst(batch, corpus, "doc_id", "text", jaccardThreshold = 0.5)
    assert(out.columns.toSeq == batch.columns.toSeq) // schema passes through
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("dedupAgainst with a precomputed index never re-signatures the corpus") {
    val corpus = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      Row(102L, "completely different content about spark query engines and shuffles"))
    val batch = df("doc_id BIGINT, text STRING",
      Row(2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      Row(3L, "entirely novel text about streaming watermarks and state stores"))
    // persist the index like production would, so its lazy plan (which
    // contains the corpus signature expression) is not re-executed —
    // the read-back frame is a plain scan
    val dir = java.nio.file.Files.createTempDirectory("graft_cindex").toString
    Dedup.corpusIndex(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    val out = Dedup.dedupAgainst(batch, corpus, "doc_id", "text",
      jaccardThreshold = 0.5, index = Some(idx))
    // behavior identical to the index-free path
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    // the plan signatures ONLY the batch side: exactly one
    // MinHashSignature expression — per-batch corpus-side work is the
    // bucket probe plus candidate rescore, not a corpus re-signature
    val sigs = out.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case _: graft.functions.MinHashSignature => 1
      }.sum).sum
    }.sum
    assert(sigs == 1, s"expected 1 batch-side signature expression, plan has $sigs")
  }

  test("embeddingDedupAgainst drops cosine matches vs the corpus, keeps novel vectors") {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    def vec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(8)(r.nextFloat() * 2 - 1)
    }
    def frame(rows: (Long, Seq[Float])*) = spark.createDataFrame(
      rows.map { case (id, v) => Row(id, v) }.asJava, schema)
    val base = vec(1)
    val nearBase = base.updated(0, base.head + 0.01f) // cosine ~1 vs base
    val corpus = frame(100L -> base, 101L -> base /* internal dup: irrelevant */ ,
      102L -> vec(2))
    val batch = frame(1L -> nearBase, 2L -> vec(9), 3L -> vec(10))
    val kept = Dedup.embeddingDedupAgainst(batch, corpus, "vec_id", "embedding",
      threshold = 0.95, numPlanes = 4, dim = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(2L) && kept.contains(3L) && !kept.contains(1L))
  }

  test("hashSplit is a deterministic, complete, uniform-ish partition") {
    val rows = (0L until 1000L).map(i => Row(i))
    val d = df("doc_id BIGINT", rows: _*)
    val s1 = graft.operators.Sampling.hashSplit(d, "doc_id")
    val byId = s1.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // complete partition: every row has exactly one label
    assert(byId.size == 1000 && byId.values.forall(Set("train", "val", "test")))
    // deterministic: a second evaluation assigns identically
    val s2 = graft.operators.Sampling.hashSplit(d, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId == s2)
    // avalanche: sequential ids spread ~80/10/10 (loose bands)
    val n = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 700 && n("train") < 900, s"train=${n("train")}")
    assert(n("val") > 50 && n("val") < 170, s"val=${n("val")}")
    assert(n("test") > 50 && n("test") < 170, s"test=${n("test")}")
    // the Column expression agrees with the reference Scala mixer
    val mixed = d.select(graft.functions.HashExpressions.mix64(col("doc_id")))
      .collect().map(_.getLong(0))
    assert(mixed.toSeq == (0L until 1000L).map(graft.functions.Hashing.mix64))
    // hashSample(20) == the under-20 bucket subset, no extra columns
    val sampled = graft.operators.Sampling.hashSample(d, "doc_id", 20)
    assert(sampled.columns.toSeq == Seq("doc_id"))
    val expect = (0L until 1000L).filter { i =>
      java.lang.Long.remainderUnsigned(graft.functions.Hashing.mix64(i) >>> 1, 100) < 20
    }.toSet
    assert(sampled.collect().map(_.getLong(0)).toSet == expect)
  }

  test("stratifiedHashSample: per-stratum rates, default fallback, determinism") {
    val docs = df("doc_id BIGINT, lang STRING",
      (0L until 3000L).map(i =>
        Row(i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr")): _*)
    val sampled = graft.operators.Sampling.stratifiedHashSample(
      docs, "doc_id", "lang", Map("en" -> 40, "de" -> 100), defaultPct = 80)
    val byLang = sampled.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == 1000L)                        // 100%: every row
    assert(byLang("en") > 300 && byLang("en") < 500)     // ~40% of 1000
    assert(byLang("fr") > 700 && byLang("fr") < 900)     // ~80% of 1000
    // deterministic and partition-independent
    val again = graft.operators.Sampling.stratifiedHashSample(
      docs.repartition(7), "doc_id", "lang", Map("en" -> 40, "de" -> 100), 80)
    assert(sampled.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("connectedComponents on zero pairs returns an empty frame, not an NPE") {
    val empty = df("id_a BIGINT, id_b BIGINT")
    assert(graft.operators.Dedup.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents throws instead of returning a partial clustering") {
    val pairs = df("id_a BIGINT, id_b BIGINT",
      (1L until 30L).map(i => Row(i, i + 1)): _*) // diameter 29 chain
    assertThrows[IllegalArgumentException](
      graft.operators.Dedup.connectedComponents(pairs, maxIter = 3).collect())
  }

  test("maxBucketSize drops mega-buckets but keeps small-bucket near-dup pairs") {
    // 40 identical boilerplate docs form one mega-bucket (780 junk
    // pairs — the quadratic blowup measured at sf1); one genuine
    // near-dup pair lives in its own tiny bucket and must survive
    val boiler = "common boilerplate header text repeated everywhere in this synthetic corpus"
    val unique = "a genuinely unique document about spark lsh dedup bucket capping"
    val rows = (1L to 40L).map(i => Row(i, boiler)) ++ Seq(
      Row(100L, unique), Row(101L, unique)) // duplicate pair in its own tiny bucket
    val docs = df("doc_id BIGINT, text STRING", rows: _*)

    val uncapped = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.size >= 780) // the 40-copy group alone is 780 pairs

    val capped = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
      maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))

    val cappedMh = Dedup.minhashPairs(docs, "doc_id", "text",
      jaccardThreshold = 0.5, maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedMh == Set((100L, 101L)))

    // embedding path: 30 identical vectors = one mega-bucket
    import spark.implicits._
    val vecs = (1L to 30L).map(i => (i, Seq.fill(8)(1.0f) ++ Seq.fill(56)(0.0f)))
      .toDF("vec_id", "embedding")
    val unc = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 6)
    assert(unc.count() == 435) // 30*29/2
    val cap = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, numPlanes = 6, maxBucketSize = Some(10))
    assert(cap.count() == 0)
  }

  test("semanticNearDupPairs: cluster-scoped candidates, cap, cross-cell blindness") {
    import spark.implicits._
    // two tight clusters around orthogonal axes + one stray pair that
    // is cosine-similar but lands in DIFFERENT cells by construction
    def vec(axis: Int, wobble: Float): Seq[Float] =
      Seq.tabulate(64)(d => if (d == axis) 1.0f else if (d == axis + 1) wobble else 0.0f)
    val rows = Seq(
      (1L, vec(0, 0.01f)), (2L, vec(0, 0.02f)), (3L, vec(0, 0.03f)),
      (10L, vec(30, 0.01f)), (11L, vec(30, 0.02f)))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Array(
      Array.tabulate(64)(d => if (d == 0) 1.0 else 0.0),
      Array.tabulate(64)(d => if (d == 30) 1.0 else 0.0))

    val pairs = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
      centroids, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-cell pairs only: {1,2,3} x {1,2,3} and {10,11}
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))

    // cross-cell blindness is the SemDeDup trade: a vector midway
    // between the two centroids pairs only within the cell it lands in
    val mid = (20L, Seq.tabulate(64)(d =>
      if (d == 0) 1.0f else if (d == 30) 0.99f else 0.0f))
    val withMid = (rows :+ mid).toDF("vec_id", "embedding")
    val midPairs = Dedup.semanticNearDupPairs(withMid, "vec_id", "embedding",
      centroids, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 20 assigns to cell 0 (cosine to centroid 0 wins the tie-break on
    // magnitude): it may pair with 1..3 but NEVER with 10/11
    assert(!midPairs.exists { case (a, b) => (a == 20L || b == 20L) &&
      Set(a, b).intersect(Set(10L, 11L)).nonEmpty })

    // mega-cell cap: same discipline as every other pair generator
    val capped = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
      centroids, threshold = 0.9, maxClusterSize = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L))) // the 3-member cell is dropped

    // incremental twin: a batch row dies only to a near-dup in ITS
    // OWN cell — 100 is a dup of cell-0's corpus, 101 matches cell-1
    // vectors only below threshold, 102 is near cell-1's corpus
    val corpus = rows.toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, vec(0, 0.015f)),  // near-dup of corpus 1/2/3 (cell 0) -> drops
      (101L, vec(31, 0.0f)),   // orthogonal to BOTH centroids (ties to cell 0) -> survives
      (102L, vec(30, 0.015f))  // near-dup of corpus 10/11 (cell 1) -> drops
    ).toDF("vec_id", "embedding")
    val survivors = Dedup.semanticDedupAgainst(batch, corpus,
      "vec_id", "embedding", centroids, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(101L))
    // corpus is never self-paired: an empty batch survives vacuously
    assert(Dedup.semanticDedupAgainst(batch.limit(0), corpus,
      "vec_id", "embedding", centroids, threshold = 0.0).count() == 0)
  }

  test("multimodal: ImageIO decodes real PNG/JPEG payloads to true dimensions") {
    import spark.implicits._
    def image(wd: Int, ht: Int, seed: Int, format: String): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        wd, ht, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until ht; x <- 0 until wd)
        im.setRGB(x, y, (x * 31 + y * 17 + seed * 101) & 0xFFFFFF)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, format, bos)
      bos.toByteArray
    }
    val png1 = image(20, 10, 1, "png")
    val png2 = image(7, 33, 2, "png")
    val jpg = image(16, 24, 3, "jpg")
    val txt = "definitely not an image".getBytes("UTF-8")
    val items = Seq(
      Multimodal.MediaItem(1L, Multimodal.sniffMediaType(png1), png1, png1.length.toLong),
      Multimodal.MediaItem(2L, Multimodal.sniffMediaType(png2), png2, png2.length.toLong),
      Multimodal.MediaItem(3L, Multimodal.sniffMediaType(jpg), jpg, jpg.length.toLong),
      Multimodal.MediaItem(4L, Multimodal.sniffMediaType(txt), txt, txt.length.toLong))
    assert(items.map(_.media_type) ==
      Seq("image/png", "image/png", "image/jpeg", "application/octet-stream"))
    val got = Multimodal.extractFeatures(items.toDS(), batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    // true decoded dimensions, not stub fakes
    assert(got(1L).width == 20 && got(1L).height == 10)
    assert(got(2L).width == 7 && got(2L).height == 33)
    assert(got(3L).width == 16 && got(3L).height == 24)
    // content hash matches a direct local ImageIO ground-truth decode
    val truth = Multimodal.pixelHash(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png1)))
    assert(got(1L).feat_hash == truth)
    // non-image payloads still flow through the deterministic stub
    assert(got(4L) == Multimodal.decodeStub(items(3)))
  }

  test("multimodal: image-magic-prefixed garbage and null payloads fall back, never crash") {
    import spark.implicits._
    // text that SNIFFS as an image (magic-byte prefix) but whose
    // header is garbage — the decoder must reject it (header parse or
    // implausible-size guard), not throw or allocate gigabytes
    val traps = Seq(
      Multimodal.MediaItem(1L, "t", "GIF89a is a common image format on the early web".getBytes("UTF-8"), 48L),
      Multimodal.MediaItem(2L, "t", "BMW announced record sales figures this quarter".getBytes("UTF-8"), 47L),
      Multimodal.MediaItem(3L, "t", Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 77, 1), 10L))
    val got = Multimodal.extractFeatures(traps.toDS()).collect().map(f => f.doc_id -> f).toMap
    traps.foreach { t => assert(got(t.doc_id) == Multimodal.decodeStub(t)) }
    // null payload: tryDecodeImage declines (stub would also NPE on
    // hashing, so only assert the try path and the sniffer)
    assert(Multimodal.tryDecodeImage(Multimodal.MediaItem(4L, "t", null, 0L)).isEmpty)
  }

  test("redact replaces every PII class with its typed token, leaves prose alone") {
    val docs = df("doc_id BIGINT, text STRING",
      Row(1L, "contact jane.doe+spam@example.co.uk or call +1 (555) 123-4567 now"),
      Row(2L, "order 1234567890 shipped; see a@b.io"),
      Row(3L, "plain prose with numbers like 42 and 7 stays intact"),
      Row(4L, "from 192.168.254.1 and 2001:db8::8a2e:370:7334 at 12:30:45"),
      Row(5L, "ssn 123-45-6789 card 4111 1111 1111 1111 alt 5500-0000-0000-0004"),
      Row(6L, "dial 555-123-4567 or 555.123.4567; the date 2021-03-15 stays"),
      Row(7L, "mac aa:bb:cc:dd:ee:ff on vlan 7"),
      // round 9: the non-empty-group IPv6 alternation — colon noise
      // (::::, ratio-like f:e:d:c, code ::), clock times, and scope
      // operators survive; valid compressed literals still redact
      Row(8L, "ratios f:e:d:c beside :::: and std::map stay put"),
      Row(9L, "note a::b::c here"),
      Row(10L, "lo ::1 and full 2001:0db8:85a3:0000:0000:8a2e:0370:7334"))
    val got = docs.select(col("doc_id"),
        graft.functions.TextFunctions.redact(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // separator-shaped phones are the more specific class now
    assert(got(1L) == "contact <EMAIL> or call <PHONE> now")
    assert(got(2L) == "order <NUMBER> shipped; see <EMAIL>")
    assert(got(3L) == "plain prose with numbers like 42 and 7 stays intact")
    // clock times (2 colons) survive; IPv6 with :: compression caught
    assert(got(4L) == "from <IP> and <IP> at 12:30:45")
    assert(got(5L) == "ssn <ID> card <ID> alt <ID>")
    // ISO dates (4-2-2) don't fit the 3-3-4 phone shape — but the
    // digit-run catch-all still eats them (pre-existing screen
    // semantics: hyphenated digit runs >= 8 chars redact)
    assert(got(6L) == "dial <PHONE> or <PHONE>; the date <NUMBER> stays")
    // MAC addresses ride the colon-hex class — scrubbed as identifiers
    assert(got(7L) == "mac <IP> on vlan 7")
    // colon runs that are NOT address-shaped survive the round-9
    // alternation (the old {0,4}-group pattern redacted all three)
    assert(got(8L) == "ratios f:e:d:c beside :::: and std::map stay put")
    // `a::b` and `::c` are each valid compressed IPv6 literals — the
    // replace-all matches both out of `a::b::c` (accepted cost,
    // documented on ipv6Pattern)
    assert(got(9L) == "note <IP><IP> here")
    assert(got(10L) == "lo <IP> and full <IP>")
  }

  test("normalizeText: NFC composes, controls strip, NFKC folds compat glyphs, NULL stays NULL") {
    import graft.functions.TextFunctions
    val nfd = "Café Ångström"       // e+◌́, A+◌̊, o+◌̈
    val nfc = "Café Ångström"           // pre-composed
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, nfd),
      Row(2L, nfc),
      Row(3L, "plain ascii stays"),
      Row(4L, null))
    val got = t.select(col("doc_id"),
        TextFunctions.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == nfc)             // NFD composes to the NFC bytes
    assert(got(2L) == nfc)             // already-NFC identity
    assert(got(3L) == "plain ascii stays")
    assert(got(4L) == null)
    // NFKC additionally folds compatibility glyphs the NFC path keeps
    val k = df("doc_id BIGINT, text STRING", Row(1L, "ﬁle ① Ａ"))
      .select(TextFunctions.normalizeText(col("text"), "NFKC"))
      .collect().head.getString(0)
    assert(k == "file 1 A")            // ﬁ→fi, ①→1, full-width A→A
  }

  test("unicode_normalize rejects an unknown form at construction, not first eval") {
    // the failure must surface on the driver at expression build time
    // — nothing here ever runs a Spark job
    val e = intercept[IllegalArgumentException](
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(col("text")), "nfc"))
    assert(e.getMessage.contains("unknown form 'nfc'"))
  }

  test("normalizeText pre-step collapses NFC-vs-NFD duplicates in exact dedup") {
    import graft.functions.TextFunctions
    val docs = df("doc_id BIGINT, text STRING",
      Row(1L, "Café au lait"),    // NFC
      Row(2L, "Café au lait"),   // NFD — same visible text
      Row(3L, "other doc"))
    // raw: the two forms hash apart — dedup misses the duplicate
    assert(graft.operators.Dedup.exactGroups(docs, "doc_id", "text").count() == 3)
    assert(graft.operators.Dedup
      .exactByFingerprint(docs, "doc_id", "text").count() == 3)
    // with the documented pre-step they collapse, keeping the min id
    val normed = docs.withColumn("text", TextFunctions.normalizeText(col("text")))
    val groups = graft.operators.Dedup.exactGroups(normed, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(groups.size == 2)
    assert(groups("Café au lait") == ((1L, 2L)))
    assert(graft.operators.Dedup
      .exactByFingerprint(normed, "doc_id", "text").count() == 2)
  }

  test("stripBoilerplate: script/style/comment blocks vanish, tags space, entities decode, ws collapses") {
    import graft.functions.TextFunctions
    val html = "<html><head><style>p{color:red}</style>" +
      "<script src=\"x.js\">var a = 1 < 2;</script></head>" +
      "<body><!-- menu --><p class=\"big\">Tom &amp; Jay</p>" +
      "<p>say &quot;hi&quot;&nbsp;&#39;now&#39;</p></body></html>"
    val got = df("doc_id BIGINT, text STRING", Row(1L, html))
      .select(TextFunctions.stripBoilerplate(col("text")))
      .collect().head.getString(0)
    assert(got == "Tom & Jay say \"hi\" 'now'")
    // tag boundaries become spaces so adjacent block text never glues
    val glue = df("doc_id BIGINT, text STRING", Row(1L, "<p>a</p><p>b</p>"))
      .select(TextFunctions.stripBoilerplate(col("text")))
      .collect().head.getString(0)
    assert(glue == "a b")
    // escaped entities decode ONCE: a page discussing HTML writes
    // '&amp;lt;' to display the literal '&lt;' — '&amp;' decodes
    // last so the freed '&' is never re-fed to the '&lt;' step
    val esc = df("doc_id BIGINT, text STRING",
      Row(1L, "<p>write &amp;lt; for a literal &amp;amp; sign</p>"))
      .select(TextFunctions.stripBoilerplate(col("text")))
      .collect().head.getString(0)
    assert(esc == "write &lt; for a literal &amp; sign")
  }

  test("vocabulary: freq/df counts with deterministic tie-break cut") {
    val docs = df("doc_id BIGINT, text STRING",
      Row(1L, "apple banana apple"),
      Row(2L, "Banana cherry"),
      Row(3L, "apple cherry cherry"))
    val got = graft.functions.TextFunctions.vocabulary(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // apple freq 3 df 2; banana freq 2 df 2 (case-folded); cherry freq 3 df 2
    // ties on freq=3 break alphabetically: apple before cherry
    assert(got == Seq(("apple", 3L, 2L), ("cherry", 3L, 2L)))
  }

  test("vocabulary approxDf keeps the exact cut; doc frequencies within the HLL band") {
    val rows = (0 until 60).map { i =>
      // token "common" in every doc, "half" in every other, "rare" in one
      val parts = Seq("common") ++ (if (i % 2 == 0) Seq("half") else Nil) ++
        (if (i == 7) Seq("rare") else Nil)
      Row(i.toLong, parts.mkString(" "))
    }
    val corpus = df("doc_id BIGINT, text STRING", rows: _*)
    def vocab(approx: Boolean) =
      TextFunctions.vocabulary(corpus, "doc_id", "text", k = 3, approxDf = approx)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val exact = vocab(approx = false)
    val approx = vocab(approx = true)
    // the cut and the exact freq column are identical — ordering never
    // depends on df
    assert(exact.map(t => (t._1, t._2)).toSeq == approx.map(t => (t._1, t._2)).toSeq)
    exact.zip(approx).foreach { case ((tok, _, dfExact), (_, _, dfApprox)) =>
      assert(math.abs(dfApprox - dfExact).toDouble <= math.max(1.0, dfExact * 0.1),
        s"token $tok: approx df $dfApprox too far from exact $dfExact")
    }
  }

  test("quantiles approx lands on elements within one order-statistic gap of exact") {
    // 1..101: quartiles fall exactly ON elements — approx (which picks
    // an element) must equal exact; 1..100: exact interpolates halfway,
    // approx picks a neighbor — banded by the adjacent element gap
    def vals(n: Int) = df("v BIGINT", (1 to n).map(i => Row(i.toLong)): _*)
    def qs(d: org.apache.spark.sql.DataFrame, approx: Boolean) =
      graft.operators.Profile.quantiles(d, Seq("v"), approx = approx)
        .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3))).head
    assert(qs(vals(101), approx = true) == qs(vals(101), approx = false))
    val (e25, e50, e75) = qs(vals(100), approx = false)
    val (a25, a50, a75) = qs(vals(100), approx = true)
    Seq((e25, a25), (e50, a50), (e75, a75)).foreach { case (e, a) =>
      assert(math.abs(a - e) <= 1.0, s"approx $a vs exact $e out of band")
    }
    // both paths share one output schema (double quantile columns)
    val schema = graft.operators.Profile.quantiles(vals(10), Seq("v"), approx = true).schema
    assert(schema.fields.drop(1).forall(_.dataType.typeName == "double"))
  }

  test("language id picks marker-matching language, 'und' when nothing matches") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "the cat and the dog of the house is to blame"),
      Row(2L, "der Hund und die Katze ist nicht da"),
      Row(3L, "xyzzy plugh 12345"))
    val got = t.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "und")
  }

  test("token count / fingerprint normalize whitespace and case") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "  a  b   c "), Row(2L, "A b C"))
    val got = t.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got(1L)._1 == 3L && got(2L)._1 == 3L)
    assert(got(1L)._2 == got(2L)._2) // same canonical form
  }

  test("repetitionStats: hand-counted bigram repetition, short-doc fallback") {
    val t = df("doc_id BIGINT, text STRING",
      // "a b a b a b": bigrams [a b, b a, a b, b a, a b] -> 5 grams,
      // 2 distinct, top "a b" x3
      Row(1L, "a b a b a b"),
      // all distinct bigrams
      Row(2L, "one two three four"),
      // 1 token < n -> single whole-doc gram
      Row(3L, "solo"))
    val got = TextFunctions.repetitionStats(t, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((5L, 3.0 / 5.0, 3.0 / 5.0)))
    assert(got(2L) == ((3L, 0.0, 1.0 / 3.0)))
    assert(got(3L) == ((1L, 0.0, 1.0)))
  }

  test("contaminationMatches flags shared n-grams with distinct counts, skips clean docs") {
    val eval = df("doc_id BIGINT, text STRING",
      Row(100L, "the quick brown fox jumps high"))
    val corpus = df("doc_id BIGINT, text STRING",
      // shares "the quick brown fox" AND "quick brown fox jumps" -> 2
      Row(1L, "once the quick brown fox jumps away"),
      // repeats the same shared 4-gram twice -> still 1 distinct
      Row(2L, "the quick brown fox then the quick brown fox"),
      // no shared 4-gram
      Row(3L, "a completely unrelated sentence about engines"))
    val got = Dedup.contaminationMatches(corpus, eval, "doc_id", "text", shingleN = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("concatChunks: per-group running offsets, chunk boundaries, group reset") {
    val t = df("doc_id BIGINT, source STRING, text STRING",
      Row(1L, "a", "w w w"),       // a: offset 0, chunk 0
      Row(2L, "a", "w w w w"),     // a: offset 3, chunk 0
      Row(3L, "a", "w w"),         // a: offset 7, chunk 1 (capacity 5)
      Row(10L, "b", "w w w w w w"),// b resets: offset 0, chunk 0
      Row(11L, "b", "w"))          // b: offset 6, chunk 1
    val got = graft.operators.Packing
      .concatChunks(t, "doc_id", "source", "text", capacity = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> ((0L, 0L)), 2L -> ((3L, 0L)), 3L -> ((7L, 1L)),
      10L -> ((0L, 0L)), 11L -> ((6L, 1L))))
  }

  test("packBins: next-fit whole-doc boundaries, oversize doc alone, group reset, partitioning-invariant") {
    val t = df("doc_id BIGINT, g BIGINT, text STRING",
      Row(1L, 0L, "w w w"),         // g0 bin0 fill 3
      Row(2L, 0L, "w w"),           // g0 bin0 fill 5 (== capacity)
      Row(3L, 0L, "w"),             // g0 bin1 (5+1 > 5)
      Row(4L, 0L, "w w w w w w w"), // g0 bin2 alone (7 > capacity)
      Row(5L, 0L, "w w"),           // g0 bin3 (7+2 > 5 -> new)
      Row(10L, 1L, "w w w w"))      // g1 resets: bin0
    val expect = Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 10L -> 0L)
    val got = graft.operators.Packing
      .packBins(t, "doc_id", "g", "text", capacity = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == expect)
    // invariant under input partitioning/order (the repartition+sort pins it)
    val shuffled = graft.operators.Packing
      .packBins(t.orderBy(org.apache.spark.sql.functions.rand(7)).repartition(5),
        "doc_id", "g", "text", capacity = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(shuffled == expect)
    // packBinsByCount with a precomputed size column is the same fold
    val counted = graft.operators.Packing
      .packBinsByCount(t.withColumn("c",
        graft.functions.TextFunctions.tokenCount(
          org.apache.spark.sql.functions.col("text"))),
        "doc_id", "g", "c", capacity = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(counted == expect)
  }

  test("packBinsByCountFrom: a resume frame with a narrower grp type " +
    "still continues the open bins (no silent restart at bin 0)") {
    val t = df("doc_id BIGINT, g BIGINT, c BIGINT",
      Row(10L, 0L, 2L), Row(11L, 0L, 4L))
    // resume tail typed INT where df's grp is BIGINT — the raw-keyed
    // broadcast map would miss every lookup without the cast
    val resume = df("grp INT, bin_id BIGINT, fill BIGINT", Row(0, 3L, 4L))
    val got = graft.operators.Packing
      .packBinsByCountFrom(t, "doc_id", "g", "c", capacity = 5, resume)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // bin 3 holds 4: doc 10 (2) overflows -> bin 4; doc 11 (4) -> bin 5
    assert(got == Map(10L -> 4L, 11L -> 5L))
  }

  test("binStats: utilization counts oversize overflow, per-group totals") {
    val t = df("doc_id BIGINT, g BIGINT, text STRING",
      Row(1L, 0L, "w w w"), Row(2L, 0L, "w w"), Row(3L, 0L, "w"),
      Row(4L, 0L, "w w w w w w w"), Row(5L, 0L, "w w"),
      Row(10L, 1L, "w w w w"))
    val packed = graft.operators.Packing.packBins(t, "doc_id", "g", "text", capacity = 5)
    val got = graft.operators.Packing.binStats(packed, capacity = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // g0: bins {1,2}(5) {3}(1) {4}(7 oversize) {5}(2) -> 4 bins, 15 tokens,
    // util = 15000 div 20 = 750; g1: 1 bin, 4 tokens, util 800
    assert(got == Map(0L -> ((5L, 4L, 15L, 750L)), 1L -> ((1L, 1L, 4L, 800L))))
  }

  test("hashedFeatures: signed occurrence sums, repeats accumulate, zero rows dropped, bounded index") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "x x x y"),  // x thrice -> |weight| 3 on x's index
      Row(2L, ""),         // no tokens -> no rows
      Row(3L, "z z"))      // one feature, |weight| 2
    val got = graft.operators.Search.hashedFeatures(t, "doc_id", "text", dims = 16, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (_, idx, w) => idx >= 0 && idx < 16 && w != 0 })
    assert(!got.exists(_._1 == 2L))
    // doc 1 = {x:3, y:1}: distinct indices -> |weights| {1,3}; a
    // 16-dim collision folds them to one row of |3·s_x + 1·s_y| ∈ {2,4}
    val d1 = got.filter(_._1 == 1L).map(_._3.abs).sorted.toSeq
    assert(d1 == Seq(1L, 3L) || d1 == Seq(2L) || d1 == Seq(4L))
    // same-token repeats always land on ONE index with the full multiplicity
    val d3 = got.filter(_._1 == 3L)
    assert(d3.length == 1 && d3.head._3.abs == 2L)
    // deterministic across runs
    val again = graft.operators.Search.hashedFeatures(t, "doc_id", "text", dims = 16, seed = 11L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sorted.sameElements(again.sorted))
  }

  test("cms: estimate >= exact always, exact when collision-free, merge == whole-corpus cells") {
    import graft.functions.HashExpressions
    // 60 tokens over a tiny vocab with known multiplicities
    val docs = df("doc_id BIGINT, text STRING",
      Row(1L, Seq.fill(20)("alpha").mkString(" ")),
      Row(2L, (Seq.fill(15)("beta") ++ Seq.fill(10)("gamma")).mkString(" ")),
      Row(3L, (Seq.fill(10)("alpha") ++ Seq.fill(5)("delta")).mkString(" ")))
    val tok = docs.select(
      explode(HashExpressions.tokenHashes(col("text"))).as("__h"))
    val exact = tok.groupBy(col("__h")).agg(count(lit(1)).as("exact_cnt"))
    // wide sketch: 4 distinct tokens in 4x1024 cells -> no collisions
    val cells = graft.operators.Profile.cmsCells(tok, col("__h"), 4, 1024, 7L)
    val est = graft.operators.Profile.cmsEstimate(
      cells, exact, col("__h"), Seq("__h", "exact_cnt"), 4, 1024, 7L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(est.length == 4)
    est.foreach { case (ex, cms) => assert(cms == ex) } // collision-free == exact
    assert(est.map(_._1).sorted.toSeq == Seq(5L, 10L, 15L, 30L))
    // narrow sketch: collisions may inflate but NEVER deflate
    val tiny = graft.operators.Profile.cmsCells(tok, col("__h"), 2, 2, 7L)
    graft.operators.Profile.cmsEstimate(
      tiny, exact, col("__h"), Seq("__h", "exact_cnt"), 2, 2, 7L)
      .collect().foreach(r => assert(r.getLong(2) >= r.getLong(1)))
    // merge closure: per-doc cell tables added back == whole-corpus cells
    val perDoc = graft.operators.Profile.cmsCells(
      docs.select(col("doc_id"),
        explode(HashExpressions.tokenHashes(col("text"))).as("__h")),
      col("__h"), 4, 1024, 7L, groupCols = Seq("doc_id"))
    val merged = graft.operators.Profile.cmsMerge(perDoc)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == whole)
  }

  test("tokenHashes: occurrence multiplicity kept, order kept, tokenization matches the shingle sweep") {
    import graft.functions.HashExpressions
    val t = df("text STRING", Row("b a b  b c"), Row(""), Row("   "), Row("B A B B C"))
    val rows = t.select(HashExpressions.tokenHashes(col("text")).as("th")).collect()
    val th0 = rows(0).getSeq[Long](0)
    assert(th0.length == 5)                      // duplicates kept
    assert(th0(0) == th0(2) && th0(2) == th0(3)) // the three 'b's agree
    assert(th0.distinct.length == 3)             // b, a, c
    assert(th0(1) != th0(0) && th0(4) != th0(0)) // a, c differ from b
    // lowercasing inline, exactly like ShingleHashes' sweep
    assert(rows(3).getSeq[Long](0) == th0)
    // empty / whitespace-only -> empty array (no sentinel)
    assert(rows(1).getSeq[Long](0).isEmpty && rows(2).getSeq[Long](0).isEmpty)
  }

  test("mixToTarget: constrained domain kept whole, others downsampled toward the mix, untargeted dropped") {
    // 40 'a' rows, 10 'b' rows, 5 'c' rows; targets a=0.5, b=0.5.
    // scale = min(40/0.5, 10/0.5) = 20 -> keep all of b (rate 1.0),
    // ~25% of a (rate 20*0.5/40 = 0.25), none of c.
    val rows = (0L until 40L).map(i => Row(i, "a")) ++
      (100L until 110L).map(i => Row(i, "b")) ++
      (200L until 205L).map(i => Row(i, "c"))
    val t = df("doc_id BIGINT, dom STRING", rows: _*)
    val got = graft.operators.Sampling.mixToTarget(
      t, "doc_id", "dom", Seq("a" -> 0.5, "b" -> 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom.getOrElse("c", 0) == 0)        // untargeted domain dropped
    assert(byDom("b") == 10)                    // most-constrained domain whole
    // 'a' downsampled to ~25% (hash-quantized; wide tolerance)
    assert(byDom("a") >= 3 && byDom("a") <= 18)
    // determinism: same input -> identical keep set
    val again = graft.operators.Sampling.mixToTarget(
      t, "doc_id", "dom", Seq("a" -> 0.5, "b" -> 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("histogram: hand-computed buckets, max in top bucket, constant column collapses") {
    val t = df("v DOUBLE",
      Row(0.0), Row(1.0), Row(4.9), Row(5.0), Row(9.9), Row(10.0))
    // min 0, max 10, 2 bins, width 5: [0,5) -> {0, 1, 4.9}; [5,10] -> {5, 9.9, 10}
    val got = graft.operators.Profile.histogram(t, "v", bins = 2)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got == Map(0L -> ((0.0, 5.0, 3L)), 1L -> ((5.0, 10.0, 3L))))
    val const = df("v DOUBLE", Row(7.0), Row(7.0))
    val g2 = graft.operators.Profile.histogram(const, "v", bins = 4).collect()
    assert(g2.length == 1 && g2.head.getLong(0) == 0L && g2.head.getLong(3) == 2L)
  }

  test("topTfidfTerms: rare term outranks common term, k cuts, deterministic ties") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "common rare common unique"),
      Row(2L, "common filler filler"),
      Row(3L, "common other"))
    // df: common=3, rare=1, unique=1, filler=1, other=1; N=3
    val got = TextFunctions.topTfidfTerms(t, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val d1 = got.filter(_._1 == 1L).map(x => (x._2, x._3)).sortBy(-_._2)
    // doc 1: rare tf=1 df=1 -> 3.0; unique tf=1 df=1 -> 3.0; common tf=2 df=3 -> 2.0
    // top-2 by (score desc, token asc): rare and unique (both 3.0), common cut
    assert(d1.map(_._1).toSet == Set("rare", "unique"))
    val d2 = got.filter(_._1 == 2L).map(_._2).toSet
    // doc 2: filler tf=2 df=1 -> 6.0; common tf=1 df=3 -> 1.0
    assert(d2 == Set("filler", "common"))
    assert(got.count(_._1 == 2L) == 2)
  }

  test("centroidOutliers ranks the off-cluster vector least similar, k cuts per group") {
    val rows =
      // group g1: three near-identical vectors + one opposite-ish
      Seq(Row(1L, "g1", Seq(1.0f, 0.0f, 0.1f)),
        Row(2L, "g1", Seq(1.0f, 0.1f, 0.0f)),
        Row(3L, "g1", Seq(0.9f, 0.0f, 0.0f)),
        Row(4L, "g1", Seq(-1.0f, 0.2f, 0.0f)),
        // group g2: two vectors, both kept at k=2
        Row(5L, "g2", Seq(0.0f, 1.0f, 0.0f)),
        Row(6L, "g2", Seq(0.0f, 0.9f, 0.5f)))
    val t = df("vec_id BIGINT, label STRING, embedding ARRAY<FLOAT>", rows: _*)
    val got = Similarity.centroidOutliers(t, "vec_id", "label", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val g1 = got.filter(_._2 == "g1").sortBy(_._3)
    assert(g1.map(_._1).head == 4L) // the flipped vector is the worst outlier
    assert(got.count(_._2 == "g1") == 2 && got.count(_._2 == "g2") == 2)
    // every returned cosine is a valid similarity
    assert(got.forall(x => x._3 >= -1.0001 && x._3 <= 1.0001))
  }

  test("bloomDedupAgainst equals the exact anti-join even under a saturated (all-positive) bloom") {
    val corpus = df("doc_id BIGINT, text STRING",
      Row(1L, "alpha beta gamma"), Row(2L, "delta epsilon zeta"), Row(3L, "eta theta iota"))
    val batch = df("doc_id BIGINT, text STRING",
      Row(10L, "ALPHA  beta gamma"), // fp-dup of corpus 1 (case/ws canonicalized)
      Row(11L, "delta epsilon zeta"), // exact dup of corpus 2
      Row(12L, "kappa lambda mu"), // novel
      Row(13L, "nu xi omicron")) // novel
    val expected = Set(12L, 13L)
    val got = Dedup.bloomDedupAgainst(batch, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // a deliberately undersized filter (expectedItems=1, fpp≈0.5) fires
    // false positives on novel rows — the confirm join must weed every
    // one out, so the answer cannot change with the bloom's quality
    val gotSaturated = Dedup.bloomDedupAgainst(batch, corpus, "doc_id", "text",
      expectedItems = 1L, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotSaturated == expected)
    // and a precomputed corpusBloom short-circuits the build, same answer
    val pre = Dedup.corpusBloom(corpus, "text")
    val gotPre = Dedup.bloomDedupAgainst(batch, corpus, "doc_id", "text", bloom = Some(pre))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotPre == expected)
  }

  test("duplicatedSpans finds shared 8-grams with doc frequency, skips unique spans") {
    val shared = "one two three four five six seven eight"
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, s"prefix $shared tail words here"),
      Row(2L, s"$shared completely different ending tokens"),
      Row(3L, s"other material then $shared"),
      Row(4L, "nothing in common with anything else at all yes"))
    val got = Dedup.duplicatedSpans(t, "text", spanN = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the shared 8-gram's hash appears with df=3; doc 4 contributes nothing
    val sharedHash = df("t STRING", Row(shared))
      .select(explode(HashExpressions.shingleHashes(col("t"), 8)).as("h"))
      .head().getLong(0)
    assert(got(sharedHash) == 3L)
    // no span is counted twice for one doc (hashes are distinct per doc)
    assert(got.values.forall(_ <= 4L))
    // minDocs cuts: nothing with df < 2 survives
    assert(Dedup.duplicatedSpans(t, "text", spanN = 8, minDocs = 4).count() == 0L)
  }

  test("quantileGate keeps rows at/above the per-group exact quantile; approx stays in band") {
    val rows = (1 to 9).map(i => Row(i.toLong, "a", i.toDouble)) ++
      Seq(Row(20L, "b", 5.0), Row(21L, "b", 15.0))
    val t = df("id BIGINT, grp STRING, v DOUBLE", rows: _*)
    // group a: median of 1..9 = 5 => keep 5..9; group b: median of
    // {5,15} interpolates to 10 => keep only 15
    val got = graft.operators.Profile.quantileGate(t, col("v"), "grp", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 6L, 7L, 8L, 9L, 21L))
    // approx path: the gate value is an actual element within one
    // order-statistic gap of the exact cut, so the kept set sits
    // between "v >= 6" (cut one above) and "v >= 4" (one below)
    val approx = graft.operators.Profile.quantileGate(t, col("v"), "grp", 0.5, approx = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(approx.subsetOf(Set(4L, 5L, 6L, 7L, 8L, 9L, 20L, 21L)))
    assert(Set(6L, 7L, 8L, 9L).subsetOf(approx))
  }

  test("cdcChunkPairsAgainst flags batch/corpus overlaps; precomputed index gives identical matches") {
    val rnd = new scala.util.Random(17)
    def prose(n: Int) = Seq.fill(n)(s"p${rnd.nextInt(100000)}").mkString(" ")
    val passage = prose(50)
    val corpus = df("doc_id BIGINT, text STRING",
      Row(1L, prose(60) + " " + passage),
      Row(2L, prose(70)))
    val exact = corpus.filter(col("doc_id") === 1L)
      .withColumn("doc_id", lit(10L)) // full re-crawl of corpus doc 1
    val batch = df("doc_id BIGINT, text STRING",
      Row(11L, passage + " " + prose(40)), // partial overlap with corpus 1
      Row(12L, prose(55))) // novel
      .unionByName(exact)
    val got = Dedup.cdcChunkPairsAgainst(batch, corpus, "doc_id", "text",
      maskBits = 3, minShared = 1)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 1L)) && got.contains((11L, 1L)))
    assert(!got.exists(_._1 == 12L))
    // a persisted chunk index probes identically
    val idx = Dedup.cdcChunks(corpus, "doc_id", "text", maskBits = 3)
      .select("id", "chunk_hash").distinct()
    val viaIdx = Dedup.cdcChunkPairsAgainst(batch, corpus, "doc_id", "text",
      maskBits = 3, minShared = 1, index = Some(idx))
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIdx == got)
  }

  test("containmentPairs flags a quoted subset that Jaccard-tuned minhash misses") {
    val rnd = new scala.util.Random(13)
    val big = Seq.fill(60)(s"c${rnd.nextInt(100000)}")
    val quote = big.slice(20, 35) // 15-token contiguous quote
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, big.mkString(" ")),
      Row(2L, quote.mkString(" ")),
      Row(3L, Seq.fill(40)(s"z${rnd.nextInt(100000)}").mkString(" ")))
    // whole-doc jaccard of (1,2) is ~0.2 — minhash at 0.5 sees nothing
    assert(Dedup.minhashPairs(t, "doc_id", "text", shingleN = 5,
      numHashes = 64, bands = 16, jaccardThreshold = 0.5).count() == 0L)
    val got = Dedup.containmentPairs(t, "doc_id", "text", shingleN = 5, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // every 5-shingle of the quote appears in big => containment 1.0
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == 1.0)
  }

  test("appendToIndex: probing the appended index equals re-indexing corpus+batch1") {
    val corpus = docs.filter(col("doc_id") <= 3L)
    val b1 = docs.filter(col("doc_id") === 4L) // exact dup of 1 joins the corpus
    val b2 = docs.filter(col("doc_id") === 5L) // fp-dup of 1 probes next day
    val grown = corpus.unionByName(b1)
    val viaAppend = Dedup.dedupAgainst(b2, grown, "doc_id", "text",
      index = Some(Dedup.appendToIndex(
        Dedup.corpusIndex(corpus, "doc_id", "text"), b1, "doc_id", "text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaReindex = Dedup.dedupAgainst(b2, grown, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaAppend == viaReindex)
    assert(viaAppend.isEmpty) // the fp-dup is caught either way
  }

  test("cdcChunkPairs catches a shared passage that whole-document near-dup misses") {
    val rnd = new scala.util.Random(7)
    def prose(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(100000)}").mkString(" ")
    val passage = prose(40) // the shared quote / template block
    val a = prose(80) + " " + passage
    val b = passage + " " + prose(80)
    val c = prose(120) // unrelated
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, a), Row(2L, b), Row(3L, c))
    // whole-doc jaccard of a/b is ~0.2 — minhash at 0.5 sees nothing
    assert(Dedup.minhashPairs(t, "doc_id", "text", shingleN = 3,
      numHashes = 64, bands = 16, jaccardThreshold = 0.5).count() == 0L)
    // CDC chunking aligns on the passage: the pair surfaces
    val pairs = Dedup.cdcChunkPairs(t, "doc_id", "text", maskBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 >= 1L) // at least one full chunk inside the passage
    // determinism + layout independence
    val again = Dedup.cdcChunkPairs(t.repartition(5), "doc_id", "text", maskBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSet == pairs.toSet)
  }

  test("cdcChunks: concatenation-invariant boundaries, empty doc gets one chunk") {
    // the defining CDC property: a passage chunks identically under
    // different prefixes (after the first in-passage boundary)
    val rnd = new scala.util.Random(11)
    def prose(n: Int) = Seq.fill(n)(s"t${rnd.nextInt(100000)}").mkString(" ")
    val passage = prose(60)
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, prose(30) + " " + passage),
      Row(2L, prose(90) + " " + passage),
      Row(3L, ""))
    val chunks = Dedup.cdcChunks(t, "doc_id", "text", maskBits = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = chunks.groupBy(_._1)
    // both docs end with identical chunk tails (shared passage)
    val tail1 = byDoc(1L).sortBy(_._2).map(_._3).toSeq
    val tail2 = byDoc(2L).sortBy(_._2).map(_._3).toSeq
    val common = tail1.reverse.zip(tail2.reverse).takeWhile(p => p._1 == p._2)
    assert(common.nonEmpty, "no shared chunk tail across prefixes")
    // empty doc: exactly one (empty-fold) chunk, never an empty array
    assert(byDoc(3L).length == 1)
  }

  test("capPerGroup keeps exactly k per group, deterministically, independent of layout") {
    val rows = (0 until 30).map(i => Row(i.toLong, s"g${i % 3}"))
    val t = df("id BIGINT, grp STRING", rows: _*)
    val got = graft.operators.Sampling.capPerGroup(t, "id", "grp", k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(got.groupBy(_._1).forall(_._2.length == 4))
    // a cap above the group size keeps everything
    assert(graft.operators.Sampling.capPerGroup(t, "id", "grp", k = 100).count() == 30L)
    // partition-layout independence: same kept set after repartition
    val again = graft.operators.Sampling.capPerGroup(t.repartition(7), "id", "grp", k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(got.toSet == again.toSet)
  }

  test("hardNegatives returns only different-label neighbors and matches brute force at full probe") {
    val rows = Seq(
      Row(1L, "a", Seq(1.0f, 0.0f, 0.0f)), // query, label a
      Row(10L, "a", Seq(0.99f, 0.1f, 0.0f)), // same label — must never appear
      Row(11L, "b", Seq(0.98f, 0.2f, 0.0f)), // the hardest negative
      Row(12L, "b", Seq(0.0f, 1.0f, 0.0f)), // easy negative
      Row(13L, "c", Seq(0.7f, 0.7f, 0.0f))) // mid negative
    val t = df("vec_id BIGINT, label STRING, embedding ARRAY<FLOAT>", rows: _*)
    val queries = t.filter(col("vec_id") === 1L)
    val corpus = t.filter(col("vec_id") >= 10L)
    // full-probe (h = planes) makes the candidate set exhaustive
    val got = Similarity.hardNegatives(queries, corpus,
      "vec_id", "embedding", "label", "vec_id", "embedding", "label",
      k = 2, numPlanes = 4, dim = 3, probeHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 11L), (1L, 13L))) // ranked by cosine, same-label 10 excluded
  }

  test("funnel firstCompletion: greedy anchoring, strict order, window cut, missing steps") {
    def ev(id: Long, u: Long, t: Long, typ: String) = Row(id, u, new java.sql.Timestamp(t), typ)
    val H = 3600L * 1000 // ms per hour
    val t = df("event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING",
      // user 1: A@0h, B@1h, C@2h -> completes, duration 2h
      ev(1, 1, 0, "A"), ev(2, 1, 1 * H, "B"), ev(3, 1, 2 * H, "C"),
      // user 2: completes but only after 30h -> outside the 24h window
      ev(4, 2, 0, "A"), ev(5, 2, 1 * H, "B"), ev(6, 2, 30 * H, "C"),
      // user 3: C before B -> strict order never satisfied
      ev(7, 3, 0, "A"), ev(8, 3, 2 * H, "C"), ev(9, 3, 3 * H, "B"),
      // user 4: no B at all
      ev(10, 4, 0, "A"), ev(11, 4, 1 * H, "C"),
      // user 5: greedy anchor at the FIRST A (0h); B@1h, C@23h fits
      ev(12, 5, 0, "A"), ev(13, 5, 20 * H, "A"), ev(14, 5, 1 * H, "B"), ev(15, 5, 23 * H, "C"))
    val got = graft.operators.Funnel.firstCompletion(
      t, "user_id", "event_type", "ts", Seq("A", "B", "C"), withinUs = 24L * 3600 * 1000000)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 2L * 3600 * 1000000, 5L -> 23L * 3600 * 1000000))
  }

  test("attribution: touches credit exactly one conversion; organic and orphan handled") {
    val t = df("user_id BIGINT, event_type STRING, ts_us BIGINT, event_id BIGINT",
      // u1: click, view -> purchase(3); click -> purchase(5); view orphan
      Row(1L, "click", 1L, 1L), Row(1L, "view", 2L, 2L),
      Row(1L, "purchase", 3L, 3L), Row(1L, "click", 4L, 4L),
      Row(1L, "purchase", 5L, 5L), Row(1L, "view", 6L, 6L),
      // u2: organic purchase, no touches
      Row(2L, "purchase", 7L, 7L))
    val got = graft.operators.Funnel.attribution(
      t, "user_id", "event_type", "ts_us", "event_id", "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(4), r.getString(5), r.getLong(6))).toMap
    assert(got == Map(
      (1L, 1L) -> (3L, "click", "view", 2L),
      (1L, 2L) -> (5L, "click", "click", 1L),
      (2L, 1L) -> (7L, null, null, 0L)))
  }

  test("sessionPaths: gap-split ordered paths, counted and thresholded") {
    val t = df("u BIGINT, e STRING, t BIGINT, id BIGINT",
      Row(1L, "A", 1L, 1L), Row(1L, "B", 2L, 2L),   // session A>B
      Row(1L, "A", 10000L, 3L),                      // gap -> session A
      Row(2L, "A", 1L, 4L), Row(2L, "B", 2L, 5L))    // session A>B
    val got = graft.operators.Funnel.sessionPaths(
      t, "u", "e", "t", "id", gapUs = 100L, minCount = 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A>B" -> 2L))
    val all = graft.operators.Funnel.sessionPaths(
      t, "u", "e", "t", "id", gapUs = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("A>B" -> 2L, "A" -> 1L))
  }

  test("cohortRetention: hand-computed triangle, distinct users per period, cohort by first event") {
    val D = 24L * 3600 * 1000 // ms per day; period = 2 days
    def ev(u: Long, day: Long) = Row(u, new java.sql.Timestamp(day * D))
    val t = df("user_id BIGINT, ts TIMESTAMP",
      // periods of 2 days: p0 = days 0-1, p1 = days 2-3, p2 = days 4-5
      ev(1, 0), ev(1, 1), ev(1, 4), // u1: cohort p0, active p0 (twice -> once) and p2
      ev(2, 0), ev(2, 2), // u2: cohort p0, active p0, p1
      ev(3, 2)) // u3: cohort p1, active p1
    val got = graft.operators.Funnel.cohortRetention(t, "user_id", "ts",
      periodUs = 2L * 24 * 3600 * 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 0L) -> 1L))
  }

  test("zValue interleaves bits exactly; z-range layout clusters BOTH columns") {
    // hand-checked Morton codes
    val t0 = df("a BIGINT, b BIGINT", Row(0L, 0L), Row(1L, 0L), Row(0L, 1L),
      Row(3L, 5L), Row(65535L, 65535L))
    val z = t0.select(graft.sources.Layout.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // interleave(3=0b11, 5=0b101) = a bits at even, b at odd:
    // a:1,1 -> 1,4; b:1,0,1 -> 2,32 => 1+4+2+32 = 39
    assert(z == Seq(0L, 1L, 2L, 39L, (1L << 32) - 1))
    // clustering: 4096 uniform (a,b) points into 16 z-range buckets —
    // each bucket must cover a small rectangle of BOTH dimensions,
    // which is the parquet min/max pruning property; a lexicographic
    // (a, b) sort clusters only `a`
    val rnd = new scala.util.Random(5)
    val pts = (0 until 4096).map(_ => Row(rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val tp = df("a BIGINT, b BIGINT", pts: _*)
    val laid = graft.sources.Layout.zOrderByRange(tp, "a", "b", numPartitions = 16)
      .withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
    val spans = laid.groupBy("p")
      .agg((max(col("a")) - min(col("a"))).as("sa"), (max(col("b")) - min(col("b"))).as("sb"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val avgA = spans.map(_._1).sum.toDouble / spans.length / 65536.0
    val avgB = spans.map(_._2).sum.toDouble / spans.length / 65536.0
    // 16 z-range buckets ≈ 4x4 grid => ~25-50% span per dim; lexicographic
    // sort gives ~6% for a but ~100% for b — both must be clustered here
    assert(avgA < 0.7 && avgB < 0.7, s"no 2-D clustering: a=$avgA b=$avgB")
    assert(spans.length == 16)
  }

  test("quantileBuckets: quartile assignment with ties-low; approx stays within one bucket") {
    val t = df("id BIGINT, v BIGINT", (1 to 8).map(i => Row(i.toLong, i.toLong)): _*)
    // cuts at quantile_cont .25/.5/.75 of 1..8 = 2.75, 4.5, 6.25
    val got = graft.operators.Profile.quantileBuckets(t, "v", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L))
    val approx = graft.operators.Profile.quantileBuckets(t, "v", n = 4, approx = true)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1 to 8).forall(i => math.abs(approx(i.toLong) - got(i.toLong)) <= 1))
  }

  test("splitChunks: hand-computed overlapping windows; empty doc yields none; case preserved") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "A b c d e f g h i j"), // 10 tokens, chunk 4 step 3
      Row(2L, "  \t "), // empty after tokenization
      Row(3L, "solo"))
    val got = graft.operators.Packing.splitChunks(t, "doc_id", "text",
      chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got == Seq(
      (1L, 0L, "A b c d", 4L),
      (1L, 1L, "d e f g", 4L),
      (1L, 2L, "g h i j", 4L),
      (1L, 3L, "j", 1L),
      (3L, 0L, "solo", 1L)))
  }

  test("weightedSample: rate-1 rows always kept, zero weight dropped, deterministic under re-layout") {
    val rows = (1L to 400L).map(i =>
      Row(i, if (i == 1) 0.0 else if (i <= 6) 1000.0 else 1.0))
    val t = df("id BIGINT, w DOUBLE", rows: _*)
    val got = graft.operators.Sampling.weightedSample(t, "id", "w", targetRows = 50)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(1L)) // zero weight never sampled
    // w=1000 rows have rate = 50*1000/5394 >> 1 -> always kept
    assert((2L to 6L).forall(got.contains))
    // light rows keep ~ rate = 50*1/5394 ≈ 0.9% -> far fewer than half survive
    val light = got.count(_ > 6L)
    assert(light < 40, s"expected sparse light-row survival, got $light")
    val again = graft.operators.Sampling.weightedSample(
      t.repartition(7), "id", "w", targetRows = 50)
      .collect().map(_.getLong(0)).toSet
    assert(again == got)
  }

  test("transitionMatrix: hand-computed conditional probabilities; ties ordered by tie column") {
    val t = df("u BIGINT, e STRING, ts BIGINT, eid BIGINT",
      Row(1L, "A", 10L, 1L), Row(1L, "B", 20L, 2L),
      Row(1L, "A", 30L, 3L), Row(1L, "C", 40L, 4L),
      Row(2L, "A", 10L, 5L), Row(2L, "B", 10L, 6L)) // same ts: eid orders A before B
    val got = graft.operators.Funnel.transitionMatrix(t, "u", "e", "ts", "eid")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      ("A", "B") -> (2L, 2.0 / 3.0),
      ("A", "C") -> (1L, 1.0 / 3.0),
      ("B", "A") -> (1L, 1.0)))
  }

  test("balancedShards: serpentine deal matches hand assignment; loads stay within one max weight") {
    val t = df("id BIGINT, w BIGINT",
      (1L to 8L).map(i => Row(i, 11L - i)): _*) // weights 10,9,...,3
    val got = graft.operators.Packing.balancedShards(t, "id", "w", numShards = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // ranks 0..7 -> rounds (0,1,2)(2,1,0)(0,1): hand-dealt serpentine
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 1L, 6L -> 0L, 7L -> 0L, 8L -> 1L))
    val loads = (1L to 8L).groupBy(got).view.mapValues(_.map(11L - _).sum)
    assert(loads.values.max - loads.values.min <= 10) // within one max weight
  }

  test("cooccurrenceLift: hand-computed lift; presence-based (duplicates ignored); no self-pairs") {
    val t = df("u BIGINT, item STRING",
      Row(1L, "a"), Row(1L, "b"), Row(1L, "a"), // duplicate (1,a) must not double-count
      Row(2L, "a"), Row(2L, "b"),
      Row(3L, "a"),
      Row(4L, "c"))
    val got = graft.operators.Funnel.cooccurrenceLift(t, "u", "item")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 1) // only (a,b) ever co-occurs
    val (a, b, nab, lift) = got.head
    assert(a == "a" && b == "b" && nab == 2L)
    assert(lift == 2.0 * 4.0 / (3.0 * 2.0)) // n_ab·N / (n_a·n_b)
  }

  test("bucketCensus: histogram mass equals bands x docs; duplicate docs land in shared buckets") {
    val hist = Dedup.bucketCensus(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // size -> n_buckets
    assert(hist.map { case (size, n) => size * n }.sum == 16L * 5)
    // docs 1 and 4 are identical => every band has at least one bucket of size >= 2
    assert(hist.keys.max >= 2L)
  }

  test("distinctSketch: estimates within 5% of exact, union matches whole-corpus build") {
    val rows = (1L to 3000L).map(i => Row(i, s"g${i % 3}", s"v${i % 700}"))
    val t = df("id BIGINT, g STRING, v STRING", rows: _*)
    val perGroup = graft.operators.Profile.distinctSketch(t, "g", "v")
    val est = perGroup.collect().map(r => r.getString(0) -> r.getLong(2).toDouble).toMap
    val exact = t.groupBy("g").agg(countDistinct(col("v")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, d) =>
      assert(math.abs(est(g) - d) / d < 0.05, s"group $g: est ${est(g)} vs exact $d")
    }
    // merged per-group sketches track the whole-corpus sketch estimate
    val merged = graft.operators.Profile.mergeSketches(perGroup)
      .collect().head.getLong(1).toDouble
    val whole = graft.operators.Profile.distinctSketch(
      t.withColumn("all", lit("all")), "all", "v")
      .collect().head.getLong(2).toDouble
    assert(math.abs(merged - whole) / whole < 0.02, s"merged $merged vs whole $whole")
    assert(math.abs(merged - 700.0) / 700.0 < 0.05)
  }

  test("WAV/MP3 header parsers read back exactly what the builders wrote; garbage degrades to nulls") {
    import graft.multimodal.Multimodal
    // WAV: 22050 Hz stereo 16-bit, 1001 data bytes -> truncated to 1000
    val wav = Multimodal.wavBytes(22050, 2, 16, Array.fill[Byte](1001)(7))
    assert(Multimodal.sniffMediaType(wav) == "audio/wav")
    val w = Multimodal.tryDecodeWav(1L, wav).get
    assert(w.sample_rate.contains(22050L) && w.channels.contains(2L) &&
      w.bits_per_sample.contains(16L) && w.n_samples.contains(250L) &&
      w.duration_ms.contains(250L * 1000 / 22050) && w.bitrate_kbps.isEmpty)

    // MP3: 128 kbps (idx 9) 44100 Hz stereo behind a 30-byte-pad ID3 tag
    val mp3 = Multimodal.mp3Bytes(9, 0, stereo = true, id3Pad = 30,
      Array.fill[Byte](996)(1))
    assert(Multimodal.sniffMediaType(mp3) == "audio/mpeg")
    val m = Multimodal.tryDecodeMp3(2L, mp3).get
    assert(m.sample_rate.contains(44100L) && m.channels.contains(2L) &&
      m.bitrate_kbps.contains(128L) && m.bits_per_sample.isEmpty)
    assert(m.duration_ms.contains(1000L * 8 / 128)) // (4 + 996) bytes after ID3
    // mono mode bit
    assert(Multimodal.tryDecodeMp3(3L,
      Multimodal.mp3Bytes(1, 2, stereo = false, 0, Array[Byte](0)))
      .get.channels.contains(1L))

    // corruption degrades, never throws: truncated WAV, bad MP3 sync
    assert(Multimodal.tryDecodeWav(4L, wav.take(20)).isEmpty)
    assert(Multimodal.tryDecodeMp3(5L, Array[Byte]('I', 'D', '3', 0)).isEmpty)
    val junk = Multimodal.decodeAudio(
      Multimodal.MediaItem(6L, "", Array[Byte](1, 2, 3), 3L))
    assert(junk.media_type == "application/octet-stream" && junk.sample_rate.isEmpty)
  }

  test("MP4 box walk reads back exactly what the builder wrote; garbage degrades to nulls") {
    import graft.multimodal.Multimodal
    val mp4 = Multimodal.mp4Bytes("mp42", 30000, 90090L,
      Seq("avc1", "mp4a"), Array.fill[Byte](500)(9))
    assert(Multimodal.sniffMediaType(mp4) == "video/mp4")
    val v = Multimodal.tryDecodeMp4(1L, mp4).get
    assert(v.major_brand.contains("mp42") && v.timescale.contains(30000L))
    assert(v.duration_ms.contains(90090L * 1000 / 30000)) // floor = 3003
    assert(v.n_tracks.contains(2L) && v.codec.contains("avc1"))

    // version-1 mvhd (64-bit duration) parses too: patch the built
    // payload's mvhd to v1 layout via a hand-built one
    val single = Multimodal.mp4Bytes("isom", 600, 0L, Seq("hvc1"), Array.empty)
    val s1 = Multimodal.tryDecodeMp4(2L, single).get
    assert(s1.duration_ms.contains(0L) && s1.n_tracks.contains(1L) &&
      s1.codec.contains("hvc1"))

    // corruption degrades, never throws: truncation mid-moov, a size
    // field pointing past the payload, non-mp4 bytes
    assert(Multimodal.tryDecodeMp4(3L, mp4.take(40)).isEmpty)
    val bad = mp4.clone(); bad(0) = 0x7F.toByte // ftyp size -> 2GB
    assert(Multimodal.tryDecodeMp4(4L, bad).isEmpty)
    val junk = Multimodal.decodeVideo(
      Multimodal.MediaItem(5L, "", Array[Byte](1, 2, 3), 3L))
    assert(junk.media_type == "application/octet-stream" && junk.timescale.isEmpty)
  }

  test("videoHash: stsz contour round-trips, bitrate-scale-invariant, degrades typed") {
    import graft.multimodal.Multimodal
    // 320 varied sample sizes; local replica of the bucket/contour math
    val sizes = (0 until 320).map(i => (i * 53 + 7) % 9001 + 100)
    def contour(ss: Seq[Int]): Long = {
      val b = new Array[Long](64)
      ss.zipWithIndex.foreach { case (sz, i) => b((i * 64 / ss.length)) += sz }
      (0 until 64).foldLeft(0L)((h, k) =>
        if (b(k) > b((k + 1) % 64)) h | (1L << k) else h)
    }
    val mp4 = Multimodal.mp4Bytes("isom", 600, 0L, Seq("avc1"), Array.empty, sizes)
    assert(Multimodal.videoHash(mp4).contains(contour(sizes)))
    // the stsz box does not disturb the metadata walk
    assert(Multimodal.tryDecodeMp4(1L, mp4).get.codec.contains("avc1"))
    // uniform 3x bitrate scaling cancels (adjacent-bucket comparison)
    val x3 = Multimodal.mp4Bytes("isom", 600, 0L, Seq("avc1"), Array.empty,
      sizes.map(_ * 3))
    assert(Multimodal.videoHash(x3) == Multimodal.videoHash(mp4))
    // a one-bucket spike flips at most 2 bits
    val spiked = sizes.zipWithIndex.map { case (s, i) =>
      if (i / 5 == 20) s + 40000 else s }
    val sp = Multimodal.mp4Bytes("isom", 600, 0L, Seq("avc1"), Array.empty, spiked)
    assert(java.lang.Long.bitCount(
      Multimodal.videoHash(sp).get ^ Multimodal.videoHash(mp4).get) <= 2)
    // stsz lives only in the FIRST trak; a second codec still parses
    val two = Multimodal.mp4Bytes("isom", 600, 0L, Seq("avc1", "mp4a"),
      Array.empty, sizes)
    assert(Multimodal.videoHash(two).contains(contour(sizes)))
    assert(Multimodal.tryDecodeMp4(2L, two).get.n_tracks.contains(2L))
    // degradation: no stsz, <64 samples, corruption -> None
    assert(Multimodal.videoHash(
      Multimodal.mp4Bytes("isom", 600, 0L, Seq("avc1"), Array.empty)).isEmpty)
    assert(Multimodal.videoHash(
      Multimodal.mp4Bytes("isom", 600, 0L, Seq("avc1"), Array.empty,
        sizes.take(63))).isEmpty)
    assert(Multimodal.videoHash(mp4.take(40)).isEmpty)
    assert(Multimodal.videoHash(Array[Byte](1, 2, 3)).isEmpty)
    // fixed-size stsz (sample_size != 0, flat contour) degrades too:
    // patch the built table to the uniform form
    val flat = mp4.clone()
    val stszOff = {
      def find(off: Int): Int =
        if (off + 8 > flat.length) -1
        else if (new String(flat, off + 4, 4, "US-ASCII") == "stsz") off
        else find(off + 1)
      find(0)
    }
    assert(stszOff > 0)
    flat(stszOff + 12 + 3) = 1 // sample_size = 1 (uniform)
    assert(Multimodal.videoHash(flat).isEmpty)
  }

  test("Chat: parseTurns/validateTurns flags, token accounting, malformed degradation") {
    import graft.operators.Chat
    import org.apache.spark.sql.Row
    val t = df("doc_id BIGINT, transcript STRING",
      // valid: system, user, assistant
      Row(1L, """[{"role":"system","content":"be concise"},{"role":"user","content":"hi there"},{"role":"assistant","content":"hello"}]"""),
      // doubled user turn -> alternation fails
      Row(2L, """[{"role":"user","content":"a"},{"role":"user","content":"b"},{"role":"assistant","content":"c"}]"""),
      // unknown role at open -> roles + starts fail
      Row(3L, """[{"role":"tool","content":"x"},{"role":"assistant","content":"y"}]"""),
      // empty final turn -> nonempty fails
      Row(4L, """[{"role":"user","content":"q"},{"role":"assistant","content":""}]"""),
      // system past turn 0 -> starts fails
      Row(5L, """[{"role":"user","content":"q"},{"role":"system","content":"late"},{"role":"assistant","content":"a"}]"""),
      // malformed JSON -> zero turn rows, absent from validate
      Row(6L, """[{"role":"user","content":"""),
      Row(7L, null))
    val turns = Chat.parseTurns(t, "doc_id", "transcript")
    assert(turns.filter("doc_id IN (6, 7)").count() == 0)
    assertRows(turns.filter("doc_id = 1").select("turn_idx", "role", "content"),
      Seq(Row(0L, "system", "be concise"), Row(1L, "user", "hi there"),
        Row(2L, "assistant", "hello")))
    val v = Chat.validateTurns(turns, "doc_id")
      .select("doc_id", "valid", "roles_ok", "starts_ok", "alternation_ok",
        "nonempty_ok", "n_turns", "user_tokens", "assistant_tokens")
    assertRows(v, Seq(
      Row(1L, true, true, true, true, true, 3L, 2L, 1L),
      Row(2L, false, true, true, false, true, 3L, 2L, 1L),
      Row(3L, false, false, false, true, true, 2L, 0L, 1L),
      Row(4L, false, true, true, true, false, 2L, 1L, 0L),
      Row(5L, false, true, false, true, true, 3L, 1L, 1L)))
    // missing keys surface as NULL and fail roles/nonempty, not parse
    val nk = Chat.validateTurns(Chat.parseTurns(
      df("doc_id BIGINT, transcript STRING",
        Row(8L, """[{"content":"orphan"},{"role":"user"}]""")),
      "doc_id", "transcript"), "doc_id").collect()(0)
    assert(nk.getAs[Boolean]("roles_ok") == false &&
      nk.getAs[Boolean]("nonempty_ok") == false)
  }

  test("Preference.validatePairs: distinct / nonempty / length-ratio gates") {
    import org.apache.spark.sql.Row
    val t = df("id BIGINT, p STRING, c STRING, r STRING",
      Row(1L, "why", "good answer here", "bad answer"),   // valid
      Row(2L, "why", "same words", "same words"),          // identical
      Row(3L, "why", "", "an answer"),                     // empty chosen
      Row(4L, "", "a", "b"),                               // empty prompt
      Row(5L, "why", "w w w w w", "w"),                    // 5:1 > 4:1 ratio
      Row(6L, "why", "w w w w", "w"),                      // 4:1 == cap, ok
      Row(7L, "why", null, "x"))                           // null side
    val got = graft.operators.Preference
      .validatePairs(t, "id", "p", "c", "r")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Boolean]("distinct_ok"), r.getAs[Boolean]("nonempty_ok"),
          r.getAs[Boolean]("ratio_ok"), r.getAs[Boolean]("valid"))).toMap
    assert(got(1L) == ((true, true, true, true)))
    assert(got(2L) == ((false, true, true, false)))
    assert(got(3L)._2 == false && got(3L)._3 == false && !got(3L)._4)
    assert(got(4L) == ((true, false, true, false)))
    assert(got(5L) == ((true, true, false, false)))
    assert(got(6L) == ((true, true, true, true)))
    assert(got(7L)._1 == false && !got(7L)._4)
  }

  test("Preference.labelConflicts: unordered-pair census, orientation counts, canonical collide") {
    import org.apache.spark.sql.Row
    val t = df("id BIGINT, c STRING, r STRING",
      Row(1L, "yes", "no"),   // forward (md5(no) < md5(yes) decides orient)
      Row(2L, "yes", "no"),
      Row(3L, "no", "yes"),   // flipped -> conflict
      Row(4L, "  YES ", "no"), // canonical fingerprint collides with "yes"
      Row(5L, "solo a", "solo b"))
    val got = graft.operators.Preference.labelConflicts(t, "c", "r").collect()
    assert(got.length == 2)
    val big = got.find(_.getAs[Long]("n_pairs") == 4L).get
    assert(big.getAs[Boolean]("conflicted"))
    // orientations: 3 one way, 1 the other, regardless of md5 order
    assert(Set(big.getAs[Long]("n_forward"), big.getAs[Long]("n_reverse")) == Set(1L, 3L))
    assert(big.getAs[Long]("agreement_permille") == 750)
    val solo = got.find(_.getAs[Long]("n_pairs") == 1L).get
    assert(!solo.getAs[Boolean]("conflicted") &&
      solo.getAs[Long]("agreement_permille") == 1000)
    // a NULL side is not a pair — no phantom self-pair rows
    val withNull = df("id BIGINT, c STRING, r STRING",
      Row(1L, null, "x"), Row(2L, "x", null), Row(3L, "a", "b"))
    assert(graft.operators.Preference.labelConflicts(withNull, "c", "r").count() == 1)
  }

  test("manifestStates/manifestMerge: 3-way batch merge == one-shot build") {
    import org.apache.spark.sql.Row
    import graft.operators.Profile
    val rows = (1L to 30L).map(i =>
      Row(i, s"s${i % 3}", s"doc ${i % 7} body text number ${i % 5}"))
    val t = df("doc_id BIGINT, source STRING, text STRING", rows: _*)
    val oneShot = Profile.manifestMerge(Profile.manifestStates(t, "source", "text", k = 4), k = 4)
    val merged = Profile.manifestMerge(
      Profile.manifestStates(t.filter("doc_id % 3 = 0"), "source", "text", k = 4)
        .unionByName(Profile.manifestStates(t.filter("doc_id % 3 = 1"), "source", "text", k = 4))
        .unionByName(Profile.manifestStates(t.filter("doc_id % 3 = 2"), "source", "text", k = 4)),
      k = 4)
    assertRows(merged, oneShot.collect().toIndexedSeq)
    // duplicated texts are visible through the distinct estimate
    val m = merged.collect().map(r => r.getString(0) -> r).toMap
    assert(m.values.forall(r => r.getAs[Long]("uniq_est") <= r.getAs[Long]("n_docs") + 4))
    assert(m("s0").getAs[Long]("n_docs") == 10)
  }

  test("encodingReport: mojibake, replacement, control, nbsp counters and the all-clear") {
    import org.apache.spark.sql.Row
    val t = df("id BIGINT, text STRING",
      Row(1L, "clean ascii prose"),
      Row(2L, "double encoded: \u00C3\u00A9 and \u00C3\u00A8"),
      Row(3L, "lost bytes \uFFFD here \uFFFD\uFFFD"),
      Row(4L, "binary\u0001noise\u007F"),
      Row(5L, "html\u00A0artifact"),
      Row(6L, "tab\tand\nnewline are fine"),
      Row(7L, "plain \u00C9cole")) // precomposed É + regular char: NOT mojibake
    val got = graft.functions.TextFunctions.encodingReport(t, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("encoding_ok"))
    assert(got(2L).getAs[Long]("n_mojibake") == 2 && !got(2L).getAs[Boolean]("encoding_ok"))
    assert(got(3L).getAs[Long]("n_replacement") == 3)
    assert(got(4L).getAs[Long]("n_controls") == 2)
    assert(got(5L).getAs[Long]("n_nbsp") == 1)
    assert(got(6L).getAs[Boolean]("encoding_ok"))
    assert(got(7L).getAs[Boolean]("encoding_ok"))
    // NULL text counts as empty: zero counters, ok — never -1/NULL
    val nul = graft.functions.TextFunctions.encodingReport(
      df("id BIGINT, text STRING", Row(9L, null)), "id", "text").collect()(0)
    assert(nul.getAs[Long]("n_mojibake") == 0 && nul.getAs[Boolean]("encoding_ok"))
  }

  test("tokenDrift: zero on identical halves, ln2 on disjoint vocab, power-of-two dims") {
    import org.apache.spark.sql.Row
    val a = df("text STRING", Row("alpha beta gamma"), Row("delta epsilon"))
    val same = graft.operators.Profile.tokenDrift(a, a, "text").collect()
    assert(same.forall(_.getAs[Long]("js_q") == 0L) &&
      same.head.getAs[Long]("js_total_q") == 0L)
    // fully disjoint vocabularies -> JS = ln 2 (up to per-bucket floor)
    val b = df("text STRING", Row("zeta eta theta"), Row("iota kappa"))
    val dj = graft.operators.Profile.tokenDrift(a, b, "text").collect()
    val total = dj.head.getAs[Long]("js_total_q")
    val ln2q = (math.log(2.0) * 1e9).toLong
    assert(total <= ln2q && total > ln2q - dj.length,
      s"disjoint JS $total !~ $ln2q")
    intercept[IllegalArgumentException] {
      graft.operators.Profile.tokenDrift(a, b, "text", dims = 100)
    }
    // an empty side poisons to NULL, never to a 0 "no drift" verdict
    val empty = graft.operators.Profile.tokenDrift(
      a, a.filter("text IS NULL"), "text").collect()
    assert(empty.nonEmpty && empty.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("corpusManifest: dup rate, decimal-mean quality, language mode tie-break") {
    import org.apache.spark.sql.Row
    val t = df("doc_id BIGINT, source STRING, text STRING",
      Row(1L, "a", "the quick fox"),
      Row(2L, "a", "THE  quick fox"), // same canonical fingerprint as 1
      Row(3L, "a", "le chat et le chien est ici"),
      Row(4L, "b", "der hund und die katze"))
    val m = graft.operators.Profile.corpusManifest(t, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = m("a")
    assert(a.getAs[Long]("n_docs") == 3 && a.getAs[Long]("n_unique") == 2)
    assert(a.getAs[Long]("dup_permille") == 333)
    assert(a.getAs[Long]("total_tokens") == 13)
    val b = m("b")
    assert(b.getAs[Long]("dup_permille") == 0 &&
      b.getAs[String]("top_lang") == "de" &&
      b.getAs[Long]("top_lang_permille") == 1000)
    // mean quality matches the decimal-summed per-doc scores
    val qs = t.filter("source = 'a'").select(
      graft.functions.TextFunctions.qualityScore(
        org.apache.spark.sql.functions.col("text")).cast("decimal(18,9)"))
      .collect().map(_.getDecimal(0))
    val want = qs.reduce(_ add _).doubleValue() / 3
    assert(math.abs(a.getAs[Double]("mean_quality") - want) < 1e-12)
  }

  test("applyEpochAllocation: whole-doc copies, realized mass near budget share, deterministic") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    // 200 docs of 10 tokens in s1, 100 of 10 in s2; weights 1:1;
    // budget 3000 => each source draws 1500 tokens: s1 rate 0.75
    // (some docs once, some zero), s2 rate 1.5 (all once, half twice)
    val rows = (1L to 300L).map(i =>
      Row(i, if (i <= 200) "s1" else "s2", Seq.fill(10)("w").mkString(" ")))
    val t = df("doc_id BIGINT, source STRING, text STRING", rows: _*)
    val got = graft.operators.Sampling.applyEpochAllocation(
      t, "doc_id", "source", "text", lit(1L), budgetTokens = 3000L)
    val perSrc = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // realized copies ~ 150 per source (hash residual: binomial tail)
    assert(math.abs(perSrc("s1") - 150L) <= 25, s"s1 drew ${perSrc("s1")}")
    assert(math.abs(perSrc("s2") - 150L) <= 25, s"s2 drew ${perSrc("s2")}")
    // s2 rate 1.5: every doc at least once, never more than twice
    val s2copies = got.filter("source = 's2'").groupBy("doc_id").count()
    assert(s2copies.count() == 100 &&
      s2copies.agg(max("count")).head().getLong(0) == 2L)
    // pure function of the id: same output regardless of partitioning
    val again = graft.operators.Sampling.applyEpochAllocation(
      t.repartition(7), "doc_id", "source", "text", lit(1L), 3000L)
      .collect().map(_.toSeq).toSet
    assert(again == got.collect().map(_.toSeq).toSet)
  }

  test("curriculumSchedule: quality-ordered ntile phases, deterministic order key") {
    import org.apache.spark.sql.Row
    // group g: 4 docs with strictly ordered quality (longer alpha text
    // scores higher through the token-count term)
    val t = df("doc_id BIGINT, g STRING, text STRING",
      Row(1L, "g", "the and is a of to in very long clean prose text here"),
      Row(2L, "g", "the and is a"),
      Row(3L, "g", "zz!!??.."),
      Row(4L, "g", "@#$% ^&*!"),
      Row(5L, "h", "solo"))
    val got = graft.operators.Sampling
      .curriculumSchedule(t, "doc_id", "g", "text", phases = 2)
    val byId = got.collect().map(r => r.getLong(0) -> r).toMap
    // phase 1 = top-quality half within the group
    assert(byId(1L).getAs[Long]("phase") == 1 && byId(2L).getAs[Long]("phase") == 1)
    assert(byId(3L).getAs[Long]("phase") == 2 && byId(4L).getAs[Long]("phase") == 2)
    assert(byId(5L).getAs[Long]("phase") == 1)
    // order key is the salted mix of the id — invariant to text/group
    val again = graft.operators.Sampling
      .curriculumSchedule(t.orderBy(org.apache.spark.sql.functions.rand(3)),
        "doc_id", "g", "text", phases = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("order_key")).toMap
    assert(byId.map { case (k, r) => k -> r.getAs[Long]("order_key") } == again)
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.curriculumSchedule(t, "doc_id", "g", "text", 0)
    }
  }

  test("epochAllocation: integer draw sizes, repeat factors, oversample guard") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    // source s1: 6 tokens, s2: 2 tokens; weights 3 and 1; budget 100
    val t = df("source STRING, text STRING",
      Row("s1", "a b c"), Row("s1", "d e f"), Row("s2", "g h"))
    val got = graft.operators.Sampling.epochAllocation(
      t, "source", "text",
      weightCol = when(col("source") === "s1", lit(3L)).otherwise(lit(1L)),
      budgetTokens = 100L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val s1 = got("s1"); val s2 = got("s2")
    assert(s1.getAs[Long]("tokens_drawn") == 75 &&
      s1.getAs[Long]("epochs_permille") == 12500 &&
      s1.getAs[Boolean]("oversampled"))
    assert(s2.getAs[Long]("tokens_drawn") == 25 &&
      s2.getAs[Long]("epochs_permille") == 12500 &&
      s2.getAs[Boolean]("oversampled"))
    // large corpus, small draw -> under one epoch, not flagged
    val big = df("source STRING, text STRING",
      Row("s3", Seq.fill(200)("w").mkString(" ")))
    val u = graft.operators.Sampling.epochAllocation(
      big, "source", "text", lit(1L), budgetTokens = 100L).collect()(0)
    assert(u.getAs[Long]("epochs_permille") == 500 &&
      !u.getAs[Boolean]("oversampled"))
  }

  test("validateTranscripts: zero-shuffle plan, row parity with the exploded pipeline") {
    import graft.operators.Chat
    import org.apache.spark.sql.Row
    val t = df("doc_id BIGINT, transcript STRING",
      Row(1L, """[{"role":"system","content":"be concise"},{"role":"user","content":"hi there"},{"role":"assistant","content":"hello"}]"""),
      Row(2L, """[{"role":"user","content":"a"},{"role":"user","content":"b"},{"role":"assistant","content":"c"}]"""),
      Row(3L, """[{"role":"tool","content":"x"},{"role":"assistant","content":"y"}]"""),
      Row(4L, """[{"role":"user","content":"q"},{"role":"assistant","content":""}]"""),
      Row(5L, """[{"role":"user","content":"q"},{"role":"system","content":"late"},{"role":"assistant","content":"a"}]"""),
      Row(6L, """[{"role":"user","content":"""), // malformed
      Row(7L, null),
      Row(8L, """[{"content":"orphan"},{"role":"user"}]"""),
      Row(9L, "[]"),                              // zero turns
      Row(10L, """[{"role":"system","content":"s"}]""")) // lone system
    val inline = Chat.validateTranscripts(t, "doc_id", "transcript")
    val exploded = Chat.validateTurns(
      Chat.parseTurns(t, "doc_id", "transcript"), "doc_id")
    assertRows(inline, exploded.collect().toIndexedSeq)
    assert(inline.filter("doc_id IN (6, 7, 9)").count() == 0)
    // the point of the inline shape: ONE projection, zero shuffles
    val plan = inline.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"inline validate shuffled:\n$plan")
  }

  test("Chat tool-use: orphan tool, unanswered call, rogue name, chained results") {
    import graft.operators.Chat
    import org.apache.spark.sql.Row
    val t = df("doc_id BIGINT, transcript STRING",
      // valid: call answered, then chained second tool result
      Row(1L, """[{"role":"user","content":"q"},{"role":"assistant","content":"","tool_calls":[{"name":"search"},{"name":"calc"}]},{"role":"tool","content":"r1"},{"role":"tool","content":"r2"},{"role":"assistant","content":"done"}]"""),
      // orphan tool result (no preceding call)
      Row(2L, """[{"role":"user","content":"q"},{"role":"tool","content":"r"},{"role":"assistant","content":"a"}]"""),
      // call never answered
      Row(3L, """[{"role":"user","content":"q"},{"role":"assistant","content":"","tool_calls":[{"name":"calc"}]},{"role":"assistant","content":"done"}]"""),
      // unregistered tool name
      Row(4L, """[{"role":"user","content":"q"},{"role":"assistant","content":"","tool_calls":[{"name":"rm_rf"}]},{"role":"tool","content":"r"},{"role":"assistant","content":"done"}]"""),
      // no tools at all -> vacuously valid
      Row(5L, """[{"role":"user","content":"q"},{"role":"assistant","content":"a"}]"""))
    val v = Chat.validateToolUse(
      Chat.parseToolTurns(t, "doc_id", "transcript"), "doc_id",
      allowedTools = Seq("search", "calc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(v(1L).getAs[Boolean]("valid") &&
      v(1L).getAs[Long]("n_tool_calls") == 2 &&
      v(1L).getAs[Long]("n_tool_turns") == 2)
    assert(!v(2L).getAs[Boolean]("tool_after_call_ok") && !v(2L).getAs[Boolean]("valid"))
    assert(!v(3L).getAs[Boolean]("tools_answered_ok") &&
      v(3L).getAs[Boolean]("tool_after_call_ok"))
    assert(!v(4L).getAs[Boolean]("tool_names_ok") &&
      v(4L).getAs[Boolean]("tools_answered_ok"))
    assert(v(5L).getAs[Boolean]("valid") && v(5L).getAs[Long]("n_tool_calls") == 0)
  }

  test("Bpe.train matches the hand-computed merge sequence (ties, greedy re-merge)") {
    // freqs: low:3 lower:2 newest:3 widest:1 — classic Sennrich corpus
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "low low low lower lower newest"),
      Row(2L, "newest newest widest"))
    val got = graft.operators.Bpe.train(t, "text", numMerges = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    // round 0: (l,o)=(o,w)=(w,e)=5 -> tie-break picks (l,o)
    // round 1: (lo,w)=(w,e)=5 -> "lo" < "w"
    // round 2: (e,s)=(s,t)=4 -> "e" < "s"; round 3: (es,t)=4
    assert(got == Seq(
      (0L, "l", "o", "lo", 5L), (1L, "lo", "w", "low", 5L),
      (2L, "e", "s", "es", 4L), (3L, "es", "t", "est", 4L)))
    // overlapping pairs COUNT (aaa -> 2), merge is greedy left-to-right
    val aaa = graft.operators.Bpe.train(
      df("doc_id BIGINT, text STRING", Row(1L, "aaa")), "text", 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(aaa == Seq(("a", "a", 2L)))
  }

  test("Bpe.trainAndSegment returns the final word state consistent with the merge table") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "low low low lower lower newest"),
      Row(2L, "newest newest widest"))
    val segs = graft.operators.Bpe.trainAndSegment(t, "text", numMerges = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // after merges lo, low, es, est (see the train test):
    assert(segs("low") == ((3L, 1L, "<low>")))
    assert(segs("lower") == ((2L, 3L, "<low><e><r>")))
    assert(segs("newest") == ((3L, 4L, "<n><e><w><est>")))
    assert(segs("widest") == ((1L, 4L, "<w><i><d><est>")))
  }

  test("Bpe.train runs 1.5k merges driver-locally: bounded jobs, seconds of wall clock") {
    // ~2.5k distinct 8-char synthetic words -> tens of thousands of
    // adjacent-pair occurrences, thousands of available merges
    val words = (0 until 2500).map { i =>
      var x = i.toLong
      val sb = new StringBuilder
      (0 until 8).foreach { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + ((x >>> 33) % 26)).toChar)
      }
      sb.toString
    }.distinct
    val t = df("doc_id BIGINT, text STRING", Row(1L, words.mkString(" ")))
    val jc = graft.tools.JobCounter(spark)
    val m =
      try graft.operators.Bpe.train(t, "text", numMerges = 1500).collect()
      finally jc.close()
    val jobs = jc.counts().jobs
    assert(m.length == 1500, s"expected 1500 merges, got ${m.length}")
    // the pre-round-8 shape launched ~2 jobs PER MERGE (~3000 here);
    // driver-local training launches only the word-table collect plus
    // the merge-table materialization. The job budget alone proves
    // driver-locality — no wall-clock assert (JIT/GC/box load would
    // make one flaky without adding evidence).
    assert(jobs <= 8, s"merge loop must not launch per-merge jobs, saw $jobs")
    // merge table is well-formed: indices 0..n-1, positive counts
    assert(m.map(_.getLong(0)).toSeq == (0L until 1500L))
    assert(m.forall(_.getLong(4) > 0L))
  }

  test("Bpe.segment applies learned merges in order to unseen words") {
    val merges = Seq("l" -> "o", "lo" -> "w", "e" -> "s", "es" -> "t")
    val segs = graft.operators.Bpe.segment(
      df("doc_id BIGINT, text STRING", Row(1L, "lowest slow")),
      "doc_id", "text", merges)
      .collect().map(r => r.getString(1) -> r.getSeq[String](2)).toMap
    assert(segs("lowest") == Seq("low", "est"))
    assert(segs("slow") == Seq("s", "low"))
    // the janino-safe closure path (> maxCodegenMerges) is bit-identical
    val padded = merges ++ (1 to graft.operators.Bpe.maxCodegenMerges + 1)
      .map(i => s"zz$i" -> s"zz$i") // inert pairs: symbols never present
    val segs2 = graft.operators.Bpe.segment(
      df("doc_id BIGINT, text STRING", Row(1L, "lowest slow")),
      "doc_id", "text", padded)
      .collect().map(r => r.getString(1) -> r.getSeq[String](2)).toMap
    assert(segs2 == segs)
  }

  test("kmvSketch: below-k exact, estimator bit-replays the closed form, merge == whole-corpus sketch") {
    import graft.functions.Hashing
    val rows = (1L to 3000L).map(i => Row(i, s"g${i % 3}", i % 997))
    val t = df("id BIGINT, g STRING, v BIGINT", rows: _*)
      .withColumn("__h", HashExpressions.mix64(col("v")))
      .withColumn("all", lit("all"))

    // expected sketch from first principles: the 64 unsigned-smallest
    // distinct mix64 hashes, estimator floor((k-1)*2^64 / kth)
    val distinctHashes = (0L until 997L).map(Hashing.mix64)
    val sortedU = distinctHashes.distinct
      .sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
    val expSketch = sortedU.take(64)
    val kthU = BigInt(expSketch.last) & ((BigInt(1) << 64) - 1)
    val expEst = ((BigInt(63) << 64) / kthU).toLong

    // below k: the sketch holds everything, estimate is exact, kth null
    val exact = graft.operators.Profile.kmvSketch(t, "all", col("__h"), k = 2048)
      .collect().head
    assert(exact.getLong(2) == 997L && exact.isNullAt(3) && exact.getLong(4) == 997L)

    // estimator branch: sketch content and estimate match the replay
    val est = graft.operators.Profile.kmvSketch(t, "all", col("__h"), k = 64)
      .collect().head
    assert(est.getSeq[Long](1) == expSketch)
    assert(est.getLong(2) == 64L && est.getLong(3) == expSketch.last)
    assert(est.getLong(4) == expEst)
    // and the estimate lands in the 3-sigma KMV band around truth
    assert(math.abs(est.getLong(4) - 997.0) / 997.0 < 3.0 / math.sqrt(62.0))

    // merge closure: per-group sketches re-aggregated == whole-corpus
    // sketch VALUE-FOR-VALUE (not just estimate-for-estimate)
    val perGroup = graft.operators.Profile.kmvSketch(t, "g", col("__h"), k = 64)
    val merged = graft.operators.Profile.kmvMerge(perGroup, k = 64).collect().head
    assert(merged.getSeq[Long](0) == expSketch)
    assert(merged.getLong(3) == expEst)
  }

  test("scale caveats self-enforce: ungrouped balancedShards row cap, oracleExact temperature set") {
    val big = spark.range(50).toDF("id").withColumn("w", col("id") % 7)
    // over the (lowered) cap without groupCol: refuses the global sort
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Packing.balancedShards(big, "id", "w", numShards = 3,
        maxUngroupedRows = 10)
    }
    assert(e1.getMessage.contains("groupCol"))
    // with groupCol the same row count is fine (no count pre-scan runs)
    assert(graft.operators.Packing.balancedShards(big.withColumn("g", col("id") % 2),
      "id", "w", numShards = 3, groupCol = Some("g")).count() == 50)

    val t = df("id BIGINT, dom STRING", Row(1L, "a"), Row(2L, "b"))
    // pow-based temperatures are refused under oracleExact...
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Sampling.temperatureSample(t, "id", "dom",
        targetRows = 1, temperature = 3.0, oracleExact = true)
    }
    assert(e2.getMessage.contains("T=3.0"))
    // ...while the IEEE-pinned ones pass, and unflagged callers keep
    // the old free-T behavior
    graft.operators.Sampling.temperatureSample(t, "id", "dom",
      targetRows = 1, temperature = 1.0, oracleExact = true).count()
    graft.operators.Sampling.temperatureSample(t, "id", "dom",
      targetRows = 1, temperature = 3.0).count()
  }

  test("kmvOverlap: identical groups hit 1000 permille, disjoint 0, partial matches the exact replay") {
    import graft.functions.Hashing
    val rows =
      (1L to 100L).map(v => Row("a", v)) ++
        (1L to 100L).map(v => Row("b", v)) ++        // identical to a
        (200L to 300L).map(v => Row("c", v)) ++      // disjoint from a/b
        ((1L to 50L) ++ (300L to 350L)).map(v => Row("d", v)) // half-overlaps a
    val t = df("g STRING, v BIGINT", rows: _*)
      .withColumn("__h", HashExpressions.mix64(col("v")))
    val got = graft.operators.Profile.kmvOverlap(t, "g", col("__h"), k = 32)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(("a", "b")) == ((32L, 32L, 1000L)))
    assert(got(("a", "c"))._2 == 0L && got(("a", "c"))._3 == 0L)
    // exact replay of the (a, d) estimator from first principles
    def uSort(vs: Seq[Long]) = vs.distinct
      .sortWith((x, y) => java.lang.Long.compareUnsigned(x, y) < 0)
    val ska = uSort((1L to 100L).map(Hashing.mix64)).take(32)
    val skd = uSort(((1L to 50L) ++ (300L to 350L)).map(Hashing.mix64)).take(32)
    val ux = uSort(ska ++ skd).take(32)
    val nm = ux.count(x => ska.contains(x) && skd.contains(x)).toLong
    assert(got(("a", "d")) == ((32L, nm, nm * 1000 / 32)))
    // and the sample estimate sits in a sane band around true J = 1/3
    assert(nm * 1000 / 32 > 100 && nm * 1000 / 32 < 600)
  }

  test("countAnomalies: flags exactly the spiked bucket at the hand-computed threshold") {
    // key A: 9 buckets of 10 events + 1 bucket of 100 -> z(spike) = 3.0
    // exactly; k=2.5 flags only the spike (and k=3 would not, strict >)
    val rows =
      (0 until 9).flatMap(b => Seq.fill(10)(Row("A", b.toLong))) ++
        Seq.fill(100)(Row("A", 9L)) ++
        Seq.fill(20)(Row("B", 0L)) // single-bucket key: variance 0, never flags
    val t = df("k STRING, bucket BIGINT", rows: _*)
    val got = graft.operators.Profile.countAnomalies(t, "k", "bucket", k = 2.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.length == 1)
    val (k0, b0, n0, mean0, var0) = got.head
    assert(k0 == "A" && b0 == 9L && n0 == 100L)
    assert(mean0 == 19.0 && var0 == 729.0)
    val none = graft.operators.Profile.countAnomalies(t, "k", "bucket", k = 3.0)
    assert(none.count() == 0) // z = 3.0 is NOT > 3.0
  }

  test("correlation: exact +1/-1 on linear columns, NULL on constants, partitioning-invariant") {
    val t = df("x DOUBLE, y DOUBLE, z DOUBLE, k DOUBLE",
      Row(1.0, 2.0, 9.0, 5.0), Row(2.0, 4.0, 7.0, 5.0),
      Row(3.0, 6.0, 5.0, 5.0), Row(4.0, 8.0, 3.0, 5.0), Row(5.0, 10.0, 1.0, 5.0))
    val got = graft.operators.Profile.correlation(t, Seq("x", "y", "z", "k"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got.size == 6)
    assert(math.abs(got(("x", "y")).get - 1.0) < 1e-12) // y = 2x
    assert(math.abs(got(("x", "z")).get + 1.0) < 1e-12) // z = 11 - 2x
    assert(got(("x", "k")).isEmpty && got(("y", "k")).isEmpty) // zero variance -> NULL
    assert(got(("x", "y")).get == got(("x", "y")).get)
    // exact integer moments => identical bits under re-layout
    val again = graft.operators.Profile.correlation(t.repartition(4), Seq("x", "y", "z", "k"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(again == got)
  }

  test("madOutliers: hand-computed median/MAD flags only the true outlier; constant column flags none") {
    val t = df("id BIGINT, v DOUBLE",
      ((1 to 9).map(i => Row(i.toLong, i.toDouble)) :+ Row(10L, 100.0)): _*)
    // median 5.5, MAD = median{4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,94.5} = 2.5
    val got = graft.operators.Profile.madOutliers(t, "v", k = 3.0)
      .select("id", "med", "mad")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(10L))
    assert(got.head._2 == 5.5 && got.head._3 == 2.5)
    val const = df("id BIGINT, v DOUBLE", (1 to 5).map(i => Row(i.toLong, 7.0)): _*)
    assert(graft.operators.Profile.madOutliers(const, "v", k = 3.0).count() == 0L)
  }

  test("canonicalizeUrl: tracking params, case, default ports, fragments, trailing slash") {
    val cases = Seq(
      "https://Site.COM:443/P/Q/?utm_source=a&x=1&fbclid=z#frag" -> "https://site.com/P/Q/?x=1",
      "http://EXAMPLE.org:80/a/" -> "http://example.org/a",
      "http://example.org:8080/a" -> "http://example.org:8080/a", // non-default port kept
      "https://h.io/p?utm_only=1" -> "https://h.io/p",
      "https://h.io/CaseKept/Path" -> "https://h.io/CaseKept/Path")
    val t = df("id BIGINT, u STRING",
      cases.zipWithIndex.map { case ((in, _), i) => Row(i.toLong, in) }: _*)
    val got = t.select(col("id"), TextFunctions.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((_, want), i) =>
      assert(got(i.toLong) == want, s"case $i: got ${got(i.toLong)} want $want")
    }
  }

  test("oovRate: hand-computed occurrence fractions, case-folded, empty doc scores 0") {
    val t = df("doc_id BIGINT, text STRING",
      Row(1L, "The cat sat on the mat"), // the,cat,sat,on,the,mat: oov = sat,on,mat = 3/6
      Row(2L, "cat cat cat"), // all in vocab
      Row(3L, "xyzzy plugh"), // all oov
      Row(4L, ""))
    val got = TextFunctions.oovRate(t, "doc_id", "text", Seq("the", "cat", "mat"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((6L, 2.0 / 6.0))) // sat,on oov; mat IS in vocab
    assert(got(2L) == ((3L, 0.0)))
    assert(got(3L) == ((2L, 1.0)))
    assert(got(4L) == ((0L, 0.0)))
  }

  test("temperatureSample lifts low-resource domains; T=1 keeps natural proportions") {
    val rows = (0 until 900).map(i => Row(i.toLong, "big")) ++
      (900 until 1000).map(i => Row(i.toLong, "small"))
    val t = df("id BIGINT, dom STRING", rows: _*)
    def rates(out: Array[(String, Long)]) = {
      val kept = out.groupBy(_._1).view.mapValues(_.length.toDouble)
      (kept.getOrElse("big", 0.0) / 900, kept.getOrElse("small", 0.0) / 100)
    }
    val t2 = graft.operators.Sampling.temperatureSample(t, "id", "dom", targetRows = 400)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val (bigR2, smallR2) = rates(t2)
    // T=2: keep-rate ∝ 1/sqrt(c) — the rare domain keeps a 3× higher rate
    assert(smallR2 > bigR2 * 2.0, s"no flattening: big=$bigR2 small=$smallR2")
    val t1 = graft.operators.Sampling.temperatureSample(t, "id", "dom",
      targetRows = 400, temperature = 1.0)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val (bigR1, smallR1) = rates(t1)
    // T=1: both domains keep ~40% (equal rates up to hash noise)
    assert(math.abs(bigR1 - smallR1) < 0.1, s"T=1 should be proportional: $bigR1 vs $smallR1")
    // deterministic under re-layout
    val again = graft.operators.Sampling.temperatureSample(t.repartition(7), "id", "dom",
      targetRows = 400).collect().map(r => (r.getString(1), r.getLong(0)))
    assert(again.toSet == t2.toSet)
  }

  test("lmScore: hand-computed add-one bigram NLL; train-only model; short docs excluded") {
    val train = df("doc_id BIGINT, text STRING",
      Row(1L, "a b a b"), // bigrams: (a,b) x2, (b,a) x1
      Row(2L, "a c"), //            (a,c) x1
      Row(3L, "d")) // no bigram, but token d counts toward V
    val score = df("doc_id BIGINT, text STRING",
      Row(10L, "a b c"), // (a,b) seen 2x of ctx(a)=3; (b,c) unseen, ctx(b)=1
      Row(11L, "z q"), //   both tokens unseen: p = 1/V
      Row(12L, "a")) // < 2 tokens: excluded
    val got = TextFunctions.lmScore(score, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(!got.contains(12L))
    val v = 4.0 // {a, b, c, d}
    val expect10 = -(math.log(3.0 / (3 + v)) + math.log(1.0 / (1 + v))) / 2
    val expect11 = -math.log(1.0 / v) // ctx(z) = 0
    assert(got(10L)._1 == 2L)
    assert(math.abs(got(10L)._2 - expect10) < 1e-5, s"${got(10L)._2} vs $expect10")
    assert(got(11L)._1 == 1L)
    assert(math.abs(got(11L)._2 - expect11) < 1e-5, s"${got(11L)._2} vs $expect11")
    // natural text scores lower NLL than shuffled text under its own model
    assert(got(10L)._2 < expect11)
  }

  test("snapshotDiff labels added/removed/changed, drops unchanged, null-safe compare") {
    val old = df("k BIGINT, a STRING, b STRING",
      Row(1L, "x", "y"), // unchanged
      Row(2L, "x", null), // unchanged (null-safe: null == null)
      Row(3L, "x", "y"), // changed in new
      Row(4L, "x", "y"), // removed
      Row(5L, null, "z")) // changed: null -> value
    val neu = df("k BIGINT, a STRING, b STRING",
      Row(1L, "x", "y"),
      Row(2L, "x", null),
      Row(3L, "x", "Y2"),
      Row(5L, "now", "z"),
      Row(6L, "new", "row")) // added
    val got = graft.operators.Reconcile.snapshotDiff(old, neu, "k", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(3L -> "changed", 4L -> "removed", 5L -> "changed", 6L -> "added"))
  }

  test("stripRepeatedLines: shared lines removed everywhere, order kept, " +
    "trim collapses variants, all-boilerplate docs drop out") {
    val docs = df("doc_id BIGINT, text STRING",
      Row(1L, "keep me\nshared line\nunique one"),
      Row(2L, " shared line \n\nother text"), // trim matches; empty line dropped
      Row(3L, "shared line"), // every line shared -> doc drops out
      Row(4L, "z tail\nshared line\na head")) // survivors stay in order
    val got = Dedup.stripRepeatedLines(docs, "doc_id", "text", minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("keep me\nunique one", 2L),
      2L -> ("other text", 1L),
      4L -> ("z tail\na head", 2L)))
    // minDocFreq above the max document frequency (4: every doc holds
    // "shared line") removes nothing
    val all = Dedup.stripRepeatedLines(docs, "doc_id", "text", minDocFreq = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(all == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
  }

  test("cmsHeavyHitters: superset of true heavy hitters, integer threshold, " +
    "light keys cut") {
    // one heavy key (90 of 99 occurrences) + nine singletons
    val rows = Seq.fill(90)(1L) ++ (2L to 10L)
    val t = df("h BIGINT", rows.map(Row(_)): _*)
    // phi = 1/4: threshold 99/4 -> only key 1 is a TRUE heavy hitter
    val got = graft.operators.Profile.cmsHeavyHitters(t, col("h"),
      phiInverse = 4, depth = 4, width = 1024, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(1L), s"true heavy hitter missing: $got") // no false negatives
    assert(got(1L) >= 90L) // estimate only overcounts
    got.foreach { case (_, est) => assert(est * 4 >= 99, s"below threshold: $got") }
    // phi = 1/200: every key estimates over threshold (superset may be everything)
    val loose = graft.operators.Profile.cmsHeavyHitters(t, col("h"),
      phiInverse = 200, depth = 4, width = 1024, seed = 7L).count()
    assert(loose == 10L)
  }

  test("dsirLogWeights: target-like documents score higher; token counts exact; " +
    "layout-stable") {
    val target = df("doc_id BIGINT, text STRING",
      Row(100L, "alpha alpha alpha beta"),
      Row(101L, "alpha gamma"))
    val raw = df("doc_id BIGINT, text STRING",
      Row(1L, "alpha alpha alpha"), // all target-distinctive tokens
      Row(2L, "zeta zeta zeta"), // token never seen in target
      Row(3L, "alpha zeta")) // mixed
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.dsirLogWeights(df, target, "doc_id", "text",
        dims = 1024)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = run(raw)
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L)._1 == 3L && got(2L)._1 == 3L && got(3L)._1 == 2L)
    // alpha: in-target (positive log ratio); zeta: target-unseen (negative)
    assert(got(1L)._2 > 0L, s"target-like doc should score positive: $got")
    assert(got(2L)._2 < 0L, s"out-of-domain doc should score negative: $got")
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2, s"ordering: $got")
    // weights are a pure function of content — stable under re-layout
    assert(run(raw.repartition(5)) == got)
  }

  test("stripRepeatedLinesAgainst: corpus-hot lines stripped from the batch, " +
    "batch-internal repetition passes, lineIndex df exact") {
    val corpus = df("doc_id BIGINT, text STRING",
      Row(1L, "hot line\nown text"),
      Row(2L, "hot line\nmore text"),
      Row(3L, "once only"))
    val idx = Dedup.lineIndex(corpus, "doc_id", "text")
    val dfs = idx.collect().map(r => r.getLong(1)).sorted.toSeq
    assert(dfs == Seq(1L, 1L, 1L, 2L)) // hot line=2, three singletons
    val batch = df("doc_id BIGINT, text STRING",
      Row(10L, "hot line\nfresh stuff"),
      Row(11L, "batch dup\nbatch dup\nonce only"), // within-batch repeat passes
      Row(12L, "hot line")) // all lines corpus-hot -> doc drops out
    val got = Dedup.stripRepeatedLinesAgainst(batch, idx, "doc_id", "text",
      minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      10L -> ("fresh stuff", 1L),
      // "once only" has corpus df 1 (< 2) so it survives too
      11L -> ("batch dup\nbatch dup\nonce only", 3L)))
  }

  test("scrubContamination: shared spans excised in place, case kept, " +
    "overlapping windows merge, short docs scrub whole") {
    val eval = df("doc_id BIGINT, text STRING",
      Row(100L, "the secret bench mark answer"), // 2-gram windows incl "bench mark"
      Row(101L, "tiny doc")) // < n tokens: whole-text shingle
    val corpus = df("doc_id BIGINT, text STRING",
      // "secret bench" + "bench mark" overlap -> tokens 2,3,4 covered
      Row(1L, "intro words Secret BENCH mark outro"),
      Row(2L, "totally clean content here"),
      Row(3L, "tiny doc"), // whole-doc match -> fully scrubbed, drops out
      Row(4L, "tiny doc extended further now")) // >= n: windows only
    val got = Dedup.scrubContamination(corpus, eval, "doc_id", "text", shingleN = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(!got.contains(3L), s"fully-contaminated doc must drop out: $got")
    // matching is case-insensitive; the rebuilt text keeps original case
    assert(got(1L) == ("intro words outro", 3L), s"$got")
    assert(got(2L) == ("totally clean content here", 4L))
    // "tiny doc" window covers tokens 0,1 of doc 4
    assert(got(4L) == ("extended further now", 3L), s"$got")
  }

  test("audioHash: energy-contour bits match a local replica, " +
    "volume-invariant, typed-null on non-PCM16/short/malformed") {
    import graft.multimodal.Multimodal
    val n = 128 // 2 samples per frame
    def wav(f: Int => Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => bb.putShort(f(i).toShort))
      Multimodal.wavBytes(8000, 1, 16, bb.array())
    }
    val base: Int => Int = i => (i * 131 % 997) - 498
    val got = Multimodal.audioHash(wav(base)).get
    // local replica
    val e = Array.fill(64)(0L)
    (0 until n).foreach(i => e(i * 64 / n) += math.abs(base(i)).toLong)
    val want = (0 until 64).foldLeft(0L)((h, k) =>
      if (e(k) > e((k + 1) & 63)) h | (1L << k) else h)
    assert(got == want)
    assert(got != 0L && got != -1L, "contour should not be degenerate")
    // uniform gain cancels in adjacent-frame comparisons
    assert(Multimodal.audioHash(wav(i => base(i) * 2)).contains(got))
    // rejections: too short, 8-bit PCM, truncated header
    val short = java.nio.ByteBuffer.allocate(60).order(
      java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 30).foreach(i => short.putShort(i.toShort))
    assert(Multimodal.audioHash(
      Multimodal.wavBytes(8000, 1, 16, short.array())).isEmpty)
    assert(Multimodal.audioHash(
      Multimodal.wavBytes(8000, 1, 8, Array.fill(256)(1.toByte))).isEmpty)
    assert(Multimodal.audioHash("RIFFxxxx".getBytes("US-ASCII")).isEmpty)
  }

  test("trainLogisticFx matches a local integer-math replica; " +
    "scoreFx gives featureless docs prob = half-scale") {
    val feats = df("doc_id BIGINT, feat_idx BIGINT, weight BIGINT",
      Row(1L, 0L, 3L), Row(1L, 1L, -2L),
      Row(2L, 0L, -1L), Row(2L, 2L, 4L),
      Row(3L, 1L, 2L), Row(3L, 2L, -3L),
      Row(4L, 0L, 2L))
    val labels = df("doc_id BIGINT, label INT",
      Row(1L, 1), Row(2L, 0), Row(3L, 1), Row(4L, 0), Row(5L, 1))
    val dims = 4
    val got = graft.operators.Classifier
      .trainLogisticFx(feats, labels, dims, iters = 3, scaleBits = 20, lrShift = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // local replica: same fixed-point arithmetic, plain loops
    val scale = 1L << 20; val half = scale >> 1; val clamp = 1L << 40
    val x = Map(1L -> Map(0 -> 3L, 1 -> -2L), 2L -> Map(0 -> -1L, 2 -> 4L),
      3L -> Map(1 -> 2L, 2 -> -3L), 4L -> Map(0 -> 2L), 5L -> Map.empty[Int, Long])
    val y = Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L)
    val w = Array.fill(dims)(0L)
    for (_ <- 1 to 3) {
      val e = y.keys.map { d =>
        val m = x(d).map { case (j, v) => v * w(j) }.sum
        val u = math.min(math.abs(m), clamp)
        val t = (u * half) / (scale + u)
        d -> ((half + (if (m >= 0) t else -t)) - y(d) * scale)
      }.toMap
      val g = Array.fill(dims)(BigInt(0))
      for (d <- x.keys; (j, v) <- x(d)) g(j) += BigInt(v) * e(d)
      for (j <- 0 until dims) w(j) = w(j) - (g(j) / (5L << 3)).toLong
    }
    assert(got == w.indices.map(j => j.toLong -> w(j)).toMap, s"got $got want ${w.toSeq}")
    assert(w.exists(_ != 0L), "replica should learn nonzero weights")

    // warm-start closure: 1 pass + 1 continued pass == 2 cold passes
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold2 = asMap(graft.operators.Classifier
      .trainLogisticFx(feats, labels, dims, iters = 2))
    val w1 = graft.operators.Classifier
      .trainLogisticFx(feats, labels, dims, iters = 1)
    val warm = asMap(graft.operators.Classifier
      .trainLogisticFx(feats, labels, dims, iters = 1, initWeights = Some(w1)))
    assert(warm == cold2, s"warm-start continuation must equal one longer run")

    val weights = graft.operators.Classifier
      .trainLogisticFx(feats, labels, dims, iters = 3)
    val scored = graft.operators.Classifier
      .scoreFx(labels.select(col("doc_id")), "doc_id", feats, weights)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scored(5L) == ((0L, half)), s"featureless doc: ${scored(5L)}")
    assert(scored.size == 5)
  }

  test("scrubRepeatedSpans: spans in >=minDocs docs excised everywhere, " +
    "unique spans kept, repeated short docs drop out") {
    val corpus = df("doc_id BIGINT, text STRING",
      // "shared license text here" (2-gram windows) repeats in docs 1,2
      Row(1L, "alpha shared license text here beta"),
      Row(2L, "gamma shared license text here delta"),
      Row(3L, "totally unique content nothing repeats"),
      Row(4L, "tiny doc"), // whole-text shingle, repeated in 5
      Row(5L, "tiny doc"))
    val got = Dedup.scrubRepeatedSpans(corpus, "doc_id", "text", spanN = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // windows "shared license","license text","text here" cover tokens 1..4
    assert(got(1L) == ("alpha beta", 2L), s"$got")
    assert(got(2L) == ("gamma delta", 2L), s"$got")
    assert(got(3L) == ("totally unique content nothing repeats", 5L))
    assert(!got.contains(4L) && !got.contains(5L),
      s"repeated whole-doc shingles must scrub the docs entirely: $got")
  }

  test("dedupDiagnostics: one shared closure feeds sizes + survivors; " +
    "views agree with keepOnePerCluster") {
    val docs = df("doc_id BIGINT", (1L to 9L).map(Row(_)): _*)
    // clusters {1,2,3} (chain) and {7,8}; 4,5,6,9 never paired
    val pairs = df("id_a BIGINT, id_b BIGINT",
      Row(1L, 2L), Row(2L, 3L), Row(7L, 8L))
    val diag = Dedup.dedupDiagnostics(docs, "doc_id", pairs)
    val sizes = diag.clusterSizes.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 3L, 7L -> 2L))
    val survivors = diag.survivors.collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L, 6L, 7L, 9L))
    // the survivors view is exactly keepOnePerCluster's answer
    val reference = Dedup.keepOnePerCluster(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == reference)
    graft.operators.Stage.free(diag.components)
  }

  test("dedupDiagnostics works when the caller's id column is literally 'id' " +
    "(the simhashPairs shape) — the drop-set side is aliased") {
    val ids = df("id BIGINT", (1L to 5L).map(Row(_)): _*)
    val pairs = df("id_a BIGINT, id_b BIGINT", Row(1L, 2L))
    val diag = Dedup.dedupDiagnostics(ids, "id", pairs)
    assert(diag.survivors.collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L, 5L))
    graft.operators.Stage.free(diag.components)
  }

  test("RIFF walks guard forward progress: crafted chunk sizes whose " +
    "Int truncation makes a zero/negative step return None, never hang") {
    import graft.multimodal.Multimodal
    // 0xFFFFFFF8: old advance was 8 + (-8) + 0 = 0 — an infinite loop
    // pinned to one executor thread forever; 0xFFFFFFF7 stepped -1.
    // The Long-arithmetic walk clamps past-the-end chunks and exits.
    def riffWith(size: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(16)
        .put("WAVE".getBytes("US-ASCII"))
        .put("junk".getBytes("US-ASCII")).putInt(size.toInt)
      bb.put(Array[Byte](0, 0, 0, 0))
      bb.array()
    }
    val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = ex.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean =
          Multimodal.audioHash(riffWith(0xFFFFFFF8L)).isEmpty &&
            Multimodal.audioHash(riffWith(0xFFFFFFF7L)).isEmpty &&
            Multimodal.tryDecodeWav(1L, riffWith(0xFFFFFFF8L)).isEmpty &&
            Multimodal.tryDecodeWav(1L, riffWith(0xFFFFFFF7L)).isEmpty
      })
      assert(fut.get(30, java.util.concurrent.TimeUnit.SECONDS),
        "malformed RIFF chunk sizes must parse to None")
    } finally ex.shutdownNow()
  }

  test("span excision aligns shingle windows with rebuild tokens on " +
    "unicode-whitespace text: one ASCII-ws tokenizer on both sides") {
    // U+3000 (ideographic space) joins "header\u3000x" into ONE
    // wsClass token; the old Character.isWhitespace window tokenizer
    // split it in two, shifting every window position by one — the
    // excision then dropped the wrong tokens and the first
    // contaminated token SURVIVED decontamination.
    val evalDf = df("text STRING", Row("aaa bbb ccc ddd eee"))
    val corpus = df("doc_id BIGINT, text STRING",
      Row(1L, "header\u3000x aaa bbb ccc ddd eee"),
      Row(2L, "clean doc with no contamination at all"))
    val got = Dedup.scrubContamination(corpus, evalDf, "doc_id", "text",
        shingleN = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) == ("header\u3000x" -> 1L),
      "all five contaminated tokens must be excised, the U+3000 token kept")
    assert(got(2L)._2 == 7L)
  }

  test("extractImageHashes rejects a decompression-bomb header before " +
    "the raster is allocated, and in-bounds images still decode") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // PNG signature + IHDR declaring 100k x 100k (10 gigapixels,
    // ~40 GB as INT_RGB): the declared size must be refused from the
    // HEADER — handing it to ImageIO.read first would allocate the
    // raster before any post-decode filter could reject it.
    def ihdrPng(w: Int, h: Int): Array[Byte] = {
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(w).putInt(h).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes("US-ASCII")).put(ihdr.array())
      val crc = new java.util.zip.CRC32()
      crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdr.array())
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val bomb = ihdrPng(100000, 100000)
    assert(Multimodal.sniffMediaType(bomb) == "image/png")
    val ok = Multimodal.pngBytes(16, 16, (gx, gy) => (gx * 8 + gy) * 4)
    val items = Seq(
      Multimodal.MediaItem(1L, "image/png", bomb, bomb.length.toLong),
      Multimodal.MediaItem(2L, "image/png", ok, ok.length.toLong))
    val got = Multimodal.extractImageHashes(items.toDS(), batchSize = 2)
      .collect().map(h => h.doc_id -> h).toMap
    assert(!got(1L).decoded && got(1L).ahash == 0L)
    assert(got(2L).decoded && got(2L).width == 16 && got(2L).height == 16)
  }

  test("SFT reject ledger ties out: every input doc is exactly one of " +
    "packed survivor / contract / tool / dedup reject") {
    val sf = "/root/testdata/sf0.001"
    val input = spark.read.parquet(s"$sf/documents.parquet").count()
    val packed = SparkEntry.queries("q_pipeline_sft")(spark, sf)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val ledger = SparkEntry.queries("q_pipeline_sft_ledger")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ledgerIds = ledger.map(_._1).toSet
    assert(ledger.length == ledgerIds.size, "one ledger row per rejected doc")
    assert(ledgerIds.intersect(packed).isEmpty,
      "a doc cannot be both packed and rejected")
    assert(packed.size + ledger.length == input,
      s"tie-out: ${packed.size} survivors + ${ledger.length} rejects != $input")
    // all three stages fire at sf0.001, and dedup reasons name a survivor
    val stages = ledger.map(_._2).toSet
    assert(stages == Set("contract", "tool", "dedup"))
    ledger.filter(_._2 == "dedup").foreach { case (_, _, reason) =>
      assert(reason.startsWith("dup_of:") &&
        packed.contains(reason.stripPrefix("dup_of:").toLong),
        s"dedup reason must name a packed survivor: $reason")
    }
  }

  test("split guard treats missing embeddings as no-semantic-evidence, " +
    "never as a leak hit") {
    // partial embedding coverage: drop ALL non-test embeddings — the
    // semantic modality then has nothing to probe, and the guard must
    // fall back to exactly the lexical answer (an inner join on
    // semantic survivors would instead delete every uncovered doc)
    val src = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val split = graft.operators.Sampling.hashSplit(docs, "doc_id")
    val testIds = split.filter(col("split") === "test")
      .select(col("doc_id").as("vec_id"))
    val fixture = java.nio.file.Files.createTempDirectory("graft_sdpc").toString
    docs.write.parquet(s"$fixture/documents.parquet")
    emb.join(testIds, Seq("vec_id"), "left_semi")
      .write.parquet(s"$fixture/embeddings.parquet")

    val got = SparkEntry.queries("q_split_decontam")(spark, fixture)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // lexical-only expectation, computed from the operators directly
    val test = split.filter(col("split") === "test")
    val batch = split.filter(col("split") =!= "test").select("doc_id", "text", "split")
    val want = graft.operators.Dedup.dedupAgainst(
        batch, test.select("doc_id", "text"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("doc_id", "split")
      .unionByName(test.select("doc_id", "split"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want,
      "docs without embeddings must survive on lexical evidence alone")
  }

  test("preference reject ledger ties out against the packed DPO corpus") {
    val sf = "/root/testdata/sf0.001"
    val input = spark.read.parquet(s"$sf/documents.parquet").count()
    val packed = SparkEntry.queries("q_pipeline_pref")(spark, sf)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val ledger = SparkEntry.queries("q_pipeline_pref_ledger")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val ledgerIds = ledger.map(_._1).toSet
    assert(ledger.length == ledgerIds.size)
    assert(ledgerIds.intersect(packed).isEmpty)
    assert(packed.size + ledger.length == input,
      s"tie-out: ${packed.size} + ${ledger.length} != $input")
    assert(ledger.map(_._2).toSet == Set("gate", "conflict"))
  }

  test("dsirLogWeights names the empty side instead of an opaque NPE") {
    val empty = df("doc_id BIGINT, text STRING")
    val full = df("doc_id BIGINT, text STRING", Row(1L, "some raw text here"))
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Sampling.dsirLogWeights(full, empty, "doc_id", "text")
    }
    assert(e1.getMessage.contains("target"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Sampling.dsirLogWeights(empty, full, "doc_id", "text")
    }
    assert(e2.getMessage.contains("raw"))
  }
}
