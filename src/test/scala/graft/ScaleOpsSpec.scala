package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.SimilarityFunctions
import graft.operators.{Similarity, Transportor}
import graft.plans._
import graft.sources.InMemoryIO

/** Scale-path utilities: salted refers, parallel writes, IVF ANN. */
class ScaleOpsSpec extends SparkSpec {

  test("Refer(saltFactor) is row-identical to the unsalted refer") {
    // a hot key, a long tail, and one probe key (99) with no lookup row:
    // the salted refer keeps it and fills the default (outer semantics)
    val base = df("row_id BIGINT, k BIGINT",
      ((0 until 500).map(i => Row(i.toLong, 1L)) ++
        (0 until 50).map(i => Row((1000 + i).toLong, (i % 5 + 2).toLong)) :+
        Row(2000L, 99L)): _*)
    val lookup = df("sk BIGINT, v STRING", (1L to 6L).map(i => Row(i, s"v$i")): _*)
    def frame(salt: Int) = {
      val plan = TransportPlan.of("out" -> TableMap(Some("base"), Seq(
        Rename("row_id", "row_id"),
        Refer("v", Seq("k"), SearchSource.Original, "lookup", Seq("sk"), "v",
          default = Some("D"), saltFactor = salt))))
      new Transportor(new InMemoryIO(Map("base" -> base, "lookup" -> lookup)), plan)
        .frame("out").collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    val salted = frame(8)
    assert(salted == frame(1))
    assert(salted.contains(Seq(2000L, "D")), "the unmatched probe row keeps its default")
  }

  test("parallel writes produce the same target tables as sequential") {
    val base = df("id BIGINT, seg STRING",
      (1L to 50L).map(i => Row(i, if (i % 2 == 0) "A" else "B")): _*)
    def plan = TransportPlan.of(
      "ta" -> TableMap(Some("base"), Seq(Rename("id", "id")),
        extraConditions = Seq(Condition.Eq("seg", "A"))),
      "tb" -> TableMap(Some("base"), Seq(Rename("id", "id")),
        extraConditions = Seq(Condition.Eq("seg", "B"))))
    val seqIo = new InMemoryIO(Map("base" -> base))
    new Transportor(seqIo, plan).runAndWrite(writeParallelism = 1)
    val parIo = new InMemoryIO(Map("base" -> base))
    new Transportor(parIo, plan).runAndWrite()
    assert(parIo.written.keySet == seqIo.written.keySet)
    parIo.written.keys.foreach { t =>
      assert(parIo.readTarget(t).collect().map(_.getLong(0)).sorted.toSeq ==
        seqIo.readTarget(t).collect().map(_.getLong(0)).sorted.toSeq)
    }
  }

  test("as-of join carries the latest at-or-before right value per key") {
    import graft.operators.AsOfJoin
    val left = df("id BIGINT, k BIGINT, t BIGINT",
      Row(1L, 1L, 10L), Row(2L, 1L, 20L), Row(3L, 1L, 5L), Row(4L, 2L, 10L))
    val right = df("k BIGINT, t BIGINT, v STRING",
      Row(1L, 10L, "a"),  // equal-time: qualifies (<=)
      Row(1L, 15L, "b"),
      Row(2L, 99L, "z"))  // after every left row of k=2
    val got = AsOfJoin.asofLeft(left, right, Seq("k"), "t", "t",
      Seq("v" -> "last_v"))
      .collect().map(r => r.getLong(1) -> r.getString(3)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> null, 4L -> null))
  }

  test("binned range join equals the cross-join-filter ground truth") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(7)
    val pts = df("pid BIGINT, k BIGINT, p BIGINT",
      (0 until 200).map(i => Row(i.toLong, (i % 3).toLong, rnd.nextInt(1000).toLong)): _*)
    val ranges = df("rid BIGINT, rk BIGINT, lo BIGINT, hi BIGINT",
      (0 until 50).map { i =>
        val lo = rnd.nextInt(900).toLong
        Row((1000 + i).toLong, (i % 3).toLong, lo, lo + rnd.nextInt(150).toLong)
      }: _*)
    val truth = pts.crossJoin(ranges)
      .filter(col("k") === col("rk") && col("p").between(col("lo"), col("hi")))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = RangeJoin.pointInRange(pts, ranges, Seq("k" -> "rk"), "p", "lo", "hi", binWidth = 64L)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth)
    assert(truth.nonEmpty)
  }

  test("binned interval-overlap join equals the cross-join truth; one row per pair") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(11)
    def intervals(idBase: Int, prefix: String) =
      df(s"${prefix}id BIGINT, ${prefix}k BIGINT, ${prefix}lo BIGINT, ${prefix}hi BIGINT",
        (0 until 60).map { i =>
          val lo = rnd.nextInt(1000).toLong
          Row((idBase + i).toLong, (i % 3).toLong, lo, lo + rnd.nextInt(300).toLong)
        }: _*)
    val a = intervals(0, "a")
    val b = intervals(1000, "b")
    val truth = a.crossJoin(b)
      .filter(col("ak") === col("bk") &&
        col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val joined = RangeJoin.intervalOverlap(a, b, Seq("ak" -> "bk"),
      "alo", "ahi", "blo", "bhi", binWidth = 64L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(joined.toSet == truth)
    assert(joined.length == truth.size, "a pair spanning many bins must emit exactly once")
    assert(truth.nonEmpty)
  }

  test("interval overlap is closed: touching endpoints join; disjoint do not") {
    import graft.operators.RangeJoin
    val a = df("aid BIGINT, ak BIGINT, alo BIGINT, ahi BIGINT",
      Row(1L, 1L, 0L, 10L), Row(2L, 1L, 0L, 10L))
    val b = df("bid BIGINT, bk BIGINT, blo BIGINT, bhi BIGINT",
      Row(1L, 1L, 10L, 20L),  // touches aid=1/2 at 10
      Row(2L, 1L, 11L, 20L),  // disjoint
      Row(3L, 2L, 0L, 10L))   // key mismatch
    val got = RangeJoin.intervalOverlap(a, b, Seq("ak" -> "bk"),
      "alo", "ahi", "blo", "bhi", binWidth = 7L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L)))
  }

  test("LSH bucket UDF path is bit-identical to the expression path; 32-plane smoke") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes8 = SimilarityFunctions.hyperplanes(8, 64, 42L)
    val both = emb.select(col("vec_id"),
      SimilarityFunctions.lshBucketExpr(col("embedding"), planes8).as("e"),
      SimilarityFunctions.lshBucketUdf(col("embedding"), planes8).as("u"))
    assert(both.filter(col("e") =!= col("u")).count() == 0)
    // 32 planes × 64 dims would inline ~2k literal nodes in the
    // expression form (janino blowup territory); the dispatch must
    // route to the UDF and the e2e query must still return top-k
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val topk = Similarity.lshTopK(rest, "vec_id", "embedding", q, 10,
      numPlanes = 32, probeHamming = 12)
    assert(topk.count() == 10)
  }

  test("LSH bucket paths agree on degenerate inputs (null vector, wrong dimension)") {
    import spark.implicits._
    val planes = SimilarityFunctions.hyperplanes(8, 4, 42L)
    val rows: Seq[(Long, Seq[Float])] = Seq(
      1L -> Seq(1f, 2f, 3f, 4f),   // well-formed
      2L -> null,                   // null vector
      3L -> Seq(1f, 2f))            // wrong dimension (2 vs 4)
    val d = rows.toDF("id", "vec")
    val both = d.select(col("id"),
      SimilarityFunctions.lshBucketExpr(col("vec"), planes).as("e"),
      SimilarityFunctions.lshBucketUdf(col("vec"), planes).as("u"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    both.foreach { case (id, (e, u)) => assert(e == u, s"id=$id expr=$e udf=$u") }
    assert(both(2L) == ((0L, 0L))) // null vector buckets to 0 on both paths
    assert(both(3L) == ((0L, 0L))) // dimension mismatch buckets to 0 on both paths
  }

  test("k-means refinement beats first-N centroids at nprobe < nlist on clustered data") {
    // 4 well-separated clusters; ids ordered so the first 64 rows all
    // sit in cluster 0 — the worst case for first-N-by-id centroids
    // (every initial centroid lands in one cluster). Two Lloyd passes
    // must recover enough structure to beat the unrefined skeleton.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.tabulate(4) { j =>
      Array.tabulate(dim)(d => if (d / 4 == j) 5.0 else 0.0)
    }
    val pts = (0 until 256).map { i =>
      val cl = if (i < 64) 0 else i % 4
      // cluster 0 tight (so the degenerate init centroids are nearly
      // parallel), the rest noisy (so their cell choice under that
      // init is noise-driven and scatters across cells); this seed
      // measures unrefined recall 0.50 vs refined 1.00
      val noise = if (cl == 0) 0.5 else 2.0
      (i.toLong + 1,
        Array.tabulate(dim)(d => (centers(cl)(d) + rnd.nextGaussian() * noise).toFloat).toSeq)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val qv = centers(3).map(x => (x + 0.1).toFloat)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 20)
      .collect().map(_.getLong(0)).toSet
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(emb, "vec_id", "embedding", qv, 20,
        nlist = 8, nprobe = 2, refineIters = iters, sampleSize = 256)
        .collect().map(_.getLong(0)).toSet
      (got intersect brute).size.toDouble / brute.size
    }
    val (unrefined, refined) = (recall(0), recall(2))
    assert(refined > unrefined,
      s"refined recall $refined should beat first-N recall $unrefined")
    assert(refined >= 0.9, s"refined recall $refined below 0.9")
  }

  test("distributed k-means is partitioning-invariant and matches the driver-side Lloyd") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.tabulate(4) { j =>
      Array.tabulate(dim)(d => if (d / 4 == j) 5.0 else 0.0)
    }
    val pts = (0 until 256).map { i =>
      val cl = if (i < 64) 0 else i % 4
      val noise = if (cl == 0) 0.5 else 2.0
      (i.toLong + 1,
        Array.tabulate(dim)(d => (centers(cl)(d) + rnd.nextGaussian() * noise).toFloat).toSeq)
    }
    val emb = pts.toDF("vec_id", "embedding")

    // exact integer accumulation makes the result identical under ANY
    // partitioning — the property a double sum could not give
    val c3 = Similarity.kmeansCentroidsDistributed(
      emb.repartition(3), "vec_id", "embedding", nlist = 8, iters = 2)
    val c11 = Similarity.kmeansCentroidsDistributed(
      emb.repartition(11), "vec_id", "embedding", nlist = 8, iters = 2)
    assert(c3.map(_.toSeq).toSeq == c11.map(_.toSeq).toSeq)

    // quantized distributed Lloyd tracks the driver-side exact Lloyd
    // over the same (full) corpus to within quantization error
    val sample = emb.orderBy(col("vec_id").asc).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val driver = Similarity.refineCentroids(sample, nlist = 8, iters = 2)
    c3.zip(driver).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-6) }
    }

    // and the refined centroids drive a high-recall partial probe
    val qv = centers(3).map(x => (x + 0.1).toFloat)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 20)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfTopKWithCentroids(emb, "vec_id", "embedding", qv, 20,
      c3, nprobe = 2).collect().map(_.getLong(0)).toSet
    assert((got intersect brute).size.toDouble / brute.size >= 0.9)
  }

  test("IVF with nprobe == nlist is exactly brute force; partial probe is a subset superset-free top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.ivfTopK(rest, "vec_id", "embedding", q, 10, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute) // probing every cell = exact
    val partial = Similarity.ivfTopK(rest, "vec_id", "embedding", q, 10, nlist = 8, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(partial.size == 10)
    assert((brute.map(_._1).toSet intersect partial).nonEmpty)
  }

  test("batch IVF top-k at nprobe == nlist equals per-query brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 4, iters = 1)
    // probing every cell makes the batch path exact — one joined job
    // must reproduce 5 independent brute-force runs, scores included
    val batch = Similarity.ivfTopKBatch(queries, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 7, cents, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    val qVecs = queries.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    qVecs.foreach { case (qid, qv) =>
      val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qv, 7)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).sortBy(_._2).toSeq
      assert(batch(qid) == brute, s"query $qid diverged from brute force")
    }
    // partial probe: still k rows per query, never a wrong-query leak
    val partial = Similarity.ivfTopKBatch(queries, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 7, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(partial.groupBy(_._1).forall(_._2.length == 7))
    assert(partial.map(_._1).toSet == qVecs.map(_._1).toSet)
  }

  test("batch LSH top-k: full Hamming ball equals brute force; candidate rule matches single-query path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    // ball radius = numPlanes covers every bucket => exact
    val full = Similarity.lshTopKBatch(queries, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 6, numPlanes = 4, probeHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    queries.select("vec_id", "embedding").collect().foreach { r =>
      val (qid, qv) = (r.getLong(0), r.getSeq[Float](1).toArray)
      val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qv, 6)
        .collect().map(b => (qid, b.getLong(0), b.getDouble(1))).sortBy(_._2).toSeq
      assert(full(qid) == brute, s"query $qid diverged from brute force")
    }
    // the enumerated Hamming ball and the single-query bit_count
    // filter define the SAME candidate set: a one-query batch must
    // reproduce lshTopK exactly
    val oneQ = emb.filter(col("vec_id") === 3)
    val qv3 = oneQ.select("embedding").head().getSeq[Float](0).toArray
    val single = Similarity.lshTopK(corpus, "vec_id", "embedding", qv3, 8,
      numPlanes = 8, probeHamming = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val batch1 = Similarity.lshTopKBatch(oneQ, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 8, numPlanes = 8, probeHamming = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(batch1 == single)
  }

  test("LSH recall audit: monotone in the Hamming radius, full ball " +
    "reads recall 1.0 on every query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    def audit(r: Int): Seq[Double] = {
      val rows = Similarity.recallAuditLsh(queries, corpus,
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, numPlanes = 8, probeHamming = r)
        .collect()
      assert(rows.length == 5, "one audit row per query")
      rows.foreach { x =>
        assert(x.getLong(1) >= 0L && x.getLong(1) <= 5L)
        assert(x.getDouble(2) >= 0.0 && x.getDouble(2) <= 1.0)
      }
      rows.map(_.getDouble(2)).toSeq
    }
    // candidates grow with the radius and exact-top-k members always
    // win the candidate window, so per-query recall is monotone
    val curve = Seq(0, 1, 2, 4, 8).map(r => audit(r).sum / 5)
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b + 1e-12 },
      s"mean recall must be monotone in the radius: $curve")
    assert(curve.last == 1.0,
      "the full Hamming ball IS brute force — recall 1.0 everywhere")
  }

  test("PQ: codes in range, encode partitioning-invariant, ADC recall beats chance and tracks brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val centers = Array.tabulate(4) { j =>
      Array.tabulate(dim)(d => if (d / 4 == j) 5.0 else 0.0)
    }
    val pts = (0 until 256).map { i =>
      val cl = i % 4
      (i.toLong + 1,
        Array.tabulate(dim)(d => (centers(cl)(d) + rnd.nextGaussian() * 0.8).toFloat).toSeq)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val m = 4; val ksub = 8
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m, ksub)
    assert(cb.length == m && cb.forall(_.length == ksub) &&
      cb.forall(_.forall(_.length == dim / m)))

    // codes: shape + range + deterministic under re-layout
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 256)
    assert(codes.values.forall(c => c.length == m && c.forall(x => x >= 0 && x < ksub)))
    val codesRepart = Similarity.pqEncode(emb.repartition(7), "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == codesRepart)

    // PQ's contract without re-rank: candidates land in the right
    // REGION (cluster purity); within-cluster order is reconstruction
    // noise by design, so overlap with the exact top-k only needs to
    // beat chance (20/256 ≈ 0.08) decisively — the production recall
    // knob is ksub/m plus an exact re-rank over the candidates.
    val qv = centers(2).map(x => (x + 0.05).toFloat)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 20)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.pqTopK(emb, "vec_id", "embedding", qv, 20, m = m, ksub = ksub)
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(id => (id - 1) % 4 == 2),
      s"PQ returned out-of-cluster ids: ${got.filterNot(id => (id - 1) % 4 == 2)}")
    val recall = (got intersect brute).size.toDouble / brute.size
    assert(recall >= 0.25, s"PQ recall $recall not decisively above chance")

    // exact re-rank of a 4x shortlist recovers most of the true top-k
    val reranked = Similarity.pqTopK(emb, "vec_id", "embedding", qv, 20,
      m = m, ksub = ksub, rerank = 4)
      .collect().map(_.getLong(0)).toSet
    val rerankRecall = (reranked intersect brute).size.toDouble / brute.size
    assert(rerankRecall > recall, s"re-rank $rerankRecall did not beat ADC $recall")
    assert(rerankRecall >= 0.6, s"re-rank recall $rerankRecall below 0.6")
  }

  test("IVF-PQ batch with all cells probed reproduces single-query PQ scoring exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val pts = (0 until 200).map { i =>
      (i.toLong + 1, Array.tabulate(dim)(d =>
        (rnd.nextGaussian() + (if (i % 2 == d % 2) 3.0 else 0.0)).toFloat).toSeq)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") > 1)
    val oneQ = emb.filter(col("vec_id") === 1)
    val qv = oneQ.select("embedding").head().getSeq[Float](0).toArray
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ksub = 8)
    val sample = corpus.orderBy(col("vec_id").asc).limit(256)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val cents = Similarity.refineCentroids(sample, 4, 2)
    // nprobe = nlist => no pruning => identical ADC ranking to pqTopK
    val batch = Similarity.ivfPqTopKBatch(oneQ, corpus, "vec_id", "embedding",
      "vec_id", "embedding", k = 10, cents, cb, nprobe = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val single = Similarity.pqTopK(corpus, "vec_id", "embedding", qv, 10,
      m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(batch == single, s"\nbatch:  $batch\nsingle: $single")
  }

  test("recallAudit: all-cells probe is recall 1.0 everywhere; recall monotone in nprobe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") >= 6)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val cents = Similarity.kmeansCentroidsDistributed(
      corpus, "vec_id", "embedding", nlist = 8, iters = 1)
    def avgRecall(nprobe: Int): Double = {
      val rows = Similarity.recallAudit(queries, corpus, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, cents, nprobe).collect()
      assert(rows.length == 5) // every query reports
      assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
      rows.map(_.getDouble(2)).sum / rows.length
    }
    assert(avgRecall(8) == 1.0) // probing every cell IS the exhaustive answer
    val (r1, r4) = (avgRecall(1), avgRecall(4))
    assert(r4 >= r1, s"recall must not fall as nprobe rises: $r1 -> $r4")
  }

  test("margin mining: genuine pair out-margins the hub; hub margins stay near 1") {
    import spark.implicits._
    // axis-aligned corpus + one HUB vector (diagonal — cosine ~0.5 to
    // every axis vector) + one genuine near-duplicate of src 1.
    // A raw-cosine cut cannot separate "hub close to everything" from
    // "true pair"; the ratio margin can — that is the operator's point.
    def axis(d: Int): Seq[Float] = Seq.tabulate(64)(i => if (i == d) 1.0f else 0.0f)
    val hub = Seq.tabulate(64)(i => if (i < 8) 0.354f else 0.0f)
    val near1 = Seq.tabulate(64)(i =>
      if (i == 0) 1.0f else if (i == 1) 0.05f else 0.0f)
    val src = Seq((1L, axis(0)), (2L, axis(2)), (3L, hub))
      .toDF("vec_id", "embedding")
    val tgt = (Seq((10L, near1), (11L, axis(2)), (12L, axis(4)), (13L, axis(6))) ++
      Seq((14L, hub))).toDF("vec_id", "embedding")
    val cents = Array(Array.tabulate(64)(d => if (d < 8) 0.354 else 0.0))
    val got = Similarity.marginMinedPairs(src, tgt, "vec_id", "embedding",
      "vec_id", "embedding", k = 4, cents, nprobe = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // the true pair (1 -> 10) beats 1's neighborhood average by a
    // clear margin; the hub's best pair (3 -> 14, another hub copy)
    // also margins high, but hub-to-axis pairs sit near/below 1
    assert(got((1L, 10L)) > 1.2, s"true pair margin ${got((1L, 10L))}")
    val hubToAxis = got.collect { case ((3L, t), m) if t != 14L => m }
    assert(hubToAxis.nonEmpty && hubToAxis.forall(_ < 1.2),
      s"hub-to-axis margins should hug 1: $hubToAxis")
    // margins are ratios: every pair's cosine / its own neighborhood —
    // so a uniform corpus-wide threshold (>= ~1.05) is meaningful
    assert(got.values.forall(m => m >= 0.0 && m.isFinite))
  }
}
