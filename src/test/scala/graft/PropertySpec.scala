package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.operators.Transportor
import graft.plans._
import graft.sources.InMemoryIO

/** Property-based checks (SURVEY.md §5.4): engine operators against
  * their algebraic definitions over randomized inputs. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case spins Spark jobs — keep tight

  private lazy val spark: SparkSession = LocalSession("graft-test", "local[4]", "4")

  private def mkDf(schema: String, rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType.fromDDL(schema))

  private val keyGen = Gen.chooseNum(0L, 6L)
  private val baseGen = Gen.nonEmptyListOf(keyGen)
  private val lookupGen = Gen.nonEmptyListOf(Gen.zip(keyGen, Gen.alphaStr.map(_.take(5))))

  // J1 refer ≡ left join + dedup(min) + coalesce(default)
  property("refer(J1) == leftJoin+minDedup+coalesce") =
    Prop.forAll(baseGen, lookupGen) { (keys, lookup) =>
      val base = mkDf("k BIGINT", keys.map(Row(_)))
      val lk = mkDf("sk BIGINT, v STRING", lookup.map { case (k, v) => Row(k, v) })
      val plan = TransportPlan.of("out" -> TableMap(Some("base"), Seq(
        Rename("k", "k"),
        Refer("v", Seq("k"), SearchSource.Original, "lk", Seq("sk"), "v",
          default = Some("D")))))
      val io = new InMemoryIO(Map("base" -> base, "lk" -> lk))
      val got = new Transportor(io, plan).frame("out")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

      val expectLookup = lookup.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).min
      }
      val want = keys.map(k => (k, expectLookup.getOrElse(k, "D"))).sorted
      got == want
    }

  // J4 middle: explode(split(concat_ws(csv))) round-trips the FK multiset
  property("middle explode(split(join(xs))) == xs pairs") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1L, 5L),
      Gen.nonEmptyListOf(Gen.chooseNum(1L, 9L)).map(_.take(4))))) { oneSide =>
      val ones = oneSide.zipWithIndex.map { case ((_, fks), i) =>
        (i.toLong, fks)
      }
      val oneDf = mkDf("oid BIGINT, csv STRING",
        ones.map { case (id, fks) => Row(id, fks.mkString(",")) })
      val manyDf = mkDf("mid BIGINT, nm STRING", (1L to 9L).map(i => Row(i, s"m$i")))
      val plan = TransportPlan.of("bridge" -> TableMap(None, middle = Some(Middle(
        MiddleOne(SearchSource.Original, "one", "oid", "csv", "a"),
        MiddleMany(SearchSource.Original, "many", "mid", "mid", "b")))))
      val io = new InMemoryIO(Map("one" -> oneDf, "many" -> manyDf))
      val got = new Transportor(io, plan).frame("bridge")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val want = ones.flatMap { case (id, fks) => fks.map(f => (id, f)) }.sorted
      got == want
    }

  // refers(J3, sum) ≡ groupBy-sum + coalesce(default)
  property("refers(J3,sum) == groupBySum+coalesce") =
    Prop.forAll(baseGen, Gen.listOf(Gen.zip(keyGen, Gen.chooseNum(-50, 50)))) {
      (keys, amounts) =>
        val base = mkDf("k BIGINT", keys.map(Row(_)))
        val lk = mkDf("sk BIGINT, amt BIGINT",
          amounts.map { case (k, a) => Row(k, a.toLong) })
        val plan = TransportPlan.of("out" -> TableMap(Some("base"), Seq(
          Rename("k", "k"),
          Refers("total", "k", SearchSource.Original, "lk", "sk",
            processor = sum(col("amt")), default = Some(0L)))))
        val io = new InMemoryIO(Map("base" -> base, "lk" -> lk))
        val got = new Transportor(io, plan).frame("out")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val sums = amounts.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.toLong).sum }
        val want = keys.map(k => (k, sums.getOrElse(k, 0L))).sorted
        got == want
    }

  // as-of join ≡ per-row "latest right at-or-before" scan
  property("asofLeft == latest-at-or-before semantics") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 50L))),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 50L)))) {
      (leftRaw, rightRaw) =>
        val lefts = leftRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        // distinct (k,t) on the right: equal-timestamp duplicates are
        // order-undefined in any as-of definition
        val rights = rightRaw.distinct.map { case (k, t) => (k, t, s"v${k}_$t") }
        val l = mkDf("id BIGINT, k BIGINT, t BIGINT", lefts.map(x => Row(x._1, x._2, x._3)))
        val r = mkDf("k BIGINT, t BIGINT, v STRING", rights.map(x => Row(x._1, x._2, x._3)))
        val got = graft.operators.AsOfJoin
          .asofLeft(l, r, Seq("k"), "t", "t", Seq("v" -> "lv"))
          .collect().map(row => row.getLong(1) -> Option(row.getString(3))).toMap
        val want = lefts.map { case (id, k, t) =>
          id -> rights.filter(rr => rr._1 == k && rr._2 <= t)
            .sortBy(_._2).lastOption.map(_._3)
        }.toMap
        got == want
    }

  // connected components ≡ union-find over random undirected pair sets
  property("connectedComponents == union-find") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))) {
      rawPairs =>
        // drop self-loops (a pair (x,x) carries no clustering info but
        // is a legal input — keep some via distinct ids only)
        val pairs = rawPairs.filter { case (a, b) => a != b }
        val pairDf = mkDf("id_a BIGINT, id_b BIGINT", pairs.map(p => Row(p._1, p._2)))
        val resultDf = graft.operators.Dedup.connectedComponents(pairDf, maxIter = 30)
        val got = resultDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // 100 generated runs in one JVM: drop each result's storage
        graft.operators.Stage.free(resultDf)
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        got == ids.map(i => i -> find(i)).toMap
    }

  // hashSplit: complete deterministic partition for ARBITRARY longs
  // (including negatives, which the oracle's nonneg-id shortcut never
  // sees) — bucket and label must equal the reference Scala mixer
  property("hashSplit == reference mixer, complete partition") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) { ids0 =>
      val ids = ids0.distinct
      val d = mkDf("id BIGINT", ids.map(Row(_)))
      val got = graft.operators.Sampling.hashSplit(d, "id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      got.length == ids.size && got.forall { case (id, b, s) =>
        val eb = (graft.functions.Hashing.mix64(id) >>> 1) % 100
        b == eb && s == (if (eb < 80) "train" else if (eb < 90) "val" else "test")
      }
    }

  // MinString (the ObjectHashAggregate-eligible string min behind the
  // J1/J2 lookup dedup) must agree with the builtin min on arbitrary
  // grouped strings — nulls, empties, non-ASCII, multi-partition
  // partial/merge/serialize paths included
  property("MinString == builtin min over random grouped strings") = {
    val tricky = Gen.oneOf("", " ", "ÿ", "é́", " ", "ZZ", "a b")
    val strGen = Gen.option(Gen.oneOf(Gen.alphaStr.map(_.take(6)), tricky))
    Prop.forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0, 5), strGen))) { rows =>
      val d = mkDf("k INT, v STRING",
        rows.map { case (k, v) => Row(Integer.valueOf(k), v.orNull) })
      def run(agg: org.apache.spark.sql.Column) =
        d.groupBy("k").agg(agg.as("m")).collect()
          .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
      run(graft.functions.MinString.minString(col("v"))) == run(min(col("v")))
    }
  }

  // predicate NULL rewrites: Eq(c,null) keeps exactly the null rows,
  // Ne(c,null) exactly the non-null rows, and they partition the table
  property("null predicate rewrites partition the table") =
    Prop.forAll(Gen.listOf(Gen.option(Gen.chooseNum(0, 9)))) { vals =>
      val rows = vals.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.map(Integer.valueOf).orNull)
      }
      val t = mkDf("id BIGINT, x INT", rows)
      val io = new InMemoryIO(Map("t" -> t))
      def count(c: Condition) = new Transportor(io,
        TransportPlan.of("o" -> TableMap(Some("t"), extraConditions = Seq(c)))).frame("o").count()
      val nulls = count(Condition.Eq("x", null))
      val notNulls = count(Condition.Ne("x", null))
      nulls == vals.count(_.isEmpty) && nulls + notNulls == vals.size
    }

  // the multi-probe Hamming ball (batch LSH ANN's candidate rule):
  // exactly the bucket ids within the radius, each exactly once —
  // |ball| = sum C(n, k) for k <= h, every member within h bit flips
  // of the base, and every h'-flip neighbor (h' <= h) is present
  // packing invariants: per group, offsets are the exclusive prefix
  // sums of token counts in id order, and chunk ids are monotone
  property("concatChunks == exclusive prefix sums per group") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(0L, 50L), Gen.oneOf("g1", "g2"),
        Gen.chooseNum(0, 7).map(n => Seq.fill(n)("w").mkString(" "))))) { rows0 =>
      // distinct ids: the operator orders by id within a group
      val rows = rows0.distinctBy(_._1)
      val df0 = mkDf("id BIGINT, g STRING, text STRING",
        rows.map { case (i, g, t) => Row(i, g, t) })
      val got = graft.operators.Packing
        .concatChunks(df0, "id", "g", "text", capacity = 5)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      got.groupBy(_._2).forall { case (_, grp) =>
        val ordered = grp.sortBy(_._1)
        val offsets = ordered.scanLeft(0L)(_ + _._3).init
        ordered.map(_._4).sameElements(offsets) &&
          ordered.forall(x => x._5 == x._4 / 5) &&
          ordered.map(_._5).toSeq == ordered.map(_._5).toSeq.sorted
      }
    }

  // mixToTarget: untargeted domains vanish; the binding domain (the
  // one that sets the scale) is kept whole; every kept row existed
  property("mixToTarget keeps the binding domain whole, drops untargeted") =
    Prop.forAll(
      Gen.zip(Gen.chooseNum(1, 30), Gen.chooseNum(1, 30), Gen.chooseNum(0, 10))) {
      case (na, nb, nc) =>
        val rows = (0L until na).map(i => Row(i, "a")) ++
          (1000L until 1000L + nb).map(i => Row(i, "b")) ++
          (2000L until 2000L + nc).map(i => Row(i, "c"))
        val df0 = mkDf("id BIGINT, dom STRING", rows)
        val targets = Seq("a" -> 0.5, "b" -> 0.5)
        val got = graft.operators.Sampling.mixToTarget(df0, "id", "dom", targets)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val byDom = got.groupBy(_._2).view.mapValues(_.length).toMap
        val binding = if (na / 0.5 <= nb / 0.5) "a" else "b"
        val bindingN = if (binding == "a") na else nb
        byDom.getOrElse("c", 0) == 0 &&
          byDom.getOrElse(binding, 0) == bindingN &&
          got.map(_._1).toSet.subsetOf(rows.map(_.getLong(0)).toSet)
    }

  // the bloom is a pure prefilter: whatever the corpus/batch overlap
  // and however saturated the filter, the survivor set must equal the
  // exact fingerprint anti-join
  property("bloomDedupAgainst == exact anti-join under any bloom quality") = {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon")
    val textGen = Gen.nonEmptyListOf(wordGen).map(_.take(6).mkString(" "))
    val docsGen = Gen.nonEmptyListOf(textGen).map(_.take(12))
    Prop.forAll(docsGen, docsGen, Gen.oneOf(1L, 1000L)) { (corpusT, batchT, items) =>
      val corpus = mkDf("doc_id BIGINT, text STRING",
        corpusT.zipWithIndex.map { case (t, i) => Row(i.toLong, t) })
      val batch = mkDf("doc_id BIGINT, text STRING",
        batchT.zipWithIndex.map { case (t, i) => Row(1000L + i, t) })
      // items=1 saturates the filter (every probe positive) — the
      // confirm join must still produce the exact answer
      val got = graft.operators.Dedup
        .bloomDedupAgainst(batch, corpus, "doc_id", "text",
          expectedItems = items, fpp = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val corpusSet = corpusT.map(_.trim.toLowerCase.replaceAll("\\s+", " ")).toSet
      val want = batchT.zipWithIndex.collect {
        case (t, i) if !corpusSet.contains(t.trim.toLowerCase.replaceAll("\\s+", " ")) =>
          1000L + i
      }.toSet
      got == want
    }
  }

  // greedy funnel vs a brute-force fold over each user's sorted events
  property("funnel firstCompletion == brute-force greedy fold") = {
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 4L), // user
      Gen.chooseNum(0L, 40L), // minute
      Gen.oneOf("A", "B", "C", "X"))).map(_.take(40))
    Prop.forAll(evGen) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, min, t), i) =>
        Row(i.toLong, u, new java.sql.Timestamp(min * 60000L), t)
      }
      val df0 = mkDf("event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING", rows)
      val withinUs = 20L * 60 * 1000000 // 20 minutes
      val got = graft.operators.Funnel.firstCompletion(
        df0, "user_id", "event_type", "ts", Seq("A", "B", "C"), withinUs)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // brute force: greedy earliest chain per user over sorted events
      val want = evs.groupBy(_._1).flatMap { case (u, es) =>
        val sorted = es.map(e => (e._2 * 60000000L, e._3)).sorted
        def firstAfter(typ: String, after: Long, strict: Boolean): Option[Long] =
          sorted.collectFirst {
            case (ts, t) if t == typ && (if (strict) ts > after else ts >= after) => ts
          }
        for {
          t1 <- firstAfter("A", Long.MinValue, strict = false)
          t2 <- firstAfter("B", t1, strict = true)
          t3 <- firstAfter("C", t2, strict = true)
          if t3 - t1 <= withinUs
        } yield u -> (t3 - t1)
      }
      got == want
    }
  }

  // PSI terms are nonnegative by construction ((p_a-p_b) and
  // ln(p_a/p_b) always share sign), so each floored term is >= -1
  // (the floor can dip one ulp-bucket under zero); bins surviving the
  // inner join carry positive counts on both sides.
  property("psiDrift terms >= -1, shared bins only, exact counts") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(0, 49)),
      Gen.nonEmptyListOf(Gen.chooseNum(0, 49))) { (xs, ys) =>
      val a = mkDf("v DOUBLE", xs.map(x => Row(x.toDouble)))
      val b = mkDf("v DOUBLE", ys.map(y => Row(y.toDouble)))
      val got = graft.operators.Profile.psiDrift(a, b, "v", binWidth = 10.0)
        .collect()
      val binsA = xs.groupBy(_ / 10).map { case (k, v) => (k.toLong, v.size.toLong) }
      val binsB = ys.groupBy(_ / 10).map { case (k, v) => (k.toLong, v.size.toLong) }
      val shared = binsA.keySet intersect binsB.keySet
      got.map(_.getLong(0)).toSet == shared &&
        got.forall(r => r.getLong(5) >= -1L) &&
        got.forall(r => binsA(r.getLong(0)) == r.getLong(1) &&
          binsB(r.getLong(0)) == r.getLong(2))
    }

  // int8 quantization: every code in [0,255], and within a dimension
  // codes are monotone in the raw value (floor of an increasing map).
  property("quantizeInt8 codes bounded and monotone per dim") =
    Prop.forAll(Gen.listOfN(6,
      Gen.listOfN(3, Gen.chooseNum(-100, 100).map(_ / 10.0)))) { vecs =>
      val rows = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
      val d = mkDf("vec_id BIGINT, embedding ARRAY<DOUBLE>", rows)
      val got = graft.operators.Embeddings.quantizeInt8(d, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toLong))
        .toMap
      val byDim = (0 until 3).forall { dim =>
        val pairs = vecs.zipWithIndex.map { case (v, i) => (v(dim), got(i.toLong)(dim)) }
        pairs.forall { case (_, c) => c >= 0 && c <= 255 } &&
          pairs.sortBy(_._1).map(_._2).sliding(2).forall {
            case Seq(x, y) => x <= y; case _ => true }
      }
      byDim
    }

  // unigram entropy: 0 <= H <= ln(n_tokens), with H = 0 iff the doc
  // repeats one token (or is empty).
  property("unigramEntropyQ in [0, ln n] with exact token count") =
    Prop.forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "e f"))) { toks =>
      val text = toks.mkString(" ")
      val expected = text.split("[ ]+").filter(_.nonEmpty)
      val d = mkDf("doc_id BIGINT, text STRING", Seq(Row(1L, text)))
      val Array(r) = d.select(
        graft.functions.HashExpressions.unigramEntropyQ(col("text")).as("e"))
        .collect()
      val e = r.getSeq[Long](0)
      val n = e(0); val q = (1L << 20).toDouble
      n == expected.length && e(1) >= 0 &&
        (n == 0 || e(1).toDouble / q <= n * math.log(n.toDouble) + 1e-9)
    }

  property("budgetPerGroup == per-group greedy scan, partition-invariant") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(1L, 50L))),
      Gen.chooseNum(1, 1000)) { (rows, permille) =>
      val withIds = rows.zipWithIndex.map { case ((g, c), i) => (i.toLong, g, c) }
      val d = mkDf("id BIGINT, g STRING, c BIGINT",
        withIds.map { case (i, g, c) => Row(i, g, c) })
      val got = graft.operators.Sampling
        .budgetPerGroup(d, "id", "g", "c", "c", permille)
        .select("id").collect().map(_.getLong(0)).toSet
      val gotRepart = graft.operators.Sampling
        .budgetPerGroup(d.repartition(7), "id", "g", "c", "c", permille)
        .select("id").collect().map(_.getLong(0)).toSet
      // reference: greedy per-group scan in (cost desc, id) order
      val want = withIds.groupBy(_._2).flatMap { case (_, grp) =>
        val tot = grp.map(_._3).sum
        var cum = 0L
        grp.sortBy(t => (-t._3, t._1)).flatMap { case (i, _, c) =>
          val keep = cum * 1000 < tot * permille
          cum += c
          if (keep) Some(i) else None
        }
      }.toSet
      got == want && gotRepart == want
    }

  property("percentileRank is percent_rank: bounds, ties, monotone") =
    Prop.forAll(Gen.nonEmptyListOf(
        Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 9L)))) { rows =>
      val withIds = rows.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      val d = mkDf("id BIGINT, g STRING, v BIGINT",
        withIds.map { case (i, g, v) => Row(i, g, v) })
      val got = graft.operators.Profile.percentileRank(d, "g", "v")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      got.forall { case (_, g, v, p) =>
        val grp = withIds.filter(_._2 == g)
        val below = grp.count(_._3 < v)
        val expected = if (grp.size == 1) 0.0 else below.toDouble / (grp.size - 1)
        p >= 0.0 && p <= 1.0 && p == expected
      }
    }

  // BPE segmentation is a partition of the word: whatever merge table
  // is applied, the subwords concatenate back to the original word
  // (the invariant that makes a tokenizer lossless).
  property("Bpe.segment subwords always rejoin to the word") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))),
      Gen.listOf(Gen.zip(
        Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(3)),
        Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(3))))) { (words, merges) =>
      val text = words.mkString(" ")
      val rows = graft.operators.Bpe.segment(
        mkDf("id BIGINT, t STRING", Seq(Row(1L, text))), "id", "t", merges)
        .collect().map(r => r.getString(1) -> r.getSeq[String](2))
      rows.nonEmpty && rows.forall { case (w, subs) =>
        subs.mkString == w && subs.forall(_.nonEmpty)
      }
    }

  // KMV buffer ≡ sorted-unsigned distinct take-k, under ANY insertion
  // order and ANY split into merged sub-buffers (the mergeability the
  // incremental profile rests on). Pure JVM — no Spark jobs.
  property("KmvBuffer == sortedUnsignedDistinct.take(k) under any order/split") =
    Prop.forAll(
      Gen.chooseNum(2, 9),
      Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.chooseNum(0, 100)) { (k, values0, splitPct) =>
      // salt in duplicates + a negative (high-unsigned) band
      val values = values0 ++ values0.take(3) ++ Seq(-1L, Long.MinValue, 0L)
      val expected = values.distinct
        .sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
        .take(k)
      def fill(vs: Seq[Long]): graft.functions.KmvBuffer = {
        val b = new graft.functions.KmvBuffer(k)
        vs.foreach(b.add); b
      }
      val direct = fill(values)
      val cut = values.size * splitPct / 100
      val (va, vb) = values.splitAt(cut)
      val merged = fill(va)
      val other = fill(vb)
      var i = 0
      while (i < other.size) { merged.add(other.arr(i)); i += 1 }
      direct.arr.take(direct.size).toSeq == expected &&
        merged.arr.take(merged.size).toSeq == expected
    }

  property("hammingBall enumerates the exact Hamming ball") =
    Prop.forAll(Gen.chooseNum(1, 12), Gen.chooseNum(0, 3),
      Gen.chooseNum(Long.MinValue, Long.MaxValue)) { (n, h0, seed) =>
      val h = math.min(h0, n)
      val base = seed & ((1L << n) - 1) // bucket ids live in n bits
      val ball = graft.operators.Similarity.hammingBall(base, n, h)
      def choose(n: Int, k: Int): Long =
        (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i)
      val expectedSize = (0 to h).map(choose(n, _)).sum
      val distinct = ball.toSet
      distinct.size == ball.size &&
        ball.size == expectedSize &&
        distinct.forall(b => java.lang.Long.bitCount(b ^ base) <= h) &&
        distinct.contains(base)
    }

  property("weightedMedian selects the exact half-mass crossing element") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(1L, 9L)))
    ) { (rows0) =>
      val rows = rows0.zipWithIndex.map { case ((v, w), i) => (i.toLong, v, w) }
      val d = mkDf("id BIGINT, v BIGINT, w BIGINT",
        rows.map { case (i, v, w) => Row(i, v, w) })
      val got = graft.operators.Profile
        .weightedMedian(d.withColumn("g", lit("x")), "g", "v", "w", "id")
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      // reference: sort by (v, id), walk cumulative weight to the crossing
      val tot = rows.map(_._3).sum
      val sorted = rows.sortBy(t => (t._2, t._1))
      var cum = 0L
      val expect = sorted.find { case (_, _, w) => cum += w; 2 * cum >= tot }.get._2
      got.toSeq == Seq((expect, tot))
    }

  property("intervalOverlap == cross-join ground truth; each pair exactly once") =
    Prop.forAll(
      Gen.chooseNum(3L, 97L),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 400L), Gen.chooseNum(0L, 120L))),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 400L), Gen.chooseNum(0L, 120L)))
    ) { (binW, asRaw, bsRaw) =>
      val as = asRaw.zipWithIndex.map { case ((lo, len), i) => (i.toLong, i.toLong % 2, lo, lo + len) }
      val bs = bsRaw.zipWithIndex.map { case ((lo, len), i) => (100L + i, i.toLong % 2, lo, lo + len) }
      val a = mkDf("aid BIGINT, ak BIGINT, alo BIGINT, ahi BIGINT",
        as.map { case (i, k, lo, hi) => Row(i, k, lo, hi) })
      val b = mkDf("bid BIGINT, bk BIGINT, blo BIGINT, bhi BIGINT",
        bs.map { case (i, k, lo, hi) => Row(i, k, lo, hi) })
      val got = graft.operators.RangeJoin.intervalOverlap(
        a, b, Seq("ak" -> "bk"), "alo", "ahi", "blo", "bhi", binW)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = for {
        (ai, ak, alo, ahi) <- as; (bi, bk, blo, bhi) <- bs
        if ak == bk && alo <= bhi && blo <= ahi
      } yield (ai, bi)
      got.toSeq.sorted == want.sorted
    }

  property("ewmaSmooth of a constant series is exactly that constant") =
    Prop.forAll(Gen.chooseNum(-1000L, 1000L), Gen.chooseNum(1, 20)) { (c, len) =>
      val d = mkDf("k STRING, t BIGINT, v BIGINT",
        (1 to len).map(i => Row("a", i.toLong, c)))
      val out = graft.operators.Resample.ewmaSmooth(d, "k", "t", "v", 3, 4, 6)
        .select("ewma_num", "ewma_den").collect()
      out.forall(r => r.getLong(0) == c * r.getLong(1))
    }

  // forget closure, generalized past the q_forget fixture: for ANY
  // small corpus and ANY delete subset (empty and everything
  // included — the generator's modulus sweeps both), the post-delete
  // store reads are value-identical to an index built over a corpus
  // that never held the deleted docs, in BOTH store families
  property("store delete == never-ingested (minhash bands + line provenance)") =
    Prop.forAll(
      Gen.nonEmptyListOf(
        Gen.nonEmptyListOf(Gen.chooseNum(0, 6)).map(_.take(8))).map(_.take(7)),
      Gen.chooseNum(1, 5), Gen.chooseNum(0, 4)) { (docs0, mod, residue) =>
      import graft.sources.DedupIndexStore
      val docs = docs0.zipWithIndex.map { case (ws, i) =>
        // small shared alphabet => genuine cross-doc dup lines/shingles
        (i.toLong, ws.map(k => s"word$k token$k").mkString("\n"))
      }
      val d = mkDf("doc_id BIGINT, text STRING",
        docs.map { case (id, t) => Row(id, t) })
      val deadIds = docs.map(_._1).filter(id => id % mod == residue % mod)
      val retained = d.filter(!col("doc_id").isInCollection(
        if (deadIds.isEmpty) Seq(-1L) else deadIds))
      val base = java.nio.file.Files.createTempDirectory("graft_prop_forget").toString

      val mhDir = s"$base/mh"
      DedupIndexStore.buildMinhash(spark, mhDir, d, "doc_id", "text")
      if (deadIds.nonEmpty)
        DedupIndexStore.deleteIds(spark, mhDir,
          mkDf("doc_id BIGINT", deadIds.map(Row(_))), "doc_id")
      val mhOk = DedupIndexStore.readMinhash(spark, mhDir)
        .collect().map(_.toString).toSet ==
        graft.operators.Dedup.corpusIndex(retained, "doc_id", "text", 3, 64, 16)
          .collect().map(_.toString).toSet

      val lnDir = s"$base/ln"
      DedupIndexStore.buildLines(spark, lnDir, d, "doc_id", "text")
      if (deadIds.nonEmpty)
        DedupIndexStore.deleteIds(spark, lnDir,
          mkDf("doc_id BIGINT", deadIds.map(Row(_))), "doc_id")
      val lnOk = DedupIndexStore.readLines(spark, lnDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        graft.operators.Dedup.lineIndex(retained, "doc_id", "text")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      mhOk && lnOk
    }

  // line dedup == per-line document-frequency filter, order preserved,
  // all-boilerplate docs drop out (includes the no-repeats identity:
  // when every df is 1 nothing is removed)
  property("stripRepeatedLines == brute-force df filter, order-preserving") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.chooseNum(0, 9)).map(_.take(8))).map(_.take(6))) { docs0 =>
      val docs = docs0.zipWithIndex.map { case (ls, i) =>
        (i.toLong, ls.map(k => s"line$k"))
      }
      val d = mkDf("doc_id BIGINT, text STRING",
        docs.map { case (id, ls) => Row(id, ls.mkString("\n")) })
      val got = graft.operators.Dedup
        .stripRepeatedLines(d, "doc_id", "text", minDocFreq = 2)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val dfCount = docs.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
      val want = docs.flatMap { case (id, ls) =>
        val kept = ls.filter(l => dfCount(l) < 2)
        if (kept.isEmpty) None
        else Some(id -> ((kept.mkString("\n"), kept.size.toLong)))
      }.toMap
      got == want
    }
}
