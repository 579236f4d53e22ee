package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.FuzzyJoin
import graft.sources.Layout

/** FuzzyJoin (prefix-filtered set-similarity join) against quadratic
  * brute force, and the Layout compaction planner's invariants. */
class FuzzyJoinSpec extends SparkSpec {

  private def grams(s: String, n: Int = 3): Set[String] = {
    val norm = s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    if (norm.length < n) Set.empty
    else norm.sliding(n).toSet
  }

  private def brutePairs(
      vals: Seq[(Long, String)], t: Double, n: Int = 3): Set[(Long, Long, Double)] =
    (for {
      (ia, sa) <- vals; (ib, sb) <- vals if ia < ib
      ga = grams(sa, n); gb = grams(sb, n)
      if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      j = inter.toDouble / (ga.size + gb.size - inter)
      if j >= t
    } yield (ia, ib, j)).toSet

  test("charGrams: normalization, sliding windows, short strings empty") {
    val d = df("id BIGINT, s STRING",
      Row(1L, "Red  Widget!"), Row(2L, "ab"), Row(3L, ""), Row(4L, null))
    val got = d.select(col("id"), FuzzyJoin.charGrams(col("s"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1)).map(_.toSet)).toMap
    assert(got(1L) == Some(grams("Red  Widget!")))
    assert(got(1L).get.contains("d w")) // collapsed separator run
    assert(got(2L) == Some(Set.empty[String]))
    assert(got(3L) == Some(Set.empty[String]))
    assert(got(4L).isEmpty || got(4L) == Some(Set.empty[String])) // null in, null/empty out
  }

  test("similarPairs matches quadratic brute force, boundary pairs included") {
    // hand-built so some pairs sit EXACTLY on the 0.25 threshold and
    // some share only frequent grams (prefix filter must still see them)
    val vals = Seq(
      1L -> "small ring", 2L -> "small gizmo", 3L -> "red ring",
      4L -> "red widget", 5L -> "blue widget", 6L -> "blue bolt",
      7L -> "hot gear", 8L -> "hot bolt", 9L -> "small rings",
      10L -> "xx", 11L -> "smallring")
    val d = spark.createDataFrame(vals).toDF("id", "s")
    val got = FuzzyJoin.similarPairs(d, "id", "s", threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brutePairs(vals, 0.25))
    assert(got.exists { case (a, b, _) => a == 1L && b == 9L }) // near-identical pair present
  }

  test("similarPairs == brute force on randomized corpora (three thresholds)") {
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsi", "zeta", "ring", "bolt")
    val vals = (1L to 60L).map { i =>
      i -> Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val d = spark.createDataFrame(vals).toDF("id", "s")
    for (t <- Seq(0.25, 0.5, 0.75)) {
      val got = FuzzyJoin.similarPairs(d, "id", "s", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brutePairs(vals, t), s"threshold $t")
    }
  }

  test("resolveEntities labels transitive clusters with the min id") {
    // 1-2 similar, 2-3 similar, 1-3 NOT directly similar => one cluster of 3
    val vals = Seq(1L -> "abcdefgh", 2L -> "abcdefxx", 3L -> "cdefxxyy",
      20L -> "qqqqq", 30L -> "zzzzz")
    val d = spark.createDataFrame(vals).toDF("id", "s")
    val pairs = FuzzyJoin.similarPairs(d, "id", "s", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) && !pairs.contains((1L, 3L)))
    val ents = FuzzyJoin.resolveEntities(d, "id", "s", threshold = 0.3)
    val got = ents.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 20L, 30L -> 30L))
    graft.operators.Stage.free(ents)
  }

  test("similarJoin + bestMatches match quadratic cross brute force") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "ring", "bolt", "gear")
    def mk(n: Int, off: Long) = (1L to n.toLong).map { i =>
      (i + off) -> Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" ")
    }
    val lv = mk(40, 0L); val rv = mk(30, 1000L)
    val l = spark.createDataFrame(lv).toDF("id", "s")
    val r = spark.createDataFrame(rv).toDF("id", "s")
    val t = 0.25
    val bruteAll = (for {
      (ia, sa) <- lv; (ib, sb) <- rv
      ga = grams(sa); gb = grams(sb)
      if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size
      j = inter.toDouble / (ga.size + gb.size - inter)
      if j >= t
    } yield (ia, ib, j)).toSet
    val gotAll = graft.operators.FuzzyJoin
      .similarJoin(l, "id", "s", r, "id", "s", threshold = t)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(gotAll == bruteAll)
    val bruteBest = bruteAll.groupBy(_._1).map { case (_, ps) =>
      ps.minBy(p => (-p._3, p._2))
    }.toSet
    val gotBest = graft.operators.FuzzyJoin
      .bestMatches(l, "id", "s", r, "id", "s", threshold = t)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(gotBest == bruteBest)
  }

  test("budgetPerGroup: best-first under the mass budget, best row always kept") {
    val d = df("id BIGINT, g STRING, c BIGINT",
      Row(1L, "a", 50L), Row(2L, "a", 30L), Row(3L, "a", 20L),   // tot 100
      Row(4L, "b", 90L), Row(5L, "b", 10L),                      // tot 100
      Row(6L, "c", 5L))                                          // singleton
    val got = graft.operators.Sampling
      .budgetPerGroup(d, "id", "g", "c", "c", budgetPermille = 500)
      .select("id").collect().map(_.getLong(0)).toSet
    // a: cum-before 0,50,80 -> keep 1 (0<50) and 2? 50*1000 < 100*500 false -> keep {1}
    // b: 90 first (0<50k) then 10: 90*1000 < 100*500 false -> keep {4}
    // c: singleton always kept even though 5 = 100% of mass
    assert(got == Set(1L, 4L, 6L))
    // wider budget admits more best-first rows, still cuts over-budget tails
    val wider = graft.operators.Sampling
      .budgetPerGroup(d, "id", "g", "c", "c", budgetPermille = 750)
      .select("id").collect().map(_.getLong(0)).toSet
    // a: 0 < 75 keep, 50 < 75 keep, 80 < 75 drop; b: keep 90%-row only
    assert(wider == Set(1L, 2L, 4L, 6L))
  }

  test("percentileRank: within-group percent_rank with tie semantics") {
    val d = df("id BIGINT, g STRING, v BIGINT",
      Row(1L, "a", 10L), Row(2L, "a", 20L), Row(3L, "a", 20L), Row(4L, "a", 30L),
      Row(5L, "b", 7L))
    val got = graft.operators.Profile.percentileRank(d, "g", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 0.0 && got(4L) == 1.0)
    assert(got(2L) == got(3L) && got(2L) == 1.0 / 3.0) // ties share (rank-1)/(n-1)
    assert(got(5L) == 0.0) // singleton convention
  }

  test("compactionPlan: groups are contiguous runs opening at target boundaries") {
    val m = df("f INT, sz BIGINT, k BIGINT",
      Row(0, 60L, 10L), Row(1, 60L, 20L), Row(2, 60L, 30L),
      Row(3, 200L, 40L), Row(4, 10L, 50L), Row(5, 10L, 60L))
    val got = Layout.compactionPlan(m, "f", "sz", "k", target = 100L)
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(3))).toSeq
    // cum-before: 0,60,120,180,380,390 => groups 0,0,1,1,3,3
    assert(got == Seq((0, 0L), (1, 0L), (2, 1L), (3, 1L), (4, 3L), (5, 3L)))
    // invariant: group ids never decrease in clustering order
    assert(got.map(_._2) == got.map(_._2).sorted)
  }
}
