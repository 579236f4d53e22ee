package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, table, row key), so the same seed yields byte-identical
  * tables whatever the partitioning. The shapes mirror the repo's
  * fixture family (TPC-H-ish star schema, a 30-word-vocabulary
  * document corpus with 5% planted near-duplicates, unit-norm 64-d
  * embeddings); the sizes are set by [[Sizes]]. The seed also decides
  * the order rows are written in. */
object Gen {

  /** SplitMix64 finalizer: the per-row stream seed. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, table: Int, key: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(seed * 31 + table) + key))

  /** The keys lo, lo+step, … below hi in a seed-decided order, in one
    * partition: the row order the generated table is written in. */
  def keys(spark: SparkSession, seed: Long, lo: Long, hi: Long,
      step: Long = 1): org.apache.spark.sql.Dataset[Long] = {
    import spark.implicits._
    val n = (hi - lo + step - 1) / step
    @annotation.tailrec def coprime(a: Long): Long =
      if (BigInt(a).gcd(BigInt(n)) == 1) a else coprime(a + 1)
    val a = coprime(math.floorMod(mix(seed), n) | 1L)
    val b = math.floorMod(mix(seed + 1), n)
    spark.range(0, n, 1, 1).as[Long].map(i => lo + step * ((a * i + b) % n))
  }

  val vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def baseText(seed: Long, id: Long): String = {
    val r = rng(seed, 1, id)
    val n = 10 + r.nextInt(91)
    Array.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  /** documents(doc_id, text, lang, source, n_chars): 5% of rows are a
    * near-copy ("<other doc> dup") and 0.2% an exact copy of another
    * row, the duplicate pathologies the dedup stages exist for. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    keys(spark, seed, 0, n).map { id =>
      val r = rng(seed, 2, id)
      val u = r.nextDouble()
      val other = r.nextLong(n.toLong)
      val text =
        if (u < 0.05 && other != id) baseText(seed, other) + " dup"
        else if (u < 0.052 && other != id) baseText(seed, other)
        else baseText(seed, id)
      val l = r.nextDouble()
      val lang = if (l < 0.41) "en" else if (l < 0.56) "zh"
        else if (l < 0.71) "es" else if (l < 0.86) "fr" else "de"
      (id, text, lang, s"src${id % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** embeddings(vec_id, embedding array<float>, label): unit-norm
    * Gaussian vectors for the first `n` doc ids. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    keys(spark, seed, 0, n).map { id =>
      val r = rng(seed, 3, id)
      val v = Array.fill(64) {
        // Box-Muller from the seeded stream
        val u1 = math.max(r.nextDouble(), 1e-12)
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
  }

  private val nameA = Array("north", "blue", "iron", "silver", "rapid",
    "golden", "prime", "delta", "summit", "harbor", "cedar", "atlas")
  private val nameB = Array("steel", "logistics", "foods", "textiles",
    "motors", "systems", "chemicals", "media", "energy", "supply")

  /** A distinct company-like supplier name. */
  def supplierName(k: Long): String =
    s"${nameA((k % nameA.length).toInt)} ${nameB(((k / nameA.length) % nameB.length).toInt)} " +
      s"works ${k}"

  /** The TPC-H-ish source tables at `sf` (lineitem ~ 6M·sf rows). */
  def tpch(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    import spark.implicits._
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nCust = math.max(50, (150000 * sf).toInt)
    val nPart = math.max(50, (200000 * sf).toInt)
    val nOrd = math.max(100, (1500000 * sf).toInt)
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val colors = Array("almond", "azure", "beige", "black", "blush", "brown",
      "coral", "cyan", "forest", "ivory", "khaki", "lace", "lime", "navy")
    val day0 = java.sql.Timestamp.valueOf("1992-01-01 00:00:00").getTime
    def money(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

    val supplier = keys(spark, seed, 1, nSupp + 1).map { k =>
      val r = rng(seed, 10, k)
      (k, supplierName(k), r.nextInt(25), money(r, -999.99, 9999.99))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val customer = keys(spark, seed, 1, nCust + 1).map { k =>
      val r = rng(seed, 11, k)
      (k, f"Customer#$k%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        segs(r.nextInt(segs.length)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val part = keys(spark, seed, 1, nPart + 1).map { k =>
      val r = rng(seed, 12, k)
      val name = Seq.fill(3)(colors(r.nextInt(colors.length))).mkString(" ")
      (k, name, s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        s"TYPE ${r.nextInt(6)}", 1 + r.nextInt(50), money(r, 900, 2100))
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    // ~10% of orders point at customer keys past the table (refer misses)
    val orders = keys(spark, seed, 1, nOrd + 1).map { k =>
      val r = rng(seed, 13, k)
      (k, 1L + r.nextInt((nCust * 1.1).toInt),
        "OFP".charAt(r.nextInt(3)).toString, money(r, 800, 500000),
        new java.sql.Timestamp(day0 + r.nextInt(2400).toLong * 86400000L),
        s"${1 + r.nextInt(5)}-PRIO")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val lineitem = keys(spark, seed, 1, nOrd + 1).flatMap { o =>
      val r = rng(seed, 14, o)
      val lines = 1 + r.nextInt(7)
      (1 to lines).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        (o, 1L + r.nextInt(nPart), 1L + r.nextInt(nSupp), ln, q,
          math.round(q * (900 + r.nextDouble() * 1200) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "RAN".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
          new java.sql.Timestamp(day0 + r.nextInt(2500).toLong * 86400000L))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    // CSV part lists for the many-to-many bridge (every 3rd order), with
    // stray spaces and the occasional key past the part table
    val orderParts = keys(spark, seed, 1, nOrd + 1, 3).map { o =>
      val r = rng(seed, 15, o)
      val ks = Seq.fill(1 + r.nextInt(4))(1L + r.nextInt((nPart * 1.05).toInt))
      (o, ks.mkString(if (r.nextBoolean()) "," else ", "))
    }.toDF("op_orderkey", "part_csv")
    // supplier aliases with seeded typos (1-2 edits) for the fuzzy refer
    val aliases = keys(spark, seed, 1, nSupp + 1).map { k =>
      val r = rng(seed, 16, k)
      val s = new StringBuilder(supplierName(k))
      (0 until 1 + r.nextInt(2)).foreach { _ =>
        val i = r.nextInt(s.length)
        r.nextInt(3) match {
          case 0 => s.setCharAt(i, ('a' + r.nextInt(26)).toChar)
          case 1 => if (s.length > 4) s.deleteCharAt(i)
          case _ => s.insert(i, ('a' + r.nextInt(26)).toChar)
        }
      }
      (k * 10 + r.nextInt(10), s.toString)
    }.toDF("a_id", "a_name")
    Map("supplier" -> supplier, "customer" -> customer, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem, "order_parts" -> orderParts,
      "supplier_alias" -> aliases)
  }

  /** Write a generated table as `<dir>/<name>.parquet`, one file in
    * generation order. */
  def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
