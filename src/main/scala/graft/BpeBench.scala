package graft

/** One-shot measurement main backing [[graft.operators.Bpe]]'s
  * "32k-merge production tokenizer in seconds of driver CPU" claim
  * (the round-8/9 evidence ask): train `SPARK_GRAFT_BPE_MERGES`
  * (default 32768) merges over a deterministic synthetic vocabulary
  * of `SPARK_GRAFT_BPE_WORDS` (default 100000) distinct words with a
  * Zipf-ish frequency tail, and print one JSON line with the wall
  * time of the TRAIN call and the number of Spark jobs it launched.
  *
  * The job count is the scale claim's other half: the merge loop
  * must run driver-local — one corpus-scale word-count aggregate
  * (a couple of jobs), then ZERO jobs per merge. Recorded as
  * BENCH_bpe_<tag>.json / BASELINE.md, not asserted in CI (wall
  * time on a shared box is exactly the flake the round-9 de-flake
  * removed from the spec).
  *
  * Vocabulary shape: words are lowercase a–z, length 3–12, from a
  * SplitMix64-seeded generator, so runs are bit-reproducible; each
  * word repeats `1 + 50000/(rank+1)` times in its document, giving
  * the head-heavy frequency curve real corpora show (~700k running
  * tokens at the defaults).
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val words = sys.env.getOrElse("SPARK_GRAFT_BPE_WORDS", "100000").toInt
    val merges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "32768").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession("graft-bpe-bench", s"local[$cpus]", cpus)
    import spark.implicits._

    // deterministic synthetic vocabulary (SplitMix64, seed 42)
    def mix(zIn: Long): Long = {
      var z = zIn + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val docs = (0 until words).map { i =>
      val h = mix(42L + i)
      val len = 3 + (java.lang.Long.remainderUnsigned(h, 10L)).toInt
      val sb = new StringBuilder
      var x = h
      (0 until len).foreach { _ =>
        x = mix(x); sb += ('a' + java.lang.Long.remainderUnsigned(x, 26L).toInt).toChar
      }
      val word = sb.toString
      val freq = 1 + 50000 / (i + 1)
      (i.toLong, (word + " ") * freq)
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet("/tmp/bpe_bench_corpus")
    val corpus = spark.read.parquet("/tmp/bpe_bench_corpus")
    val distinct = corpus.selectExpr("explode(split(trim(text), ' ')) AS w")
      .select("w").distinct().count()

    // warmup: JVM + codegen on a tiny unrelated train
    graft.operators.Bpe.train(corpus.limit(100), "text", numMerges = 50).count()

    val jc = graft.tools.JobCounter(spark)
    val t0 = System.nanoTime()
    val table = graft.operators.Bpe.train(corpus, "text", numMerges = merges)
    val learned = table.count() // materialize the local merge table
    val wallSec = (System.nanoTime() - t0) / 1e9
    jc.close()
    val jobs = jc.counts().jobs

    println(s"""{"metric":"bpe_train_wall_sec","value":${f"$wallSec%.2f"},""" +
      s""""unit":"sec","merges_requested":$merges,"merges_learned":$learned,""" +
      s""""distinct_words":$distinct,"spark_jobs_during_train":$jobs}""")
    spark.stop()
  }
}
