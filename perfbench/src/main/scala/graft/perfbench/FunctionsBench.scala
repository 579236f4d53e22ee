package graft.perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions, TextFunctions}

/** Expression-layer microbench: ns per row of the native text and hash
  * expressions in `graft.functions`, each a select into the `noop`
  * sink over generated document text replicated to a fixed row count.
  * `scan` is the same select with a trivial expression: the baseline
  * every other figure includes. */
object FunctionsBench {
  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val path = ctx.dir("fn_text.parquet")
    val base = Gen.documents(spark, ctx.seed, 1000).select("doc_id", "text")
    spark.range(math.max(1, ctx.sizes.fnRows / 1000)).crossJoin(base)
      .select(col("text")).repartition(4)
      .write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path).count()
    val text = col("text")
    val exprs: Seq[(String, Column)] = Seq(
      "scan" -> length(text),
      "tokens" -> size(TextFunctions.tokens(text)),
      "normalize" -> length(TextFunctions.normalizeText(text)),
      "minhash" -> HashExpressions.minhashSignature(
        HashExpressions.shingleHashes(text, 3), 64),
      "simhash" -> HashExpressions.simhash64(TextFunctions.tokens(text)),
      "cdc" -> size(HashExpressions.cdcChunkHashes(text, 6)))
    def once(e: Column): Double = {
      val t = System.nanoTime()
      spark.read.parquet(path).select(e.as("x")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t).toDouble / rows
    }
    exprs.map { case (n, e) =>
      once(e) // warm the generated code
      s"functions.${n}_ns_per_row" -> ctx.median(Seq.fill(3)(once(e)))
    }.toMap
  }
}
