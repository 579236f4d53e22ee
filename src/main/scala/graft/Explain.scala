package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-explain", "local[8]", "8")
    spark.sparkContext.setLogLevel("ERROR")
    val name = args(0)
    val trials = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    (1 to trials).foreach { i =>
      // rebuild the frame each trial: trial 1 includes plan-build +
      // codegen first-touch, later trials show the steady state
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(s"ELAPSED trial$i ${(System.nanoTime() - t0) / 1e9}")
    }
    spark.stop()
  }
}
