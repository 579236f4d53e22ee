package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites: the production session
  * ([[LocalSession]]) on `local[4]`, one per JVM via getOrCreate. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession("graft-test", "local[4]", "4")

  def df(schema: String, rows: Row*): DataFrame = {
    val st = StructType.fromDDL(schema)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2), st)
  }

  /** Order-insensitive row comparison. */
  def assertRows(got: DataFrame, want: Seq[Row]): Unit = {
    val g = got.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val w = want.map(_.toSeq).sortBy(_.mkString("|"))
    assert(g == w, s"\ngot:  ${g.mkString("\n      ")}\nwant: ${w.mkString("\n      ")}")
  }
}
