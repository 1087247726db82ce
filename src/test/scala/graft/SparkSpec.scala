package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.{BeforeAndAfterAll, Outcome}

/** Shared local SparkSession for all suites. Each test is one
  * [[graft.builder.Materialize.scope]], so what it materializes is freed
  * when it ends. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(table: String, sf: String = "0.001"): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"/root/testdata/sf$sf/$table.parquet")
  override def withFixture(test: NoArgTest): Outcome =
    graft.builder.Materialize.scope(super.withFixture(test))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
