package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (getOrCreate -> one JVM-wide
  * session across suites; Test/fork gives it the JDK17 add-opens). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()
}

object SparkSpec {
  /** The spec session: the active one, or a new one when none is
    * running (a spec that stops its context gets a fresh one here). */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
