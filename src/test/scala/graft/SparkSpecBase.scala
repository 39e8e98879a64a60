package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-backed suites (one JVM-wide
  * session — creating one per suite would dominate test wall-clock).
  * It is the session production ships, [[GraftSession.builder]] with
  * its extensions and confs, at a fixed 8 cores so plan pins do not
  * depend on the machine. */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("8").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  lazy val implicits: org.apache.spark.sql.SQLImplicits = spark.implicits
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpecBase.spark
  def sfDir: String = SparkSpecBase.sfDir
}
