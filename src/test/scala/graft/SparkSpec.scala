package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide session, built by the
  * same SparkEntry.localSession the mains use, on local[4]. */
object SparkSpec {
  lazy val spark: SparkSession = SparkEntry.localSession(4)
  val Sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf
}
