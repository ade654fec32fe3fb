package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("local[4]")
}
