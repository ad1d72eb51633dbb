package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The config that ships (the bench's), on 4 cores. */
  lazy val session: SparkSession = {
    val s = Bench.sessionWith("4", Map("spark.app.name" -> "graft-test"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
