package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession(cores = 4)
}
