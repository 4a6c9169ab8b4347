package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built by [[LocalSession]] so the
  * specs run under the same config as Bench and Verify.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSession(
      // bucketed-table specs saveAsTable; keep the warehouse out of the
      // repo working tree
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
