package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built by [[LocalSession]] so the
  * specs run under the same config as Bench and Verify.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[Path]

  /** A fresh temp dir, deleted with its contents when this suite ends. */
  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try synchronized(tempDirs.foreach(SparkSpec.deleteTree))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    // bucketed-table specs saveAsTable; keep the warehouse out of the
    // repo working tree. Every suite shares the session, so its
    // warehouse goes when the JVM exits, not with one suite.
    val warehouse = Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook(deleteTree(warehouse))
    val s = LocalSession("spark.sql.warehouse.dir" -> warehouse.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
