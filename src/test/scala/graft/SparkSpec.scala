package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite; forked JVM),
  * built by the engine's own session factory on a fresh warehouse.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.core.Session.local(warehouse = Some(
    java.nio.file.Files.createTempDirectory("graft_test_wh").toString))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  val Sf0001 = "/root/testdata/sf0.001"
}
