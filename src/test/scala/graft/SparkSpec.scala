package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites, built by the engine's own
  * session factory. The suites of one forked JVM share one session, so
  * they share one warehouse ([[SparkSpec.warehouse]]).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    graft.core.Session.local(warehouse = Some(SparkSpec.warehouse))

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts, with its result: one entry per job,
    * naming its tasks per stage and the engine call site of the query
    * that ran it, which a failing count prints. Counts the jobs of every
    * thread on the session's context, so nothing else may run on it
    * meanwhile (the suites of one JVM run one at a time). */
  def jobsOf[T](body: => T): (Seq[String], T) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites.put(s.executionId.toString, s.details.split("\n")
            .filter(_.contains("graft.")).take(2).mkString(" < "))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val id = Option(e.properties)
          .map(_.getProperty("spark.sql.execution.id", "")).getOrElse("")
        jobs.add(s"tasks ${e.stageInfos.map(_.numTasks).mkString(",")} " +
          s"at ${sites.getOrDefault(id, "?")}")
      }
    }
    org.apache.spark.graftbridge.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      (jobs.toArray(Array.empty[String]).toSeq, out)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {

  /** The JVM's test warehouse: one temp directory, deleted at exit
    * after the SparkContext has stopped (Spark stops it from a Hadoop
    * shutdown hook at priority 50; hooks run highest first). */
  lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_test_wh")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => scala.util.Try(deleteRecursively(dir)), 20)
    dir.toString
  }

  /** A fresh directory under [[warehouse]], deleted with it at exit. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(warehouse), prefix)

  /** Delete `p` and everything under it, without following links. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val it = Files.list(p)
      try it.iterator().forEachRemaining(c => deleteRecursively(c))
      finally it.close()
    }
    Files.deleteIfExists(p)
  }
}
