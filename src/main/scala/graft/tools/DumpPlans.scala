package graft.tools

/** Scratch tool (not part of the driver contract): writes the
  * `explain("formatted")` text of named catalog entries to files —
  * the plan evidence committed under `plans/r17/`.
  *
  *   runMain graft.tools.DumpPlans <outDir> <suffix> <entry>[,<entry>...] [sfDir]
  *
  * Writes `<outDir>/<entry>_<suffix>.txt`. Builds the frame only (no
  * execution), so write-path entries are represented by the plan of the
  * frame they return; entries whose construction itself runs jobs
  * (lifecycle entries) still execute those side effects.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val entries = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    entries.foreach { e =>
      val txt =
        try graft.SparkEntry.queries(e)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case ex: Throwable => s"FAILED to plan $e: $ex" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${e}_$suffix.txt"), txt)
      System.err.println(s"[plans] wrote $e"+"_"+suffix)
    }
    spark.stop()
  }
}
