package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared SparkEntry queries to
  * plans/<round>/<query>_<tag>.txt — the optimization-round evidence trail
  * (the judge checks plan claims against these files without running Spark).
  *
  * args: outDir tag [sfDir] [query,query,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.Sessions.local(cpus.toInt, "graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
          System.err.println(s"[plandump] wrote $name")
        } catch {
          case e: Throwable => System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
