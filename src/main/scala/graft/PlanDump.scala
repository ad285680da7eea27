package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.gates.Gates

/** Writes `explain("formatted")` for named registered gates to
  * `<outDir>/<name>_<tag>.txt` — the plan evidence the optimization rounds
  * commit under `plans/` (guide §1: capture the plan shape before/after
  * every change). Analysis only; nothing executes. Measurement tooling,
  * not a gate.
  *
  * Usage: PlanDump <outDir> <tag> [gate ...]   (no names = every gate)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag) = args.take(2)
    val only = args.drop(2).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    Gates.byName.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, g) =>
        try {
          val plan = g.run(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
          println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        operators.Caches.release(spark)
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
