package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for declared queries to files — the
  * plan evidence the optimization rounds commit under `plans/<round>/`
  * (not part of the driver contract). Usage:
  *
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [query ...]
  *
  * Each query's plan lands at `<outDir>/<name>_<suffix>.txt`. Queries
  * whose registered builder RUNS work eagerly (streams, store builds)
  * pay that work here too — the dumped plan is the final returned
  * frame's, exactly what the bench's `.count()` executes. The session
  * is the deployment one, sized by `SPARK_GRAFT_CPUS`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.deployment()
    Files.createDirectories(Paths.get(out))
    names.foreach { name =>
      graft.GraftSession.step("plandump", name) {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$out/${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $name")
      }
    }
    spark.stop()
  }
}
