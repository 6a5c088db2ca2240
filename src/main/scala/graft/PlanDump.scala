package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query `explain("formatted")` dumps, one file per query — the
  * optimization-round evidence trail (`plans/rNN/<query>_before.txt`
  * / `..._after.txt`). Unlike [[Plans]] (curated headline plans, one
  * markdown file, local[4]), this runs under the Bench session shape
  * by construction — both build their session with
  * `Sessions.local()` (local[$SPARK_GRAFT_CPUS], shuffle.partitions =
  * cpus) — so the dumped plans are the ones the benchmark executes.
  *
  * Usage:
  * {{{
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.PlanDump <sfDir> plans/r15 _before q_a,q_b"
  * }}}
  * The 4th arg (comma-separated query names) is optional — default is
  * every declared query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r15")
    val suffix = args.lift(2).getOrElse("_before")
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(outDir, s"$name$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] $name -> $outDir/$name$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: $e")
      } finally graft.core.ScopedCache.releaseAll()
    }
    spark.stop()
  }
}
