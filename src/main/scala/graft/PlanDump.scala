package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Per-query `explain("formatted")` dumps, one file per query — the
  * optimization-round evidence trail (`plans/rNN/<query>_before.txt`
  * / `..._after.txt`). Unlike [[Plans]] (curated headline plans, one
  * markdown file, local[4]), this runs under the BENCH session shape
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus, AQE on) so
  * the dumped plans are the ones the benchmark actually executes.
  *
  * Usage:
  * {{{
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r15 _before q_a,q_b"
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries",
        graft.core.Sessions.CodegenCacheEntries)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Sessions.tune(spark)
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
