package graft

/** Throwaway harness-floor probe (r16): quantify the fixed per-query
  * cost components of the bench loop — job scheduling round-trips,
  * AQE stage barriers, planning — under the exact bench session
  * shape. Run with `sbt "Test/runMain graft.FloorProbe"`. Not a test;
  * lives in test scope so it never ships in the library jar. */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    def tms(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    def bench(label: String, n: Int)(f: Int => Any): Unit = {
      (0 until 10).foreach(f) // warm
      val ts = (0 until n).map(i => tms(f(i))).sorted
      println(f"FLOORPROBE $label%-46s med=${ts(n / 2)}%6.1f min=${ts.head}%6.1f ms")
    }
    val sc = spark.sparkContext
    // raw job latency, no SQL: 1 task vs 32 tasks
    bench("rdd job, 1 task", 40)(_ => sc.parallelize(1 to 10, 1).count())
    bench("rdd job, 32 tasks", 40)(_ => sc.parallelize(1 to 320, 32).count())
    // SQL, fresh plan each time (the bench-floor shape, one range partition per core)
    bench("sql sum over range, fresh plan, AQE on", 40)(i =>
      spark.range(132L + i).selectExpr(s"sum(id + $i) as v$i").count())
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    bench("sql sum over range, fresh plan, AQE OFF", 40)(i =>
      spark.range(232L + i).selectExpr(s"sum(id + $i) as w$i").count())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // same but 1-partition range: isolates the multi-task stage cost
    bench("sql sum over 1-part range, fresh plan, AQE on", 40)(i =>
      spark.range(0L, 132L + i, 1L, 1).selectExpr(s"sum(id + $i) as x$i").count())
    // plan-only (no action): analysis+optimize+physical
    bench("plan-only (executedPlan), fresh", 40) { i =>
      spark.range(332L + i).selectExpr(s"sum(id + $i) as y$i")
        .queryExecution.executedPlan
    }
    // repeat same DataFrame: no fresh analysis, re-executes
    val df = spark.range(999L).selectExpr("sum(id + 424242) as vz")
    df.count()
    bench("same DataFrame re-count (re-exec only)", 40)(_ => df.count())
    spark.stop()
  }
}
