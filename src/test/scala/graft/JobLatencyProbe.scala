package graft

/** Micro-probe: nothing but back-to-back 1-task RDD jobs, so a
  * profiler window is 100% job-latency pipeline. r16 floor work. */
object JobLatencyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val n = sys.env.getOrElse("PROBE_N", "400").toInt
    (0 until 20).foreach(_ => sc.parallelize(1 to 10, 1).count())
    val t0 = System.nanoTime()
    (0 until n).foreach(_ => sc.parallelize(1 to 10, 1).count())
    val el = (System.nanoTime() - t0) / 1e6
    println(f"JOBLAT n=$n total=${el}%.0f ms per-job=${el / n}%.2f ms")
    spark.stop()
  }
}
