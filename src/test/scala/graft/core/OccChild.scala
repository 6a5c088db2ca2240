package graft.core

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Second-JVM half of the cross-process OCC test (WarehouseSpec):
  * contends with the parent test JVM on ONE zone-mapped table,
  * round-barriered through files in a sync dir. This exercises the
  * branch the same-JVM concurrency test cannot: the advisory
  * `_commit.lock` FILE lock plus the version CAS across two
  * independent processes (the same-JVM path serializes on a monitor
  * before ever reaching the file lock).
  *
  * Protocol (all via files — the processes share only the fs):
  *   child writes `child_ready` after its session is up;
  *   for round i: wait for `go_i`, run one merge (retrying on
  *   [[Warehouse.ZoneMapConflictException]] up to 50 times), append
  *   `round i: commit after N conflicts` to `child_log`, write
  *   `child_done_i`. Any OTHER exception → log + exit 1 (the parent
  *   asserts exit 0, so an escaped error type fails the test).
  */
object OccChild {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, syncDir, roundsStr) = args
    val rounds = roundsStr.toInt
    val log = Paths.get(syncDir, "child_log")
    def logLine(s: String): Unit =
      Files.write(log, (s + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    try {
      val spark = Sessions.local(4)
      spark.sparkContext.setLogLevel("WARN")
      import spark.implicits._
      Files.write(Paths.get(syncDir, "child_ready"), Array.empty[Byte])
      (1 to rounds).foreach { i =>
        val go = new File(syncDir, s"go_$i")
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (!go.exists() && System.nanoTime() < deadline) Thread.sleep(5)
        require(go.exists(), s"round $i: go signal never arrived")
        val upd = (1L to 1000L).filter(_ % 100 == 50 + i)
          .map(k => (k, s"C$i")).toDF("k", "v")
        var conflicts = 0
        var done = false
        while (!done) {
          try { Warehouse.mergeZoneMapped(spark, tableDir, "k", upd); done = true }
          catch {
            case _: Warehouse.ZoneMapConflictException =>
              conflicts += 1
              require(conflicts <= 50, s"round $i: >50 conflicts, live-locked?")
          }
        }
        logLine(s"round $i: commit after $conflicts conflicts")
        Files.write(Paths.get(syncDir, s"child_done_$i"), Array.empty[Byte])
      }
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        logLine(s"CHILD FAILED: ${e.getClass.getName}: ${e.getMessage}")
        sys.exit(1)
    }
  }
}
