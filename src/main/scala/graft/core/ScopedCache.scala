package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Operator-scoped caches — SELF-RELEASING. An operator persists a
  * frame only when several branches of its output read it with no
  * exchange in common (BM25's per-doc tf row feeds both a broadcast
  * stats aggregate and the probe side; a component operator's
  * signature table feeds the edge job and the member join); a frame
  * whose references meet in one shuffle is left to `ReuseExchange`.
  *
  * Lifetime rule: the frames [[register]]ed inside the outermost
  * [[scope]] are unpersisted after the FIRST completed query —
  * succeeded or failed — whose analyzed plan contains the frame the
  * scope returned (`sameResult` containment, the check Spark's own
  * cache manager looks up with). A per-session
  * [[QueryExecutionListener]] applies it, so a library user who
  * never heard of this object leaks nothing. An operator's own eager
  * actions (guards, the `connectedComponents` edge job, the bloom
  * sketch build, `seededSamplePy`'s takes) all run before its output
  * exists, so they read the caches without ending them. A nested
  * scope hands its registrations up to the scope around it; if a
  * scope's body throws, its registrations are released at once.
  * Until an action runs, `persist` is only a lazy marker, so an
  * abandoned output holds no blocks — except that an operator whose
  * body runs an eager action leaves those blocks materialized until
  * [[releaseAll]].
  *
  * Re-running an output after its first action recomputes without
  * the caches — correct, just unaccelerated; rebuild the operator for
  * repeated runs. Two registrations whose plans are `sameResult`
  * share one physical cache entry, so consuming either operator's
  * output may drop the blocks the other was about to read: a
  * recompute, never a wrong result. */
object ScopedCache {

  /** The frames one outermost scope registered, released together
    * once a query contains the scope's output plan. */
  private final case class Lifetime(frames: Seq[DataFrame], output: LogicalPlan)

  private val live = new ConcurrentLinkedQueue[Lifetime]()
  // registrations of the scope running on this thread; operator
  // construction is single-threaded, so this sees all of them
  private val open = new ThreadLocal[ArrayBuffer[DataFrame]]
  // weak keys: a stopped SparkSession must stay collectable
  private val listenerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Persist `df` for the lifetime of the enclosing [[scope]]. */
  def register(df: DataFrame): DataFrame = {
    val mine = open.get()
    if (mine == null)
      throw new IllegalStateException(
        "ScopedCache.register called outside ScopedCache.scope: a scoped cache ends with " +
          "the first query over its scope's output, so it needs a scope")
    df.persist(StorageLevel.MEMORY_AND_DISK)
    mine += df
    val spark = df.sparkSession
    if (listenerSessions.add(spark)) spark.listenerManager.register(ReleaseOnConsume)
    df
  }

  /** Run an operator body whose output ends the lifetime of the
    * caches it registers (see the object scaladoc). */
  def scope(body: => DataFrame): DataFrame = {
    val outer = open.get()
    val mine = ArrayBuffer.empty[DataFrame]
    open.set(mine)
    try {
      val out = body
      if (outer != null) outer ++= mine
      else if (mine.nonEmpty) live.add(Lifetime(mine.toList, out.queryExecution.analyzed))
      out
    } catch {
      case e: Throwable =>
        mine.foreach(_.unpersist(blocking = false))
        throw e
    } finally open.set(outer)
  }

  /** Unpersist every scoped cache still waiting for its output's
    * first query — for lifecycle-owning callers (benchmarks, plan
    * dumps) and abandoned outputs. Idempotent with the listener. */
  def releaseAll(): Unit = {
    var l = live.poll()
    while (l != null) { l.frames.foreach(_.unpersist(blocking = false)); l = live.poll() }
  }

  /** The frames still waiting for their scope's output to be read. */
  private[graft] def registered: Seq[DataFrame] = live.asScala.toSeq.flatMap(_.frames)

  private object ReleaseOnConsume extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      release(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      release(qe)

    private def release(qe: QueryExecution): Unit = {
      val it = live.iterator()
      while (it.hasNext) {
        val l = it.next()
        val consumed =
          try qe.analyzed.exists(_.sameResult(l.output))
          catch { case NonFatal(_) => false }
        if (consumed) { l.frames.foreach(_.unpersist(blocking = false)); it.remove() }
      }
    }
  }
}
