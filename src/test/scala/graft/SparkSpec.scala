package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, `Test / fork`).
  *
  * Every suite also enforces the run-wide [[GlobalErrorBudget]] at
  * teardown: any ERROR log event that does not match a declared
  * negative-test entry fails the first suite whose `afterAll` runs
  * after it — the green log's error budget is an asserted multiset
  * bound, not a convention. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  GlobalErrorBudget.ensureInstalled()

  override protected def afterAll(): Unit = {
    try GlobalErrorBudget.assertNoLeaks(suiteName)
    finally super.afterAll()
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.codegen.cache.maxEntries",
      graft.core.Sessions.CodegenCacheEntries) // static conf; see Sessions
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Assert that no scoped cache is registered and nothing is
    * persisted, polling first: the release listener runs on the
    * listener-bus thread after the consuming action returns. */
  def assertNoCachesLeft(clue: String): Unit = {
    def registered = graft.core.ScopedCache.registered
    def persisted = spark.sparkContext.getPersistentRDDs
    val deadline = System.currentTimeMillis() + 15000
    while ((registered.nonEmpty || persisted.nonEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(registered.isEmpty && persisted.isEmpty,
      s"$clue: ${registered.size} registered, persisted ${persisted.values.map(_.name)}")
  }

  def fixturePath(rel: String): String =
    getClass.getResource(s"/fixtures/$rel").getPath
}
