package graft

import org.apache.spark.sql.execution.ExplainMode

/** Guard against PLANS.md drifting from the shipped code (it happened
  * in round 7: a plan-shaping change landed hours after the dump was
  * generated, so the committed evidence showed plans the code no
  * longer produced).
  *
  * For every headline query section in the committed PLANS.md, this
  * re-explains the query live (same session shape as `graft.Plans`:
  * `Sessions.local(4)`) and compares the
  * OPERATOR SKELETON — the tree's operator descriptors, including
  * join strategy and build side, with expression/plan ids stripped —
  * against the committed dump. A mismatch means `sbt "runMain
  * graft.Plans /root/testdata/sf0.01 PLANS.md"` must be re-run.
  */
class PlansDocSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  /** Tree-line → operator descriptor: drop indent art and the plan-id
    * suffix, keep the codegen star (its presence IS a documented
    * claim) and the full descriptor ("BroadcastHashJoin Inner
    * BuildRight", "Scan parquet", ...). */
  private val TreeLine = """^[\s:+\-]*(\*\s*)?(.*?)\s*\(\d+\)\s*$""".r

  private def skeleton(planText: String): Seq[String] = {
    val lines = planText.linesIterator.toSeq
    val start = lines.indexWhere(_.contains("== Physical Plan =="))
    require(start >= 0, "no physical plan header")
    lines.drop(start + 1)
      .takeWhile(_.trim.nonEmpty)
      .flatMap {
        case TreeLine(star, body) =>
          Some((if (star != null) "* " else "") + body)
        case _ => None
      }
  }

  private def committedSections(): Map[String, String] = {
    val path = java.nio.file.Paths.get("PLANS.md")
    assume(java.nio.file.Files.exists(path), "PLANS.md not present")
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    """(?s)## (q_\w+)\n\n```\n(.*?)```""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("PLANS.md operator skeletons match live explain output") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val committed = committedSections()
    assert(committed.nonEmpty, "PLANS.md has no query sections")
    // every dumped section must still be a declared query...
    val unknown = committed.keySet.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"PLANS.md documents undeclared queries: $unknown")
    // ...and every declared headline must be dumped
    val missing = Plans.Headline.toSet.diff(committed.keySet)
    assert(missing.isEmpty, s"headline queries missing from PLANS.md: $missing")
    val drifted = committed.toSeq.sortBy(_._1).flatMap { case (name, dumped) =>
      val live = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      // release scoped caches between explains, exactly as the
      // generator does — a prior query's persisted frame would
      // otherwise substitute (sameResult) into this explain and make
      // the comparison depend on iteration order
      graft.core.ScopedCache.releaseAll()
      val (want, got) = (skeleton(dumped), skeleton(live))
      if (want == got) None
      else Some(s"$name:\n  committed: ${want.mkString(" | ")}\n  live:      ${got.mkString(" | ")}")
    }
    assert(drifted.isEmpty,
      s"PLANS.md is stale for ${drifted.size} queries — regenerate with " +
        "sbt \"runMain graft.Plans /root/testdata/sf0.01 PLANS.md\"\n" +
        drifted.mkString("\n"))
  }
}
