package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: every Spark session the repo starts comes from
  * `core.Sessions.local`, so the oracle run, the benchmark, the plan
  * dumps and the tests share one session shape. A second builder is
  * a second copy of that decision, free to drift. The one exception
  * is the GraftExtensions test, which must build a fresh session
  * through `withExtensions`. */
class SessionBuilderLintSpec extends AnyFunSuite {

  private val Builder = """SparkSession\s*\.\s*builder\b""".r

  private val Allowed = Set(
    "src/main/scala/graft/core/Sessions.scala",
    "src/test/scala/graft/functions/VectorFoldRewriteSpec.scala")

  /** 1-based numbers of the lines that call the session builder. */
  private def buildersAt(lines: IndexedSeq[String]): Seq[Int] =
    lines.indices.collect { case i if Builder.findFirstIn(lines(i)).isDefined => i + 1 }

  test("the builder scan flags each line that calls the session builder, and only those") {
    // split so this file's own source does not match
    val (call, spaced) = ("SparkSession" + ".builder()", "SparkSession" + " . builder ()")
    val src = IndexedSeq(
      s"  val spark = $call",
      "    .master(\"local[4]\")",
      "  val s2 = Sessions.local(4)",
      s"  val b = $spaced",
      "  // SparkSession.getActiveSession")
    assert(buildersAt(src) == Seq(1, 4))
  }

  test("SparkSession builders appear only in core/Sessions.scala and the GraftExtensions test") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${root.toAbsolutePath}")
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally walk.close()
    }
    val found = files.flatMap { f =>
      buildersAt(java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq).map(n => (f.toString, n))
    }
    // the one constructor is found, so the scan is not blind
    assert(found.exists(_._1 == "src/main/scala/graft/core/Sessions.scala"),
      s"no session builder found in core/Sessions.scala: $found")
    // one builder in each allowed file; any other is a stray
    val stray = found.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (f, hits) => if (Allowed(f)) hits.drop(1) else hits }
      .map { case (f, n) => s"$f:$n" }
    assert(stray.isEmpty,
      s"SparkSession builders outside core.Sessions.local: ${stray.mkString(", ")}")
  }
}
