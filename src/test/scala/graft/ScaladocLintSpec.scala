package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: where one scaladoc block closes and another opens on
  * the next line, only the second attaches to the code below — the
  * first documents nothing, and its definition shows no doc. A
  * `@param` continuation belongs inside the one block; a doc written
  * for another definition belongs on that definition. */
class ScaladocLintSpec extends AnyFunSuite {

  /** 1-based numbers of the lines opening a block stacked under
    * another one. */
  private def stackedAt(lines: IndexedSeq[String]): Seq[Int] =
    (1 until lines.length).collect {
      case i if lines(i - 1).trim.endsWith("*/") && lines(i).trim.startsWith("/**") => i + 1
    }

  test("the stacked-scaladoc scan flags a doc stacked on another, and only that") {
    val src = IndexedSeq(
      "  /** orphaned */",
      "  /** attached",
      "    * @param x fine */",
      "  def f(x: Int): Int = x",
      "",
      "  /** attached */",
      "  def g: Int = 1")
    assert(stackedAt(src) == Seq(2))
  }

  test("no stacked scaladoc blocks under src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector.sortBy(_.toString)
      finally walk.close()
    assert(files.nonEmpty, s"no .scala file under $root")
    val stacked = files.flatMap { f =>
      stackedAt(java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq).map(n => s"$f:$n")
    }
    assert(stacked.isEmpty,
      s"stacked scaladoc blocks (only the second one attaches): ${stacked.mkString(", ")}")
  }
}
