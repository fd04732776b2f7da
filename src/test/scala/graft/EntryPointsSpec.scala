package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's "Entry points" block is the tool list: every object with a
  * `def main` under src/main/scala must be named there, and every
  * `graft.*` main the block names must exist. A plain file scan, no
  * Spark: a main added without a README line, or a README line left
  * behind by a deleted main, fails here. */
class EntryPointsSpec extends AnyFunSuite {

  private val PackageLine = """(?m)^package\s+([\w.]+)""".r
  /** A top-level object (declared at column 0): only those get the
    * static forwarder that makes a `def main` a JVM entry point. */
  private val ObjectLine =
    """(?m)^(?:(?:private|final|case)(?:\[\w+\])?\s+)*object\s+(\w+)""".r
  private val MainLine = """(?m)^\s*def\s+main\s*\(""".r

  /** Fully qualified name of each object that declares `def main`: the
    * nearest top-level object declared above the `def main` line. */
  private lazy val mains: Set[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    files.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val pkg = PackageLine.findFirstMatchIn(text).map(_.group(1) + ".").getOrElse("")
      val objects = ObjectLine.findAllMatchIn(text).map(m => m.start -> m.group(1)).toList
      MainLine.findAllMatchIn(text).map { m =>
        val owner = objects.takeWhile(_._1 < m.start).lastOption
        assert(owner.nonEmpty, s"$f: def main outside any object")
        pkg + owner.get._2
      }
    }.toSet
  }

  /** The `graft.*` names in README's "Entry points" code block. */
  private lazy val named: Set[String] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("README.md")).toArray(Array.empty[String]).toList
    val block = lines.dropWhile(_.trim != "## Entry points")
      .dropWhile(!_.startsWith("```")).drop(1).takeWhile(!_.startsWith("```"))
    assert(block.nonEmpty, "README.md has no Entry points code block")
    block.flatMap("""\bgraft(?:\.\w+)+""".r.findAllIn(_)).toSet
  }

  test("every main under src/main/scala is named in README's Entry points block") {
    assert(mains.nonEmpty, "scan found no mains under src/main/scala")
    val missing = mains -- named
    assert(missing.isEmpty, s"mains missing from README's Entry points: $missing")
  }

  test("every graft main README's Entry points block names exists") {
    val stale = named -- mains
    assert(stale.isEmpty, s"README names mains that do not exist: $stale")
  }
}
