package graft

import org.scalatest.funsuite.AnyFunSuite

/** `GlobalRank.rangeRanked` is the one range-rank core: every row
  * number, running sum and quantile rank rides its range exchange and
  * its local loop. The test scans the sources (no Spark) so a second
  * core — its own `repartitionByRange` exchange or its own
  * `Row.fromSeq` row loop — cannot quietly come back. */
class RankCoreSourceSpec extends AnyFunSuite {

  test("no source outside GlobalRank range-partitions or rebuilds rows") {
    import scala.jdk.CollectionConverters._
    val forbidden = Seq("""\.repartitionByRange\s*\(""".r, """\bRow\.fromSeq\b""".r)
    val core = java.nio.file.Paths.get("src/main/scala/graft/ops/GlobalRank.scala")
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(files.contains(core), "scan did not reach GlobalRank.scala")
    val coreText = java.nio.file.Files.readString(core)
    assert(forbidden.forall(_.findFirstIn(coreText).nonEmpty),
      "the patterns no longer match the core itself")
    val hits = files.filterNot(_ == core).flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      forbidden.filter(_.findFirstIn(text).nonEmpty).map(p => s"$f: ${p.regex}")
    }
    assert(hits.isEmpty, s"a second range-rank core:\n${hits.mkString("\n")}")
  }
}
