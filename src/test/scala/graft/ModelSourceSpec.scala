package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each trained embedding model has one definition: the served k=16
  * audit cells are trained only in `Similarity.servedCentroids` and the
  * IVF model only in `StateStores.seedIvf`; every other consumer reads
  * the store. Besides those two, `trainKmeans` is called only by q122
  * and q149, which train by definition, and q230, whose sizes count the
  * last training iteration's assignment, which no store holds. The
  * test scans the sources (no Spark) and names the definition around
  * each call, so a query body that retrains a served model fails it. */
class ModelSourceSpec extends AnyFunSuite {

  test("trainKmeans is called only where a model is defined") {
    import scala.jdk.CollectionConverters._
    val call = """\btrainKmeans\s*\(""".r
    val owner = """^\s*(?:private\S*\s+)?def\s+(\w+)|^\s*"(q\w+)"\s*->""".r
    def code(l: String) = {
      val t = l.trim
      !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
    }
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    val sites = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => code(lines(i)) &&
          call.findFirstIn(lines(i)).nonEmpty && !lines(i).contains("def trainKmeans"))
        .map { i =>
          (i to 0 by -1).iterator.flatMap(j => owner.findFirstMatchIn(lines(j)))
            .map(m => Option(m.group(1)).getOrElse(m.group(2)))
            .nextOption().getOrElse(s"$f:${i + 1}")
        }
    }
    assert(sites.sorted == Seq("q122_kmeans", "q149_kmeans_quality",
        "q230_centroid_store", "seedIvf", "servedCentroids"),
      s"trainKmeans call sites: ${sites.sorted.mkString(", ")}")
  }
}
