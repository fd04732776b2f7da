package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), configured
  * like Verify/Bench (UTC, nanos flag, small shuffle partitions). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(
    getClass.getSimpleName, cpus = "4",
    extraConfigs = Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  val sf: String = "/root/testdata/sf0.001"

  private val fixtureDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A temp fixture dir that is deleted, recursively, after the suite:
    * a store a query keys by it (`StateStores.statePath`/`servePath`)
    * then names a missing fixture, so the state root's GC sweep
    * reclaims it. */
  def tempFixture(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    fixtureDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try fixtureDirs.forEach { dir => if (Files.exists(dir)) {
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally st.close()
    } } finally super.afterAll()
}
