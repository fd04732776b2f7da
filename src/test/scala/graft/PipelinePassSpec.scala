package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.quality.DataQuality.DataQualityException
import graft.runner.{DemoFixtures, PipelineRunner}

/** A pipeline run makes one pass over its data: the warehouse write,
  * which carries the DQ and drift aggregates as observed metrics, plus
  * the CSV header read that fixes the source schema. */
class PipelinePassSpec extends SparkSuite {

  private val Tag = "graft.test.block"

  test("one pipeline run makes at most two Spark jobs: the header read and the observed write") {
    val dir = Files.createTempDirectory("graft_jobs")
    val staged = DemoFixtures.stage(dir)
    val runner = new PipelineRunner(spark, staged.configPath,
      dir.resolve("warehouse").toString, dir.resolve("incidents").toString, () => "t")
    val sc = spark.sparkContext
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(tags.add)
    }
    // the jobs a block starts, as the listener sees them: a marker job
    // follows the block and is awaited, and the bus delivers in order
    def jobsOf(name: String)(body: => Unit): Int = {
      sc.setLocalProperty(Tag, name)
      try body finally sc.setLocalProperty(Tag, s"$name.end")
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(Tag, null)
      eventually(timeout(30.seconds)) { assert(tags.contains(s"$name.end")) }
      tags.asScala.count(_ == name)
    }
    sc.addSparkListener(listener)
    try {
      val clean = jobsOf("clean")(runner.runSinglePipeline(staged.v1))
      val broken = jobsOf("broken")(
        intercept[DataQualityException](runner.runSinglePipeline(staged.v2)))
      assert(clean >= 1 && clean <= 2, s"clean run made $clean jobs")
      assert(broken >= 1 && broken <= 2, s"broken run made $broken jobs")
    } finally sc.removeSparkListener(listener)
  }
}
