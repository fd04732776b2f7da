package perfbench

import scala.collection.mutable

/** One timed operation of a pass. `main` ops feed `wall.op_s.geomean`;
  * `rows` are the source rows the operation consumed. */
final case class Op(name: String, seconds: Double, ok: Boolean, rows: Long, main: Boolean)

/** Per-layer counters of one pass (traced passes only). */
final class LayerStats {
  var jobs = 0L
  var jobS = 0.0
  var driverS = 0.0
  var cpuS = 0.0
  var ioMb = 0.0
  def selfS: Double = jobS + driverS
}

final case class Pass(
    seconds: Double,
    ops: Seq[Op],
    layers: Map[String, LayerStats],
    extras: Map[String, Double])

trait Workload {
  def name: String
  /** Layers this workload reports in a traced run. */
  def layers: Seq[String]
  /** Named per-pass seconds this workload reports besides its layers. */
  def extras: Seq[String]
  /** Makes this run's inputs from the seed. */
  def generate(): Unit
  def pass(traced: Boolean): Pass
}

object Workload {
  /** Splits [fromMs, toMs] among layers: each maximal run of same-layer
    * jobs owns the gap before it plus its jobs; the gap after the last
    * job goes to `tail`. Job time is the union of job intervals, so
    * concurrent jobs are not counted twice. */
  def attribute(jobs: Seq[Tracer.Job], fromMs: Double, toMs: Double, tail: String,
      into: mutable.Map[String, LayerStats]): Unit = {
    var b = fromMs
    val inside = jobs.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs)
    var i = 0
    while (i < inside.size) {
      val layer = inside(i).layer
      val st = into.getOrElseUpdate(layer, new LayerStats)
      var covered = 0.0
      var runEnd = b
      while (i < inside.size && inside(i).layer == layer) {
        val j = inside(i)
        val s = math.max(j.startMs, runEnd)
        val e = math.min(if (j.endMs.isNaN) toMs else j.endMs, toMs)
        if (e > s) covered += e - s
        runEnd = math.max(runEnd, e)
        st.jobs += 1
        st.cpuS += j.cpuNs / 1e9
        st.ioMb += j.ioBytes / 1e6
        i += 1
      }
      st.jobS += covered / 1000.0
      st.driverS += (runEnd - b - covered) / 1000.0
      b = runEnd
    }
    if (toMs > b) into.getOrElseUpdate(tail, new LayerStats).driverS += (toMs - b) / 1000.0
  }
}
