package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by alternating large-star /
  * small-star contraction (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014).
  *
  * Every structure is a distributed RDD keyed by node id — labels are
  * NEVER collected to the driver and nothing is broadcast, so the
  * algorithm is indifferent to how much of the corpus participates in
  * components (web-scale near-dup graphs routinely cover 50-80% of all
  * documents; a driver-resident label map would hold billions of
  * entries there). Per round both star operations are ordinary
  * reduceByKey + join shuffles on a fixed HashPartitioner, and the
  * edge set only ever shrinks toward the star fixpoint, so the round
  * cost is bounded by the input edge count.
  *
  * Convergence is O(log n) rounds regardless of component diameter
  * (star contraction halves path lengths), unlike plain min-label
  * propagation whose round count is the graph diameter — a 200-hop
  * chain converges in a handful of rounds here.
  */
object ConnectedComponents {

  /** (node, componentMinId) for every node incident to at least one
    * edge. Input may contain duplicates, self-loops, and either edge
    * orientation. Throws if the edge set has not reached the star
    * fixpoint within `maxRounds` (each round is one large-star +
    * small-star sweep) — returning a non-converged labeling would look
    * plausible and be silently wrong.
    */
  def labels(edges0: RDD[(Long, Long)], maxRounds: Int = 50): RDD[(Long, Long)] = {
    val numParts = math.max(edges0.getNumPartitions, 1)
    val part = new HashPartitioner(numParts)

    // canonical orientation (hi, lo), self-loops dropped
    def canon(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      e.filter(p => p._1 != p._2).map(p => if (p._1 > p._2) p else p.swap)

    // large-star: each node u connects its LARGER neighbors to
    // m = min(N(u) ∪ {u}). Edges to smaller neighbors re-emerge from
    // the other endpoint's neighborhood (sym covers both directions).
    def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val sym = e.flatMap(p => Iterator(p, p.swap))
      val mins = sym.reduceByKey(part, math.min(_, _))
        .map { case (u, mn) => (u, math.min(u, mn)) }
      canon(sym.join(mins, part).flatMap { case (u, (v, m)) =>
        if (v > u) Iterator((v, m)) else Iterator.empty
      }).distinct(numParts)
    }

    // small-star: each node u connects its SMALLER neighbors (and
    // itself) to m = min of those neighbors; operates on the canonical
    // (hi, lo) orientation so N(u) here is exactly the smaller side.
    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val mins = e.reduceByKey(part, math.min(_, _))
      canon(e.join(mins, part).flatMap { case (u, (v, m)) =>
        if (v == m) Iterator((u, m)) else Iterator((v, m), (u, m))
      }).distinct(numParts)
    }

    var cur = canon(edges0).distinct(numParts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var curCount = cur.count()
    var converged = curCount == 0L
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(cur)).persist(StorageLevel.MEMORY_AND_DISK)
      val nextCount = next.count()
      // distinct sets of equal size with an empty one-sided difference
      // are equal — the star fixpoint test
      converged = nextCount == curCount && next.subtract(cur).isEmpty()
      cur.unpersist(blocking = false)
      cur = next
      curCount = nextCount
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents: star contraction did not converge in $rounds rounds")
    // fixpoint = disjoint stars (child, root): children label from
    // their edge, roots label themselves; reduceByKey dedups the
    // per-edge root emissions. The star RDD stays persisted — `out`
    // is lazy and unpersisting here would recompute every round's
    // lineage when the caller finally acts on it.
    cur.flatMap { case (u, v) => Iterator((u, v), (v, v)) }
      .reduceByKey(part, math.min(_, _))
  }
}
