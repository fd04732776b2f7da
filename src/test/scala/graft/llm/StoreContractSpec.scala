package graft.llm

import graft.SparkSuite

/** The store queries pin their maintained-vs-rebuilt mismatch count to
  * zero; these cases show that the one comparison behind that count
  * ([[GenLog.compare]] over a [[GenLog.net]] read) can go non-zero: a
  * store that loses a retraction or credits a key twice is caught, and
  * a key retracted to net 0 matches its absence from the rebuild. */
class StoreContractSpec extends SparkSuite {
  import spark.implicits._

  private val keys = Seq("d1", "d2")

  // the delta log: (1,2) credited twice (two shared shingles), (1,3)
  // credited and then retracted by a cap crossing, (2,3) credited once;
  // the rebuild holds one row per shared shingle
  private val log = Seq((1L, 2L, 1L), (1L, 2L, 1L), (1L, 3L, 1L),
    (2L, 3L, 1L), (1L, 3L, -1L))
  private val rebuilt = Seq((1L, 2L), (1L, 2L), (2L, 3L))

  private def compared(log: Seq[(Long, Long, Long)],
      rebuilt: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] =
    GenLog.compare(GenLog.net(keys)(log.toDF("d1", "d2", "delta")),
        rebuilt.toDF("d1", "d2"), keys)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d1, d2, m, r) => (d1, d2) -> (m, r) }.toMap

  private def mismatches(log: Seq[(Long, Long, Long)],
      rebuilt: Seq[(Long, Long)]): Int =
    compared(log, rebuilt).values.count { case (m, r) => m != r }

  test("equal multisets give zero mismatches") {
    assert(compared(log, rebuilt) ==
      Map((1L, 2L) -> (2L, 2L), (2L, 3L) -> (1L, 1L)))
    assert(mismatches(log, rebuilt) == 0)
  }

  test("a dropped retraction is one mismatch, with 0 on the rebuilt side") {
    val lost = log.dropRight(1)
    assert(mismatches(lost, rebuilt) == 1)
    assert(compared(lost, rebuilt)((1L, 3L)) == ((1L, 0L)))
  }

  test("a duplicated credit is one mismatch") {
    val twice = log :+ ((2L, 3L, 1L))
    assert(mismatches(twice, rebuilt) == 1)
    assert(compared(twice, rebuilt)((2L, 3L)) == ((2L, 1L)))
  }

  test("a key retracted to net 0 and absent from the rebuild is not a mismatch") {
    val retracted = Seq((1L, 3L, 1L), (1L, 3L, -1L))
    assert(compared(retracted, Seq.empty).isEmpty)
    // a rebuilt key the log never credited is one, with 0 maintained
    assert(compared(retracted, Seq((1L, 3L))) == Map((1L, 3L) -> (0L, 1L)))
  }
}
