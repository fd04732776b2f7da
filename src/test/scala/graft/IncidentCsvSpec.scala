package graft

import java.nio.file.Files
import graft.incidents.IncidentLog
import graft.incidents.IncidentLog.Incident

/** JSON-in-CSV round-trip (SURVEY.md §7.4.4): payload columns with
  * embedded quotes, commas, and newlines must survive the CSV edge
  * format intact. */
class IncidentCsvSpec extends SparkSuite {

  test("incident CSV export/import round-trips hostile JSON payloads") {
    import spark.implicits._
    val hostile = Seq(
      Incident("r1", "p", "plain", "baseline", "success", "", "",
        """{"row_count": 4, "null_fractions": {"a": 0.5}}""", "{}"),
      Incident("r2", "p", "quotes, commas", "drifted", "failed",
        "DataQualityError", "Checks \"failed\", badly",
        """{"failed_checks": [{"message": "Column 'age', null fraction 0.6 > \"0.2\""}]}""",
        """{"changes": ["Raised, with \"quotes\""]}"""),
      Incident("r3", "p", "embedded\nnewline", "healing", "healing_actions_applied", "", "",
        "{\"msg\": \"line1\\nline2\"}", "{}"))
    val dir = Files.createTempDirectory("graft_inc_csv").toString

    val ds = hostile.toDS()
    IncidentLog.exportCsv(ds, dir)
    val back = IncidentLog.importCsv(spark, dir).collect().sortBy(_.run_id)
    assert(back.toSeq == hostile.sortBy(_.run_id))
  }

  test("an incident log directory with no files yet reads as empty") {
    val dir = Files.createTempDirectory("graft_inc_empty").toString
    val log = IncidentLog.read(spark, dir)
    assert(log.collect().isEmpty)
    assert(IncidentLog.metrics(log) == IncidentLog.Metrics(0, 0, 0, 0))
  }
}
