package graft

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite

import graft.config.JobConfig

class JobConfigSpec extends AnyFunSuite {

  private val exampleJson =
    """{
      |  "additional_properties": {"location": "hawaii"},
      |  "data": [{
      |    "files": ["fixtures/f1_temperature_min_day.csv"],
      |    "datatype": "temperature", "period": "day", "fill": "raw",
      |    "data_col_start": 13, "id_col": 0, "nodata": "NA",
      |    "start_date": "2022-03-01", "end_date": "2022-03-02",
      |    "additional_properties": {"aggregation": "min"},
      |    "additional_key_properties": ["aggregation"],
      |    "replace_duplicates": true
      |  }]
      |}""".stripMargin

  test("parses the reference config shape with defaults") {
    val cfg = JobConfig.parse(exampleJson)
    val d = cfg.data.head
    assert(d.datatype == "temperature" && d.period == "day" && d.fill == "raw")
    assert(d.dataColStart == 13 && d.idCol == 0 && d.nodata == "NA")
    assert(d.startDate.contains(LocalDate.of(2022, 3, 1)))
    assert(d.keyFields == Seq("datatype", "period", "date", "fill", "station_id", "aggregation"))
    assert(d.staticProperties == Map("datatype" -> "temperature", "period" -> "day",
      "fill" -> "raw", "aggregation" -> "min"))
    assert(d.replaceDuplicates && d.writeMetadata)
    assert(cfg.location == "hawaii")
  }

  test("defaults mirror the reference: data_col_start=1, id_col=0, nodata=NA") {
    val d = JobConfig.parse(
      """{"data":[{"files":[],"datatype":"x","period":"month","fill":"raw"}]}""").data.head
    assert(d.dataColStart == 1 && d.idCol == 0 && d.nodata == "NA")
    assert(d.startDate.isEmpty && d.endDate.isEmpty && d.additionalKeyProperties.isEmpty)
  }

  test("nested additional_properties values survive as canonical JSON") {
    val d = JobConfig.parse(
      """{"data":[{"files":[],"datatype":"x","period":"day","fill":"raw",
        |"additional_properties":{
        |  "aggregation":"min", "n_sensors":3, "active":true,
        |  "sensor":{"model":"x1","channels":[1,2]},
        |  "tags":["qc","v2"]}}]}""".stripMargin).data.head
    assert(d.additionalProperties("aggregation") == "min")
    assert(d.additionalProperties("n_sensors") == "3")
    assert(d.additionalProperties("active") == "true")
    // containers keep their JSON rendering — Jackson asText would give ""
    assert(d.additionalProperties("sensor") == """{"model":"x1","channels":[1,2]}""")
    assert(d.additionalProperties("tags") == """["qc","v2"]""")
    // and they ride into every value doc via staticProperties
    assert(d.staticProperties("sensor") == """{"model":"x1","channels":[1,2]}""")
  }

  test("invalid period / inverted range rejected at parse") {
    intercept[IllegalArgumentException](JobConfig.parse(
      """{"data":[{"files":[],"datatype":"x","period":"week","fill":"raw"}]}"""))
    intercept[IllegalArgumentException](JobConfig.parse(
      """{"data":[{"files":[],"datatype":"x","period":"day","fill":"raw",
        |"start_date":"2022-03-02","end_date":"2022-03-01"}]}""".stripMargin))
  }

  test("CLI: a trailing --date with no value is a usage error, not yesterday") {
    // a backfill typo must fail loudly instead of silently ingesting the
    // default (yesterday's) date-templated files
    val e = intercept[IllegalArgumentException] {
      graft.Main.main(Array("cfg.json", "/tmp/store", "--date"))
    }
    assert(e.getMessage.contains("--date requires a value"))
  }

  test("date templating: %y/%m/%d zero-padded substitution") {
    assert(JobConfig.templateDates("f_%y-%m-%d.csv", LocalDate.of(2022, 3, 2)) == "f_2022-03-02.csv")
    // default is yesterday
    val y = LocalDate.now.minusDays(1)
    assert(JobConfig.templateDates("%y%m%d").contains(f"${y.getYear}%04d"))
  }
}
