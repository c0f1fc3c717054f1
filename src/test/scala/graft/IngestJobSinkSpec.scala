package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.config.JobConfig
import graft.operators.KeyedStore

class IngestJobSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val configJson =
    s"""{
       |  "additional_properties": {"location": "hawaii"},
       |  "data": [{
       |    "files": ["${Fixtures.F1Csv}"],
       |    "datatype": "temperature", "period": "day", "fill": "raw",
       |    "data_col_start": 13, "id_col": 0, "nodata": "NA",
       |    "start_date": "2022-03-01", "end_date": "2022-03-02",
       |    "additional_properties": {"aggregation": "min"},
       |    "additional_key_properties": ["aggregation"]
       |  }]
       |}""".stripMargin

  test("end-to-end job: creates on first run, all-unchanged on re-run") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = JobConfig.parse(configJson)
    val r1 = IngestJob.run(spark, cfg, root)
    assert(r1.map(_.created).sum == 3 && r1.map(_.replaced).sum == 0)
    assert(r1.head.metadataRows == 3)
    // store state on disk is queryable, partitioned by date
    val vals = spark.read.parquet(IngestJob.valuesDir(root))
    assert(vals.count() == 3)
    assert(vals.columns.contains("uuid"))
    // resume/idempotency: second run is a no-op
    val r2 = IngestJob.run(spark, cfg, root)
    assert(r2.map(_.created).sum == 0 && r2.map(_.replaced).sum == 0)
    assert(r2.map(_.unchanged).sum == 3)
    assert(IngestJob.allComplete(spark, root))
  }

  test("a metadata merge that raises RecordKeyException fails runFile and writes no state marker") {
    val root = Files.createTempDirectory("graft_store_dupmeta").toString
    val cfg = JobConfig.parse(configJson)
    IngestJob.run(spark, cfg, root)
    // every station key twice in the metadata table; the run's marker gone
    val meta = spark.read.parquet(IngestJob.metadataDir(root))
    val rows = meta.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows ++ rows: _*), meta.schema)
      .write.mode("overwrite").parquet(IngestJob.metadataDir(root))
    val state = new java.io.File(IngestJob.stateDir(root))
    state.listFiles.foreach(_.delete())
    val e = intercept[Exception](IngestJob.run(spark, cfg, root))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("RecordKeyException")), e)
    assert(state.listFiles.isEmpty && !IngestJob.allComplete(spark, root))
    // both merges were joined before the failure surfaced; the tracker
    // hears of a cancelled job's end through the asynchronous listener
    // bus, so drain it before reading
    org.apache.spark.TestBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("partitioned store: only increment partitions rewritten") {
    val root = Files.createTempDirectory("graft_store2").toString
    import spark.implicits._
    val day1 = Seq(("t", "day", "raw", "s1", "2022-03-01", 1.0))
      .toDF("datatype", "period", "fill", "station_id", "date", "value")
    val day2 = Seq(("t", "day", "raw", "s1", "2022-03-02", 2.0))
      .toDF("datatype", "period", "fill", "station_id", "date", "value")
    val keys = Seq("datatype", "period", "date", "fill", "station_id")
    KeyedStore.mergeIntoTable(day1, s"$root/v", keys)
    val p1 = new java.io.File(s"$root/v/date=2022-03-01")
    val mtime1 = p1.lastModified()
    Thread.sleep(1100)
    KeyedStore.mergeIntoTable(day2, s"$root/v", keys)
    // day1 partition untouched by the day2 merge
    assert(p1.lastModified() == mtime1)
    assert(new java.io.File(s"$root/v/date=2022-03-02").exists())
    assert(spark.read.parquet(s"$root/v").count() == 2)
  }

  test("streaming ingestion: file arrivals merge incrementally, exactly-once discovery") {
    import org.apache.spark.sql.streaming.Trigger
    val watch = Files.createTempDirectory("graft_watch").toString
    val root = Files.createTempDirectory("graft_sroot").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val spec = Fixtures.F2Spec
    Files.writeString(java.nio.file.Paths.get(s"$watch/day1.csv"),
      "SKN,X2021.11,X2021.12,X2022.01\n39.2,210.5,188.0,NA\n")
    val q1 = IngestJob.runStream(spark, spec, watch, root, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(spark.read.parquet(IngestJob.valuesDir(root)).count() == 2)
    // second file arrives; same checkpoint -> only the new file is read
    Files.writeString(java.nio.file.Paths.get(s"$watch/day2.csv"),
      "SKN,X2021.11,X2021.12,X2022.01\n147.0,NA,95.25,101.0\n")
    val q2 = IngestJob.runStream(spark, spec, watch, root, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val vals = spark.read.parquet(IngestJob.valuesDir(root))
    assert(vals.count() == 4)
    assert(vals.select("station_id").distinct().count() == 2)
    // header DRIFT: a later file with different date columns (the daily
    // rolling-window case) must be parsed against ITS OWN header
    Files.writeString(java.nio.file.Paths.get(s"$watch/day3.csv"),
      "SKN,X2022.02,X2022.03\n39.2,7.5,8.5\n")
    val q3 = IngestJob.runStream(spark, spec, watch, root, ckpt, Trigger.AvailableNow())
    q3.awaitTermination(60000)
    val vals3 = spark.read.parquet(IngestJob.valuesDir(root))
    assert(vals3.count() == 6)
    assert(vals3.filter(col("date") === "2022-02").head.getAs[Double]("value") == 7.5)
  }

  test("per-file stats line is valid JSON for any file path") {
    val file = "in/we\"ird\\name\u0001.csv"
    val r = IngestJob.FileResult(file, 1L, 2L, 3L, 4L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (batch <- Seq(None, Some(7L))) {
      val m = mapper.readTree(IngestJob.statsJson(r, batch))
      assert(m.get("file").asText == file)
      assert(Seq("created", "replaced", "unchanged", "metadata_rows")
        .map(m.get(_).asLong) == Seq(1L, 2L, 3L, 4L))
      assert(Option(m.get("batch")).map(_.asLong) == batch)
    }
  }
}
