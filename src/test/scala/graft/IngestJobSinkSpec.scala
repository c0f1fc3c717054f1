package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.config.JobConfig
import graft.operators.KeyedStore
import graft.sinks.DocumentSink

/** Recording transport shared via a static (fine under local[*]: executors
  * live in this JVM). */
object RecordingTransport {
  val bulks = new ConcurrentLinkedQueue[Int]()
  val replaces = new ConcurrentLinkedQueue[String]()
  @volatile var failuresToInject = 0
  def reset(): Unit = { bulks.clear(); replaces.clear(); failuresToInject = 0 }
}

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

  test("document sink: envelope shape, 500-chunking, retry on flaky transport") {
    RecordingTransport.reset()
    RecordingTransport.failuresToInject = 2
    val transport = new DocumentSink.DocTransport {
      def createBulk(docs: Seq[String]): Unit = {
        if (RecordingTransport.failuresToInject > 0) {
          RecordingTransport.failuresToInject -= 1
          throw new RuntimeException("transient")
        }
        RecordingTransport.bulks.add(docs.size)
        docs.foreach { d =>
          assert(d.contains("\"name\":\"hcdp_station_value\"") && d.contains("\"value\":"))
        }
      }
      def replace(id: String, doc: String): Unit = RecordingTransport.replaces.add(id)
    }
    import spark.implicits._
    val creates = (1 to 1201).map(i => (s"s$i", "2022-03-01", i.toDouble, null: String))
      .toDF("station_id", "date", "value", "uuid")
    DocumentSink.writeCreates(creates, "hcdp_station_value", transport,
      chunkSize = 500, retries = 3, concurrency = 1)
    val sizes = RecordingTransport.bulks.toArray(Array.empty[Integer]).map(_.toInt).sorted
    assert(sizes.sum == 1201 && sizes.max <= 500)
    val replaces = Seq(("u-1", "s1", 5.0)).toDF("uuid", "station_id", "value")
    DocumentSink.writeReplaces(replaces, "hcdp_station_value", transport)
    assert(RecordingTransport.replaces.size == 1 && RecordingTransport.replaces.peek == "u-1")
  }

  test("retry: gives up after N attempts; pass-through types abort at once") {
    var calls = 0
    intercept[RuntimeException] {
      DocumentSink.withRetry(2, sleep = _ => ())(() => { calls += 1; throw new RuntimeException("x") })
    }
    assert(calls == 3) // initial + 2 retries
    var calls2 = 0
    intercept[IllegalArgumentException] {
      DocumentSink.withRetry(5, passThrough = Set(classOf[IllegalArgumentException]),
        sleep = _ => ())(() => { calls2 += 1; throw new IllegalArgumentException("no-retry") })
    }
    assert(calls2 == 1)
  }

  test("token provider refreshes only inside expiry margin") {
    var fetches = 0
    val tp = new DocumentSink.TokenProvider(
      () => { fetches += 1; (s"tok$fetches", System.currentTimeMillis() + 60 * 60 * 1000) })
    assert(tp.token() == "tok1" && tp.token() == "tok1" && fetches == 1)
    val tp2 = new DocumentSink.TokenProvider(
      () => { fetches += 1; (s"tok$fetches", System.currentTimeMillis() + 1000) }) // < 5 min
    tp2.token(); tp2.token()
    assert(fetches == 3) // expiring token refetched every call
  }
}
