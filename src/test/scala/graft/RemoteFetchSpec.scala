package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RemoteFetch, WideMatrix}

/**
 * S2/S3: remote CSV ingestion against an in-process HTTP server serving the
 * F-1 fixture bytes — the engine analog of the reference's
 * `requests.get(stream = True)` path (`tapis_direct_driver.py:96-107`).
 */
class RemoteFetchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def withServer[T](handlers: (String, HttpExchange => Unit)*)(body: Int => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    handlers.foreach { case (path, h) =>
      server.createContext(path, (ex: HttpExchange) => { h(ex); ex.close() })
    }
    server.start()
    try body(server.getAddress.getPort)
    finally server.stop(0)
  }

  private def serveFile(file: String)(ex: HttpExchange): Unit = {
    val bytes = Files.readAllBytes(Paths.get(file))
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  test("readCsv over http yields exactly the local-read frame") {
    withServer("/f1.csv" -> serveFile(Fixtures.F1Csv) _) { port =>
      val remote = WideMatrix.readCsv(spark, s"http://127.0.0.1:$port/f1.csv")
      val local = WideMatrix.readCsv(spark, Fixtures.F1Csv)
      assert(remote.schema == local.schema)
      assert(remote.exceptAll(local).isEmpty && local.exceptAll(remote).isEmpty)
    }
  }

  test("fetch retries transient failures with backoff, like the reference") {
    val calls = new AtomicInteger(0)
    val flaky: HttpExchange => Unit = { ex =>
      if (calls.incrementAndGet() < 3) ex.sendResponseHeaders(503, -1)
      else serveFile(Fixtures.F1Csv)(ex)
    }
    withServer("/flaky.csv" -> flaky) { port =>
      val df = WideMatrix.readCsv(spark, s"http://127.0.0.1:$port/flaky.csv")
      assert(df.count() == 3 && calls.get() == 3)
    }
  }

  test("a terminal 404 raises immediately — client errors are never retried") {
    val calls = new AtomicInteger(0)
    val notFound: HttpExchange => Unit =
      ex => { calls.incrementAndGet(); ex.sendResponseHeaders(404, -1) }
    withServer("/missing.csv" -> notFound) { port =>
      val e = intercept[Exception] {
        RemoteFetch.fetchToStaging(spark, s"http://127.0.0.1:$port/missing.csv",
          retries = 3)
      }
      assert(e.getMessage.contains("404"))
      // the reference's raise_for_status fails fast on 4xx: one call, no backoff
      assert(calls.get() == 1)
    }
  }

  test("408/429 are transient members of the 4xx family: retried with backoff") {
    val calls = new AtomicInteger(0)
    val rateLimited: HttpExchange => Unit = { ex =>
      if (calls.incrementAndGet() < 3)
        ex.sendResponseHeaders(if (calls.get() == 1) 429 else 408, -1)
      else serveFile(Fixtures.F1Csv)(ex)
    }
    withServer("/limited.csv" -> rateLimited) { port =>
      val staged = RemoteFetch.fetchToStaging(spark,
        s"http://127.0.0.1:$port/limited.csv", retries = 3)
      assert(calls.get() == 3) // two retries, then success
      assert(WideMatrix.readCsv(spark, staged).count() == 3)
    }
  }

  test("job config served over http runs end-to-end (task.sh wget parity)") {
    val cfgJson =
      s"""{"data":[{"files":["${Fixtures.F1Csv}"],
         |"datatype":"temperature","period":"day","fill":"raw",
         |"data_col_start":13,"start_date":"2022-03-01","end_date":"2022-03-02",
         |"additional_properties":{"aggregation":"min"},
         |"additional_key_properties":["aggregation"]}]}""".stripMargin
    val serveCfg: HttpExchange => Unit = { ex =>
      val body = cfgJson.getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
    }
    withServer("/config.json" -> serveCfg) { port =>
      val cfg = Main.loadConfig(spark, s"http://127.0.0.1:$port/config.json",
        java.time.LocalDate.parse("2022-03-01"))
      assert(cfg.data.head.datatype == "temperature")
      val root = Files.createTempDirectory("graft_cfg_url_store").toString
      val results = IngestJob.run(spark, cfg, root)
      assert(results.map(_.created).sum == 3L)
      assert(spark.read.parquet(IngestJob.valuesDir(root)).count() == 3)
    }
  }

  test("staged-file extension comes from the path segment, never query/host") {
    assert(RemoteFetch.urlExtension("http://h.example.com/a/f.csv") == ".csv")
    // query strings must not leak into the staged name (? is a Hadoop glob char)
    assert(RemoteFetch.urlExtension("http://h.example.com/f.csv?a=1&b=.x") == ".csv")
    // dot-less last segment on a dotted host: NO bogus extension
    assert(RemoteFetch.urlExtension("http://h.example.com/data") == "")
    assert(RemoteFetch.urlExtension("http://h.example.com/archive.tar.gz") == ".gz")
    // absurdly long "extension" is not an extension
    assert(RemoteFetch.urlExtension("http://h/x.verylongextension") == "")
    // hidden-file style name: the leading dot is not an extension separator
    assert(RemoteFetch.urlExtension("http://h/.hidden") == "")
  }

  test("runFile ingests a URL end-to-end into the partitioned store") {
    withServer("/f1.csv" -> serveFile(Fixtures.F1Csv) _) { port =>
      val root = Files.createTempDirectory("graft_remote_store").toString
      val r = IngestJob.runFile(spark, Fixtures.F1Spec,
        s"http://127.0.0.1:$port/f1.csv", root, "hawaii", byPosition = false)
      assert(r.created == 3L && r.replaced == 0L)
      val values = spark.read.parquet(IngestJob.valuesDir(root))
      assert(values.count() == 3)
      assert(IngestJob.allComplete(spark, root))
      // re-running the same URL is a no-op (idempotent staging + MERGE)
      val r2 = IngestJob.runFile(spark, Fixtures.F1Spec,
        s"http://127.0.0.1:$port/f1.csv", root, "hawaii", byPosition = false)
      assert(r2.created == 0L && r2.replaced == 0L && r2.unchanged == 3L)
    }
  }

  test("retry: gives up after N attempts; pass-through types abort at once") {
    var calls = 0
    intercept[RuntimeException] {
      RemoteFetch.withRetry(2, sleep = _ => ())(() => { calls += 1; throw new RuntimeException("x") })
    }
    assert(calls == 3) // initial + 2 retries
    var calls2 = 0
    intercept[IllegalArgumentException] {
      RemoteFetch.withRetry(5, passThrough = Set(classOf[IllegalArgumentException]),
        sleep = _ => ())(() => { calls2 += 1; throw new IllegalArgumentException("no-retry") })
    }
    assert(calls2 == 1)
  }

  test("retry: a fatal error is never retried and propagates") {
    var calls = 0
    var sleeps = 0
    intercept[InterruptedException] {
      RemoteFetch.withRetry(3, sleep = _ => sleeps += 1)(
        () => { calls += 1; throw new InterruptedException("cancelled") })
    }
    assert(calls == 1 && sleeps == 0)
  }
}
