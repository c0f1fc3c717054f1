package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * Remote-file ingestion (S2/S3): the engine half of the reference's
 * local/remote dispatch. The reference opens a local file if it exists and
 * otherwise streams the URL (`tapis_direct_driver.py:91-107`
 * `requests.get(stream = True)`; `driver.py:140-141` `pd.read_csv(file)`
 * "will handle local files or URLs"; `README.md:29`).
 *
 * Shape: the remote body is SPOOLED to a staging location through the
 * Hadoop filesystem API, then read with the ordinary parquet/csv reader.
 * Spooling (rather than streaming straight into the parser) is deliberate:
 *  - `readCsv` probes the header first and then re-reads with a forced
 *    all-string schema — a one-shot network stream can't be read twice;
 *  - on a cluster the staging dir is SHARED storage (pass an `hdfs://`/
 *    `s3a://` URI), so every executor can read the spooled file; the
 *    default (driver-local tmp) matches `local[*]` runs and the
 *    reference's single-process behavior.
 * The daily station files this path serves are small (one wide matrix per
 * datatype); bulk 100 TB inputs arrive as parquet/csv already on
 * distributed storage and never pass through here.
 *
 * Fetch failures retry with exponential backoff (I1, [[withRetry]]); a
 * non-2xx terminal status raises, like the reference's
 * `res.raise_for_status()`.
 */
object RemoteFetch {

  def isRemote(path: String): Boolean = {
    val p = path.toLowerCase
    p.startsWith("http://") || p.startsWith("https://")
  }

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .connectTimeout(Duration.ofSeconds(30))
    .build()

  /** Terminal (non-retryable) HTTP failure: 4xx means the request itself is
    * wrong — the reference's `raise_for_status()` aborts immediately, so
    * retrying with backoff would only delay the same answer. */
  final class ClientErrorException(msg: String) extends java.io.IOException(msg)

  /** File extension of the URL's last path segment (query/fragment excluded —
    * `?`/`*` are Hadoop glob chars and must never reach the staged name). */
  private[graft] def urlExtension(url: String): String = {
    val path = try { Option(URI.create(url).getPath).getOrElse("") }
               catch { case _: IllegalArgumentException => "" }
    val seg = path.substring(path.lastIndexOf('/') + 1)
    val dot = seg.lastIndexOf('.')
    if (dot > 0 && seg.length - dot - 1 <= 8 && dot < seg.length - 1)
      seg.substring(dot)
    else ""
  }

  /** Retry with exponential backoff + jitter (I1;
    * `ingestion_handler.py:70-78,104-120`): first wait 0.25–0.5 s, then
    * ×2–3 per attempt. Exceptions in `passThrough` abort immediately (the
    * reference's `ignore_exceptions` exact-type match), and so do fatal
    * ones — interrupts, VM errors and control throwables are never retried. */
  private[graft] def withRetry[T](retries: Int, passThrough: Set[Class[_]] = Set.empty,
      sleep: Long => Unit = Thread.sleep)(op: () => T): T = {
    val rnd = new scala.util.Random()
    var delayMs: Long = 250L + rnd.nextInt(251) // 0.25–0.5 s
    var attempt = 0
    while (true) {
      try return op()
      catch {
        case NonFatal(e) if !passThrough.contains(e.getClass) && attempt < retries =>
          sleep(delayMs)
          delayMs = (delayMs * (2.0 + rnd.nextDouble())).toLong // ×2–3
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /**
   * Download `url` to `<stagingDir>/graft_fetch_<urlhash><ext>` and return
   * that path. The name is a deterministic function of the URL, so re-runs
   * overwrite in place (idempotent staging, no tmp-file leak per retry).
   */
  def fetchToStaging(spark: SparkSession, url: String,
      stagingDir: Option[String] = None, retries: Int = 3): String = {
    val dir = stagingDir.getOrElse("file:" + System.getProperty("java.io.tmpdir"))
    val ext = urlExtension(url)
    val name = java.util.UUID.nameUUIDFromBytes(url.getBytes("UTF-8")).toString
    val dest = new Path(s"$dir/graft_fetch_$name$ext").toString
    withRetry(retries,
        passThrough = Set(classOf[ClientErrorException])) { () =>
      val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
      if (res.statusCode() / 100 != 2) {
        res.body().close()
        val msg = s"HTTP ${res.statusCode()} fetching $url"
        // 4xx is terminal (bad request/auth/missing) EXCEPT the two transient
        // members of the family — 408 request-timeout and 429 rate-limited —
        // which large fetch jobs hit routinely and backoff actually fixes;
        // 5xx/other is transient
        val code = res.statusCode()
        if (code / 100 == 4 && code != 408 && code != 429)
          throw new ClientErrorException(msg)
        throw new java.io.IOException(msg)
      }
      val out = graft.Writes.create(spark, dest, overwrite = true)
      try res.body().transferTo(out)
      finally { out.close(); res.body().close() }
    }
    dest
  }

  /** Local/remote dispatch: http(s) URLs spool through staging; anything
    * else (local path, hdfs://, s3a://…) is already Hadoop-resolvable. */
  def resolve(spark: SparkSession, path: String,
      stagingDir: Option[String] = None): String =
    if (isRemote(path)) fetchToStaging(spark, path, stagingDir) else path
}
