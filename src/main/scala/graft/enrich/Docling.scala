package graft.enrich

import java.security.MessageDigest

/** Client for the document-conversion service (the reference calls Docling
  * Serve over HTTP — camel/file-pipeline.yaml:124-167). The engine only
  * depends on this trait; production would bind an HTTP implementation
  * with a pooled client per executor, tests/offline runs bind
  * [[LocalDocling]].
  */
trait DoclingClient extends Serializable {
  /** Converts one document; returns the structured-JSON result.
    * @throws RuntimeException on conversion failure.
    */
  def convert(requestJson: String): String
}

/** Deterministic local stand-in for Docling Serve. The real service does
  * OCR + table-structure extraction (k8s/configmaps.yaml:13-26); none of
  * those libraries exist in this environment, so the *content* is a
  * deterministic function of the request while the *shape* (JSON document
  * with text/tables/pages) matches what the pipeline stores verbatim.
  *
  * `failSubstring` lets tests inject failures for specific documents;
  * `transientFailures` makes the first N calls per document fail, to
  * exercise retry.
  */
final class LocalDocling(
    failSubstring: Option[String] = None,
    transientFailures: Int = 0) extends DoclingClient {

  // Per-instance (= per-executor after closure serialization) call counts
  // for transient-failure simulation.
  @transient private lazy val calls =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def sha(s: String): String =
    graft.functions.SketchKernels.hex(
      MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  override def convert(requestJson: String): String = {
    failSubstring.foreach { frag =>
      if (requestJson.contains(frag))
        throw new RuntimeException(s"docling: permanent failure for $frag")
    }
    if (transientFailures > 0) {
      val n = calls.updateWith(requestJson)(c => Some(c.getOrElse(0) + 1)).get
      if (n <= transientFailures)
        throw new RuntimeException(s"docling: transient failure #$n")
    }
    val digest = sha(requestJson)
    // Deterministic fake extraction: stable pseudo page/table counts.
    val pages = (java.lang.Long.parseLong(digest.take(6), 16) % 40 + 1)
    val tables = (java.lang.Long.parseLong(digest.slice(6, 12), 16) % 5)
    s"""{"schema":"docling/v1","digest":"$digest","pages":$pages,"tables":$tables,"text":"extracted:$digest"}"""
  }
}

/** Engine-side Docling: REAL text extraction for the two payload
  * formats the reference actually transfers (goanywhere-config.md:123
  * monitors `*.pdf;*.docx`), with no external service — the offline
  * binding that makes [[graft.stream.FilePipeline]] produce text out
  * of real documents instead of [[LocalDocling]]'s deterministic
  * fake. `fetch` resolves the request's `source` URI to bytes (an
  * [[graft.sinks.ObjectStore]] getter in the pipeline, a map in
  * tests — the reference equivalently passes an s3:// URI and lets
  * Docling pull it, camel/file-pipeline.yaml:129). Dispatch is on
  * MAGIC BYTES, never the caller's format string; extraction is
  * [[graft.ext.DocText]]'s restricted-profile parsers; the result is
  * the same docling/v1 JSON shape [[LocalDocling]] emits, with the
  * `text` field real. Malformed, out-of-profile, or unresolvable
  * documents throw RuntimeException — NonFatal, so [[RetryPolicy]]
  * retries and the pipeline's error column routes to the DLQ branch,
  * the X1 failure contract.
  */
final class ExtractingDocling(fetch: String => Array[Byte])
    extends DoclingClient {

  override def convert(requestJson: String): String = {
    val source = ExtractingDocling.stringField(requestJson, "source")
      .getOrElse(throw new RuntimeException(
        "docling: request carries no source URI"))
    val bytes =
      try fetch(source)
      catch { case scala.util.control.NonFatal(e) =>
        throw new RuntimeException(
          s"docling: cannot fetch $source: ${e.getMessage}", e)
      }
    if (bytes == null)
      throw new RuntimeException(s"docling: cannot fetch $source")
    val (format, pages, units, text, tables) =
      if (bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' &&
        bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-')
        graft.ext.DocText.PdfTextExtract.parse(bytes) match {
          case Some((ns, ops, t)) =>
            ("pdf", ns, ops, t,
              Vector.empty[Vector[Vector[String]]])
          case None => throw new RuntimeException(
            s"docling: malformed or out-of-profile pdf: $source")
        }
      else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == 'K')
        graft.ext.DocText.DocxTextExtract.parseFull(bytes) match {
          case Some(d) =>
            ("docx", d.paragraphs.length, d.runs, d.text, d.tables)
          case None => throw new RuntimeException(
            s"docling: malformed or out-of-profile docx: $source")
        }
      else throw new RuntimeException(
        s"docling: unsupported format (magic bytes) for $source")
    // tables in the q159 consumer shape: tables → rows → cells
    // (k8s/configmaps.yaml:20-26, table_structure: true)
    val tablesJson = tables.map { t =>
      "{\"rows\":[" + t.map(row =>
        row.map(graft.Harness.str).mkString("[", ",", "]")).mkString(",") + "]}"
    }.mkString("[", ",", "]")
    s"""{"schema":"docling/v1","format":"$format","pages":$pages,""" +
      s""""units":$units,"tables":$tablesJson,""" +
      s""""text":${graft.Harness.str(text)}}"""
  }
}

object ExtractingDocling {

  /** Minimal string-field read over the request JSON (the envelope's
    * P4 template): first occurrence of `"name"` as a KEY, its string
    * value unescaped. The request is engine-authored (`to_json` over a
    * struct), so the first occurrence IS the key — documented profile,
    * not a general JSON parser.
    */
  private[enrich] def stringField(json: String, name: String)
      : Option[String] = {
    val key = "\"" + name + "\""
    val at = json.indexOf(key)
    if (at < 0) return None
    var i = at + key.length
    while (i < json.length && (json(i) == ' ' || json(i) == ':')) i += 1
    if (i >= json.length || json(i) != '"') return None
    i += 1
    val sb = new StringBuilder
    while (i < json.length) {
      json(i) match {
        case '"' => return Some(sb.toString)
        case '\\' if i + 1 < json.length =>
          json(i + 1) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 't' => sb.append('\t')
            case 'r' => sb.append('\r')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' if i + 5 < json.length =>
              sb.append(Integer.parseInt(
                json.substring(i + 2, i + 6), 16).toChar)
              i += 4
            case other => sb.append(other)
          }
          i += 1
        case c => sb.append(c)
      }
      i += 1
    }
    None // unterminated string
  }
}

/** Connection settings for [[HttpDocling]], mirroring the reference's
  * client config (application.properties:73-74: 30 s connect timeout,
  * 300 s socket timeout; camel/file-pipeline.yaml:153-158: POST to
  * Docling Serve's `/v1/convert/source`).
  */
final case class HttpDoclingConfig(
    endpoint: String,
    connectTimeoutMs: Long = 30000L,
    requestTimeoutMs: Long = 300000L)

/** Real HTTP implementation of [[DoclingClient]] on the JDK's
  * `java.net.http.HttpClient` — no extra dependency, HTTP/1.1 keep-alive
  * connection pooling built in. The case-class config is what serializes
  * into executor closures; the client itself is executor-local, one per
  * connect-timeout value ([[HttpDocling.clientFor]]), shared by every
  * task on that executor — the "pooled client per executor" contract the
  * [[DoclingClient]] trait documents.
  *
  * Failure model: any non-2xx status, connect failure, or
  * `HttpTimeoutException` (fires after `requestTimeoutMs`, the socket
  * timeout analog) throws RuntimeException/IOException — both NonFatal,
  * so [[RetryPolicy]] retries them and [[CircuitBreaker]] counts them,
  * exactly as the reference's redelivery + MicroProfile FT stack treats
  * HTTP faults.
  */
final class HttpDocling(cfg: HttpDoclingConfig) extends DoclingClient {
  import java.net.http.{HttpRequest, HttpResponse}

  @transient private lazy val client = HttpDocling.clientFor(cfg)

  override def convert(requestJson: String): String = {
    val req = HttpRequest.newBuilder(java.net.URI.create(cfg.endpoint))
      .timeout(java.time.Duration.ofMillis(cfg.requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(requestJson,
        java.nio.charset.StandardCharsets.UTF_8))
      .build()
    val resp =
      try client.send(req, HttpResponse.BodyHandlers.ofString())
      catch {
        case e: java.net.http.HttpTimeoutException =>
          throw new RuntimeException(
            s"docling: request timeout after ${cfg.requestTimeoutMs} ms " +
              s"against ${cfg.endpoint}", e)
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
      }
    val code = resp.statusCode()
    if (code / 100 != 2) {
      val body = Option(resp.body()).getOrElse("")
      throw new RuntimeException(
        s"docling: HTTP $code from ${cfg.endpoint}: ${body.take(200)}")
    }
    resp.body()
  }
}

object HttpDocling {
  import java.net.http.HttpClient

  // One pooled client per executor JVM per connect-timeout value; the
  // JDK client holds the keep-alive pool, so tasks reuse sockets instead
  // of re-handshaking per row.
  private val clients =
    scala.collection.concurrent.TrieMap.empty[Long, HttpClient]

  private[enrich] def clientFor(cfg: HttpDoclingConfig): HttpClient =
    clients.getOrElseUpdate(cfg.connectTimeoutMs,
      HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1)
        .connectTimeout(java.time.Duration.ofMillis(cfg.connectTimeoutMs))
        .followRedirects(HttpClient.Redirect.NORMAL)
        .build())
}

/** Retry schedule mirroring the reference's redelivery policy
  * (camel/file-pipeline.yaml:269-277: 3 attempts, 5 s initial, ×2
  * multiplier, 60 s cap). `sleeper` is injectable so tests don't sleep.
  */
final case class RetryPolicy(
    maxAttempts: Int = 3,
    initialDelayMs: Long = 5000L,
    multiplier: Double = 2.0,
    maxDelayMs: Long = 60000L,
    sleeper: Long => Unit = Thread.sleep) {

  /** Delay before attempt n+1 (n is 1-based attempt just failed). */
  def delayFor(attempt: Int): Long =
    math.min(maxDelayMs,
      (initialDelayMs * math.pow(multiplier, (attempt - 1).toDouble)).toLong)

  /** Runs `f` with bounded retry; Right(result, attempts) or
    * Left(lastError, attempts). A [[CircuitBreakerOpenException]] aborts
    * the schedule immediately: retrying an OPEN breaker would convert
    * fail-fast into a full retry-delay crawl per row for the entire
    * outage — the exact opposite of what the breaker is for.
    */
  def run[A](f: () => A): Either[(String, Int), (A, Int)] = {
    var attempt = 0
    var lastErr: String = "no attempts made"
    while (attempt < maxAttempts) {
      attempt += 1
      try return Right((f(), attempt))
      catch {
        case e: CircuitBreakerOpenException =>
          return Left((Option(e.getMessage).getOrElse("circuit breaker open"),
                       attempt))
        case scala.util.control.NonFatal(e) =>
          lastErr = Option(e.getMessage).getOrElse(e.getClass.getName)
          if (attempt < maxAttempts) sleeper(delayFor(attempt))
      }
    }
    Left((lastErr, attempt))
  }
}

/** Thrown by [[CircuitBreaker.call]] while OPEN; non-retryable by
  * [[RetryPolicy]]. The message keeps the "circuit breaker" marker the
  * F2 routing predicate matches on.
  */
final class CircuitBreakerOpenException(msg: String)
    extends RuntimeException(msg)

final case class BreakerConfig(
    failureRatio: Double = 0.5,
    requestVolumeThreshold: Int = 10,
    openDelayMs: Long = 60000L,
    successThreshold: Int = 3)

/** Circuit breaker matching the reference's MicroProfile FT semantics
  * (file-pipeline.yaml:147-151: 50% failure ratio over a rolling window,
  * 60 s open delay, 3-success close threshold). One instance per executor
  * (the reference equivalently has one per pod — SURVEY.md §7.4.2);
  * `clock` is injectable for deterministic tests.
  */
final class CircuitBreaker(
    cfg: BreakerConfig = BreakerConfig(),
    clock: () => Long = System.currentTimeMillis) extends Serializable {

  sealed trait State
  case object Closed extends State
  case object Open extends State
  case object HalfOpen extends State

  private val window =
    new java.util.ArrayDeque[Boolean](cfg.requestVolumeThreshold)
  private var _state: State = Closed
  private var openedAt = 0L
  private var halfOpenSuccesses = 0

  def state: State = synchronized {
    if (_state == Open && clock() - openedAt >= cfg.openDelayMs) {
      _state = HalfOpen
      halfOpenSuccesses = 0
    }
    _state
  }

  /** Runs `f` under the breaker. When open, fails fast with a message
    * containing "circuit breaker" — the marker the routing predicate F2
    * matches on (file-pipeline.yaml:183-184).
    */
  def call[A](f: () => A): A = {
    state match {
      case Open =>
        throw new CircuitBreakerOpenException("circuit breaker open: failing fast")
      case _ =>
        try { val r = f(); onSuccess(); r }
        catch { case scala.util.control.NonFatal(e) => onFailure(); throw e }
    }
  }

  private def onSuccess(): Unit = synchronized {
    _state match {
      case HalfOpen =>
        halfOpenSuccesses += 1
        if (halfOpenSuccesses >= cfg.successThreshold) {
          _state = Closed
          window.clear()
        }
      case _ => record(true)
    }
  }

  private def onFailure(): Unit = synchronized {
    _state match {
      case HalfOpen =>
        _state = Open
        openedAt = clock()
      case _ =>
        record(false)
        if (window.size >= cfg.requestVolumeThreshold) {
          val failures = window.toArray(Array.empty[java.lang.Boolean])
            .count(b => !b)
          if (failures.toDouble / window.size >= cfg.failureRatio) {
            _state = Open
            openedAt = clock()
          }
        }
    }
  }

  private def record(ok: Boolean): Unit = {
    if (window.size >= cfg.requestVolumeThreshold) window.removeFirst()
    window.addLast(ok)
  }
}

/** Executor-local breaker registry: `mapPartitions` closures fetch their
  * executor's breaker by name instead of serializing shared state (breaker
  * state must not round-trip through the driver).
  */
object BreakerRegistry {
  private val breakers =
    scala.collection.concurrent.TrieMap.empty[String, CircuitBreaker]
  /** Returns the breaker for `name`, creating it with `cfg` on first use.
    * The name IS the identity: shared state is the point, so a later call
    * with a different config intentionally keeps the existing breaker —
    * to reconfigure, use a new name (or [[reset]] in tests).
    */
  def get(name: String, cfg: BreakerConfig): CircuitBreaker =
    breakers.getOrElseUpdate(name, new CircuitBreaker(cfg))
  /** Test hook. */
  def reset(): Unit = breakers.clear()
}
