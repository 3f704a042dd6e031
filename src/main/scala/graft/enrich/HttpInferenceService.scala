package graft.enrich

import graft.model.RawDetection

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException}

import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Knobs for the production-shaped HTTP enrichment client.
  *
  * `maxRetries` counts attempts AFTER the first; backoff doubles per
  * attempt starting at `backoffMillis`. `maxInFlight` bounds the
  * per-partition [[HttpInferenceService.window]] that every
  * partition-level call (page and crop detection, whole-crop OCR) uses. */
final case class HttpEnrichConfig(
    baseUrl: String,
    maxRetries: Int = 3,
    backoffMillis: Long = 100L,
    requestTimeoutMillis: Long = 10000L,
    maxInFlight: Int = 4)

/** A 4xx / malformed-payload failure: retrying cannot help, the row goes
  * straight to the dead-letter channel. */
final class PermanentEnrichException(msg: String) extends RuntimeException(msg)

/** Transient failures (5xx / IO) that survived every retry. */
final class EnrichRetriesExhaustedException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** Production-shaped client for the reference's enrichment services
  * (yolo_ocr_utils.py:92-103 POST `/predict`; :21-57 `/extract_text`
  * and `/extract_text_with_box`), replacing the deterministic
  * [[FixtureInferenceService]] at the same trait boundary.
  *
  * Production shape, concretely:
  *   - ONE `java.net.http.HttpClient` per executor JVM (companion-object
  *     lazy; the client keeps persistent connections, so every partition
  *     on the executor reuses the same pool — strictly better than
  *     per-partition construction).
  *   - Bounded retry with exponential backoff on TRANSIENT failures only
  *     (HTTP 5xx and IOExceptions). 4xx and malformed-JSON responses are
  *     PERMANENT: they fail immediately and the pipeline's dead-letter
  *     channel (`detectPagesSafe`) takes the row — the ST6 divergence
  *     from the reference, which swallows per-image errors and silently
  *     drops the image (yolo_ocr_utils.py:198-199).
  *   - Response parsing validates the DECLARED schema (a `detections`
  *     array of `{box: [x1,y1,x2,y2], class, confidence}` objects —
  *     yolo_ocr_utils.py:100, 115-118); any shape drift is a permanent
  *     failure naming the defect, never a silent partial parse.
  *
  * Bytes-in-column divergence: the reference POSTs a multipart file it
  * first downloaded from S3; here the request body is the image's
  * identifying bytes straight from the engine's binary/id column (no
  * local tempfile hop), and the bundled test stub keys fixtures by that
  * id. */
class HttpInferenceService(cfg: HttpEnrichConfig)
    extends InferenceService with OcrService {
  import HttpInferenceService._

  override def detect(imageId: String, model: String): Seq[RawDetection] =
    parseDetections(postWithRetry(predictUri(model), imageId, cfg))

  override def extractText(imageId: String): String =
    parseExtractedText(postWithRetry(ocrUri, imageId, cfg))

  override def detectAll[T](rows: Iterator[T], model: String)(imageId: T => String) =
    window(rows, predictUri(model), cfg)(imageId)(parseDetections)

  override def extractTextAll[T](rows: Iterator[T])(imageId: T => String) =
    window(rows, ocrUri, cfg)(imageId)(parseExtractedText)

  /** Box-scoped OCR (yolo_ocr_utils.py:37-57): the box rides a JSON
    * side-channel next to the image payload. */
  def extractTextWithBox(imageId: String, box: (Int, Int, Int, Int)): String = {
    val body = s"""{"image":"${escape(imageId)}","box":[${box._1},${box._2},${box._3},${box._4}]}"""
    parseExtractedText(postWithRetry(
      URI.create(s"${cfg.baseUrl}/extract_text_with_box"), body, cfg))
  }

  private def predictUri(model: String): URI =
    URI.create(s"${cfg.baseUrl}/predict?model=$model")

  private def ocrUri: URI = URI.create(s"${cfg.baseUrl}/extract_text")
}

object HttpInferenceService {

  /** One client (and connection pool) per executor JVM. */
  lazy val sharedClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .build()

  private lazy val mapper = new ObjectMapper()

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }

  private def request(uri: URI, body: String, cfg: HttpEnrichConfig): HttpRequest =
    HttpRequest.newBuilder(uri)
      .timeout(Duration.ofMillis(cfg.requestTimeoutMillis))
      .header("Content-Type", "application/octet-stream")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()

  /** Classify a completed exchange: Right(body) on 200, Left(transient)
    * on 5xx, Left([[PermanentEnrichException]]) on anything else. */
  private def classify(resp: HttpResponse[String], uri: URI): Either[Throwable, String] = {
    def msg = s"HTTP ${resp.statusCode()} from $uri: ${resp.body()}"
    resp.statusCode() match {
      case 200 => Right(resp.body())
      case s if s >= 500 => Left(new RuntimeException(msg))
      case _ => Left(new PermanentEnrichException(msg))
    }
  }

  /** Synchronous bounded-retry POST: transient failures (5xx / IO) back
    * off exponentially for up to `cfg.maxRetries` re-attempts; permanent
    * failures throw immediately. */
  def postWithRetry(uri: URI, body: String, cfg: HttpEnrichConfig): String = {
    var attempt = 0
    var lastTransient: Throwable = null
    while (attempt <= cfg.maxRetries) {
      if (attempt > 0)
        Thread.sleep(cfg.backoffMillis << math.min(attempt - 1, 16))
      try {
        classify(sharedClient.send(request(uri, body, cfg),
            HttpResponse.BodyHandlers.ofString()), uri) match {
          case Right(ok) => return ok
          case Left(permanent: PermanentEnrichException) => throw permanent
          case Left(transient) => lastTransient = transient
        }
      } catch {
        case e: java.io.IOException => lastTransient = e
      }
      attempt += 1
    }
    throw new EnrichRetriesExhaustedException(
      s"retries exhausted after ${cfg.maxRetries + 1} attempts: $uri",
      lastTransient)
  }

  /** The one async window of partition-level calls (the reference's loop
    * is sequential, yolo_ocr_utils.py:82): at most `cfg.maxInFlight` first
    * attempts per partition, the next sent as soon as the oldest settles;
    * rows come back in input order. A transient first attempt falls back
    * to [[postWithRetry]] with the remaining budget before the window
    * refills, so a retry never exceeds the bound; a 4xx or a malformed
    * body is permanent and never retried. Parallelism is partitions x
    * maxInFlight: the endpoint governs throughput, not a global pool. */
  def window[T, R](rows: Iterator[T], uri: URI, cfg: HttpEnrichConfig)(
      body: T => String)(parse: String => R): Iterator[(T, Either[Throwable, R])] =
    new Iterator[(T, Either[Throwable, R])] {
      private val sent = scala.collection.mutable.Queue
        .empty[(T, CompletableFuture[HttpResponse[String]])]
      private def fill(): Unit =
        while (sent.size < math.max(1, cfg.maxInFlight) && rows.hasNext) {
          val r = rows.next()
          sent.enqueue(r -> sharedClient.sendAsync(request(uri, body(r), cfg),
            HttpResponse.BodyHandlers.ofString()))
        }
      def hasNext: Boolean = { fill(); sent.nonEmpty }
      def next(): (T, Either[Throwable, R]) = {
        fill()
        val (r, fut) = sent.dequeue()
        val first = try classify(fut.join(), uri) catch {
          case e: CompletionException => Left(Option(e.getCause).getOrElse(e))
        }
        val settled = first match {
          case Left(_: PermanentEnrichException) => first
          // the async attempt spent try #1; the sync path gets the rest
          case Left(_) if cfg.maxRetries >= 1 => Try(postWithRetry(uri, body(r),
            cfg.copy(maxRetries = cfg.maxRetries - 1))).toEither
          case Left(transient) => Left(new EnrichRetriesExhaustedException(
            s"retries exhausted after 1 attempt: $uri", transient))
          case ok => ok
        }
        val out = r -> settled.flatMap(b => Try(parse(b)).toEither)
        fill()
        out
      }
    }

  /** Parse the `/predict` response against the DECLARED schema
    * (yolo_ocr_utils.py:100: `{"detections": [{"box": [x1,y1,x2,y2],
    * "class": c, "confidence": f, "ocr_text"?: s}]}`); `idx` is the
    * array position, exactly the reference's `enumerate`. Any shape
    * drift is a PERMANENT failure naming the defect. */
  def parseDetections(body: String): Seq[RawDetection] = {
    val root = readTree(body)
    val dets = root.path("detections")
    if (!dets.isArray)
      throw new PermanentEnrichException(
        s"malformed /predict response: no 'detections' array in: ${trim(body)}")
    (0 until dets.size()).map { i =>
      val d = dets.get(i)
      val box = d.path("box")
      if (!box.isArray || box.size() != 4 || !d.hasNonNull("class") ||
        !d.hasNonNull("confidence"))
        throw new PermanentEnrichException(
          s"malformed detection at index $i (want box[4], class, " +
            s"confidence): ${trim(d.toString)}")
      RawDetection(i, d.path("class").asText(),
        box.get(0).asInt(), box.get(1).asInt(),
        box.get(2).asInt(), box.get(3).asInt(),
        d.path("confidence").asDouble(),
        if (d.hasNonNull("ocr_text")) Some(d.path("ocr_text").asText())
        else None)
    }
  }

  /** Parse the OCR response (`{"extracted_text": s}` —
    * yolo_ocr_utils.py:29-30; absent key reads as "" like the
    * reference's `.get('extracted_text', '')`). */
  def parseExtractedText(body: String): String = {
    val root = readTree(body)
    if (!root.isObject)
      throw new PermanentEnrichException(
        s"malformed OCR response (want JSON object): ${trim(body)}")
    root.path("extracted_text").asText("")
  }

  private def readTree(body: String): JsonNode =
    try mapper.readTree(body)
    catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new PermanentEnrichException(
          s"response is not JSON (${e.getMessage}): ${trim(body)}")
    }

  private def trim(s: String): String =
    if (s.length <= 200) s else s.substring(0, 200) + "..."
}
