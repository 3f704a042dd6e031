package graft

import graft.enrich.{FixtureInferenceService, HttpEnrichConfig, HttpInferenceService}
import graft.model.{CropImage, PageImage}
import graft.pipeline.IngestPipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentHashMap, Executors}

/** The production-shaped HTTP enrichment client against an in-process
  * JDK httpserver stub (zero egress): success parity with the fixture
  * services, transient-5xx retry, permanent-4xx dead-letter,
  * malformed-JSON-vs-declared-schema, retry exhaustion, and the bounded
  * per-partition async window that page detection, crop detection and
  * whole-crop OCR share. */
class HttpEnrichSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixture = new FixtureInferenceService
  private val mapper = new ObjectMapper()

  // fault injection, keyed by image id (the request body)
  private val transient503 = new ConcurrentHashMap[String, AtomicInteger]()
  private val permanent422 = ConcurrentHashMap.newKeySet[String]()
  private val malformed = ConcurrentHashMap.newKeySet[String]()
  private val requestCounts = new ConcurrentHashMap[String, AtomicInteger]()
  private val inFlight = new AtomicInteger(0)
  private val peakInFlight = new AtomicInteger(0)
  @volatile private var delayMillis = 0L

  private var server: HttpServer = _
  private var baseUrl: String = _

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Serve the bundled fixtures in the reference's response shape
    * (yolo_ocr_utils.py:100), with per-id fault injection. */
  private def handle(ex: HttpExchange): Unit = {
    val cur = inFlight.incrementAndGet()
    peakInFlight.updateAndGet(p => math.max(p, cur))
    // leave the in-flight count BEFORE the reply goes out: a client sends
    // its next request only after reading a reply, so two requests sent
    // one after the other never overlap in the count, however late this
    // handler thread gets scheduled after its reply
    var open = true
    def reply(status: Int, body: String): Unit = {
      open = false
      inFlight.decrementAndGet()
      respond(ex, status, body)
    }
    try {
      if (delayMillis > 0) Thread.sleep(delayMillis)
      val path = ex.getRequestURI.getPath
      val body = readBody(ex)
      val id = if (path == "/extract_text_with_box")
        mapper.readTree(body).path("image").asText() else body
      requestCounts.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
      val t = transient503.get(id)
      if (t != null && t.getAndDecrement() > 0) {
        reply(503, "transient overload"); return
      }
      if (permanent422.contains(id)) {
        reply(422, "unprocessable image"); return
      }
      if (malformed.contains(id)) {
        reply(200, "not json {{"); return
      }
      path match {
        case "/predict" =>
          val model = Option(ex.getRequestURI.getQuery)
            .flatMap(_.split("&").find(_.startsWith("model=")))
            .map(_.stripPrefix("model=")).getOrElse("model1")
          val root = mapper.createObjectNode()
          val arr = root.putArray("detections")
          fixture.detect(id, model).foreach { d =>
            val n = arr.addObject()
            val box = n.putArray("box")
            box.add(d.x1); box.add(d.y1); box.add(d.x2); box.add(d.y2)
            n.put("class", d.class_name)
            n.put("confidence", d.confidence)
            d.ocr_text.foreach(n.put("ocr_text", _))
          }
          reply(200, mapper.writeValueAsString(root))
        case "/extract_text" | "/extract_text_with_box" =>
          val root = mapper.createObjectNode()
          root.put("extracted_text", fixture.extractText(id))
          reply(200, mapper.writeValueAsString(root))
        case _ => reply(404, s"no route $path")
      }
    } finally if (open) inFlight.decrementAndGet()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(Executors.newFixedThreadPool(16))
    server.start()
    baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def cfg(maxRetries: Int = 3, maxInFlight: Int = 4) =
    HttpEnrichConfig(baseUrl, maxRetries = maxRetries,
      backoffMillis = 5L, maxInFlight = maxInFlight)

  private def count(id: String): Int =
    Option(requestCounts.get(id)).map(_.get()).getOrElse(0)

  test("success: HTTP client reproduces the fixture services verbatim") {
    val svc = new HttpInferenceService(cfg())
    val someId = graft.pipeline.PipelineFixtures.pages(spark).head().image_id
    assert(svc.detect(someId, "model1") == fixture.detect(someId, "model1"))
    val det2Id = FixtureInferenceService.detections("model2").keys.head
    assert(svc.detect(det2Id, "model2") == fixture.detect(det2Id, "model2"))
    val ocrId = FixtureInferenceService.ocrTexts.keys.head
    assert(svc.extractText(ocrId) == fixture.extractText(ocrId))
    assert(svc.extractTextWithBox(ocrId, (1, 2, 3, 4)) ==
      fixture.extractText(ocrId))
  }

  test("transient 5xx: bounded backoff retry recovers") {
    val svc = new HttpInferenceService(cfg(maxRetries = 3))
    val id = "flaky-img.png"
    transient503.put(id, new AtomicInteger(2))
    assert(svc.detect(id, "model1") == fixture.detect(id, "model1"))
    assert(count(id) == 3, "two 503s + one success")
  }

  test("permanent 4xx: immediate failure, no retry, dead-letter routed") {
    import spark.implicits._
    val id = "rejected-img.png"
    permanent422.add(id)
    val pages = Seq(PageImage(id, "f.pdf", "shop", 1, 100, 100)).toDS()
    val (ok, errs) = IngestPipeline.detectPagesSafe(pages,
      new HttpInferenceService(cfg(maxRetries = 3)), "model1")
    assert(ok.count() == 0)
    val e = errs.collect()
    assert(e.length == 1 && e.head.image_id == id &&
      e.head.error.contains("422"))
    assert(count(id) == 1, "4xx must not burn the retry budget")
  }

  test("malformed JSON vs declared schema: permanent, named defect") {
    val id = "garbled-img.png"
    malformed.add(id)
    val svc = new HttpInferenceService(cfg(maxRetries = 3))
    val e = intercept[graft.enrich.PermanentEnrichException] {
      svc.detect(id, "model1")
    }
    assert(e.getMessage.contains("not JSON"))
    assert(count(id) == 1)
    // schema drift (valid JSON, wrong shape) is equally permanent
    val e2 = intercept[graft.enrich.PermanentEnrichException] {
      HttpInferenceService.parseDetections("""{"results": []}""")
    }
    assert(e2.getMessage.contains("detections"))
    val e3 = intercept[graft.enrich.PermanentEnrichException] {
      HttpInferenceService.parseDetections(
        """{"detections": [{"box": [1,2], "class": "x", "confidence": 0.5}]}""")
    }
    assert(e3.getMessage.contains("box"))
  }

  test("retry exhaustion surfaces as a transient-class failure") {
    val id = "always-down.png"
    transient503.put(id, new AtomicInteger(Int.MaxValue))
    val svc = new HttpInferenceService(cfg(maxRetries = 1))
    intercept[graft.enrich.EnrichRetriesExhaustedException] {
      svc.detect(id, "model1")
    }
    assert(count(id) == 2, "first attempt + one retry")
  }

  test("detected_items parity: full EP1 plan over HTTP == fixture services") {
    val svc = new HttpInferenceService(cfg())
    val viaHttp = IngestPipeline.runWith(spark, svc, svc)
      .toJSON.collect().sorted
    val viaFixture = IngestPipeline.runFixture(spark)
      .toJSON.collect().sorted
    assert(viaHttp.nonEmpty && viaHttp.sameElements(viaFixture))
  }

  test("async window: maxInFlight requests overlap; window of 1 is sequential") {
    import spark.implicits._
    val pages = (1 to 8).map(i =>
      PageImage(s"win-$i.png", "f.pdf", "shop", i, 100, 100))
      .toDS().repartition(1)
    delayMillis = 60L
    try {
      peakInFlight.set(0); inFlight.set(0)
      val (ok4, err4) = IngestPipeline.detectPagesHttp(pages,
        cfg(maxInFlight = 4), "model1")
      assert(ok4.count() == 0 && err4.count() == 0,
        "unknown ids detect to empty, no errors")
      assert(peakInFlight.get() >= 2,
        s"window of 4 must overlap requests, peak=${peakInFlight.get()}")
      peakInFlight.set(0); inFlight.set(0)
      val (ok1, _) = IngestPipeline.detectPagesHttp(pages,
        cfg(maxInFlight = 1), "model1")
      ok1.count()
      assert(peakInFlight.get() == 1,
        s"window of 1 must stay sequential, peak=${peakInFlight.get()}")
    } finally delayMillis = 0L
  }

  test("async window routes per-image faults exactly like the sync path") {
    import spark.implicits._
    val okId = FixtureInferenceService.detections("model1").keys.head
    val badId = "win-bad.png"
    val flakyId = "win-flaky.png"
    permanent422.add(badId)
    transient503.put(flakyId, new AtomicInteger(1))
    val pages = Seq(
      PageImage(okId, "f.pdf", "shop", 1, 2000, 2000),
      PageImage(badId, "f.pdf", "shop", 2, 100, 100),
      PageImage(flakyId, "f.pdf", "shop", 3, 100, 100)).toDS()
    val (ok, errs) = IngestPipeline.detectPagesHttp(pages,
      cfg(maxRetries = 2, maxInFlight = 4), "model1")
    val e = errs.collect()
    assert(e.length == 1 && e.head.image_id == badId)
    assert(ok.collect().map(_.image_id).toSet == Set(okId),
      "flaky id recovers via sync fallback but has no fixture detections")
    assert(count(flakyId) == 2, "async first attempt + one sync retry")
  }

  /** One partition, input order kept: the window's ordering is visible. */
  private def onePartition(rows: Seq[CropImage]) = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, 1))
  }

  private def crop(id: String) =
    CropImage(id, "page.png", "shop", 40, 30)

  test("crop window: detection and OCR overlap up to maxInFlight, never above") {
    val crops = onePartition((1 to 12).map(i => crop(s"crop-win-$i.png")))
    def peakOf(run: => Unit): Int = {
      peakInFlight.set(0); inFlight.set(0)
      run
      peakInFlight.get()
    }
    delayMillis = 40L
    try {
      val svc4 = new HttpInferenceService(cfg(maxInFlight = 4))
      val svc1 = new HttpInferenceService(cfg(maxInFlight = 1))
      val runs = Seq[(String, HttpInferenceService => Unit)](
        "detectCrops" -> (svc => IngestPipeline.detectCrops(crops, svc).collect()),
        "wholeImageOcr" -> (svc => IngestPipeline.wholeImageOcr(crops, svc).collect()))
      runs.foreach { case (stage, run) =>
        val p4 = peakOf(run(svc4))
        assert(p4 >= 2 && p4 <= 4, s"$stage, window of 4: peak=$p4")
        val p1 = peakOf(run(svc1))
        assert(p1 == 1, s"$stage, window of 1: peak=$p1")
      }
    } finally delayMillis = 0L
  }

  test("crop window: one transient 503 recovers with exactly 2 requests") {
    val svc = new HttpInferenceService(cfg(maxRetries = 3))
    val detId = "crop-flaky-det.png"
    val ocrId = "crop-flaky-ocr.png"
    transient503.put(detId, new AtomicInteger(1))
    transient503.put(ocrId, new AtomicInteger(1))
    delayMillis = 5L
    try {
      val det = IngestPipeline.detectCrops(
        onePartition(Seq(crop("crop-ok-1.png"), crop(detId), crop("crop-ok-2.png"))),
        svc).collect()
      assert(det.isEmpty, "unknown crop ids detect to empty")
      assert(count(detId) == 2, "async first attempt + one sync retry")
      val ocr = IngestPipeline.wholeImageOcr(
        onePartition(Seq(crop("crop-ok-3.png"), crop(ocrId))), svc).collect()
      assert(ocr.map(_.getString(0)).toSeq == Seq("crop-ok-3.png", ocrId))
      assert(count(ocrId) == 2, "async first attempt + one sync retry")
    } finally delayMillis = 0L
  }

  test("crop window: a 422 crop fails the action and names the crop") {
    val svc = new HttpInferenceService(cfg(maxRetries = 3))
    val badId = "crop-rejected.png"
    permanent422.add(badId)
    val crops = onePartition(Seq(crop("crop-fine.png"), crop(badId)))
    val stages = Seq[(String, () => Unit)](
      "detectCrops" -> (() => IngestPipeline.detectCrops(crops, svc).collect()),
      "wholeImageOcr" -> (() => IngestPipeline.wholeImageOcr(crops, svc).collect()))
    stages.foreach { case (stage, run) =>
      val e = intercept[org.apache.spark.SparkException](run())
      assert(e.getMessage.contains(badId) && e.getMessage.contains("422"),
        s"$stage: ${e.getMessage}")
    }
  }

  test("crop window: output equals the sequential fixture services row for row") {
    val rows = IngestPipeline.crops(IngestPipeline.detectPages(
      graft.pipeline.PipelineFixtures.pages(spark), fixture, "model1"))
      .collect().toSeq.sortBy(_.image_id)
    val crops = onePartition(rows)
    val svc = new HttpInferenceService(cfg(maxInFlight = 4))
    delayMillis = 2L
    try {
      val viaHttp = IngestPipeline.detectCrops(crops, svc).collect().toSeq
      val viaFixture = IngestPipeline.detectCrops(crops, fixture).collect().toSeq
      assert(viaHttp.nonEmpty && viaHttp == viaFixture)
      val ocrHttp = IngestPipeline.wholeImageOcr(crops, svc).collect().toSeq
      val ocrFixture = IngestPipeline.wholeImageOcr(crops, fixture).collect().toSeq
      assert(ocrHttp.map(_.getString(0)) == rows.map(_.image_id))
      assert(ocrHttp == ocrFixture)
    } finally delayMillis = 0L
  }
}
