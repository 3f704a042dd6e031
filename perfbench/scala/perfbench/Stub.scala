package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}

import graft.enrich.FixtureInferenceService

/** In-process enrichment service for the EP1 workloads: the bundled
  * fixture detections and OCR texts served in the reference's response
  * shape, behind a fixed sleep-based service time and a seeded
  * transient-503 rate.
  *
  * Replica tags (`r00007_` at the start of a base name) are stripped
  * before the fixture lookup, so every replica gets exactly the fixture
  * answer of the page or crop it copies. A request key (route + id) is
  * refused with 503 on its FIRST attempt when a seeded hash of the key
  * falls under `failPermille`; its retry succeeds, so the client's retry
  * path runs without any row reaching the dead-letter channel.
  *
  * The stub counts what it serves and how long its own handling takes
  * without the injected sleep, which shows whether the stub itself could
  * be the bottleneck. */
final class Stub(seed: Long, serviceMillis: Long, failPermille: Int,
    val threads: Int) {

  private val fixture = new FixtureInferenceService
  private val mapper = new ObjectMapper()
  private val seen = ConcurrentHashMap.newKeySet[String]()

  private val calls = new AtomicLong
  private val refused = new AtomicLong
  private val serviceNanos = new AtomicLong
  private val handleNanos = new AtomicLong
  // occupancy state, guarded by `this`
  private var inFlight = 0
  private var peak = 0
  private var busySince = 0L
  private var busyNanos = 0L

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-stub-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Stops the listener and the handler pool and waits for both. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }

  def snapshot(): Stub.Stats = synchronized {
    Stub.Stats(calls.get, refused.get, serviceNanos.get / 1e9,
      handleNanos.get / 1e9, busyNanos / 1e9, peak)
  }

  /** Starts a fresh peak-occupancy window (one per operation). */
  def resetPeak(): Unit = synchronized { peak = inFlight }

  private def enter(): Unit = synchronized {
    inFlight += 1
    peak = math.max(peak, inFlight)
    if (inFlight == 1) busySince = System.nanoTime()
  }

  private def leave(): Unit = synchronized {
    inFlight -= 1
    if (inFlight == 0) busyNanos += System.nanoTime() - busySince
  }

  private def refuseFirst(key: String): Boolean =
    seen.add(key) && {
      val h = scala.util.hashing.MurmurHash3.stringHash(key, seed.toInt)
      Math.floorMod(h, 1000) < failPermille
    }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    enter()
    val t0 = System.nanoTime()
    var slept = 0L
    try {
      val path = ex.getRequestURI.getPath
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val raw =
        if (path == "/extract_text_with_box") mapper.readTree(body).path("image").asText()
        else body
      val id = Stub.untag(raw)
      calls.incrementAndGet()
      val s0 = System.nanoTime()
      if (serviceMillis > 0) Thread.sleep(serviceMillis)
      slept = System.nanoTime() - s0
      if (refuseFirst(s"$path?${ex.getRequestURI.getQuery}#$raw")) {
        refused.incrementAndGet()
        respond(ex, 503, "transient overload")
      } else path match {
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
          respond(ex, 200, mapper.writeValueAsString(root))
        case "/extract_text" | "/extract_text_with_box" =>
          val root = mapper.createObjectNode()
          root.put("extracted_text", fixture.extractText(id))
          respond(ex, 200, mapper.writeValueAsString(root))
        case _ => respond(ex, 404, s"no route $path")
      }
    } finally {
      val took = System.nanoTime() - t0
      serviceNanos.addAndGet(took)
      handleNanos.addAndGet(took - slept)
      leave()
    }
  }
}

object Stub {
  final case class Stats(calls: Long, refused: Long, serviceS: Double,
      handleS: Double, busyS: Double, peakInFlight: Int) {
    def minus(o: Stats): Stats = Stats(calls - o.calls, refused - o.refused,
      serviceS - o.serviceS, handleS - o.handleS, busyS - o.busyS,
      peakInFlight)
  }

  private val Tag = "(^|/)r\\d{5}_".r

  /** `a/b/r00007_x.png` -> `a/b/x.png` (the fixture id it copies). */
  def untag(id: String): String = Tag.replaceFirstIn(id, "$1")
}
