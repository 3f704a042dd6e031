package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import java.nio.file.{Files, Path, Paths}

import graft.dedup.{Dedup, IncrementalDedup}
import graft.enrich.{HttpEnrichConfig, HttpInferenceService}
import graft.functions.ProcessPrice
import graft.model.{PageImage, PdfMeta}
import graft.pipeline.{IngestPipeline, NotificationSender, NotificationSink,
  PipelineFixtures, ValidityPipeline}
import graft.sim.IncrementalAnnIndex
import graft.sinks.KeyedUpsertSink
import graft.streaming.ValidityJob
import graft.text.NameCorrection

/** What a workload needs from the driver. */
final class Ctx(val spark: SparkSession, val spec: JsonNode,
    val inputDir: String, val workDir: String, val tracer: Tracer,
    val stub: Option[Stub]) {
  def size(name: String): Int = {
    val n = spec.path("sizes").path(name)
    require(n.isNumber, s"spec has no size '$name'")
    n.asInt
  }
  def dir(name: String): String = s"$workDir/$name"
}

/** A named failed correctness check. */
final class CheckFailed(val check: String, detail: String)
    extends RuntimeException(s"check $check failed: $detail")

/** One closed-loop client's workload: operation `i` starts only after
  * operation `i - 1` has returned. `op` is the timed part; `beforeOp` and
  * `afterOp` run untimed around it (landing an input, per-operation
  * checks, the traced run's layer figures). */
trait Workload {
  /** Converts the generated files into what the engine reads. Timed as
    * input generation, which set-up time leaves out. */
  def prepare(): Unit
  /** Untimed set-up before the first operation (e.g. initial stores). */
  def setup(): Unit = ()
  def warmupOps: Int
  def maxOps: Int
  def beforeOp(i: Int): Unit = ()
  /** Runs operation `i`; returns the number of items it processed. */
  def op(i: Int): Long
  /** Per-operation checks (throw [[CheckFailed]]) and, in the traced run,
    * layer figures of operation `i`. */
  def afterOp(i: Int): Map[String, Double]
  /** Whole-run output checks, after the last operation. */
  def check(lastOp: Int): Unit
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "ingest_bulk" => new IngestBulk(c)
    case "ep2_sweep" => new Ep2Sweep(c)
    case "store_churn" => new StoreChurn(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def tag(r: Int): String = f"r$r%05d_"
  def tagCol(r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    format_string("r%05d_", r)
  /** Tags the base name of a crop id, as the generators tag page ids. */
  def tagCropCol(id: org.apache.spark.sql.Column,
      r: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(id, lit("images/"), concat(lit("images/"), tagCol(r)))

  /** The records of a generated JSON-lines file. */
  def jsonLines(path: String): Vector[JsonNode] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(m.readTree).toVector finally src.close()
  }

  def expect(check: String, ok: Boolean, detail: => String): Unit =
    if (!ok) throw new CheckFailed(check, detail)

  /** Parquet files and bytes under a store directory. */
  def storeSize(dir: String): (Double, Double) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0.0, 0.0)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => f.toString.endsWith(".parquet")).toArray
          .map(_.asInstanceOf[Path])
        (fs.length.toDouble, fs.map(Files.size).sum.toDouble)
      } finally s.close()
    }
  }
}

/** Order-free fingerprint of delivered rows: a count and a sum of 64-bit
  * row hashes, kept in Spark accumulators so executors can add to it. */
final class Tally(spark: SparkSession, name: String) extends Serializable {
  val rows: LongAccumulator = spark.sparkContext.longAccumulator(s"$name.rows")
  val hash: LongAccumulator = spark.sparkContext.longAccumulator(s"$name.hash")
  val batches: LongAccumulator =
    spark.sparkContext.longAccumulator(s"$name.batches")

  def add(values: Seq[Any]): Unit = { rows.add(1); hash.add(Tally.hash(values)) }
  def value: (Long, Long) = (rows.value, hash.value)
}

object Tally {
  def hash(values: Seq[Any]): Long = {
    val s = values.map(String.valueOf).mkString("\u0001")
    val h = scala.util.hashing.MurmurHash3
    (h.stringHash(s, 0x5eed).toLong << 32) ^ (h.stringHash(s, 0x7a11) & 0xffffffffL)
  }

  /** Count and hash sum of `rows`, the expected side of a tally. */
  def of(rows: Iterator[Seq[Any]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, s), r) => (n + 1, s + hash(r)) }

  def deliver(df: DataFrame, t: Tally): Unit =
    df.foreachPartition((it: Iterator[Row]) => it.foreach(r => t.add(r.toSeq)))
}

/** Notification delivery target that only counts and fingerprints. */
final class CountingSink(t: Tally) extends NotificationSink {
  def sendBatch(batch: Seq[(Long, String, String)]): Unit = {
    t.batches.add(1)
    batch.foreach { case (u, s, f) => t.add(Seq(u, s, f)) }
  }
}

/** EP1 backfill: each operation ingests a fresh batch of replicated
  * fixture pages through HTTP enrichment into its own keyed store. */
final class IngestBulk(c: Ctx) extends Workload {
  import Workload._
  private val spark = c.spark
  import spark.implicits._

  val warmupOps = 1
  val maxOps: Int = c.size("max_ops")
  private val cfg = HttpEnrichConfig(c.stub.get.baseUrl, maxRetries = 3,
    backoffMillis = 5L, maxInFlight = c.size("max_in_flight"))
  private val svc = new HttpInferenceService(cfg)
  private var pages: Map[Int, Seq[PageImage]] = Map.empty
  private var errs: Dataset[IngestPipeline.EnrichError] = _
  private var detected: DataFrame = _

  private def store(i: Int) = c.dir(f"store-$i%05d")

  def prepare(): Unit =
    pages = jsonLines(s"${c.inputDir}/pages.jsonl").map(n => n.path("op").asInt ->
        PageImage(n.path("image_id").asText, n.path("filename").asText,
          n.path("shop_name").asText, n.path("page_no").asInt,
          n.path("width").asInt, n.path("height").asInt))
      .toSeq.groupBy(_._1).map { case (op, ps) => op -> ps.map(_._2) }

  override def setup(): Unit = { NameCorrection.defaultTrie; () }

  /** The traced run materialises each stage inside its own span. */
  private def stage[T](name: String, ds: Dataset[T]): Dataset[T] =
    if (!c.tracer.enabled) ds
    else c.tracer.span(name) { val p = ds.persist(); p.count(); p }

  def op(i: Int): Long = {
    val batch = pages(i)
    val (det1, e) = IngestPipeline.detectPagesHttp(batch.toDS(), cfg, "model1")
    errs = e
    val d1 = stage("enrich.pages", det1)
    val crops = stage("pipeline.crops",
      IngestPipeline.crops(d1).persist(StorageLevel.MEMORY_AND_DISK))
    val det2 = stage("enrich.crops", IngestPipeline.detectCrops(crops, svc))
    val ocr = stage("enrich.ocr", IngestPipeline.wholeImageOcr(crops, svc))
    detected = stage("pipeline.detected", IngestPipeline.detectedData(det2, ocr))
    c.tracer.span("sinks.upsert") {
      KeyedUpsertSink.upsert(detected, store(i), "image_id")
    }
    batch.size.toLong
  }

  def afterOp(i: Int): Map[String, Double] = {
    val dead = errs.count()
    expect("ingest_bulk.dead_letters", dead == 0, s"$dead pages dead-lettered in op $i")
    val layers =
      if (!c.tracer.enabled) Map.empty[String, Double]
      else {
        // text and price run inside detected_data's plan; the traced run
        // replays their public entry points over the same inputs
        val rows = detected.select("shop_name", "item_name", "item_price",
          "item_member_price", "item_initial_price").collect()
        val names = rows.flatMap(r => Option(r.getString(1)))
        c.tracer.span("text.correct") { names.foreach(NameCorrection.correctDefault) }
        val prices = rows.flatMap { r =>
          Seq(2 -> "item_price", 3 -> "item_member_price",
            4 -> "item_initial_price").flatMap { case (k, cls) =>
            Option(r.getString(k)).map(t => (r.getString(0), t, cls))
          }
        }.map { case (s, t, cls) => (UTF8String.fromString(s),
          UTF8String.fromString(t), UTF8String.fromString(cls)) }
        c.tracer.span("price.parse") {
          prices.foreach { case (s, t, cls) => ProcessPrice.compute(s, t, cls) }
        }
        val (files, bytes) = storeSize(store(i))
        Map("text.names" -> names.length.toDouble,
          "price.texts" -> prices.length.toDouble,
          "sinks.store_files" -> files, "sinks.store_bytes" -> bytes)
      }
    spark.catalog.clearCache()
    layers + ("enrich.dead_letters" -> dead.toDouble)
  }

  /** Every op's store holds exactly the fixture-service EP1 output once
    * per replica the op ingested, under the replica's tagged ids. */
  def check(lastOp: Int): Unit = {
    def counts(rows: Seq[Row]) = rows.groupBy(_.toString).map { case (k, v) => k -> v.size }
    val golden = IngestPipeline.runFixture(spark)
    val cols = golden.columns.map(col)
    val want = golden.collect().toSeq
    def base(id: String) = id.split("/").last
    for (i <- 0 to lastOp if pages.contains(i)) {
      // (untagged page base name -> replicas of it the op ingested)
      val copies = pages(i).groupBy(p => base(Stub.untag(p.image_id)).stripSuffix(".png"))
        .map { case (b, ps) => b -> ps.size }
      val expected = counts(want.flatMap { r =>
        val page = base(r.getString(0)).replaceAll("_det_\\d+_.*$", "")
        Seq.fill(copies.getOrElse(page, 0))(r)
      })
      val got = KeyedUpsertSink.read(spark, store(i)).select(cols: _*)
        .withColumn("image_id", regexp_replace(col("image_id"), "images/r\\d{5}_", "images/"))
        .collect().toSeq
      expect("ingest_bulk.replicas_equal_fixture", counts(got) == expected,
        s"op $i: ${got.size} rows stored, ${expected.values.sum} expected")
    }
  }
}

/** EP2 daily loop over a replicated catalog: sweep, write-back,
  * propagation onto an ingest output, notification fan-out, item alerts. */
final class Ep2Sweep(c: Ctx) extends Workload {
  import Workload._
  private val spark = c.spark
  import spark.implicits._

  // the day after the first is still measurably slower (JIT); two
  // warm-up days keep the measured days alike
  val warmupOps = 2
  val maxOps: Int = c.size("max_ops")
  private val replicas = c.size("replicas")
  private val stride = c.size("user_id_stride")
  private val day0 = java.time.LocalDate.parse(
    c.spec.path("sizes").path("first_day").asText)
  private def asOf(d: Int) = java.sql.Date.valueOf(day0.plusDays(d))
  private def catalog(v: Int) = c.dir(f"catalog/v$v%05d")
  private val usersDir = c.dir("users")
  private val detectedDir = c.dir("detected")
  private val landed = c.dir("landed")

  private val changesT = new Tally(spark, "changes")
  private val propT = new Tally(spark, "propagate")
  private val notifyT = new Tally(spark, "notify")
  private val alertsT = new Tally(spark, "alerts")
  private val tallies = Seq("changes" -> changesT, "propagate" -> propT,
    "notify" -> notifyT, "alerts" -> alertsT)
  // per day: tally name -> (rows, hash) delivered that day
  private val delivered = scala.collection.mutable.Map.empty[Int, Map[String, (Long, Long)]]
  private var before: Map[String, (Long, Long)] = Map.empty
  private var changes: DataFrame = _
  private var batchesBefore = 0L
  private var catalogRows = 0L

  private val sink = new CountingSink(notifyT)

  /** The EP1 output EP2 runs on: the bundled reference `detected_data`
    * golden (the rows the detected_items query is gated against). */
  private def golden: DataFrame =
    graft.util.Resources.tsv("/graft/detected_goldens.tsv")
      .map(r => (r(0), r(4), if (r(2) == "\\N") null else r(2)))
      .toDF("image_id", "shop_name", "processed_item_name")

  def prepare(): Unit = {
    c.tracer.span("generate.catalog") {
      spark.read.schema("filename STRING, shop_name STRING, valid_from DATE, " +
          "valid_to DATE, valid BOOLEAN, num_pages INT")
        .json(s"${c.inputDir}/catalog.jsonl").write.parquet(catalog(0))
      catalogRows = spark.read.parquet(catalog(0)).count()
    }
    c.tracer.span("generate.users") {
      spark.read.schema("user_id BIGINT, included_shops ARRAY<STRING>, " +
          "excluded_shops ARRAY<STRING>, wants_pdf_news BOOLEAN, " +
          "tracked_items ARRAY<STRING>")
        .json(s"${c.inputDir}/users.jsonl").write.parquet(usersDir)
    }
    // the ingest output EP2 propagates onto, replicated with shops and files
    c.tracer.span("generate.detected") {
      golden.crossJoin(spark.range(replicas).select(col("id").cast("int").as("r")))
        .withColumn("image_id", tagCropCol(col("image_id"), col("r")))
        .withColumn("shop_name", format_string("%s~%05d", col("shop_name"), col("r")))
        .drop("r").write.parquet(detectedDir)
    }
    Files.createDirectories(Paths.get(landed))
    land(0)
  }

  override def beforeOp(i: Int): Unit = {
    before = tallies.map { case (n, t) => n -> t.value }.toMap
    batchesBefore = notifyT.batches.value
  }

  /** The day's trigger: one `ValidityJob.runOnce` drains the catalog
    * snapshot that landed since the last run; its CDC set is written back,
    * propagated onto the ingest output, fanned out as notifications, and
    * the item alerts are delivered. */
  def op(d: Int): Long = {
    val users = spark.read.parquet(usersDir)
    val detected = spark.read.parquet(detectedDir)
    ValidityJob.runOnce(spark, landed, c.dir("ckpt"), asOf(d).toString) { cdc =>
      changes = c.tracer.span("validity.sweep") { cdc.localCheckpoint() }
      c.tracer.span("validity.apply") {
        ValidityPipeline.applySweep(spark.read.parquet(catalog(d)).as[PdfMeta],
          changes).write.parquet(catalog(d + 1))
      }
      c.tracer.span("validity.propagate") {
        Tally.deliver(ValidityPipeline.propagateValidity(detected, changes), propT)
      }
      c.tracer.span("notify.send") {
        NotificationSender.sendBatched(ValidityPipeline.notifications(users,
          spark.read.parquet(catalog(d + 1)).as[PdfMeta], lit(asOf(d))), sink)
      }
      c.tracer.span("alerts") {
        Tally.deliver(ValidityPipeline.itemAlerts(users, detected), alertsT)
      }
    }
    catalogRows
  }

  /** Lands catalog version `v` as the next snapshot the daily job drains. */
  private def land(v: Int): Unit = {
    val s = Files.list(Paths.get(catalog(v)))
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, k) =>
        Files.copy(f, Paths.get(landed, f"v$v%05d-$k%03d.parquet"))
      }
    finally s.close()
  }

  def afterOp(d: Int): Map[String, Double] = {
    land(d + 1)
    Tally.deliver(changes, changesT)
    val now = tallies.map { case (n, t) => n -> t.value }.toMap
    val day = now.map { case (n, (r, h)) => n -> (r - before(n)._1, h - before(n)._2) }
    delivered(d) = day
    Map("validity.changed_rows" -> day("changes")._1.toDouble,
      "notify.rows" -> day("notify")._1.toDouble,
      "notify.batches" -> (notifyT.batches.value - batchesBefore).toDouble,
      "alerts.rows" -> day("alerts")._1.toDouble)
  }

  /** Replays every day on the first `shift_classes` replicas alone (one
    * per shift class, built from the fixture tables exactly as the
    * generator builds them) and compares each scaled day with what the
    * run delivered: replica r behaves as replica r % shift_classes
    * renamed. */
  def check(lastOp: Int): Unit = {
    val k = c.size("shift_classes")
    val classes = spark.range(k).select(col("id").cast("int").as("r"))
    def shopCol(x: org.apache.spark.sql.Column) = format_string("%s~%05d", x, col("r"))
    val users = PipelineFixtures.users(spark).crossJoin(classes).select(
      (col("user_id") + col("r") * stride).as("user_id"),
      transform(col("included_shops"), shopCol(_)).as("included_shops"),
      transform(col("excluded_shops"), shopCol(_)).as("excluded_shops"),
      col("wants_pdf_news"), col("tracked_items")).localCheckpoint()
    val det = golden.crossJoin(classes)
      .withColumn("image_id", tagCropCol(col("image_id"), col("r")))
      .withColumn("shop_name", shopCol(col("shop_name")))
      .drop("r").localCheckpoint()
    var cat = PipelineFixtures.pdfMetadata(spark).toDF().crossJoin(classes).select(
      concat(tagCol(col("r")), col("filename")).as("filename"),
      shopCol(col("shop_name")).as("shop_name"),
      date_add(col("valid_from"), col("r")).as("valid_from"),
      date_add(col("valid_to"), col("r")).as("valid_to"),
      col("valid"), col("num_pages")).localCheckpoint()
    val Cls = "r(\\d{5})_|~(\\d{5})".r
    def expand(rows: Array[Row]): (Long, Long) = Tally.of(rows.iterator.flatMap { row =>
      val m = Cls.findFirstMatchIn(row.mkString("\u0001")).get
      val s = Option(m.group(1)).getOrElse(m.group(2)).toInt
      Iterator.range(s, replicas, k).map(r => row.toSeq.map {
        case v: Long => v + (r - s).toLong * stride
        case v: String => v.replace(tag(s), tag(r)).replace(f"~$s%05d", f"~$r%05d")
        case v => v
      })
    })
    val alerts = expand(ValidityPipeline.itemAlerts(users, det).collect())
    for (d <- 0 to lastOp) {
      val day = lit(asOf(d))
      val ch = ValidityPipeline.validitySweep(cat.as[PdfMeta], day).localCheckpoint()
      cat = ValidityPipeline.applySweep(cat.as[PdfMeta], ch).localCheckpoint()
      val want = Map(
        "changes" -> expand(ch.collect()),
        "propagate" -> expand(ValidityPipeline.propagateValidity(det, ch).collect()),
        "notify" -> expand(
          ValidityPipeline.notifications(users, cat.as[PdfMeta], day).collect()),
        "alerts" -> alerts)
      want.foreach { case (n, w) =>
        expect(s"ep2_sweep.$n", delivered(d)(n) == w,
          s"day $d delivered ${delivered(d)(n)} (rows, hash), replay wants $w")
      }
    }
    val finalT = new Tally(spark, "final_catalog")
    Tally.deliver(spark.read.parquet(catalog(lastOp + 1)).select(cat.columns.map(col): _*),
      finalT)
    val wantCat = expand(cat.collect())
    expect("ep2_sweep.catalog_written_back", finalT.value == wantCat,
      s"final catalog ${finalT.value}, replay wants $wantCat")
  }
}

/** Writes and reads alternating on the persisted dedup and ANN stores:
  * each operation is one round of a dedup write, an ANN write, a dedup
  * probe and an ANN top-k read. */
final class StoreChurn(c: Ctx) extends Workload {
  import Workload._
  private val spark = c.spark
  import spark.implicits._

  val warmupOps = 0
  val maxOps: Int = c.size("max_ops")
  private val initDocs = c.size("init_docs")
  private val writeDocs = c.size("write_docs")
  private val initVecs = c.size("init_vecs")
  private val writeVecs = c.size("write_vecs")
  private val k = c.size("top_k")
  private val dedupStore = c.dir("dedup")
  private val annStore = c.dir("ann")
  // the initial ANN store, copied before any round runs
  private val annTwin = c.dir("ann_twin")

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  private var docs: Array[(Long, String)] = Array.empty
  private var vecs: Array[(Long, Array[Double])] = Array.empty
  private var lastPairs: Set[Row] = Set.empty
  private var lastHits: Set[Row] = Set.empty

  private def docRange(lo: Long, n: Long) =
    docs.filter { case (id, _) => id >= lo && id < lo + n }.toSeq.toDF("doc_id", "text")
  private def vecRange(lo: Long, n: Long) =
    vecs.filter { case (id, _) => id >= lo && id < lo + n }.toSeq.toDF("vec_id", "embedding")
  private def probes =
    docRange(initDocs.toLong + maxOps.toLong * writeDocs, c.size("probe_docs"))
  private def queries = vecRange(0, c.size("queries"))
    .select(col("vec_id").as("qid"), col("embedding"))

  def prepare(): Unit = {
    docs = jsonLines(s"${c.inputDir}/docs.jsonl")
      .map(n => (n.path("doc_id").asLong, n.path("text").asText)).toArray
    vecs = jsonLines(s"${c.inputDir}/vecs.jsonl").map { n =>
      val e = n.path("embedding")
      (n.path("vec_id").asLong, Array.tabulate(e.size)(e.get(_).asDouble))
    }.toArray
  }

  override def setup(): Unit = {
    c.tracer.span("setup.dedup_init") {
      IncrementalDedup.processBatch(docRange(0, initDocs), dedupStore)
    }
    c.tracer.span("setup.ann_init") {
      IncrementalAnnIndex.init(vecRange(0, initVecs), annStore, pq = true,
        keepRaw = false)
    }
    copyTree(Paths.get(annStore), Paths.get(annTwin))
    // init ran both write paths; one read pass warms the read paths
    c.tracer.span("setup.warm_reads") {
      IncrementalDedup.probeStorePairs(probes, dedupStore).collect()
      IncrementalAnnIndex.topKPqAdc(queries, annStore, k).collect()
    }
  }

  def op(i: Int): Long = {
    c.tracer.span("dedup.write") {
      IncrementalDedup.processBatch(
        docRange(initDocs + i.toLong * writeDocs, writeDocs), dedupStore)
    }
    c.tracer.span("ann.write") {
      IncrementalAnnIndex.appendBatch(
        vecRange(initVecs + i.toLong * writeVecs, writeVecs), annStore)
    }
    lastPairs = c.tracer.span("dedup.read") {
      IncrementalDedup.probeStorePairs(probes, dedupStore).collect().toSet
    }
    lastHits = c.tracer.span("ann.read") {
      IncrementalAnnIndex.topKPqAdc(queries, annStore, k).collect().toSet
    }
    (writeDocs + writeVecs).toLong
  }

  def afterOp(i: Int): Map[String, Double] = Map.empty

  /** The last round's reads against one-shot computations over the same
    * rows: MinHash-LSH pairs between the accepted corpus and the probe
    * batch, and the ADC top-k of a twin of the initial store that receives
    * every appended vector in one batch. */
  def check(lastOp: Int): Unit = {
    val pairs = Dedup.minhashLshPairsBetween(
      IncrementalDedup.readDocs(spark, dedupStore), probes, "doc_id", "text")
      .select(col("pub_id").as("pub_id"), col("new_id"), col("jaccard"))
    val want = pairs.collect().toSet
    expect("store_churn.dedup_read_matches_one_shot", lastPairs == want,
      s"store probe gave ${lastPairs.size} pairs, one-shot ${want.size}")
    expect("store_churn.dedup_read_nonempty", want.nonEmpty,
      "the probe batch found no near-duplicates; the check would be vacuous")
    IncrementalAnnIndex.appendBatch(
      vecRange(initVecs, (lastOp + 1).toLong * writeVecs), annTwin)
    val wantHits = IncrementalAnnIndex.topKPqAdc(queries, annTwin, k).collect().toSet
    expect("store_churn.ann_read_matches_one_shot", lastHits == wantHits,
      s"store top-k gave ${lastHits.size} rows, one-shot twin ${wantHits.size}")
  }
}
