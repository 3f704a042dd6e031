package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.{InferenceService, OcrService}
import graft.model._
import graft.price.PriceFunctions
import graft.text.NameCorrection

/** EP1 — the flyer-ingest dataflow (SURVEY §3) as one lazy Spark plan:
  *
  *   pages -> [detect model1] -> pad -> regroup-by-class   (item_detection_data)
  *         -> crop fan-out -> [detect model2 + box OCR] -> pad
  *         -> last-wins class routing -> correctName / processPrice
  *         -> detected_data
  *
  * Enrichment stages ([detect], OCR) cross the external-service boundary
  * through `mapPartitions` over the services' partition-level calls
  * (SURVEY §2.9) and should be persisted by callers before reuse;
  * everything else is declarative so Catalyst optimizes the whole plan.
  * At cluster scale the per-image aggregations shuffle on image_id
  * (high-cardinality, well distributed) and every other stage is narrow.
  */
object IngestPipeline {

  /** Grow each box by 10% per side (truncated toward zero, like Python
    * int()) and clamp to the image bounds — reference
    * yolo_ocr_utils.py:115-132; the `padding` parameter there is ignored
    * and 10% hard-coded, replicated as the spec (SURVEY §2.2 P2). */
  def withPaddedBox(df: DataFrame): DataFrame = {
    val padW = ((col("x2") - col("x1")) * 0.10).cast("int")
    val padH = ((col("y2") - col("y1")) * 0.10).cast("int")
    df.withColumn("px1", greatest(lit(0), col("x1") - padW))
      .withColumn("py1", greatest(lit(0), col("y1") - padH))
      .withColumn("px2", least(col("width"), col("x2") + padW))
      .withColumn("py2", least(col("height"), col("y2") + padH))
  }

  private def detections(id: String, shop: String, width: Int, height: Int,
      ds: Seq[RawDetection]): Seq[ImageDetection] =
    ds.map(d => ImageDetection(id, shop, width, height, d.idx, d.class_name,
      d.x1, d.y1, d.x2, d.y2, d.confidence, d.ocr_text))

  /** A failed enrichment row fails the action, naming the image. */
  private def orFail[R](id: String, r: Either[Throwable, R]): R =
    r.fold(e => throw new RuntimeException(
      s"enrichment of $id failed: ${e.getMessage}", e), identity)

  /** Run the inference service over images — the enrichment boundary. */
  def detectPages(
      pages: Dataset[PageImage],
      svc: InferenceService,
      model: String): Dataset[ImageDetection] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(it => svc.detectAll(it, model)(_.image_id).flatMap {
      case (p, r) => detections(p.image_id, p.shop_name, p.width, p.height,
        orFail(p.image_id, r))
    })
  }

  /** ST6 divergence: the reference swallows per-image errors and silently
    * drops the image (yolo_ocr_utils.py:198-199); here failures surface
    * on a dead-letter channel while healthy rows flow on. */
  final case class EnrichError(image_id: String, error: String)

  def detectPagesSafe(
      pages: Dataset[PageImage],
      svc: InferenceService,
      model: String): (Dataset[ImageDetection], Dataset[EnrichError]) = {
    import pages.sparkSession.implicits._
    val attempted = pages.mapPartitions(it =>
      svc.detectAll(it, model)(_.image_id).map {
        case (p, Right(ds)) =>
          (detections(p.image_id, p.shop_name, p.width, p.height, ds),
            None: Option[EnrichError])
        case (p, Left(e)) => (Seq.empty[ImageDetection],
          Some(EnrichError(p.image_id, String.valueOf(e.getMessage))))
      })
    // materialise BEFORE splitting: the success and error channels are
    // two separate jobs over the same mapped dataset — recomputed, each
    // would re-run svc.detect per page, and a transiently-failing
    // service could land an image in BOTH channels (or neither),
    // breaking exactly the dead-letter contract this exists for. The lazy
    // local checkpoint is stored by the first job over either channel and
    // cuts the lineage; unlike persist() it leaves no cache entry that no
    // caller could unpersist — its blocks go with the returned datasets.
    // Two costs of that choice: the checkpoint plans and executes `pages`
    // here, so under AQE any shuffle upstream of it runs at this call,
    // not at the first read of a channel (the HTTP and fixture callers
    // pass exchange-free inputs); and a lost checkpoint block fails the
    // job instead of recomputing, which would call the service again
    val materialized = attempted.localCheckpoint(eager = false)
    (materialized.flatMap(_._1), materialized.flatMap(_._2))
  }

  /** [[detectPagesSafe]] over HTTP: requests ride the service's bounded
    * async [[graft.enrich.HttpInferenceService.window]]. */
  def detectPagesHttp(
      pages: Dataset[PageImage],
      cfg: graft.enrich.HttpEnrichConfig,
      model: String): (Dataset[ImageDetection], Dataset[EnrichError]) =
    detectPagesSafe(pages, new graft.enrich.HttpInferenceService(cfg), model)

  def detectCrops(
      crops: Dataset[CropImage],
      svc: InferenceService): Dataset[ImageDetection] = {
    import crops.sparkSession.implicits._
    crops.mapPartitions(it => svc.detectAll(it, "model2")(_.image_id).flatMap {
      case (c, r) => detections(c.image_id, c.shop_name, c.width, c.height,
        orFail(c.image_id, r))
    })
  }

  /** item_detection_data: per image, detections grouped by class with
    * padded boxes, insertion-ordered (yolo_ocr_utils.py:155-171, A2). */
  def itemDetectionData(det: Dataset[ImageDetection]): DataFrame = {
    val padded = withPaddedBox(det.toDF())
    padded
      .groupBy(col("image_id"), col("class_name"))
      .agg(expr(
        """transform(
          |  array_sort(collect_list(struct(idx, px1, py1, px2, py2, confidence, ocr_text))),
          |  d -> struct(
          |    struct(d.px1 as x1, d.py1 as y1, d.px2 as x2, d.py2 as y2) as bounding_box,
          |    d.confidence as confidence, d.ocr_text as ocr_text))""".stripMargin)
        .as("items"))
      .groupBy(col("image_id"))
      .agg(map_from_entries(collect_list(struct(col("class_name"), col("items"))))
        .as("detections"))
  }

  /** ROI crop fan-out (A3): one crop per model-1 detection, named
    * `{base}_det_{i}_{class}.png` (yolo_ocr_utils.py:179, 187); crop dims
    * come from the RAW unpadded box (yolo_ocr_utils.py:176-178). */
  def crops(det1: Dataset[ImageDetection],
      outputDir: String = "item_detected/valid"): Dataset[CropImage] = {
    import det1.sparkSession.implicits._
    val base = regexp_replace(element_at(split(col("image_id"), "/"), -1),
      "\\.png$", "")
    det1.toDF()
      .select(
        concat(lit(s"$outputDir/images/"), base, lit("_det_"), col("idx"),
          lit("_"), col("class_name"), lit(".png")).as("image_id"),
        col("image_id").as("page_image_id"),
        col("shop_name"),
        (col("x2") - col("x1")).as("width"),
        (col("y2") - col("y1")).as("height"))
      .as[CropImage]
  }

  /** Whole-crop OCR enrichment (got_text_from_image, data_pipeline.py:93-99). */
  def wholeImageOcr(crops: Dataset[CropImage], svc: OcrService): DataFrame = {
    import crops.sparkSession.implicits._
    crops.mapPartitions(it => svc.extractTextAll(it)(_.image_id).map {
      case (c, r) => (c.image_id, orFail(c.image_id, r))
    }).toDF("image_id", "whole_image_ocr_text")
  }

  /** Final detected_data assembly (data_pipeline.py:104-140):
    * last-wins routing per class (P4 — the reference loop overwrites, so
    * the highest detection idx of each class survives), name correction,
    * shop-dispatched price parsing, nested model2_detections retained with
    * padded boxes. Divergence: real NULLs instead of "None" strings
    * (SURVEY §2.10.4). */
  def detectedData(
      det2: Dataset[ImageDetection],
      wholeOcr: DataFrame): DataFrame = {
    val padded = withPaddedBox(det2.toDF())
    val routed = padded
      .groupBy(col("image_id"), col("shop_name"))
      .agg(
        expr("max_by(ocr_text, idx) FILTER (WHERE class_name = 'item_name')")
          .as("item_name"),
        expr("max_by(ocr_text, idx) FILTER (WHERE class_name = 'item_price')")
          .as("item_price"),
        expr("max_by(ocr_text, idx) FILTER (WHERE class_name = 'item_member_price')")
          .as("item_member_price"),
        expr("max_by(ocr_text, idx) FILTER (WHERE class_name = 'item_initial_price')")
          .as("item_initial_price"),
        count(lit(1)).cast("int").as("n_detections"),
        expr(
          """transform(
            |  array_sort(collect_list(struct(idx, class_name, px1, py1, px2, py2, confidence, ocr_text))),
            |  d -> struct(d.class_name as class_name,
            |    struct(d.px1 as x1, d.py1 as y1, d.px2 as x2, d.py2 as y2) as bounding_box,
            |    d.confidence as confidence, d.ocr_text as ocr_text))""".stripMargin)
          .as("model2_detections"))
    routed
      .withColumn("processed_item_name",
        NameCorrection.correctName(col("item_name")))
      .withColumn("processed_item_price",
        PriceFunctions.processPrice(col("shop_name"), col("item_price"),
          lit("item_price")))
      .withColumn("processed_item_member_price",
        PriceFunctions.processPrice(col("shop_name"), col("item_member_price"),
          lit("item_member_price")))
      .withColumn("processed_item_initial_price",
        PriceFunctions.processPrice(col("shop_name"), col("item_initial_price"),
          lit("item_initial_price")))
      .join(wholeOcr, Seq("image_id"), "left")
      .withColumn("valid", lit(true))
  }

  /** The full EP1 plan over the bundled fixtures — pages through
    * detected_data with the deterministic fake services.
    *
    * Checkpoint-after-enrichment discipline (SURVEY §4): `crops` feeds
    * BOTH the model-2 detection pass and the whole-image OCR pass, so it
    * is persisted — with a real (nondeterministic, paid-per-call)
    * inference service, re-deriving it would re-run model-1 inference;
    * persist makes each enrichment happen exactly once per run. */
  def runFixture(spark: SparkSession): DataFrame = {
    val svc = new graft.enrich.FixtureInferenceService
    runWith(spark, svc, svc)
  }

  /** [[runFixture]] with the enrichment services injected — the seam the
    * HTTP client swaps through (HttpEnrichSpec runs the full EP1 plan
    * against an in-process HTTP stub and pins output equality with the
    * fixture services). */
  def runWith(
      spark: SparkSession,
      det: InferenceService,
      ocr: OcrService): DataFrame = {
    val pages = PipelineFixtures.pages(spark)
    val det1 = detectPages(pages, det, "model1")
    val cropDs = crops(det1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val det2 = detectCrops(cropDs, det)
    val ocrDf = wholeImageOcr(cropDs, ocr)
    detectedData(det2, ocrDf)
  }
}

/** Bundled EP1 fixture tables (classpath TSVs, generated by
  * tools/gen_pipeline_fixture.py together with reference-produced goldens). */
object PipelineFixtures {
  private def rows(path: String): List[Array[String]] =
    graft.util.Resources.tsv(path)

  def pages(spark: SparkSession): Dataset[PageImage] = {
    import spark.implicits._
    rows("/graft/pipeline_pages.tsv").map(c =>
      PageImage(c(0), c(1), c(2), c(3).toInt, c(4).toInt, c(5).toInt)).toDS()
  }

  def pdfMetadata(spark: SparkSession): Dataset[PdfMeta] = {
    import spark.implicits._
    rows("/graft/pipeline_pdf_metadata.tsv").map(c =>
      PdfMeta(c(0), c(1), java.sql.Date.valueOf(c(2)),
        java.sql.Date.valueOf(c(3)), c(4).toBoolean, c(5).toInt)).toDS()
  }

  /** Raw inference-API JSON payloads per image (the reference's
    * response shape, yolo_ocr_utils.py:100) — input for the from_json
    * external-boundary pattern (SURVEY §2.2 P7). */
  def payloads(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows("/graft/pipeline_payloads.tsv").map(c => (c(0), c(1)))
      .toDF("image_id", "payload")
  }

  /** Notification-targeting users (FIXTURES.md A8, README.md:86-98). */
  def users(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def arr(s: String): Seq[String] =
      if (s.isEmpty) Nil else s.split(",", -1).toSeq
    rows("/graft/pipeline_users.tsv").map(c =>
      (c(0).toLong, arr(c(1)), arr(c(2)), c(3).toBoolean, arr(c(4))))
      .toDF("user_id", "included_shops", "excluded_shops", "wants_pdf_news",
        "tracked_items")
  }
}
