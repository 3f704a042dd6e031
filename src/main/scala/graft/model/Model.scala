package graft.model

/** Typed data model for the flyer-ingest domain (SURVEY §1.3).
  *
  * Numerics stay numeric end-to-end; the reference's stringified
  * coords/confidence (yolo_ocr_utils.py:135-141) and `str(None)` price
  * quirk (data_pipeline.py:134-138) are intentional divergences — values
  * are only stringified at a DynamoDB-shaped sink, never inside the plan.
  */

/** Catalog row driving both pipelines (s3_dynamodb_utils.py:22-24 keys;
  * validity fields README.md:71-75). */
final case class PdfMeta(
    filename: String,
    shop_name: String,
    valid_from: java.sql.Date,
    valid_to: java.sql.Date,
    valid: Boolean,
    num_pages: Int)

/** One rasterized PDF page (pdf_utils.py:49-61). */
final case class PageImage(
    image_id: String,
    filename: String,
    shop_name: String,
    page_no: Int,
    width: Int,
    height: Int)

/** Raw detection as returned by the inference service
  * (yolo_ocr_utils.py:100, 116-118): box is pre-padding. */
final case class RawDetection(
    idx: Int,
    class_name: String,
    x1: Int,
    y1: Int,
    x2: Int,
    y2: Int,
    confidence: Double,
    ocr_text: Option[String])

/** A detection joined with its source image context. */
final case class ImageDetection(
    image_id: String,
    shop_name: String,
    width: Int,
    height: Int,
    idx: Int,
    class_name: String,
    x1: Int,
    y1: Int,
    x2: Int,
    y2: Int,
    confidence: Double,
    ocr_text: Option[String])

/** ROI crop emitted from a model-1 detection (yolo_ocr_utils.py:173-196);
  * crop dims come from the RAW (unpadded) box. */
final case class CropImage(
    image_id: String,
    page_image_id: String,
    shop_name: String,
    width: Int,
    height: Int)
