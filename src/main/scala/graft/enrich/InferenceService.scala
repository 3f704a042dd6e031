package graft.enrich

import graft.model.RawDetection

/** External-enrichment boundary (SURVEY §2.9): inference and OCR are
  * side-effecting network services in the reference
  * (yolo_ocr_utils.py:21-57, 92-103), so they live behind traits invoked
  * from `mapPartitions` — NOT inside Catalyst expressions — keeping
  * nondeterministic I/O out of expression land where the optimizer could
  * reorder or re-execute it. Pipelines should persist/checkpoint right
  * after an enrichment stage.
  *
  * Partition-level contract: pipelines call `detectAll`/`extractTextAll`
  * once per partition; each returns every row in input order with its own
  * outcome, and the caller dead-letters or rethrows a `Left`. The defaults
  * call the per-row method row by row; [[HttpInferenceService]] overrides
  * them with one bounded async window over one HTTP client per JVM. The
  * bundled [[FixtureInferenceService]] is the deterministic fake used by
  * tests and the driver's correctness gate.
  */
trait InferenceService extends Serializable {
  /** All detections for an image; `model` selects the stage
    * ("model1" page-level / "model2" crop-level, data_pipeline.py:53, 87). */
  def detect(imageId: String, model: String): Seq[RawDetection]

  def detectAll[T](rows: Iterator[T], model: String)(imageId: T => String)
      : Iterator[(T, Either[Throwable, Seq[RawDetection]])] =
    rows.map(r => r -> scala.util.Try(detect(imageId(r), model)).toEither)
}

trait OcrService extends Serializable {
  /** Whole-image OCR (yolo_ocr_utils.py:21-34). */
  def extractText(imageId: String): String

  def extractTextAll[T](rows: Iterator[T])(imageId: T => String)
      : Iterator[(T, Either[Throwable, String])] =
    rows.map(r => r -> scala.util.Try(extractText(imageId(r))).toEither)
}

/** Deterministic fake backed by bundled TSV fixtures (classpath
  * resources), loaded once per JVM — zero serialization per task. */
class FixtureInferenceService extends InferenceService with OcrService {
  override def detect(imageId: String, model: String): Seq[RawDetection] =
    FixtureInferenceService.detections(model).getOrElse(imageId, Nil)

  override def extractText(imageId: String): String =
    FixtureInferenceService.ocrTexts.getOrElse(imageId, "")
}

object FixtureInferenceService {
  private def lines(path: String): List[Array[String]] =
    graft.util.Resources.tsv(path)

  private lazy val det1: Map[String, Seq[RawDetection]] =
    lines("/graft/pipeline_det1.tsv")
      .groupBy(_(0))
      .map { case (id, rs) =>
        id -> rs.map(c => RawDetection(c(1).toInt, c(2), c(3).toInt, c(4).toInt,
          c(5).toInt, c(6).toInt, c(7).toDouble, None)).sortBy(_.idx).toSeq
      }

  private lazy val det2: Map[String, Seq[RawDetection]] =
    lines("/graft/pipeline_det2.tsv")
      .groupBy(_(0))
      .map { case (id, rs) =>
        id -> rs.map(c => RawDetection(c(1).toInt, c(2), c(3).toInt, c(4).toInt,
          c(5).toInt, c(6).toInt, c(7).toDouble, Some(c(8)))).sortBy(_.idx).toSeq
      }

  lazy val ocrTexts: Map[String, String] =
    lines("/graft/pipeline_ocr.tsv").map(c => c(0) -> c(1)).toMap

  def detections(model: String): Map[String, Seq[RawDetection]] =
    if (model == "model2") det2 else det1
}
