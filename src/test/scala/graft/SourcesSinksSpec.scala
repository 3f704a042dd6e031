package graft

import graft.enrich.InferenceService
import graft.model.RawDetection
import graft.pipeline.{IngestPipeline, PipelineFixtures}
import graft.sinks.KeyedUpsertSink
import graft.sources.{PdfSource, StructuralRasterizer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Counts detect calls per image id. A top-level object, so the copies
  * deserialized into tasks all resolve to this one instance. */
object CountingDetect extends InferenceService {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()
  override def detect(imageId: String, model: String): Seq[RawDetection] = {
    calls.computeIfAbsent(imageId, _ => new AtomicInteger()).incrementAndGet()
    if (imageId.contains("page_2"))
      throw new RuntimeException(s"inference down for $imageId")
    Seq(RawDetection(0, "shop_item", 1, 2, 30, 40, 0.9, None))
  }
}

class SourcesSinksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("pdf binaryFile source fans out pages with reference naming") {
    val dir = PdfSource.writeFixturePdfs(
      Files.createTempDirectory("pdfsrc").toString)
    val pages = PdfSource.splitToPages(PdfSource.readPdfs(spark, dir),
      _ => "Lidl", new graft.sources.ContentStreamRasterizer).collect()
    assert(pages.length == 6)
    assert(pages.map(_.image_id).toSet.contains("pages/valid/c_page_3.png"))
    // MediaBox 595x842pt at dpi 250: round(pt * 250 / 72)
    assert(pages.forall(p => p.width == 2066 && p.height == 2924))
    // the structural fallback still agrees on the fan-out itself
    val structural = PdfSource.splitToPages(PdfSource.readPdfs(spark, dir),
      _ => "Lidl", new StructuralRasterizer).collect()
    assert(structural.map(p => (p.image_id, p.page_no)).sorted.toSeq ==
      pages.map(p => (p.image_id, p.page_no)).sorted.toSeq)
  }

  test("keyed upsert: incoming wins, re-run is a no-op, untouched rows survive") {
    val path = Files.createTempDirectory("upsert").toString + "/store"
    val b1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    KeyedUpsertSink.upsert(b1, path, "k")
    val b2 = Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
    KeyedUpsertSink.upsert(b2, path, "k")
    val got = KeyedUpsertSink.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // idempotent re-run
    KeyedUpsertSink.upsert(b2, path, "k")
    val again = KeyedUpsertSink.read(spark, path).count()
    assert(again == 4)
  }

  test("keyed upsert: duplicate keys within one batch land exactly one row") {
    val path = Files.createTempDirectory("upsertdup").toString + "/store"
    val b = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    KeyedUpsertSink.upsert(b, path, "k")
    val rows = KeyedUpsertSink.read(spark, path).collect()
    assert(rows.length == 2, "put_item semantics: one row per key")
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("dynamo-shaped sink stringifies only at the boundary") {
    val shaped = graft.sinks.DynamoShapedSink.toDynamoShape(
      IngestPipeline.runFixture(spark)).collect()
    assert(shaped.nonEmpty)
    val schema = graft.sinks.DynamoShapedSink.toDynamoShape(
      IngestPipeline.runFixture(spark)).schema
    // every column at the sink is string/boolean — the DynamoDB shape
    assert(schema.fields.forall(f =>
      f.dataType.typeName == "string" || f.dataType.typeName == "boolean"))
    // nested coords are stringified inside the JSON document
    val withDets = shaped.find(_.getString(4).contains("bounding_box")).get
    assert(withDets.getString(4).contains("\"x1\":\""))
  }

  test("csv and json sources roundtrip typed rows losslessly") {
    val base = Files.createTempDirectory("formats").toString
    val orig = graft.relational.StreamingQueries
      .events(spark, "/root/testdata/sf0.001")
      .filter(org.apache.spark.sql.functions.col("user_id") < 5)
      .select("event_id", "user_id", "event_type", "value")
    orig.write.option("header", "true").csv(s"$base/csv")
    orig.write.json(s"$base/json")
    val fromCsv = spark.read.option("header", "true")
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .csv(s"$base/csv")
    val fromJson = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(s"$base/json")
    orig.write.orc(s"$base/orc")
    val fromOrc = spark.read.orc(s"$base/orc")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))
    val o = orig.collect().map(key).toSet
    assert(fromCsv.collect().map(key).toSet == o)
    assert(fromJson.collect().map(key).toSet == o)
    assert(fromOrc.collect().map(key).toSet == o)
    // and the three unioned sources agree under aggregation
    val total = orig.unionByName(fromCsv).unionByName(fromJson)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val single = orig.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(total == single.map { case (k, v) => k -> v * 3 })
  }

  test("dead-letter channel captures per-image enrichment failures") {
    val flaky = new InferenceService {
      override def detect(imageId: String, model: String): Seq[RawDetection] =
        if (imageId.contains("page_2"))
          throw new RuntimeException(s"inference down for $imageId")
        else Seq(RawDetection(0, "shop_item", 1, 2, 30, 40, 0.9, None))
    }
    val pages = PipelineFixtures.pages(spark).limit(20)
    val (ok, errors) = IngestPipeline.detectPagesSafe(pages, flaky, "model1")
    val nPages = pages.count()
    val nBad = pages.filter(_.image_id.contains("page_2")).count()
    assert(errors.count() == nBad)
    assert(ok.count() == nPages - nBad)
    assert(errors.collect().forall(_.error.contains("inference down")))
  }

  test("dead-letter split: no cache entry left behind, each page enriched once per call") {
    val pages = PipelineFixtures.pages(spark).limit(20)
    val ids = pages.collect().map(_.image_id).toSet
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache() // the cache manager counts entries only in-package
    assert(cache.isEmpty)
    for (_ <- 1 to 3) {
      CountingDetect.calls.clear()
      val (ok, errors) = IngestPipeline.detectPagesSafe(pages, CountingDetect, "model1")
      val nBad = ids.count(_.contains("page_2"))
      assert(ok.count() == ids.size - nBad)
      assert(errors.count() == nBad)
      assert(CountingDetect.calls.keySet.asScala == ids)
      assert(CountingDetect.calls.values.asScala.forall(_.get == 1),
        "both channels must read one enrichment pass")
    }
    assert(cache.isEmpty, "detectPagesSafe left a cache entry no caller can reach")
  }

  /** Bucket directory name -> (file name -> modification time). */
  private def bucketFiles(store: String): Map[String, Map[String, Long]] =
    new File(store).listFiles().filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().map(f => f.getName -> f.lastModified).toMap)
      .toMap

  test("keyed upsert: a fresh store holds at most NumBuckets = 8 bucket directories") {
    val path = Files.createTempDirectory("upsertlayout").toString + "/store"
    KeyedUpsertSink.upsert((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), path, "k")
    val buckets = bucketFiles(path).keySet.map(_.stripPrefix("__bucket=").toInt)
    assert(KeyedUpsertSink.NumBuckets == 8)
    assert(buckets.nonEmpty && buckets.size <= 8 && buckets.forall(b => b >= 0 && b < 8))
    assert(KeyedUpsertSink.read(spark, path).count() == 100)
  }

  test("keyed upsert: a one-key upsert rewrites only that key's bucket") {
    val path = Files.createTempDirectory("upserttouch").toString + "/store"
    KeyedUpsertSink.upsert((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), path, "k")
    val before = bucketFiles(path)
    KeyedUpsertSink.upsert(Seq((42L, "new")).toDF("k", "v"), path, "k")
    val after = bucketFiles(path)
    val touched = "__bucket=" + spark.read.parquet(path).filter(col("k") === 42L)
      .select("__bucket").as[Int].collect().head
    assert(after.keySet == before.keySet)
    assert(after(touched) != before(touched))
    for (b <- before.keySet - touched) assert(after(b) == before(b), s"$b was rewritten")
    val got = KeyedUpsertSink.read(spark, path)
    assert(got.count() == 100)
    assert(got.filter(col("k") === 42L).select("v").as[String].collect().toSeq == Seq("new"))
  }

  test("keyed upsert: a store with a bucket outside the layout fails and stays unchanged") {
    val path = Files.createTempDirectory("upsertold").toString + "/store"
    Seq((5L, "x", 37), (6L, "y", 3)).toDF("k", "v", "__bucket")
      .write.partitionBy("__bucket").parquet(path)
    val before = bucketFiles(path)
    val e = intercept[IllegalStateException] {
      KeyedUpsertSink.upsert(Seq((5L, "X")).toDF("k", "v"), path, "k")
    }
    assert(e.getMessage.contains(s"$path/__bucket=37"))
    assert(bucketFiles(path) == before)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("keyed upsert: a 64-bucket store holding only buckets below 8 merges normally") {
    val path = Files.createTempDirectory("upsertlow").toString + "/store"
    // the rows a 64-bucket sink would have written, kept where bucket < 8
    // (there the 8-bucket value is the same bucket, since 8 divides 64)
    val old = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
      .withColumn("__bucket", pmod(hash(col("k")), lit(64)))
      .filter(col("__bucket") < 8)
    old.write.partitionBy("__bucket").parquet(path)
    val oldKeys = old.select("k").as[Long].collect().toSet
    assert(oldKeys.nonEmpty && oldKeys.size < 200)
    val updated = oldKeys.take(5)
    val batch = (updated.toSeq.map(k => (k, "U")) :+ ((1000L, "new"))).toDF("k", "v")
    KeyedUpsertSink.upsert(batch, path, "k")
    val got = KeyedUpsertSink.read(spark, path).as[(Long, String)].collect()
    assert(got.length == oldKeys.size + 1, "one row per key")
    assert(got.toMap == oldKeys.map(k => k -> (if (updated(k)) "U" else s"v$k")).toMap +
      (1000L -> "new"))
  }
}
