package graft

import java.nio.file.Files

import graft.sim.{IncrementalAnnIndex, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental IVF index: appending batches must equal a one-shot build
  * (same quantizer, same assignments, same top-k), replay must be a
  * no-op, and probes must read only the probed list partitions. */
class IncrementalAnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Deterministic synthetic embeddings, dim 8. */
  private def vecs(ids: Seq[Int]) = ids.map { i =>
    (i.toLong, (0 until 8).map(d =>
      (((i * 31 + d * 7) % 13) - 6).toFloat / 6f).toArray)
  }.toDF("vec_id", "embedding")

  test("incremental build equals the one-shot IVF build") {
    val store = Files.createTempDirectory("annidx").toString + "/store"
    val batch1 = vecs(0 until 120) // contains the 8 quantizer vectors
    val batch2 = vecs(120 until 200)
    IncrementalAnnIndex.init(batch1, store)
    IncrementalAnnIndex.appendBatch(batch2, store)

    val union = vecs(0 until 200)
    val nQueries = 10
    val k = 5
    val expected = Similarity.ivfTopK(union, nQueries, k)
    val queries = union.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IncrementalAnnIndex.topK(queries, store, k)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "incremental store must answer exactly like the one-shot index")
    assert(got.count() == nQueries.toLong * k)
  }

  test("replaying a batch is a no-op") {
    val store = Files.createTempDirectory("annidx").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store)
    val first = IncrementalAnnIndex.appendBatch(vecs(100 until 150), store)
    assert(first.appended == 50 && first.skippedRedelivered == 0)
    val replay = IncrementalAnnIndex.appendBatch(vecs(100 until 150), store)
    assert(replay.appended == 0 && replay.skippedRedelivered == 50)
    val stored = spark.read.parquet(s"$store/lists")
    assert(stored.count() == 150)
    assert(stored.select("vec_id").distinct().count() == 150)
  }

  test("streaming embedding batches append via foreachBatch") {
    val base = Files.createTempDirectory("annstream").toString
    val incoming = s"$base/incoming"
    val store = s"$base/store"
    val ckpt = s"$base/ckpt"
    vecs(0 until 100).write.mode("append").parquet(incoming)
    IncrementalAnnIndex.init(spark.read.parquet(incoming), store)

    vecs(100 until 160).write.mode("append").parquet(incoming)
    val q = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .parquet(incoming)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalAnnIndex.appendBatch(b, store); ()
      }
      .start()
    q.awaitTermination()
    // the first drain re-delivers batch 1 (ledger skips it) and appends
    // batch 2; the index then answers like a one-shot build over both
    assert(spark.read.parquet(s"$store/lists").count() == 160)
    val queries = vecs(0 until 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IncrementalAnnIndex.topK(queries, store, 3)
    val expected = Similarity.ivfTopK(vecs(0 until 160), 5, 3)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("applyChanges: deletes leave, inserts arrive, updates re-vector") {
    val store = Files.createTempDirectory("anncdc").toString + "/store"
    val all = vecs(0 until 200)
    IncrementalAnnIndex.init(all.filter(col("vec_id") % 10 =!= 3), store)
    val post = Seq((40L, Array.fill(8)(0.9f))).toDF("vec_id", "embedding")
    val feed = all.filter(col("vec_id") % 10 === 7)
      .withColumn("change_type", lit("delete"))
      .unionByName(all.filter(col("vec_id") % 10 === 3)
        .withColumn("change_type", lit("insert")))
      .unionByName(all.filter(col("vec_id") === 40)
        .withColumn("change_type", lit("update_preimage")))
      .unionByName(post.withColumn("change_type", lit("update_postimage")))
    val r = IncrementalAnnIndex.applyChanges(feed, store)
    assert(r.removed == 21 && r.appended == 21) // 20 dels + pre; 20 ins + post
    val lists = spark.read.parquet(s"$store/lists")
    val ids = lists.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0 until 200).map(_.toLong).filter(_ % 10 != 7).toSet)
    // the updated id carries the POSTIMAGE vector, not the original
    val v40 = lists.filter(col("vec_id") === 40)
      .select("v").collect().map(_.getSeq[Double](0))
    assert(v40.length == 1 && v40.head == Seq.fill(8)(0.9f.toDouble))

    // replaying the same feed converges to identical content
    val before = lists.select("vec_id", "cid")
      .collect().map(r0 => (r0.getLong(0), r0.get(1).toString)).toSet
    IncrementalAnnIndex.applyChanges(feed, store)
    val after = spark.read.parquet(s"$store/lists").select("vec_id", "cid")
      .collect().map(r0 => (r0.getLong(0), r0.get(1).toString)).toSet
    assert(after == before)

    // the ledger sidecar mirrors the lists exactly — same (id -> list)
    // map after deletes, inserts, updates, and the replay
    val ledger = spark.read.parquet(s"$store/ledger")
      .select(col("vec_id"), col("ref_cid").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet
    assert(ledger == after)

    // an unknown change_type fails loudly, never silently drops
    val bad = post.withColumn("change_type", lit("upsert"))
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.applyChanges(bad, store)
    }
    assert(ex.getMessage.contains("unknown change_type"))
  }

  test("a marked txn with an emptied partition stays dropped in BOTH trees") {
    // the crash window that breaks per-partition recovery rules: a
    // delete fully empties a list partition (no staged survivor), the
    // process dies right after the commit marker. Recovery must finish
    // the drop in BOTH trees — restoring the lists partition while the
    // ledger drops its rows would leave the doomed ids queryable
    // forever AND let a re-insert pass the redelivery skip into
    // duplicate rows. The manifest's explicit `drop` entries make the
    // publish forward-only, so neither can happen.
    val store = Files.createTempDirectory("anndrop").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store)
    val lists = spark.read.parquet(s"$store/lists")
    val victim = lists.select(col("cid").cast("long")).distinct()
      .orderBy("cid").head().getLong(0)
    val doomed = lists.filter(col("cid") === victim)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(doomed.nonEmpty)
    val ledger = spark.read.parquet(s"$store/ledger")
    val buckets = ledger.filter(col("vec_id").isin(doomed: _*))
      .select("b").distinct().collect().map(_.getInt(0)).toSeq.sorted
    // craft the zero-publish-progress state of a crashed
    // applyChanges(delete all of the victim list's ids): staged
    // survivors (none for the lists tree — the partition empties;
    // bucket survivors for the ledger tree), manifest, _ok marker
    val txn = s"$store/_txn"
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    ledger.filter(col("b").isin(buckets: _*))
      .filter(!col("vec_id").isin(doomed: _*))
      .select(col("vec_id"),
        lit(null).cast("array<double>").as("v"),
        col("ref_cid").cast("long").as("ref_cid"),
        lit("ledger").as("tree"), col("b").cast("long").as("pk"))
      .write.partitionBy("tree", "pk").parquet(s"$txn/data")
    val stagedB = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$txn/data/tree=ledger"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val manifest = (Seq(s"drop lists cid=$victim") ++
      buckets.map(k =>
        s"${if (stagedB(s"pk=$k")) "swap" else "drop"} ledger b=$k"))
      .mkString("\n")
    val mf = fs.create(new org.apache.hadoop.fs.Path(s"$txn/_manifest"), true)
    mf.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    mf.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$txn/_ok"), false).close()
    // re-deliver the doomed ids: recovery finishes the drop FIRST, so
    // every one of them is a FRESH append (not redelivery-skipped), and
    // the store ends with no duplicates and agreeing trees
    val r = IncrementalAnnIndex.appendBatch(vecs(doomed.map(_.toInt)), store)
    assert(r.appended == doomed.size && r.skippedRedelivered == 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(txn)))
    val after = spark.read.parquet(s"$store/lists")
      .select(col("vec_id"), col("cid").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1)))
    assert(after.length == 100, s"no duplicate rows: ${after.length}")
    assert(after.map(_._1).toSet == (0 until 100).map(_.toLong).toSet)
    val ledgerAfter = spark.read.parquet(s"$store/ledger")
      .select(col("vec_id"), col("ref_cid").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1)))
    assert(ledgerAfter.sorted.toSeq == after.sorted.toSeq,
      "ledger must mirror the lists exactly after recovery")
  }

  test("rebuild re-trains the quantizer over current content, MVCC dest") {
    val base = Files.createTempDirectory("annrebuild").toString
    val store = s"$base/store"
    // maintained store: init on 8..199 (quantizer = first 8 of THAT
    // content: ids 8..15), then a delta inserts 0..7 — the maintained
    // store keeps the stale quantizer; a rebuild must re-train on the
    // union (quantizer becomes ids 0..7)
    IncrementalAnnIndex.init(vecs(8 until 200), store)
    IncrementalAnnIndex.applyChanges(
      vecs(0 until 8).withColumn("change_type", lit("insert")), store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_applied_v7"), false)
      .close()
    val dest = s"$base/rebuilt"
    val r = IncrementalAnnIndex.rebuild(spark, store, dest)
    assert(r.appended == 200 && r.skippedRedelivered == 0)
    // the rebuilt store answers exactly like a FRESH build over the
    // current content (v1-trained quantizer included)...
    val queries = vecs(0 until 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IncrementalAnnIndex.topK(queries, dest, 5)
    val expected = Similarity.ivfTopK(vecs(0 until 200), 10, 5)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // ...the old store is untouched (readers keep it until cutover),
    // the CDC chain marker carried, and a taken destination refuses
    assert(spark.read.parquet(s"$store/lists").count() == 200)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dest/_applied_v7")))
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.rebuild(spark, store, dest)
    }
    assert(ex.getMessage.contains("destination already exists"))
  }

  test("rebuild carries a non-default quantizer size (_ivf_k marker)") {
    val base = Files.createTempDirectory("annivfk").toString
    val store = s"$base/store"
    // trained-k 5 is larger than the init batch can fill (3 vectors):
    // the marker must record the REQUESTED k, so the rebuild over the
    // grown corpus trains the quantizer the store was MEANT to have —
    // neither the lossy observed count (3) nor the session default (8)
    IncrementalAnnIndex.init(vecs(0 until 3), store, nCentroids = 5)
    IncrementalAnnIndex.appendBatch(vecs(3 until 60), store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$store/_ivf_k5")))
    val dest = s"$base/rebuilt"
    IncrementalAnnIndex.rebuild(spark, store, dest)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dest/_ivf_k5")))
    assert(spark.read.parquet(s"$dest/centroids").count() == 5,
      "the rebuild must re-train at the trained-k, not the observed " +
        "count or the default")
    // a pre-marker store falls back to the observed centroid count
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_ivf_k5"), false)
    val dest2 = s"$base/rebuilt2"
    IncrementalAnnIndex.rebuild(spark, store, dest2)
    assert(spark.read.parquet(s"$dest2/centroids").count() == 3,
      "pre-marker carry is the observed count — never a silent reset " +
        "to the default")
    // an explicit value still wins over both
    val dest3 = s"$base/rebuilt3"
    IncrementalAnnIndex.rebuild(spark, store, dest3, nCentroids = Some(7))
    assert(spark.read.parquet(s"$dest3/centroids").count() == 7)
  }

  test("compact rewrites only fragmented partitions; content identical") {
    val store = Files.createTempDirectory("anncompact").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store)
    // three more appends fragment the touched partitions
    IncrementalAnnIndex.appendBatch(vecs(100 until 140), store)
    IncrementalAnnIndex.appendBatch(vecs(140 until 180), store)
    IncrementalAnnIndex.appendBatch(vecs(180 until 220), store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(dir: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).count(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
    def maxFilesPerPart(root: String, prefix: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .filter(d => d.isDirectory &&
          d.getPath.getName.startsWith(prefix + "="))
        .map(d => dataFiles(d.getPath.toString)).max
    assert(maxFilesPerPart(s"$store/lists", "cid") > 1,
      "fixture must be fragmented for the compaction to bind")
    def snapshot() = (
      spark.read.parquet(s"$store/lists")
        .select(col("vec_id"), col("cid").cast("string"))
        .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet,
      spark.read.parquet(s"$store/ledger")
        .select(col("vec_id"), col("ref_cid").cast("string"))
        .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet)
    val (listsBefore, ledgerBefore) = snapshot()
    val (nc, nb) = IncrementalAnnIndex.compact(spark, store, maxFiles = 1)
    assert(nc > 0 && nb > 0)
    val (listsAfter, ledgerAfter) = snapshot()
    assert(listsAfter == listsBefore && ledgerAfter == ledgerBefore,
      "compaction must be content-identical in both trees")
    assert(maxFilesPerPart(s"$store/lists", "cid") == 1)
    assert(maxFilesPerPart(s"$store/ledger", "b") == 1)
    // a second compact is a no-op; the redelivery skip still works
    assert(IncrementalAnnIndex.compact(spark, store, maxFiles = 1) == (0, 0))
    val replay = IncrementalAnnIndex.appendBatch(vecs(0 until 50), store)
    assert(replay.appended == 0 && replay.skippedRedelivered == 50)
  }

  test("filtered search ranks densely within the allowlist") {
    val store = Files.createTempDirectory("annfilter").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 200), store)
    val allowed = vecs(0 until 200).filter(col("vec_id") % 2 === 0)
      .select("vec_id")
    val queries = vecs(0 until 4)
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IncrementalAnnIndex.topKAmong(queries, store, 5, allowed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall { case (_, _, cid) => cid % 2 == 0 },
      "only allowlisted ids may appear")
    // dense ranks 1..k within the filtered set, not holes
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // and the filtered ranking equals filtering topK's candidate pool
    // only when the allowlist keeps every probed candidate
    val all = IncrementalAnnIndex.topKAmong(queries, store, 5,
      vecs(0 until 200).select("vec_id"))
    val plain = IncrementalAnnIndex.topK(queries, store, 5)
    assert(all.except(plain).isEmpty && plain.except(all).isEmpty)
  }

  test("oversized quantizer falls back to the join path, same answers") {
    // 80 centroids > the inline-literal threshold (64): assignment and
    // probe selection take the broadcast-join + window fallback. The
    // incremental build must still equal the one-shot build, and the
    // trees must still mirror.
    val base = Files.createTempDirectory("annbig").toString
    val oneShot = s"$base/oneshot"
    val incr = s"$base/incr"
    IncrementalAnnIndex.init(vecs(0 until 200), oneShot, nCentroids = 80)
    IncrementalAnnIndex.init(vecs(0 until 120), incr, nCentroids = 80)
    val r = IncrementalAnnIndex.appendBatch(vecs(120 until 200), incr)
    assert(r.appended == 80 && r.skippedRedelivered == 0)
    val queries = vecs(0 until 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val a = IncrementalAnnIndex.topK(queries, oneShot, 5)
    val b = IncrementalAnnIndex.topK(queries, incr, 5)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "fallback-path incremental build must answer like one-shot")
    val lists = spark.read.parquet(s"$incr/lists")
      .select(col("vec_id"), col("cid").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet
    val ledger = spark.read.parquet(s"$incr/ledger")
      .select(col("vec_id"), col("ref_cid").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSet
    assert(ledger == lists)
  }

  private def scans(
      p: org.apache.spark.sql.execution.SparkPlan,
      loc: String = "lists"): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, loc)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan, loc)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child, loc)
      case f: FileSourceScanExec =>
        if (f.metadata("Location").contains(loc)) Seq(f) else Nil
      case other => other.children.flatMap(scans(_, loc))
    }

  test("maintenance id discovery reads only the delta's ledger buckets") {
    val store = Files.createTempDirectory("annledg").toString + "/store"
    // 16 buckets over 400 ids: every bucket populated, so pruning to a
    // one-id delta's bucket is visible in the file counts
    IncrementalAnnIndex.init(vecs(0 until 400), store, ledgerBuckets = 16)
    val ledgerDirs = spark.read.parquet(s"$store/ledger")
      .select("b").distinct().count()
    assert(ledgerDirs == 16L, s"want all 16 buckets populated: $ledgerDirs")
    // the bucket a one-id delta hashes to, computed the store's way
    val b7 = spark.range(1)
      .select(pmod(hash(lit(7L)), lit(16))).head().getInt(0)
    val probe = IncrementalAnnIndex.ledgerFor(spark, store, Seq(b7))
    // execute THIS DataFrame so its own scan metrics populate
    assert(probe.collect().map(_.getLong(0)).contains(7L))
    val filesRead = scans(probe.queryExecution.executedPlan, "ledger")
      .map(_.metrics("numFiles").value).sum
    val totalFiles = scans(
      spark.read.parquet(s"$store/ledger").queryExecution.executedPlan,
      "ledger").map(_.relation.location.inputFiles.length).sum
    assert(filesRead > 0 && filesRead <= totalFiles / 16,
      s"discovery must prune to the delta's buckets: " +
        s"read $filesRead of $totalFiles ledger files")
  }

  test("a marked staged append publishes on the next maintenance call") {
    val store = Files.createTempDirectory("annstage").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store)
    // craft the txn exactly as a crash AFTER the _ok marker but BEFORE
    // the publish would leave it: both trees staged, empty manifest (a
    // pure append replaces nothing), marker on
    val staged = s"$store/_txn"
    val newRows = vecs(500 until 510)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cid", lit(0L))
    newRows
      .select(col("vec_id"), col("v"), col("cid").as("ref_cid"),
        lit("lists").as("tree"), col("cid").as("pk"))
      .unionByName(newRows.select(col("vec_id"),
        lit(null).cast("array<double>").as("v"), col("cid").as("ref_cid"),
        lit("ledger").as("tree"),
        pmod(hash(col("vec_id")),
          lit(IncrementalAnnIndex.DefaultLedgerBuckets))
          .cast("long").as("pk")))
      .repartition(1)
      .write.partitionBy("tree", "pk").parquet(s"$staged/data")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$staged/_manifest"), true)
      .close()
    fs.create(new org.apache.hadoop.fs.Path(s"$staged/_ok"), false).close()
    // redelivery of the same ids: recovery must publish the staging
    // FIRST, then the (now-current) ledger skips every id
    val r = IncrementalAnnIndex.appendBatch(vecs(500 until 510), store)
    assert(r.appended == 0 && r.skippedRedelivered == 10)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staged)))
    val ids = spark.read.parquet(s"$store/lists")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((500L until 510L).forall(ids.contains) && ids.size == 110)
    // and the two trees agree
    val ledgerIds = spark.read.parquet(s"$store/ledger")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ledgerIds == ids)
  }

  test("an unmarked staging (crash mid-stage) is discarded wholesale") {
    val store = Files.createTempDirectory("annstage2").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store)
    val staged = s"$store/_txn"
    vecs(500 until 505)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        lit(0L).as("ref_cid"), lit("lists").as("tree"), lit(0L).as("pk"))
      .write.partitionBy("tree", "pk").parquet(s"$staged/data")
    // no _ok marker: nothing of this staging may ever become live
    val r = IncrementalAnnIndex.appendBatch(vecs(500 until 505), store)
    assert(r.appended == 5 && r.skippedRedelivered == 0)
    assert(spark.read.parquet(s"$store/lists").count() == 105)
  }

  test("PQ store: a full shortlist makes topKPq equal exact topK") {
    // the ADC stage only ORDERS candidates; with a shortlist covering
    // every probed candidate the exact cosine re-rank computes exactly
    // what topK computes — so the whole compressed pipeline (codes at
    // init, codes at append, tables, lookup, rerank join) is pinned
    // against the exact path without any quantization tolerance
    val store = Files.createTempDirectory("annpq").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 120), store, pq = true)
    IncrementalAnnIndex.appendBatch(vecs(120 until 200), store)
    val queries = vecs(0 until 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val exact = IncrementalAnnIndex.topK(queries, store, 5)
    val viaPq = IncrementalAnnIndex.topKPq(queries, store, 5,
      shortlist = 1000)
    assert(viaPq.except(exact).isEmpty && exact.except(viaPq).isEmpty,
      "full-shortlist PQ search must equal the exact probed search")
    // a small shortlist still returns dense 1..k ranks per query
    val tight = IncrementalAnnIndex.topKPq(queries, store, 5, shortlist = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    tight.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // a non-PQ store refuses compressed search loudly
    val plain = Files.createTempDirectory("annpq2").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 50), plain)
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.topKPq(queries, plain, 5, shortlist = 10)
    }
    assert(ex.getMessage.contains("not a PQ store"))
  }

  test("PQ store: ADC candidates scan reads codes, never raw vectors") {
    val store = Files.createTempDirectory("annpqcol").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 200), store, pq = true)
    val queries = vecs(0 until 3)
      .select(col("vec_id").as("qid"), col("embedding"))
    val res = IncrementalAnnIndex.topKPq(queries, store, 5, shortlist = 8)
    assert(res.collect().nonEmpty)
    val listScans = scans(res.queryExecution.executedPlan)
    assert(listScans.nonEmpty)
    val schemas = listScans.map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.exists(s => s.contains("pq") && !s.contains("v")),
      s"the ADC scan must read only the code columns, got $schemas")
    assert(schemas.forall(!_.contains("pq")) == false)
    // the raw-vector column is read by the RERANK scan only
    assert(schemas.count(_.contains("v")) == 1,
      s"exactly one scan (the rerank) may read v, got $schemas")
  }

  test("PQ store: ADC-only search never reads the raw vector column") {
    val store = Files.createTempDirectory("annpqadc").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 200), store, pq = true)
    val queries = vecs(0 until 4)
      .select(col("vec_id").as("qid"), col("embedding"))
    val res = IncrementalAnnIndex.topKPqAdc(queries, store, 5)
    val rows = res.collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq,
        "ADC ranks must be dense 1..k per query")
    }
    val schemas = scans(res.queryExecution.executedPlan)
      .map(_.requiredSchema.fieldNames.toSet)
    assert(schemas.nonEmpty && schemas.forall(!_.contains("v")),
      s"no scan in the ADC-only query may read v, got $schemas")
    // ADC ordering agrees with the rerank form's CANDIDATE set: the
    // full-shortlist rerank re-orders exactly the same candidates
    val viaRerank = IncrementalAnnIndex
      .topKPq(queries, store, 1000, shortlist = 1000)
      .select("qid", "cid")
    val viaAdc = IncrementalAnnIndex.topKPqAdc(queries, store, 1000)
      .select("qid", "cid")
    assert(viaAdc.except(viaRerank).isEmpty &&
      viaRerank.except(viaAdc).isEmpty)
  }

  test("PQ store: CDC maintenance converges on replay, codes intact") {
    val store = Files.createTempDirectory("annpqcdc").toString + "/store"
    val all = vecs(0 until 200)
    IncrementalAnnIndex.init(all.filter(col("vec_id") % 10 =!= 3), store,
      pq = true)
    val feed = all.filter(col("vec_id") % 10 === 7)
      .withColumn("change_type", lit("delete"))
      .unionByName(all.filter(col("vec_id") % 10 === 3)
        .withColumn("change_type", lit("insert")))
    val r = IncrementalAnnIndex.applyChanges(feed, store)
    assert(r.removed == 20 && r.appended == 20)
    def snapshot() = spark.read.parquet(s"$store/lists")
      .select(col("vec_id"), col("cid").cast("string"),
        col("pq").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getString(1),
        r0.getString(2))).toSet
    val before = snapshot()
    assert(before.forall(_._3 != null), "every row must carry codes")
    IncrementalAnnIndex.applyChanges(feed, store) // replay
    assert(snapshot() == before,
      "replay must converge to identical content, codes included")
    // maintained codes equal init-time codes: re-inserting a vector
    // the store has seen produces the same encoding (fixed books)
    val survivors = (0 until 200)
      .filter(i => i % 10 != 7 && i % 10 != 3).map(_.toLong).toSet
    assert(before.map(_._1) == survivors ++
      (0 until 200).filter(_ % 10 == 3).map(_.toLong).toSet)
  }

  test("PQ store: a delete emptying a partition drops it, codes tree too") {
    val store = Files.createTempDirectory("annpqdrop").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store, pq = true)
    val lists = spark.read.parquet(s"$store/lists")
    val victim = lists.select(col("cid").cast("long")).distinct()
      .orderBy("cid").head().getLong(0)
    val doomed = lists.filter(col("cid") === victim)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(doomed.nonEmpty)
    val feed = vecs(doomed.map(_.toInt))
      .withColumn("change_type", lit("delete"))
    IncrementalAnnIndex.applyChanges(feed, store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/lists/cid=$victim")),
      "the emptied partition (vectors AND codes — one tree) must drop")
    val after = spark.read.parquet(s"$store/lists")
    assert(after.count() == 100L - doomed.size)
    assert(after.filter(col("pq").isNull).count() == 0)
    // re-insert converges: fresh appends (not redelivery-skips), coded
    val r = IncrementalAnnIndex.applyChanges(
      vecs(doomed.map(_.toInt)).withColumn("change_type", lit("insert")),
      store)
    assert(r.appended == doomed.size && r.skippedRedelivered == 0)
  }

  test("rebuild of a PQ store re-trains books; dest answers like fresh") {
    val base = Files.createTempDirectory("annpqrb").toString
    val store = s"$base/store"
    IncrementalAnnIndex.init(vecs(8 until 200), store, pq = true)
    IncrementalAnnIndex.applyChanges(
      vecs(0 until 8).withColumn("change_type", lit("insert")), store)
    val dest = s"$base/rebuilt"
    IncrementalAnnIndex.rebuild(spark, store, dest)
    // the rebuilt store is a PQ store whose books were trained on the
    // CURRENT content — bit-equal to a fresh pq init over the union
    val fresh = s"$base/fresh"
    IncrementalAnnIndex.init(vecs(0 until 200), fresh, pq = true)
    val queries = vecs(0 until 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val a = IncrementalAnnIndex.topKPq(queries, dest, 5, shortlist = 12)
    val b = IncrementalAnnIndex.topKPq(queries, fresh, 5, shortlist = 12)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "rebuilt PQ store must answer like a fresh build over the union")
  }

  test("a format-1 store fails loudly instead of half-reading") {
    // a format-1 store never carried the `_format_2` stamp: whatever it
    // holds — retired staging dirs, a v1-schema ledger (data column
    // `cid`, no `ref_cid`) — maintenance refuses it with its path
    // instead of reading or rewriting it
    val base = Files.createTempDirectory("annfmt").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())

    val store1 = s"$base/legacy_staging"
    IncrementalAnnIndex.init(vecs(0 until 50), store1)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store1/_format_2"), false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$store1/_append_staged"))
    val ex1 = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.appendBatch(vecs(50 until 60), store1)
    }
    assert(ex1.getMessage.contains(store1) &&
      ex1.getMessage.contains("_format_2"), ex1.getMessage)

    // a v1 ledger: `cid` data column, bucket marker present, no stamp
    val store2 = s"$base/legacy_ledger"
    IncrementalAnnIndex.init(vecs(0 until 50), store2)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store2/_format_2"), false)
    val oldLedger = spark.read.parquet(s"$store2/ledger")
      .select(col("vec_id"), col("ref_cid").as("cid"), col("b"))
    val tmpLedger = s"$base/v1ledger"
    oldLedger.write.partitionBy("b").parquet(tmpLedger)
    fs.delete(new org.apache.hadoop.fs.Path(s"$store2/ledger"), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmpLedger),
      new org.apache.hadoop.fs.Path(s"$store2/ledger"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store2/ledger/_buckets_${IncrementalAnnIndex.DefaultLedgerBuckets}"),
      false).close()
    val ex2 = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.appendBatch(vecs(50 until 60), store2)
    }
    assert(ex2.getMessage.contains(store2) &&
      ex2.getMessage.contains("_format_2"), ex2.getMessage)
    // deleting the ledger does not make it readable: the lists are
    // still unstamped format-1 content
    fs.delete(new org.apache.hadoop.fs.Path(s"$store2/ledger"), true)
    intercept[IllegalArgumentException] {
      IncrementalAnnIndex.appendBatch(vecs(50 until 60), store2)
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store2/_format_2")))
  }

  test("index data without its stamp or its ledger is refused, never " +
      "backfilled") {
    val base = Files.createTempDirectory("annref").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def listIds(store: String): Set[Long] =
      spark.read.parquet(s"$store/lists").select("vec_id")
        .collect().map(_.getLong(0)).toSet
    val feed = vecs(50 until 60).withColumn("change_type", lit("insert"))
    def maintenance(store: String): Seq[(String, () => Any)] = Seq(
      "appendBatch" ->
        (() => IncrementalAnnIndex.appendBatch(vecs(50 until 60), store)),
      "applyChanges" ->
        (() => IncrementalAnnIndex.applyChanges(feed, store)),
      "compact" ->
        (() => IncrementalAnnIndex.compact(spark, store, maxFiles = 1)))

    // lists and ledger with no `_format_2` stamp
    val unstamped = s"$base/unstamped"
    IncrementalAnnIndex.init(vecs(0 until 50), unstamped)
    fs.delete(new org.apache.hadoop.fs.Path(s"$unstamped/_format_2"), false)
    maintenance(unstamped).foreach { case (op, call) =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains(unstamped) &&
        ex.getMessage.contains("_format_2"), s"$op: ${ex.getMessage}")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$unstamped/_format_2")),
      "a refused store is never stamped")
    assert(listIds(unstamped) == (0 until 50).map(_.toLong).toSet)

    // a stamped store whose ledger was deleted: an empty ledger would
    // disarm the redelivery skip and every delete, so none is created
    val noLedger = s"$base/no_ledger"
    IncrementalAnnIndex.init(vecs(0 until 50), noLedger)
    fs.delete(new org.apache.hadoop.fs.Path(s"$noLedger/ledger"), true)
    maintenance(noLedger).take(2).foreach { case (op, call) =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains(noLedger) &&
        ex.getMessage.contains("no ledger"), s"$op: ${ex.getMessage}")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$noLedger/ledger")),
        s"$op must not create an empty ledger")
    }
    assert(listIds(noLedger) == (0 until 50).map(_.toLong).toSet)
  }

  test("PQ quantizer above the inline threshold takes the join form, same codes") {
    // the two qcent forms must be arithmetically identical (the join
    // side quantizes through the same Spark expression) — pinned
    // directly, then the >threshold store proves the whole encode +
    // ADC-table path holds together on the join form
    val cents: Array[(Long, Seq[Double])] = (0 until 12).map(i =>
      (i.toLong, (0 until 8).map(d =>
        (((i * 31 + d * 7) % 13) - 6).toDouble / 6))).toArray
    val df = vecs(0 until 50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cid", pmod(col("vec_id"), lit(12L)))
    val a = IncrementalAnnIndex.qcentInline(df, cents)
      .select("vec_id", "qcent")
    val b = IncrementalAnnIndex.qcentJoined(df, cents)
      .select("vec_id", "qcent")
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "inline and joined quantized centroids must be identical")

    // 80 centroids > InlineQuantizerMax (64): every PQ path — encode
    // at init, encode at append, the per-query ADC tables — runs the
    // broadcast-join fallback; with a full shortlist the rerank pins
    // the pipeline against the exact path, no tolerance
    val store = Files.createTempDirectory("annpqbig").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 120), store, nCentroids = 80,
      pq = true)
    val r = IncrementalAnnIndex.appendBatch(vecs(120 until 200), store)
    assert(r.appended == 80)
    val queries = vecs(0 until 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val exact = IncrementalAnnIndex.topK(queries, store, 5)
    val viaPq = IncrementalAnnIndex.topKPq(queries, store, 5,
      shortlist = 1000)
    assert(viaPq.except(exact).isEmpty && exact.except(viaPq).isEmpty,
      "fallback-path PQ search must equal the exact probed search")
    // replay converges with codes intact through the fallback encode
    val replay = IncrementalAnnIndex.appendBatch(vecs(120 until 200), store)
    assert(replay.appended == 0 && replay.skippedRedelivered == 80)
  }

  test("non-default PQ geometry drives the store end to end and survives rebuild") {
    // dim 8 as 2 segments x 8 codes (vs the 4x4 default): geometry is
    // an init parameter recorded in the books parquet; every encode,
    // search, and the rebuild read it back — nothing downstream
    // hard-wires the defaults
    val base = Files.createTempDirectory("annpqgeo").toString
    val store = s"$base/store"
    IncrementalAnnIndex.init(vecs(0 until 120), store, pq = true,
      pqSegments = 2, pqCodes = 8)
    IncrementalAnnIndex.appendBatch(vecs(120 until 200), store)
    val lists = spark.read.parquet(s"$store/lists")
    assert(lists.select(size(col("pq"))).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(2),
      "each row must carry one code per configured segment")
    assert(spark.read.parquet(s"$store/pqbooks")
      .select(col("cid")).distinct().count() <= 8)
    val queries = vecs(0 until 10)
      .select(col("vec_id").as("qid"), col("embedding"))
    val exact = IncrementalAnnIndex.topK(queries, store, 5)
    val viaPq = IncrementalAnnIndex.topKPq(queries, store, 5,
      shortlist = 1000)
    assert(viaPq.except(exact).isEmpty && exact.except(viaPq).isEmpty,
      "full-shortlist PQ search must equal exact at any geometry")
    // ADC-only search serves the geometry unchanged, ranks dense
    val adc = IncrementalAnnIndex.topKPqAdc(queries, store, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    adc.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq)
    }
    // rebuild re-trains AT THE SOURCE GEOMETRY (never silently back
    // to the 4x4 default) — bit-equal to a fresh same-geometry init
    val dest = s"$base/rebuilt"
    IncrementalAnnIndex.rebuild(spark, store, dest)
    assert(spark.read.parquet(s"$dest/pqbooks")
      .select(col("seg")).distinct().count() == 2,
      "rebuild must carry the 2-segment geometry")
    val fresh = s"$base/fresh"
    IncrementalAnnIndex.init(vecs(0 until 200), fresh, pq = true,
      pqSegments = 2, pqCodes = 8)
    val a = IncrementalAnnIndex.topKPq(queries, dest, 5, shortlist = 12)
    val b = IncrementalAnnIndex.topKPq(queries, fresh, 5, shortlist = 12)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // a geometry the dimension cannot host refuses loudly
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.init(vecs(0 until 50), s"$base/bad",
        pq = true, pqSegments = 3)
    }
    assert(ex.getMessage.contains("divide into 3"))
    // a re-init refreshes the geometry marker WITH the books — a stale
    // marker would send a later rebuild to a geometry the books no
    // longer have
    val restamp = s"$base/restamp"
    IncrementalAnnIndex.init(vecs(0 until 120), restamp, pq = true)
    IncrementalAnnIndex.init(vecs(0 until 120), restamp, pq = true,
      pqSegments = 2, pqCodes = 8)
    val rfs = new org.apache.hadoop.fs.Path(restamp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!rfs.exists(new org.apache.hadoop.fs.Path(
      s"$restamp/_pq_s4_c4_i1")), "the stale marker must be gone")
    assert(rfs.exists(new org.apache.hadoop.fs.Path(
      s"$restamp/_pq_s2_c8_i1")))
  }

  test("ADC-only store: no raw column on disk, same answers, loud refusals") {
    val base = Files.createTempDirectory("annlean").toString
    val raw = s"$base/raw"
    val lean = s"$base/lean"
    IncrementalAnnIndex.init(vecs(0 until 120), raw, pq = true)
    IncrementalAnnIndex.init(vecs(0 until 120), lean, pq = true,
      keepRaw = false)
    IncrementalAnnIndex.appendBatch(vecs(120 until 200), raw)
    IncrementalAnnIndex.appendBatch(vecs(120 until 200), lean)
    // byte-level absence: a v column present in ANY file would surface
    // in the merged parquet schema
    assert(!spark.read.parquet(s"$lean/lists").columns.contains("v"),
      "the lean lists tree must not carry the raw vector column")
    def bytes(store: String): Long = {
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def walk(p: org.apache.hadoop.fs.Path): Long =
        fs.listStatus(p).map(s =>
          if (s.isDirectory) walk(s.getPath) else s.getLen).sum
      walk(new org.apache.hadoop.fs.Path(s"$store/lists"))
    }
    assert(bytes(lean) < bytes(raw),
      s"dropping v must shrink the lists tree: ${bytes(lean)} vs " +
        s"${bytes(raw)}")
    // identical decisions: codes, assignments, and ADC answers all
    // match the raw-keeping twin row for row
    val leanRows = spark.read.parquet(s"$lean/lists")
      .select(col("vec_id"), col("cid").cast("long"),
        col("pq").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1),
        r0.getString(2))).toSet
    val rawRows = spark.read.parquet(s"$raw/lists")
      .select(col("vec_id"), col("cid").cast("long"),
        col("pq").cast("string"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1),
        r0.getString(2))).toSet
    assert(leanRows == rawRows)
    val queries = vecs(0 until 6)
      .select(col("vec_id").as("qid"), col("embedding"))
    val a = IncrementalAnnIndex.topKPqAdc(queries, raw, 5)
    val b = IncrementalAnnIndex.topKPqAdc(queries, lean, 5)
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "ADC search must not notice the missing raw column")
    // CDC maintenance (deletes + inserts in one staged txn) flows
    // through the lean layout unchanged
    val feed = vecs(0 until 200).filter(col("vec_id") % 10 === 7)
      .withColumn("change_type", lit("delete"))
      .unionByName(vecs(200 until 210)
        .withColumn("change_type", lit("insert")))
    IncrementalAnnIndex.applyChanges(feed, raw)
    IncrementalAnnIndex.applyChanges(feed, lean)
    assert(!spark.read.parquet(s"$lean/lists").columns.contains("v"))
    val a2 = IncrementalAnnIndex.topKPqAdc(queries, raw, 5)
    val b2 = IncrementalAnnIndex.topKPqAdc(queries, lean, 5)
    assert(a2.except(b2).isEmpty && b2.except(a2).isEmpty)
    // every raw-needing path refuses loudly
    Seq(
      () => IncrementalAnnIndex.topK(queries, lean, 5),
      () => IncrementalAnnIndex.topKPq(queries, lean, 5, shortlist = 10),
      () => IncrementalAnnIndex.rebuild(spark, lean, s"$base/dest")
    ).foreach { f =>
      val ex = intercept[IllegalArgumentException](f())
      assert(ex.getMessage.contains("ADC-only"), ex.getMessage)
    }
    // keepRaw = false without pq has nothing to search
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.init(vecs(0 until 50), s"$base/bad",
        keepRaw = false)
    }
    assert(ex.getMessage.contains("requires pq"))
  }

  test("dropRawVectors migrates a raw PQ store to the lean layout") {
    val base = Files.createTempDirectory("anndrop").toString
    val store = s"$base/store"
    IncrementalAnnIndex.init(vecs(0 until 150), store, pq = true)
    val queries = vecs(0 until 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val before = IncrementalAnnIndex.topKPqAdc(queries, store, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val n = IncrementalAnnIndex.dropRawVectors(spark, store)
    assert(n > 0, "every list partition must rewrite")
    assert(!spark.read.parquet(s"$store/lists").columns.contains("v"),
      "the raw column must be gone from every file")
    val after = IncrementalAnnIndex.topKPqAdc(queries, store, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(after == before, "the ADC ranking must be unchanged")
    intercept[IllegalArgumentException] {
      IncrementalAnnIndex.topK(queries, store, 5)
    }
    // appends keep the lean shape (maintenance stops writing v)
    IncrementalAnnIndex.appendBatch(vecs(150 until 180), store)
    assert(!spark.read.parquet(s"$store/lists").columns.contains("v"))
    // a non-PQ store refuses: codes are the only searchable content
    val plain = s"$base/plain"
    IncrementalAnnIndex.init(vecs(0 until 50), plain)
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.dropRawVectors(spark, plain)
    }
    assert(ex.getMessage.contains("not a PQ store"))
  }

  test("ADC-only filtered search ranks densely within the allowlist") {
    val base = Files.createTempDirectory("annleanf").toString
    val store = s"$base/lean"
    IncrementalAnnIndex.init(vecs(0 until 150), store,
      pq = true, keepRaw = false)
    val q = vecs(0 until 5).select(col("vec_id").as("qid"), col("embedding"))
    val allowed = vecs(0 until 150).select(col("vec_id"))
      .filter(col("vec_id") % 2 === 0)
    val got = IncrementalAnnIndex.topKPqAdcAmong(q, store, 5, allowed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall { case (_, _, cid) => cid % 2 == 0 },
      "only allowlisted ids may appear")
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq,
        "ranks must be dense within the filtered set")
    }
    // an everything-allowlist reproduces the unfiltered ADC ranking
    val all = IncrementalAnnIndex.topKPqAdcAmong(q, store, 5,
      vecs(0 until 150).select(col("vec_id")))
    val plain = IncrementalAnnIndex.topKPqAdc(q, store, 5)
    assert(all.except(plain).isEmpty && plain.except(all).isEmpty)
  }

  test("a half-reclaimed ADC-only store tolerates maintenance; " +
      "a raw re-init over a stamped directory refuses") {
    val base = Files.createTempDirectory("annhalf").toString
    val store = s"$base/store"
    IncrementalAnnIndex.init(vecs(0 until 150), store, pq = true)
    // simulate dropRawVectors crashing AFTER the marker stamp but
    // BEFORE the reclaim commit: marker present, files still carry v
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_adc_only"), false)
      .close()
    assert(spark.read.parquet(s"$store/lists").columns.contains("v"))
    // a delete-touching delta must SUCCEED (the survivor merge drops
    // the dead v bytes instead of throwing on a column-set mismatch)
    val feed = vecs(Seq(3, 17))
      .withColumn("change_type", lit("delete"))
      .unionByName(vecs(150 until 160)
        .withColumn("change_type", lit("insert")))
    val r = IncrementalAnnIndex.applyChanges(feed, store)
    assert(r.removed == 2 && r.appended == 10)
    val q = vecs(0 until 3).select(col("vec_id").as("qid"), col("embedding"))
    assert(IncrementalAnnIndex.topKPqAdc(q, store, 3).count() == 9)
    // the re-run reclaim finishes what the crash left
    IncrementalAnnIndex.dropRawVectors(spark, store)
    assert(!spark.read.parquet(s"$store/lists").columns.contains("v"))
    // a keepRaw re-init over the stamped directory refuses loudly: the
    // reclaimed tree cannot host raw rows again
    val ex = intercept[IllegalArgumentException] {
      IncrementalAnnIndex.init(vecs(0 until 50), store, pq = true)
    }
    assert(ex.getMessage.contains("ADC-only"))
  }

  test("takedown: content leaves, armor holds through every " +
      "admission path") {
    val store = Files.createTempDirectory("anntd").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 150), store)
    val r = IncrementalAnnIndex.takedownVecs(spark, store,
      Seq(10L, 20L, 30L, 999L).toDF("vec_id")) // 999 was never stored
    assert(r.removed == 3 && r.tombstoned == 4,
      "three stored ids leave; the absent id still arms")
    val lists = spark.read.parquet(s"$store/lists")
    assert(lists.count() == 147)
    assert(lists.filter(col("vec_id").isin(10, 20, 30)).count() == 0)
    assert(spark.read.parquet(s"$store/ledger")
      .filter(col("vec_id").isin(10, 20, 30)).count() == 0)
    // idempotent: the re-run finds content gone, armor already stamped
    val again = IncrementalAnnIndex.takedownVecs(spark, store,
      Seq(10L, 20L, 30L, 999L).toDF("vec_id"))
    assert(again.removed == 0 && again.tombstoned == 4)
    // append refuses the tombstoned ids (including the never-stored
    // one) and admits the genuinely fresh row
    val app = IncrementalAnnIndex.appendBatch(
      vecs(Seq(10, 20, 999, 500)), store)
    assert(app.appended == 1 && app.skippedRedelivered == 0)
    assert(spark.read.parquet(s"$store/lists")
      .filter(col("vec_id").isin(10, 20, 999)).count() == 0)
    // the CDC path refuses them too, and a delete of a tombstoned id
    // is a no-op, not a crash
    val feed = vecs(Seq(30, 600))
      .withColumn("change_type", lit("insert"))
      .unionByName(vecs(Seq(10))
        .withColumn("change_type", lit("delete")))
    val cdc = IncrementalAnnIndex.applyChanges(feed, store)
    assert(cdc.appended == 1 && cdc.removed == 0 &&
      cdc.skippedTombstoned == 1,
      s"insert of a tombstoned id must refuse, got $cdc")
    // search never returns a taken-down id
    val q = vecs(0 until 5).select(col("vec_id").as("qid"), col("embedding"))
    val got = IncrementalAnnIndex.topK(q, store, 150).collect()
    assert(!got.exists(r0 => Set(10L, 20L, 30L)(r0.getAs[Long]("cid"))))
  }

  test("a marked takedown txn publishes the tombstones forward on " +
      "recovery — the armor beats the very next append") {
    // crash right after takedownVecs' _ok marker: the staged txn
    // carries all THREE trees, so recovery must land the content
    // removal and the armor together — a recovery that restored the
    // lists but dropped the tomb staging (or vice versa) would either
    // keep serving the doomed vectors or leave the removal
    // re-admittable. The probe: trigger recovery via an append OF THE
    // DOOMED IDS — publish runs first, so the armor must refuse them.
    val store = Files.createTempDirectory("anntdrec").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 100), store)
    val doomed = Seq(10L, 20L)
    val lists = spark.read.parquet(s"$store/lists")
    val cids = lists.filter(col("vec_id").isin(doomed: _*))
      .select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val ledger = spark.read.parquet(s"$store/ledger")
    val tombBuckets = ledger.filter(col("vec_id").isin(doomed: _*))
      .select("b").distinct().collect().map(_.getInt(0)).toSeq.sorted
    val txn = s"$store/_txn"
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // stage all three trees exactly as commitTxn does (lists and
    // ledger survivors, tomb rows), then the manifest and the marker
    lists.filter(col("cid").cast("long").isin(cids: _*))
      .filter(!col("vec_id").isin(doomed: _*))
      .select(col("vec_id"), col("v"),
        col("cid").cast("long").as("ref_cid"),
        lit("lists").as("tree"), col("cid").cast("long").as("pk"))
      .unionByName(ledger.filter(col("b").isin(tombBuckets: _*))
        .filter(!col("vec_id").isin(doomed: _*))
        .select(col("vec_id"), lit(null).cast("array<double>").as("v"),
          col("ref_cid").cast("long").as("ref_cid"),
          lit("ledger").as("tree"), col("b").cast("long").as("pk")))
      .unionByName(ledger.filter(col("vec_id").isin(doomed: _*))
        .select(col("vec_id"), lit(null).cast("array<double>").as("v"),
          lit(null).cast("long").as("ref_cid"),
          lit("tomb").as("tree"), col("b").cast("long").as("pk")))
      .write.partitionBy("tree", "pk").parquet(s"$txn/data")
    def stagedPks(sub: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$txn/data/tree=$sub")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
    }
    val manifest = (
      cids.map(c =>
        s"${if (stagedPks("lists")(s"pk=$c")) "swap" else "drop"} lists cid=$c") ++
      tombBuckets.map(k =>
        s"${if (stagedPks("ledger")(s"pk=$k")) "swap" else "drop"} ledger b=$k") ++
      tombBuckets.map(k => s"swap tomb b=$k")).mkString("\n")
    val mf = fs.create(new org.apache.hadoop.fs.Path(s"$txn/_manifest"), true)
    mf.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    mf.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$txn/_ok"), false).close()
    // recovery publishes the takedown, THEN the append runs — refused
    val app = IncrementalAnnIndex.appendBatch(vecs(Seq(10, 20)), store)
    assert(app.appended == 0 && app.skippedRedelivered == 0,
      s"the recovered armor must refuse the re-insert, got $app")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(txn)))
    assert(spark.read.parquet(s"$store/lists")
      .filter(col("vec_id").isin(doomed: _*)).count() == 0)
    assert(spark.read.parquet(s"$store/ledger")
      .filter(col("vec_id").isin(doomed: _*)).count() == 0)
    assert(spark.read.parquet(s"$store/tombstones")
      .select("vec_id").collect().map(_.getLong(0)).toSet == doomed.toSet)
  }

  test("takedown survives a stored-raw rebuild") {
    val base = Files.createTempDirectory("anntdr").toString
    val store = s"$base/store"
    IncrementalAnnIndex.init(vecs(0 until 120), store)
    IncrementalAnnIndex.takedownVecs(spark, store,
      Seq(40L, 41L).toDF("vec_id"))
    val dest = s"$base/rebuilt"
    IncrementalAnnIndex.rebuild(spark, store, dest)
    assert(spark.read.parquet(s"$dest/lists")
      .filter(col("vec_id").isin(40, 41)).count() == 0)
    // the armor carried: a replayed insert into the REBUILT store is
    // still refused
    val app = IncrementalAnnIndex.appendBatch(vecs(Seq(40, 41)), dest)
    assert(app.appended == 0)
    assert(spark.read.parquet(s"$dest/lists").count() == 118)
  }

  test("probe reads only the probed list partitions") {
    val store = Files.createTempDirectory("annidx").toString + "/store"
    IncrementalAnnIndex.init(vecs(0 until 200), store)
    val nLists = spark.read.parquet(s"$store/lists")
      .select("cid").distinct().count()
    assert(nLists > Similarity.IvfProbes,
      s"need more lists than probes for the proof, got $nLists")
    // one query -> exactly IvfProbes partitions may be read
    val q = vecs(0 until 1).select(col("vec_id").as("qid"), col("embedding"))
    val res = IncrementalAnnIndex.topK(q, store, 3)
    assert(res.collect().nonEmpty)
    val filesRead = scans(res.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    val totalFiles = scans(
      spark.read.parquet(s"$store/lists").queryExecution.executedPlan)
      .map(_.relation.location.inputFiles.length).sum
    assert(filesRead < totalFiles,
      s"probe must prune partitions: read $filesRead of $totalFiles")
    assert(filesRead > 0)
  }
}
