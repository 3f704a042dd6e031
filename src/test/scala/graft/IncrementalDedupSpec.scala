package graft

import java.nio.file.Files

import graft.dedup.IncrementalDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Incremental corpus dedup: batches dedup against the ACCEPTED corpus
  * via the persisted band index — never by rescanning it. */
class IncrementalDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Job budgets of one call on an established store (see the job
    * budget test): a re-added count or collect fails loudly. */
  private val WriteJobBudget = 15
  private val ReadJobBudget = 8

  private val base =
    "the quick brown fox jumps over the lazy dog near the riverbank " +
      "while birds sing in the morning light across the quiet valley"
  private val other =
    "completely different content about distributed query engines and " +
      "columnar execution with vectorized readers and shuffle services"
  private val third =
    "yet another unrelated document discussing perceptual hashing of " +
      "images audio fingerprints and training corpus quality filters"

  test("near-dups of accepted docs are rejected; re-delivery is a no-op") {
    val store = Files.createTempDirectory("incdedup").toString + "/corpus"

    val r1 = IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), store)
    assert(r1 == IncrementalDedup.BatchResult(2, 0, 0))

    // batch 2: near-dup of doc 1 (one word changed; jaccard 0.909, above
    // the 0.8 threshold — "morning"->"evening" would land at 0.75 and
    // correctly SURVIVE the rescore), one novel doc, and doc 2
    // re-delivered verbatim
    val nearDup = base.replace("valley", "meadow")
    val r2 = IncrementalDedup.processBatch(
      Seq((10L, nearDup), (11L, third), (2L, other)).toDF("doc_id", "text"),
      store)
    assert(r2.skippedRedelivered == 1, s"$r2")
    assert(r2.rejectedNearDup == 1, s"$r2")
    assert(r2.accepted == 1, s"$r2")

    val ids = spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L))

    // replaying batch 2 changes nothing
    val r3 = IncrementalDedup.processBatch(
      Seq((10L, nearDup), (11L, third), (2L, other)).toDF("doc_id", "text"),
      store)
    assert(r3.accepted == 0 && r3.skippedRedelivered == 2, s"$r3")
    assert(spark.read.parquet(s"$store/docs").count() == 3)
  }

  test("in-batch chains resolve sequentially: batching never changes the outcome") {
    // A~B (J=0.909) and B~C (J=0.826) but A!~C (J=0.75): rejecting every
    // `db` of a similar pair would kill both B and C in one batch while
    // split batches accept C — the r02 advisor's non-transitivity
    // finding. Sequential-greedy resolution accepts {A, C} either way.
    val a = base
    val b = base.replace("valley", "meadow")
    val c = base.replace("valley", "meadow").replace("quick", "swift")

    // precondition: the chain really is non-transitive at threshold 0.8
    val ss = graft.dedup.Dedup
      .docShingleSets(Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def jac(x: Long, y: Long) =
      ss(x).intersect(ss(y)).size.toDouble / ss(x).union(ss(y)).size
    assert(jac(1, 2) >= 0.8 && jac(2, 3) >= 0.8 && jac(1, 3) < 0.8,
      s"fixture drifted: ${jac(1, 2)} ${jac(2, 3)} ${jac(1, 3)}")

    val oneBatch = Files.createTempDirectory("incdedup3").toString + "/corpus"
    val r = IncrementalDedup.processBatch(
      Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"), oneBatch)
    assert(r.accepted == 2 && r.rejectedNearDup == 1, s"$r")
    val oneIds = spark.read.parquet(s"$oneBatch/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(oneIds == Set(1L, 3L),
      "B rejected (dup of accepted A); C accepted (only similar to REJECTED B)")

    // the same corpus split {A,B} then {C} lands the identical store
    val split = Files.createTempDirectory("incdedup4").toString + "/corpus"
    IncrementalDedup.processBatch(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), split)
    IncrementalDedup.processBatch(Seq((3L, c)).toDF("doc_id", "text"), split)
    val splitIds = spark.read.parquet(s"$split/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(splitIds == oneIds, s"batch-boundary-dependent: $splitIds vs $oneIds")
  }

  test("local and distributed greedy-MIS regimes land identical stores") {
    // r19: under LocalGreedyMaxEdges the in-batch resolution runs the
    // SAME round algorithm on the driver; this pins the two regimes
    // equal on the non-transitive chain fixture (the case where a
    // wrong resolution rule shows) plus a store-rejection composite.
    val a = base
    val b = base.replace("valley", "meadow")
    val c = base.replace("valley", "meadow").replace("quick", "swift")
    def ids(store: String): Set[Long] = spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def run(): (IncrementalDedup.BatchResult, Set[Long],
        IncrementalDedup.BatchResult, Set[Long]) = {
      val store = Files.createTempDirectory("incdedup_mis").toString +
        "/corpus"
      IncrementalDedup.processBatch(
        Seq((0L, other)).toDF("doc_id", "text"), store)
      // batch: chain A~B~C plus a near-dup of the ACCEPTED doc 0 (a
      // store rejection composing with the in-batch graph)
      val r = IncrementalDedup.processBatch(
        Seq((1L, a), (2L, b), (3L, c),
          (4L, other.replace("services", "fabrics")))
          .toDF("doc_id", "text"), store)
      // the composite batch on a store holding doc 0: every decision
      // kind at once — redelivered 0, store reject 4, chain A~B~C, and
      // doc 5, shorter than ShingleSize (no shingles, no bands, so no
      // edge can reject it)
      val store2 = Files.createTempDirectory("incdedup_mis2").toString +
        "/corpus"
      IncrementalDedup.processBatch(
        Seq((0L, other)).toDF("doc_id", "text"), store2)
      val r2 = IncrementalDedup.processBatch(
        Seq((0L, other), (1L, a), (2L, b), (3L, c),
          (4L, other.replace("services", "fabrics")), (5L, "too short"))
          .toDF("doc_id", "text"), store2)
      (r, ids(store), r2, ids(store2))
    }
    val (rLocal, idsLocal, r2Local, ids2Local) = run()
    System.setProperty("graft.test.localGreedyMaxEdges", "0")
    val (rDist, idsDist, r2Dist, ids2Dist) =
      try run()
      finally System.clearProperty("graft.test.localGreedyMaxEdges")
    assert(rLocal == rDist, s"$rLocal vs $rDist")
    assert(idsLocal == idsDist, s"$idsLocal vs $idsDist")
    assert(idsLocal == Set(0L, 1L, 3L), s"$idsLocal")
    // accepted {1, 3, 5}; rejected B (greedy) and 4 (store); 0 skipped
    val want = IncrementalDedup.BatchResult(3, 2, 1)
    assert(r2Local == want, s"local regime: $r2Local")
    assert(r2Dist == want, s"distributed regime: $r2Dist")
    assert(ids2Local == Set(0L, 1L, 3L, 5L), s"$ids2Local")
    assert(ids2Dist == ids2Local, s"$ids2Dist vs $ids2Local")
  }

  test("in-batch near-dups resolve lower-id-wins") {
    val store = Files.createTempDirectory("incdedup2").toString + "/corpus"
    val nearDup = base.replace("quick", "swift")
    val r = IncrementalDedup.processBatch(
      Seq((7L, base), (3L, nearDup), (9L, other)).toDF("doc_id", "text"),
      store)
    assert(r.accepted == 2 && r.rejectedNearDup == 1, s"$r")
    val ids = spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(3L, 9L), "the LOWER id of the near-dup pair survives")
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan,
      loc: String): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan, loc)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan, loc)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child, loc)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        if (f.metadata("Location").contains(loc)) Seq(f) else Nil
      case other => other.children.flatMap(scans(_, loc))
    }

  test("store probes read only the batch's buckets") {
    val store = Files.createTempDirectory("incdedupb").toString + "/corpus"
    // 400 distinct docs so every one of the 16 buckets populates in
    // both trees
    val many = (0 until 400).map(i =>
      (i.toLong, s"$other unique token$i marker${i * 7} tail${i % 13}"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(many, store)
    val docBuckets = spark.read.parquet(s"$store/docs")
      .select("b").distinct().count()
    assert(docBuckets == 16L, s"want all 16 doc buckets: $docBuckets")
    // a one-doc batch's id bucket, computed the store's way
    val b7 = spark.range(1)
      .select(org.apache.spark.sql.functions
        .pmod(org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.lit(7L)),
          org.apache.spark.sql.functions.lit(16))).head().getInt(0)
    val probe = IncrementalDedup.treeFor(spark, s"$store/docs", Seq(b7))
      .select("doc_id")
    assert(probe.collect().map(_.getLong(0)).contains(7L))
    val filesRead = scans(probe.queryExecution.executedPlan, "docs")
      .map(_.metrics("numFiles").value).sum
    val totalFiles = scans(spark.read.parquet(s"$store/docs")
      .queryExecution.executedPlan, "docs")
      .map(_.relation.location.inputFiles.length).sum
    assert(filesRead > 0 && filesRead <= totalFiles / 16,
      s"store probes must prune: read $filesRead of $totalFiles")
  }

  test("compaction bounds per-bucket files; content identical") {
    val store = Files.createTempDirectory("incdedupc").toString + "/corpus"
    // four batches of distinct docs fragment every touched bucket
    (0 until 4).foreach { k =>
      val batch = (k * 100 until (k + 1) * 100).map(i =>
        (i.toLong, s"$other unique token$i tag${i * 3} z${i % 11}"))
        .toDF("doc_id", "text")
      IncrementalDedup.processBatch(batch, store)
    }
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def maxFilesPerBucket(path: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("b="))
        .map(d => fs.listStatus(d.getPath).count(f =>
          f.isFile && !f.getPath.getName.startsWith("_"))).max
    assert(maxFilesPerBucket(s"$store/docs") > 1,
      "fixture must fragment for compaction to bind")
    def snapshot() = (
      spark.read.parquet(s"$store/docs").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet,
      spark.read.parquet(s"$store/bands").select("bk", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = snapshot()
    val (d, b) = IncrementalDedup.compactStore(spark, store, maxFiles = 1)
    assert(d && b)
    assert(snapshot() == before,
      "compaction must be content-identical in both trees")
    assert(maxFilesPerBucket(s"$store/docs") == 1)
    assert(maxFilesPerBucket(s"$store/bands") == 1)
    // a second compact is a no-op; the redelivery skip still works
    assert(IncrementalDedup.compactStore(spark, store, maxFiles = 1) ==
      (false, false))
    val batch0 = (0 until 50).map(i =>
      (i.toLong, s"$other unique token$i tag${i * 3} z${i % 11}"))
      .toDF("doc_id", "text")
    val r = IncrementalDedup.processBatch(batch0, store)
    assert(r.accepted == 0 && r.skippedRedelivered == 50, s"$r")
  }

  test("a non-default bucket count drives the store end to end") {
    val store = Files.createTempDirectory("incdedup64").toString + "/corpus"
    // 800 distinct docs at 64 buckets: creation-time storeBuckets binds
    val many = (0 until 800).map(i =>
      (i.toLong, s"$other unique token$i marker${i * 7} tail${i % 13}"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(many, store, storeBuckets = 64)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b64_t800000")))
    val docBuckets = spark.read.parquet(s"$store/docs")
      .select("b").distinct().count()
    assert(docBuckets == 64L, s"want all 64 doc buckets: $docBuckets")
    // a later call's storeBuckets is ignored — the marker wins
    val r = IncrementalDedup.processBatch(
      Seq((900L, base)).toDF("doc_id", "text"), store, storeBuckets = 8)
    assert(r.accepted == 1)
    assert(spark.read.parquet(s"$store/docs")
      .select("b").distinct().count() <= 64L)
    // one-bucket probes prune 4x harder than the default-16 layout
    val b7 = spark.range(1)
      .select(org.apache.spark.sql.functions
        .pmod(org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.lit(7L)),
          org.apache.spark.sql.functions.lit(64))).head().getInt(0)
    val probe = IncrementalDedup.treeFor(spark, s"$store/docs", Seq(b7))
      .select("doc_id")
    assert(probe.collect().map(_.getLong(0)).contains(7L))
    val filesRead = scans(probe.queryExecution.executedPlan, "docs")
      .map(_.metrics("numFiles").value).sum
    val totalFiles = scans(spark.read.parquet(s"$store/docs")
      .queryExecution.executedPlan, "docs")
      .map(_.relation.location.inputFiles.length).sum
    assert(filesRead > 0 && filesRead <= totalFiles / 32,
      s"64-bucket probes must prune: read $filesRead of $totalFiles")
    // dedup semantics bind unchanged at the non-default count
    val r2 = IncrementalDedup.processBatch(
      Seq((901L, base.replace("valley", "meadow")), (900L, base))
        .toDF("doc_id", "text"), store)
    assert(r2 == IncrementalDedup.BatchResult(0, 1, 1), s"$r2")
  }

  test("rebucketStore rewrites the layout; every decision carries over") {
    val store = Files.createTempDirectory("incdedupr").toString + "/corpus"
    val many = (0 until 300).map(i =>
      (i.toLong, s"$other unique token$i marker${i * 7} tail${i % 13}"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(many, store) // default 16 buckets
    def snapshot() = (
      spark.read.parquet(s"$store/docs").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet,
      spark.read.parquet(s"$store/bands").select("bk", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = snapshot()
    IncrementalDedup.rebucketStore(spark, store, 64)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b64_t800000")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t800000")),
      "the old creation record must not survive the re-bucket")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_rebucket_64")),
      "the intent marker must not survive a completed re-bucket")
    assert(snapshot() == before,
      "re-bucketing must be content-identical in both trees")
    assert(spark.read.parquet(s"$store/docs")
      .select("b").distinct().count() > 16L,
      "the layout must actually use the new bucket space")
    // redelivery skip and near-dup rejection bind through the new layout
    val r = IncrementalDedup.processBatch(
      Seq((7L, "redelivered but ignored"), (900L, base))
        .toDF("doc_id", "text"), store)
    assert(r == IncrementalDedup.BatchResult(1, 0, 1), s"$r")
    val r2 = IncrementalDedup.processBatch(
      Seq((901L, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      store)
    assert(r2.rejectedNearDup == 1, s"$r2")
    // same count = no-op; a bucket-less path fails loudly
    val afterBatches = snapshot()
    IncrementalDedup.rebucketStore(spark, store, 64)
    assert(snapshot() == afterBatches, "same-count re-bucket is a no-op")
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.rebucketStore(spark,
        Files.createTempDirectory("incdedupr2").toString + "/none", 64)
    }
    assert(ex.getMessage.contains("not a bucketed store"))
  }

  test("batch key type never shifts buckets: int ids hit a long store") {
    // Spark hash() is type-sensitive (hash(7) != hash(7L)); the store
    // canonicalizes the key to long on BOTH sides, so a producer that
    // sends int doc_ids still prunes to the right buckets — before the
    // canonical cast this was a silent-miss mode (redeliveries
    // re-admitted, near-dups unseen)
    val store = Files.createTempDirectory("incdedupt").toString + "/corpus"
    IncrementalDedup.processBatch(
      Seq((7L, base), (8L, other)).toDF("doc_id", "text"), store)
    val intBatch = Seq((7, base), (9, third)).toDF("doc_id", "text")
    assert(intBatch.schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val r = IncrementalDedup.processBatch(intBatch, store)
    assert(r == IncrementalDedup.BatchResult(1, 0, 1),
      s"int-typed redelivery must hit the skip, got $r")
    val probe = IncrementalDedup.probeStorePairs(
      Seq((100, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      store)
    assert(probe.count() == 1,
      "int-typed probe must still find the near-dup candidate")
  }

  test("non-castable batch keys fail loudly; castable string ids work") {
    val store = Files.createTempDirectory("incdedupk").toString + "/corpus"
    // numeric-STRING ids cast cleanly to the canonical long key
    val strBatch = Seq(("41", base), ("42", other)).toDF("doc_id", "text")
    assert(strBatch.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val r = IncrementalDedup.processBatch(strBatch, store)
    assert(r == IncrementalDedup.BatchResult(2, 0, 0), s"$r")
    // a non-numeric string key casts to NULL; dropDuplicates would then
    // collapse every such row into ONE null-keyed doc — the whole batch
    // silently destroyed. Loud refusal instead, store untouched.
    val badBatch = Seq(("sha1:abc", third), ("sha1:def", base))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(badBatch, store)
    }
    assert(ex.getMessage.contains("doc_id") &&
      ex.getMessage.contains("long"))
    assert(spark.read.parquet(s"$store/docs").count() == 2,
      "a refused batch must leave the store untouched")
    // a genuinely NULL key is the same defect, and the read-side probe
    // guards identically
    val nullBatch = Seq((null.asInstanceOf[String], third))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      IncrementalDedup.probeStorePairs(nullBatch, store)
    }
  }

  test("a batch refused for its keys leaves no trace on a new store") {
    val dir = Files.createTempDirectory("incdedupnt").toString
    val store = s"$dir/corpus"
    val badBatch = Seq(("sha1:abc", third), ("42", base))
      .toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(badBatch, store)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.probeStorePairs(badBatch, store)
    }
    intercept[IllegalArgumentException] {
      IncrementalDedup.removeDocs(spark, store, badBatch.select("doc_id"))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store)),
      "the key check must refuse before the store directory is made")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith("_meta_")))
  }

  test("the admission threshold binds at store creation: the record " +
      "wins for default calls, a disagreeing explicit one refuses") {
    val store = Files.createTempDirectory("incdedupth").toString + "/corpus"
    // created at 1.01 (the ingest-all-then-probe shape)
    val r1 = IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), store,
      threshold = 1.01)
    assert(r1.accepted == 2)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t1010000")),
      "buckets and threshold live in ONE fused creation record")
    // a DEFAULT call follows the record: this near-dup of doc 1 would
    // reject at 0.8, but the store's recorded regime admits everything
    val r2 = IncrementalDedup.processBatch(
      Seq((3L, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      store)
    assert(r2.accepted == 1 && r2.rejectedNearDup == 0,
      s"the store's recorded admission regime must win, got $r2")
    // an explicit DISAGREEING threshold refuses loudly, store untouched
    val ex = intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(
        Seq((4L, third)).toDF("doc_id", "text"), store, threshold = 0.9)
    }
    assert(ex.getMessage.contains("admission"))
    assert(spark.read.parquet(s"$store/docs").count() == 3)
    // an explicit MATCHING threshold is fine
    val r3 = IncrementalDedup.processBatch(
      Seq((4L, third)).toDF("doc_id", "text"), store, threshold = 1.01)
    assert(r3.accepted == 1)
    // read-side probes stay per-call: a 0.8 QUESTION against the
    // 1.01-admission store still answers at 0.8 (docs 1 and 3 both
    // near-dup the probe text)
    val p = IncrementalDedup.probeStorePairs(
      Seq((100L, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      store)
    assert(p.count() == 2)
    // a crafted LEGACY _threshold_ marker next to the creation record
    // is migration debris: ignored in favor of the record, cleaned up,
    // regime unchanged (r18's lowest-ppm rule would have FLIPPED this
    // established store to 0.8)
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_threshold_800000"),
      false).close()
    val r4 = IncrementalDedup.processBatch( // near-dup of doc 1: the
      // 1.01 regime must still admit it
      Seq((5L, base.replace("quick", "swift"))).toDF("doc_id", "text"),
      store)
    assert(r4.accepted == 1 && r4.rejectedNearDup == 0,
      s"the creation record must win over a late legacy marker, got $r4")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_threshold_800000")), "legacy debris must be cleaned up")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t1010000")))
    // an INTERLOPER creation record on a CONTENT-BEARING store refuses
    // loudly instead of flipping the regime — nothing distinguishes
    // the two markers by name, so guessing would be silent corruption
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t800000"),
      false).close()
    val exInt = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(
        Seq((6L, third)).toDF("doc_id", "text"), store)
    }
    assert(exInt.getMessage.contains("creation-record"))
    assert(spark.read.parquet(s"$store/docs").count() == 5,
      "a refused batch leaves the store untouched")
    // removing the interloper restores service at the original regime
    fs.delete(new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t800000"),
      false)
    val r5 = IncrementalDedup.processBatch(
      Seq((6L, base.replace("birds", "crows"))).toDF("doc_id", "text"),
      store)
    assert(r5.accepted == 1 && r5.rejectedNearDup == 0)
  }

  test("creation races arbitrate only on an EMPTY store; legacy marker " +
      "pairs fold into the fused record on first touch") {
    val dir = Files.createTempDirectory("incdedupmeta").toString
    val hc = spark.sessionState.newHadoopConf()
    // TRUE creation race: two fused records land on a store with no
    // content — deterministic winner (lowest ppm), loser deleted
    val raced = s"$dir/raced"
    val rfs = new org.apache.hadoop.fs.Path(raced).getFileSystem(hc)
    rfs.mkdirs(new org.apache.hadoop.fs.Path(raced))
    rfs.create(new org.apache.hadoop.fs.Path(s"$raced/_meta_b16_t800000"),
      false).close()
    rfs.create(new org.apache.hadoop.fs.Path(s"$raced/_meta_b16_t900000"),
      false).close()
    val rr = IncrementalDedup.processBatch( // default call: winner binds
      Seq((1L, base), (2L, base.replace("valley", "meadow")))
        .toDF("doc_id", "text"), raced)
    assert(rr.accepted == 1 && rr.rejectedNearDup == 1,
      s"the 0.8 winner must reject the near-dup pair, got $rr")
    assert(rfs.exists(
      new org.apache.hadoop.fs.Path(s"$raced/_meta_b16_t800000")))
    assert(!rfs.exists(
      new org.apache.hadoop.fs.Path(s"$raced/_meta_b16_t900000")),
      "the losing creation record must be deleted")

    // LEGACY (r18 two-marker) store: first touch folds both markers
    // into the fused record and drops the legacy files; decisions
    // follow the recorded regime unchanged
    val legacy = s"$dir/legacy"
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), legacy,
      threshold = 1.01)
    val lfs = new org.apache.hadoop.fs.Path(legacy).getFileSystem(hc)
    lfs.delete(new org.apache.hadoop.fs.Path(s"$legacy/_meta_b16_t1010000"),
      false)
    lfs.create(new org.apache.hadoop.fs.Path(s"$legacy/_buckets_16"),
      false).close()
    lfs.create(new org.apache.hadoop.fs.Path(s"$legacy/_threshold_1010000"),
      false).close()
    val lr = IncrementalDedup.processBatch( // near-dup: 1.01 admits
      Seq((3L, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      legacy)
    assert(lr.accepted == 1 && lr.rejectedNearDup == 0)
    assert(lfs.exists(
      new org.apache.hadoop.fs.Path(s"$legacy/_meta_b16_t1010000")),
      "the legacy pair must fold into the fused record")
    assert(!lfs.exists(new org.apache.hadoop.fs.Path(s"$legacy/_buckets_16")))
    assert(!lfs.exists(
      new org.apache.hadoop.fs.Path(s"$legacy/_threshold_1010000")))

    // PRE-MARKER legacy store (no threshold ever recorded): the first
    // post-upgrade touch stamps the calling value as the recorded
    // regime (and says so loudly on stderr) — pinned here by the
    // resulting marker and by the refusal a later disagreeing
    // explicit call gets
    val premark = s"$dir/premark"
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), premark)
    val pfs = new org.apache.hadoop.fs.Path(premark).getFileSystem(hc)
    pfs.delete(new org.apache.hadoop.fs.Path(s"$premark/_meta_b16_t800000"),
      false)
    pfs.create(new org.apache.hadoop.fs.Path(s"$premark/_buckets_16"),
      false).close()
    // first touch is a no-opinion probe: adopts the session default
    IncrementalDedup.probeStorePairs(
      Seq((100L, third)).toDF("doc_id", "text"), premark).count()
    assert(pfs.exists(
      new org.apache.hadoop.fs.Path(s"$premark/_meta_b16_t800000")),
      "a pre-marker store's first touch records the default regime")
    val exUp = intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(
        Seq((3L, third)).toDF("doc_id", "text"), premark,
        threshold = 1.01)
    }
    assert(exUp.getMessage.contains("admission"))
  }

  test("admission-regime rebuild: replay at the new threshold, " +
      "tombstones carried — removed ids stay down in the new store") {
    val dir = Files.createTempDirectory("incdeduprb").toString
    val store = s"$dir/corpus"
    val thirdVar = third.replace("audio", "video")
    // built LOOSE (1.01 admits everything, near-dups included)
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, base.replace("valley", "meadow")),
        (3L, other)).toDF("doc_id", "text"), store, threshold = 1.01)
    IncrementalDedup.processBatch(
      Seq((4L, third), (5L, thirdVar)).toDF("doc_id", "text"), store,
      threshold = 1.01)
    // takedown doc 4, then rebuild into the DEFAULT (tighter) regime
    IncrementalDedup.removeDocs(spark, store,
      Seq(4L).toDF("doc_id"))
    val dest = s"$dir/rebuilt"
    val r = IncrementalDedup.rebuildStoreThreshold(spark, store, dest,
      graft.dedup.Dedup.JaccardThreshold)
    // the docs the old regime admitted and the new one rejects: doc 2
    // (near-dup of 1). Doc 5 survives — its only near-dup (4) is
    // tombstoned, and a tombstone is not corpus. Doc 4 itself is
    // CARRIED as a tombstone, never replayed.
    assert(r == IncrementalDedup.RegimeRebuildResult(3, 1, 1), s"got $r")
    val ids = IncrementalDedup.readDocs(spark, dest)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L))
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dest/_meta_b16_t800000")),
      "the destination records the NEW regime at creation")
    // tombstone carry: a replayed feed row for the taken-down id
    // SKIPS in the new store — same or fresh checkpoint, forever
    val replay = IncrementalDedup.processBatch(
      Seq((4L, third)).toDF("doc_id", "text"), dest)
    assert(replay.skippedRedelivered == 1 && replay.accepted == 0,
      s"a taken-down id must stay down in the rebuilt store, got $replay")
    // a REJECTED doc is not a tombstone: re-delivering doc 2 is
    // re-evaluated (and re-rejected) rather than skipped
    val rere = IncrementalDedup.processBatch(
      Seq((2L, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      dest)
    assert(rere.rejectedNearDup == 1 && rere.accepted == 0)
    // the source store is untouched by the rebuild
    val srcIds = IncrementalDedup.readDocs(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(srcIds == Set(1L, 2L, 3L, 5L))
    // a taken destination refuses (MVCC: rebuilds never land on a
    // live store)
    val exDest = intercept[IllegalArgumentException] {
      IncrementalDedup.rebuildStoreThreshold(spark, store, dest, 0.9)
    }
    assert(exDest.getMessage.contains("destination already exists"))
    // and the new store enforces ITS regime like any other
    val exAdm = intercept[IllegalArgumentException] {
      IncrementalDedup.processBatch(
        Seq((9L, other)).toDF("doc_id", "text"), dest, threshold = 1.01)
    }
    assert(exAdm.getMessage.contains("admission"))
  }

  test("takedown adopts and finishes a pending re-bucket intent first") {
    val dir = Files.createTempDirectory("incdeduprbk").toString
    val store = s"$dir/corpus"
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other), (3L, third)).toDF("doc_id", "text"),
      store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed re-bucket left its intent marker behind
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_rebucket_8"),
      false).close()
    val r = IncrementalDedup.removeDocs(spark, store,
      Seq(2L).toDF("doc_id"))
    assert(r.tombstoned == 1)
    // the takedown adopted and FINISHED the re-bucket before touching
    // buckets: new fused record, no intent, layout actually at 8
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b8_t800000")),
      "the fused record must move to the adopted bucket count")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t800000")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_rebucket_8")))
    val parts = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$store/docs")).toSeq
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("b="))
      .map(_.getPath.getName.stripPrefix("b=").toInt)
    assert(parts.nonEmpty && parts.forall(_ < 8),
      s"docs partitions must live in the 8-bucket layout, got $parts")
    // the tombstone is correct in the adopted layout: content gone,
    // id still down under replay, survivors still guarded
    val ids = IncrementalDedup.readDocs(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
    val replay = IncrementalDedup.processBatch(
      Seq((2L, other)).toDF("doc_id", "text"), store)
    assert(replay.skippedRedelivered == 1 && replay.accepted == 0)
    val guard = IncrementalDedup.processBatch(
      Seq((7L, base.replace("valley", "meadow"))).toDF("doc_id", "text"),
      store)
    assert(guard.rejectedNearDup == 1 && guard.accepted == 0)
  }

  test("racing re-bucket intents resolve deterministically; " +
      "no stale intent survives to re-trigger a rewrite") {
    val store = Files.createTempDirectory("incdedupri").toString + "/corpus"
    val many = (0 until 200).map(i =>
      (i.toLong, s"$other unique token$i marker${i * 7} tail${i % 13}"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(many, store) // default 16 buckets
    def snapshot() = (
      spark.read.parquet(s"$store/docs").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet,
      spark.read.parquet(s"$store/bands").select("bk", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = snapshot()
    // two crashed/racing intents coexist (a crashed re-bucket to 24,
    // then an operator retry to 48): resolution must not depend on
    // filesystem listing order
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_rebucket_24"), false)
      .close()
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_rebucket_48"), false)
      .close()
    // the next store touch adopts the HIGHEST count and clears EVERY
    // intent — one rewrite, and nothing left to re-trigger another
    val probe = IncrementalDedup.probeStorePairs(
      Seq((900L, base)).toDF("doc_id", "text"), store)
    probe.count()
    def markers(): Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(store)).toSeq
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.startsWith("_buckets_") || n.startsWith("_rebucket_")
        || n.startsWith("_meta_"))
      .toSet
    assert(markers() == Set("_meta_b48_t800000"),
      s"deterministic max-count adoption, all intents cleared: ${markers()}")
    assert(snapshot() == before,
      "intent resolution must be content-identical in both trees")
    assert(spark.read.parquet(s"$store/docs")
      .select("b").distinct().count() > 16L)
    // decisions carry: redelivery skip and near-dup rejection bind
    // through the adopted layout, and no further rewrite is pending
    val r = IncrementalDedup.processBatch(
      Seq((7L, "redelivered but ignored"), (901L, base))
        .toDF("doc_id", "text"), store)
    assert(r == IncrementalDedup.BatchResult(1, 0, 1), s"$r")
    assert(markers() == Set("_meta_b48_t800000"))
  }

  test("admission finishes a pending re-bucket first; the skip prunes " +
      "with the new count") {
    val store = Files.createTempDirectory("incdedupra").toString + "/corpus"
    val many = (0 until 200).map(i =>
      (i.toLong, s"$other unique token$i marker${i * 7} tail${i % 13}"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(many, store) // default 16 buckets
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(s"$store/_rebucket_24"), false)
      .close()
    // 20 redeliveries: pruned with their stale 16-bucket set inside the
    // 24-bucket layout, about half of them would miss the skip
    val r = IncrementalDedup.processBatch(
      many.filter(col("doc_id") < 20).union(Seq((900L, base))
        .toDF("doc_id", "text")), store)
    assert(r == IncrementalDedup.BatchResult(1, 0, 20), s"$r")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b24_t800000")))
  }

  test("takedown is a tombstone: content gone, id stays down forever") {
    val store = Files.createTempDirectory("incdeduptd").toString + "/corpus"
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), store)
    // while doc 2 is live, its content rejects (identical text — the
    // deterministic collision)
    val r0 = IncrementalDedup.processBatch(
      Seq((10L, other)).toDF("doc_id", "text"), store)
    assert(r0.rejectedNearDup == 1, s"$r0")
    // take doc 2 down
    val rr = IncrementalDedup.removeDocs(spark, store,
      Seq(2L).toDF("doc_id"))
    assert(rr.tombstoned == 1 && rr.bandRowsRemoved > 0, s"$rr")
    // the content is gone: from the read API, from the docs files
    // (tombstone row stays, text does not), and from the band index
    assert(IncrementalDedup.readDocs(spark, store)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    val row2 = spark.read.parquet(s"$store/docs")
      .filter(col("doc_id") === 2L).collect()
    assert(row2.length == 1 && row2.head.isNullAt(1),
      "the tombstone row stays, its text does not")
    assert(spark.read.parquet(s"$store/bands")
      .filter(col("doc_id") === 2L).count() == 0,
      "the doc's band rows must leave the index files")
    // the REMOVED content is now admitted (nothing in the corpus
    // collides with it anymore)
    val r1 = IncrementalDedup.processBatch(
      Seq((11L, other)).toDF("doc_id", "text"), store)
    assert(r1.accepted == 1 && r1.rejectedNearDup == 0, s"$r1")
    // ...but the taken-down ID itself stays down: a redelivery (same
    // content or any content) skips, never re-admits
    val r2 = IncrementalDedup.processBatch(
      Seq((2L, other)).toDF("doc_id", "text"), store)
    assert(r2 == IncrementalDedup.BatchResult(0, 0, 1), s"$r2")
    assert(IncrementalDedup.readDocs(spark, store)
      .filter(col("doc_id") === 2L).count() == 0)
    // probes pair against live docs only: identical content pairs
    // with its live twin 11, never with tombstone 2
    val p = IncrementalDedup.probeStorePairs(
      Seq((101L, other)).toDF("doc_id", "text"),
      store).collect().map(_.getLong(0)).toSet
    assert(p == Set(11L), s"pairs must exclude the tombstone, got $p")
    // re-running the same removal is a no-op
    assert(IncrementalDedup.removeDocs(spark, store,
      Seq(2L).toDF("doc_id")) == IncrementalDedup.RemoveResult(0L, 0L))
    // removing a never-admitted id is a no-op too
    assert(IncrementalDedup.removeDocs(spark, store,
      Seq(999L).toDF("doc_id")) == IncrementalDedup.RemoveResult(0L, 0L))
    // surviving docs still guard: a near-dup of doc 1 rejects (the
    // fixture's verified one-word-change collision)
    val r3 = IncrementalDedup.processBatch(
      Seq((12L, base.replace("valley", "meadow")))
        .toDF("doc_id", "text"), store)
    assert(r3.rejectedNearDup == 1, s"$r3")
  }

  test("a legacy flat store migrates on first touch, content intact") {
    val store = Files.createTempDirectory("incdedupm").toString + "/corpus"
    // craft the retired flat layout: parquet files directly under
    // docs/ and bands/, no bucket column, no marker
    val docs = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    docs.write.parquet(s"$store/docs")
    graft.dedup.Dedup.minhashBandKeys(
        graft.dedup.Dedup.minhashSignaturesFromSets(
          graft.dedup.Dedup.docShingleSets(docs, "doc_id", "text")))
      .write.parquet(s"$store/bands")
    // first touch: near-dup of doc 1 must be rejected against the
    // MIGRATED index; doc 2 redelivered skips; one novel doc lands
    val r = IncrementalDedup.processBatch(
      Seq((10L, base.replace("valley", "meadow")), (11L, third),
        (2L, other)).toDF("doc_id", "text"), store)
    assert(r == IncrementalDedup.BatchResult(1, 1, 1), s"$r")
    val after = spark.read.parquet(s"$store/docs")
    assert(after.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 11L))
    assert(after.columns.contains("b"), "migrated tree must be bucketed")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_meta_b16_t800000")),
      "a flat legacy store's migration stamps the fused creation record")
    // replay is still a no-op through the migrated store
    val r2 = IncrementalDedup.processBatch(
      Seq((11L, third)).toDF("doc_id", "text"), store)
    assert(r2 == IncrementalDedup.BatchResult(0, 0, 1), s"$r2")
  }

  test("empty, all-redelivered and all-short batches finish as no-ops") {
    val store = Files.createTempDirectory("incdedupe").toString + "/corpus"
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // every observed pass also fills on a batch with no rows
    assert(IncrementalDedup.processBatch(empty, store) ==
      IncrementalDedup.BatchResult(0, 0, 0))
    assert(IncrementalDedup.probeStorePairs(empty, store).count() == 0)
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), store)
    assert(IncrementalDedup.processBatch(empty, store) ==
      IncrementalDedup.BatchResult(0, 0, 0))
    assert(IncrementalDedup.probeStorePairs(empty, store).count() == 0)
    assert(IncrementalDedup.processBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), store) ==
      IncrementalDedup.BatchResult(0, 0, 2))
    assert(IncrementalDedup.processBatch(
      Seq((3L, "two words"), (4L, "x")).toDF("doc_id", "text"), store) ==
      IncrementalDedup.BatchResult(2, 0, 0))
    assert(IncrementalDedup.probeStorePairs(
      Seq((5L, "two words")).toDF("doc_id", "text"), store).count() == 0)
  }

  test("int-typed legacy files widen to the declared BIGINT key") {
    val store = Files.createTempDirectory("incdedupi").toString + "/corpus"
    // the legacy flat layout, crafted from INT doc_ids
    val docs = Seq((1, base), (2, other)).toDF("doc_id", "text")
    docs.write.parquet(s"$store/docs")
    graft.dedup.Dedup.minhashBandKeys(
        graft.dedup.Dedup.minhashSignaturesFromSets(
          graft.dedup.Dedup.docShingleSets(docs, "doc_id", "text")))
      .write.parquet(s"$store/bands")
    assert(spark.read.parquet(s"$store/docs").schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // redelivered 2 skips against the INT files; the near-dup of 1
    // rejects; 11 lands as a LONG file next to the INT ones
    val r = IncrementalDedup.processBatch(
      Seq((2L, other), (10L, base.replace("valley", "meadow")),
        (11L, third)).toDF("doc_id", "text"), store)
    assert(r == IncrementalDedup.BatchResult(1, 1, 1), s"$r")
    val r2 = IncrementalDedup.processBatch(
      Seq((1L, base), (11L, third)).toDF("doc_id", "text"), store)
    assert(r2 == IncrementalDedup.BatchResult(0, 0, 2), s"$r2")
    // the probe reads both file types and pairs with the INT-era doc
    val p = IncrementalDedup.probeStorePairs(
      Seq((100L, base.replace("valley", "meadow")), (101L, third))
        .toDF("doc_id", "text"), store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((1L, 100L), (11L, 101L)), s"$p")
  }

  /** Spark jobs `f` runs: a public listener counts the jobs of the job
    * group `f` runs under (AQE stage and broadcast jobs inherit it). A
    * sentinel job in a second group flushes the listener bus: its
    * queue delivers in order, so once the sentinel's start arrives,
    * every job of `f` has been counted. */
  private def jobsOf(f: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-flush"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull match {
          case `group`    => jobs.incrementAndGet()
          case `sentinel` => flushed.countDown()
          case _          => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` under the given session confs, restoring the previous
    * values: job counts depend on the join and shuffle plans. */
  private def withConfs[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("job budget: admission and probe run a fixed, small set of jobs") {
    withConfs("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB",
        "spark.sql.shuffle.partitions" -> "4") {
      val store = Files.createTempDirectory("incdedupj").toString +
        "/corpus"
      IncrementalDedup.processBatch((0 until 200).map(i =>
        (i.toLong, s"$other unique token$i marker${i * 7} tail${i % 13}"))
        .toDF("doc_id", "text"), store)
      IncrementalDedup.processBatch(
        Seq((900L, base)).toDF("doc_id", "text"), store)
      // an established store; the batch carries every decision kind: a
      // redelivery, a near-dup of a stored doc, an in-batch chain and
      // novel docs
      val batch = Seq((7L, "redelivered"),
        (901L, base.replace("valley", "meadow")),
        (1001L, third), (1002L, third.replace("filters", "sieves")),
        (1003L, third.replace("filters", "sieves")
          .replace("yet another", "and another")),
        (1004L, "a novel doc about something else entirely here"))
        .toDF("doc_id", "text")
      var r: IncrementalDedup.BatchResult = null
      val writeJobs = jobsOf { r = IncrementalDedup.processBatch(batch, store) }
      assert(r == IncrementalDedup.BatchResult(3, 2, 1), s"$r")
      val probe = Seq((2000L, base.replace("valley", "meadow")),
        (2001L, third)).toDF("doc_id", "text")
      var pairs = 0
      val readJobs = jobsOf {
        pairs = IncrementalDedup.probeStorePairs(probe, store).collect().length
      }
      assert(pairs == 2, s"$pairs") // 900~2000 and 1001~2001
      assert(writeJobs <= WriteJobBudget,
        s"processBatch ran $writeJobs jobs, budget $WriteJobBudget")
      assert(readJobs <= ReadJobBudget,
        s"probeStorePairs ran $readJobs jobs, budget $ReadJobBudget")
    }
  }

  test("streaming corpus construction: processBatch as a foreachBatch sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val store = Files.createTempDirectory("incdedup5").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalDedup.processBatch(df, store); ()
      }
      .start()

    input.addData((1L, base), (2L, other))
    q.processAllAvailable()
    // second micro-batch: near-dup of accepted doc 1 + a re-delivery
    input.addData((10L, base.replace("valley", "meadow")), (2L, other),
      (11L, third))
    q.processAllAvailable()
    q.stop()

    val ids = spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L),
      "the streaming path must apply the same dedup/redelivery semantics")
  }
}
