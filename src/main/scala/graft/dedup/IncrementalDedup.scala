package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate filtering — the production shape of corpus
  * construction: documents arrive in batches and each batch must dedup
  * against everything ALREADY ACCEPTED without rescanning the corpus.
  *
  * The accepted corpus keeps two stores:
  *   - `docs`:  (doc_id, text) — accepted documents
  *   - `bands`: (bk, doc_id)  — MinHash-LSH band index over them
  *
  * Both stores are HASH-BUCKETED hive partitions (`b=<k>`, Murmur3 of
  * the key mod the store's bucket count, recorded once — together
  * with the admission-threshold ppm — in a fused `_meta_b<n>_t<ppm>`
  * creation record): docs bucket on doc_id, bands on the band key.
  * Every store-side read an admission batch performs —
  * the redelivery skip, the band-index probe, the matched-docs fetch
  * for the rescore — statically prunes to the buckets the BATCH's keys
  * hash to (the read-only probe's docs fetch prunes dynamically off
  * its candidate join instead), so per-batch I/O is |batch's buckets|
  * x (|corpus| / buckets), never a corpus scan; at 10B docs a
  * deployment inits with O(1000) buckets and a batch touches a sliver.
  * A store that holds content but no creation record (a retired flat
  * or two-marker layout, or a record deleted by hand) is refused with
  * its path, never adopted or rewritten: the record is the only
  * statement of the regime its content was admitted under.
  *
  * Per batch, candidate generation touches only band-key matches (an
  * equi-join of the batch's band keys against the PRUNED index — at
  * 100 TB this is the difference between probing an index and
  * re-shingling the corpus), and the exact-Jaccard rescore re-shingles
  * just the matched accepted docs. In-batch near-dups resolve by sequential-greedy
  * semantics (identical to processing the docs one at a time in id
  * order, so batching never changes the accepted set — see
  * processBatch). Re-delivered doc_ids are recognized and skipped, so
  * replaying a batch is a no-op (the same idempotence discipline as
  * KeyedUpsertSink).
  */
object IncrementalDedup {

  final case class BatchResult(accepted: Long, rejectedNearDup: Long,
      skippedRedelivered: Long)

  /** Cap on greedy in-batch resolution rounds (= longest similarity
    * dependency chain resolved exactly; realistic batches need < 5). */
  val MaxGreedyRounds = 64

  /** Edge-count bound for resolving the in-batch greedy MIS on the
    * DRIVER (r19): near-dup edges within one batch are rare by nature
    * (admission keeps the store dup-free; a batch's internal dups are
    * the exception), so the edge relation is usually a handful of
    * rows — small enough that running the EXACT same round algorithm
    * locally beats 4-6 Spark actions per round. Above the bound the
    * distributed rounds run unchanged (driver state stays bounded by
    * this constant: edges, never docs). Sizing: the bound plus one
    * collected edge rows, their tuples and the endpoint sets come to
    * about 30 MB of driver heap, under 2% of a 2 GiB driver. */
  val LocalGreedyMaxEdges = 100000L

  /** Test seam: specs force the distributed rounds by lowering the
    * bound (`-Dgraft.test.localGreedyMaxEdges=0`) to pin the two
    * regimes equal on the same fixture. Production reads the val. */
  private def localGreedyMaxEdges: Long =
    sys.props.get("graft.test.localGreedyMaxEdges")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(LocalGreedyMaxEdges)

  /** Batch-size bound under which store appends coalesce to one task
    * (one file per bucket dir, no shuffle stage) — the
    * IncrementalAnnIndex CoalescedAppendRows discipline. Sizing: that
    * task sorts the append by bucket — 100k docs at ~1 KB of text is
    * ~100 MB, inside one task's share of executor memory (about 300 MB
    * of a 2 GiB heap at 4 cores); past it the sort spills. */
  val CoalescedAppendRows = 100000L

  private def docsPath(store: String) = s"$store/docs"
  private def bandsPath(store: String) = s"$store/bands"

  /** Default store bucket count — like the ANN ledger's: enough that a
    * small batch prunes most of the corpus, few enough that per-batch
    * appends don't shatter into near-empty files. Fixed at store
    * CREATION by the fused `_meta_b<n>_t<ppm>` creation record (the
    * first [[processBatch]]/[[probeStorePairs]] call's `storeBuckets`
    * argument); 16 suits the gate scales, a 10B-doc deployment inits
    * with O(1000). A live store re-buckets through [[rebucketStore]] —
    * an explicit O(store) rewrite, never a silent reinterpretation. */
  val DefaultStoreBuckets = 16

  private val RebucketRe = "_rebucket_(\\d+)".r
  private val MetaRe = "_meta_b(\\d+)_t(\\d+)".r

  private def thresholdPpm(t: Double): Long = math.round(t * 1000000L)

  /** Stage timing for the store's maintenance paths, printed only when
    * SPARK_GRAFT_ANN_PROFILE is set — the [[graft.sim
    * .IncrementalAnnIndex]] discipline applied to the dedup store (the
    * same env var on purpose: one flag profiles a whole fixture). */
  private def timed[A](label: String)(f: => A): A =
    if (sys.env.contains("SPARK_GRAFT_ANN_PROFILE")) {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dedupprof] $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    } else f

  private def fsOf(spark: SparkSession, p: String) = {
    val hp = new Path(p)
    (hp.getFileSystem(spark.sessionState.newHadoopConf()), hp)
  }

  /** The docs tree holds ANY rows (live or tombstoned, in any
    * layout) — the store is ESTABLISHED: it must carry a creation
    * record ([[settle]]), and creation-race arbitration must never
    * apply to it (see [[metaOf]]). */
  private def storeHasContent(spark: SparkSession, store: String): Boolean =
    hasRows(spark, docsPath(store))

  /** Names of the marker files directly under the store root. */
  private def markerNames(spark: SparkSession, store: String): Seq[String] = {
    val (fs, hp) = fsOf(spark, store)
    if (!fs.exists(hp)) Nil
    else fs.listStatus(hp).toSeq.filter(_.isFile).map(_.getPath.getName)
  }

  /** The fused creation-record markers among the store root's marker
    * `names`, as (ppm, buckets) sorted. */
  private def metaMarkers(names: Seq[String]): Seq[(Long, Int)] =
    names.collect { case MetaRe(b, t) => (t.toLong, b.toInt) }.sorted

  /** The store's CREATION RECORD — one fused `_meta_b<n>_t<ppm>`
    * marker holding bucket count and admission-threshold ppm, written
    * created-if-absent at creation so a second record for the SAME
    * values genuinely cannot land. Two racing creators with DIFFERENT
    * values still create differently-named markers (create-if-absent
    * cannot arbitrate across names); resolution is deterministic —
    * lowest ppm, then lowest bucket count — but ONLY while the store
    * is still empty (a true creation race: both creators started from
    * nothing, either record is a valid creation). On an ESTABLISHED
    * store a second marker is an INTERLOPER next to the creation
    * record, nothing distinguishes them by name, and adopting either
    * would silently flip a content-bearing store's regime — so the
    * resolution refuses loudly instead (delete the marker that was
    * not there at creation, or rebuild via [[rebuildStoreThreshold]]).
    * The sole benign multi-marker window — [[doRebucket]] moving the
    * count between two fused markers with the SAME ppm — always
    * coexists with a `_rebucket_` intent, and every reader resolves
    * the intent (re-running the rebucket to completion) BEFORE
    * consulting this record. */
  private def metaOf(spark: SparkSession,
      store: String): Option[(Int, Long)] = {
    val marks = metaMarkers(markerNames(spark, store))
    if (marks.isEmpty) None
    else if (marks.size == 1) Some((marks.head._2, marks.head._1))
    else if (storeHasContent(spark, store))
      throw new IllegalStateException(
        s"$store carries ${marks.size} creation-record markers (" +
          marks.map { case (t, b) => s"_meta_b${b}_t$t" }.mkString(", ") +
          ") on a content-bearing store — a marker landed NEXT TO the " +
          "creation record and nothing distinguishes them by name; " +
          "refusing to guess which regime created this store. Remove " +
          "the interloper marker, or rebuildStoreThreshold into a " +
          "fresh store.")
    else {
      // true creation race on an EMPTY store: deterministic winner,
      // losers deleted so the layout never lies to a human reader
      val (fs, hp) = fsOf(spark, store)
      val (wt, wb) = marks.head
      marks.tail.foreach { case (t, b) =>
        fs.delete(new Path(hp, s"_meta_b${b}_t$t"), false)
      }
      Some((wb, wt))
    }
  }

  /** Bring the store to the layout its creation record describes
    * before any caller reads the record: finish or unwind a crashed
    * [[swapTree]], refuse content without a creation record, then
    * finish a pending [[rebucketStore]] intent. A store that holds
    * documents but no record — a retired flat or two-marker layout, or
    * a record deleted by hand — is refused with its path and left
    * untouched, never adopted: nothing on disk says which bucket count
    * and admission regime its content was written under. The refusal
    * reads the raw markers, not [[metaOf]], and runs BEFORE the intent
    * finishes: mid-rebucket two fused markers coexist, the benign
    * window [[metaOf]] would misread as an interloper. */
  private def settle(spark: SparkSession, store: String): Unit = {
    recoverSwap(spark, store)
    val names = markerNames(spark, store)
    if (metaMarkers(names).isEmpty && storeHasContent(spark, store))
      throw new IllegalStateException(
        s"$store holds documents but no _meta_b<n>_t<ppm> creation " +
          "record — a retired store format, or a record removed by " +
          "hand; refusing to guess the bucket count and admission " +
          "threshold its content was written under. Re-admit its " +
          "documents into a fresh store with processBatch.")
    pendingRebucket(names).foreach(n => doRebucket(spark, store, n))
  }

  /** Resolve — or create — the store's creation record and gate this
    * call's admission threshold against it: returns (bucket count,
    * threshold ppm). `requestedPpm = Some(p)` is an ADMISSION call
    * ([[processBatch]] / the drain): a default-threshold call follows
    * the record, an explicit disagreeing threshold refuses loudly
    * (change of regime = [[rebuildStoreThreshold]] into a fresh
    * store, never a flag flip). `None` is a call with no admission
    * opinion (probes, compaction, takedown, re-bucket) — it resolves
    * the record without gating, and a record it must CREATE adopts
    * the session default. A record is only ever created on a store
    * with no content ([[settle]] refuses the rest). API carve-out
    * (documented on [[processBatch]]): an explicit threshold that
    * happens to EQUAL the session default is indistinguishable from a
    * defaulted call and follows the marker rather than refusing. */
  private def ensureMeta(spark: SparkSession, store: String,
      requestedBuckets: Int, requestedPpm: Option[Long]): (Int, Long) = {
    settle(spark, store)
    val defPpm = thresholdPpm(Dedup.JaccardThreshold)
    val (nb, ppm) = metaOf(spark, store).getOrElse {
      require(requestedBuckets > 0,
        s"storeBuckets must be positive: $requestedBuckets")
      val ppm0 = requestedPpm.getOrElse(defPpm)
      val (fs, hp) = fsOf(spark, store)
      fs.mkdirs(hp)
      try fs.create(new Path(hp, s"_meta_b${requestedBuckets}_t$ppm0"),
        false).close()
      catch { case _: java.io.IOException => () } // concurrent stamp
      // re-read: a concurrent creator may have stamped DIFFERENT
      // values; the deterministic winner (or, on a content-bearing
      // store, the refusal) must gate this call too
      metaOf(spark, store).getOrElse((requestedBuckets, ppm0))
    }
    requestedPpm.foreach { req =>
      require(req == ppm || req == defPpm,
        s"$store was created with admission threshold ${ppm / 1e6} " +
          s"(_meta_*_t$ppm) but this call passed ${req / 1e6} — one " +
          "store is one admission regime; use the store's threshold, " +
          "or rebuildStoreThreshold into a fresh store to change it")
    }
    (nb, ppm)
  }

  private def exists(spark: SparkSession, p: String): Boolean = {
    val (fs, hp) = fsOf(spark, p)
    fs.exists(hp)
  }

  /** `p` holds any entry that is not a `_` marker. */
  private def hasRows(spark: SparkSession, p: String): Boolean = {
    val (fs, hp) = fsOf(spark, p)
    fs.exists(hp) && fs.listStatus(hp).exists(f =>
      !f.getPath.getName.startsWith("_"))
  }

  /** The band index holds any rows. Two shapes make docs-without-bands
    * legal, so band reads must not assume the admit path's bands-first
    * invariant: a [[rebuildStoreThreshold]] destination starts as
    * tombstones only (docs rows, no bands), and a [[removeDocs]] that
    * empties EVERY band bucket leaves a file-less bands directory
    * (the explicit partition drop). Both simply mean "empty index". */
  private def hasBandRows(spark: SparkSession, store: String): Boolean =
    hasRows(spark, bandsPath(store))

  /** Stable key→bucket map (Murmur3 mod n — engine-internal, never
    * oracle-compared). The key is CANONICALIZED to long before
    * hashing: Spark's hash() is type-sensitive (hash(7) != hash(7L)),
    * so a batch whose doc_id arrived as int would otherwise hash to
    * the wrong buckets and silently miss redeliveries and candidates
    * the join's implicit coercion used to catch — write and probe
    * sides must bucket through the same canonical type.
    *
    * API boundary contract: store keys are LONG-CASTABLE ids, enforced
    * loudly per batch ([[refuseBadKeys]]). Stores written from int-typed
    * ids under the old hash(int) scheme predate the creation record,
    * so [[settle]] refuses them instead of probing them through this
    * map. */
  private def bucketCol(key: Column, nb: Int): Column =
    pmod(hash(key.cast("long")), lit(nb))

  /** `cols` of the batch with `doc_id` canonicalized to long through
    * `try_cast`, counting NULL or non-castable ids into `keys` in the
    * same pass: such a row would become a null key that
    * `dropDuplicates` silently collapses into one doc, or an ANSI cast
    * error deep in the first store job. Materialize, then
    * [[refuseBadKeys]]. */
  private def keyed(batch: DataFrame, keys: Observation,
      cols: String*): DataFrame =
    batch.select(col("doc_id").try_cast("long").as("doc_id") +:
        cols.map(col): _*)
      .observe(keys, count(when(col("doc_id").isNull, 1)).as("bad"))

  /** Fail loudly — with a message naming the column and the canonical
    * type — when the [[keyed]] pass counted any bad id. Runs before the
    * call touches the store, so a refused batch leaves no trace. */
  private def refuseBadKeys(keys: Observation, op: String): Unit = {
    val bad = keys.get("bad").asInstanceOf[Long]
    require(bad == 0,
      s"$op: $bad doc_id value(s) are NULL or not castable to long " +
        "(the store's canonical key type) — non-integral ids would " +
        "silently collapse into one null-keyed doc; supply integral " +
        "ids (or pre-map string ids to longs) instead")
  }

  /** The batch's bucket set under `key` — driver-sized (≤ nb ints),
    * pushed as an IN-filter so store reads statically prune. */
  private def bucketSet(df: DataFrame, key: Column, nb: Int): Seq[Int] =
    df.select(bucketCol(key, nb).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** The same set observed in a pass that already runs. */
  private def bucketsObserved(key: Column, nb: Int): Column =
    collect_set(bucketCol(key, nb)).as("bs")

  private def bucketsOf(o: Observation): Seq[Int] =
    o.get("bs").asInstanceOf[Seq[Int]]

  private def countOf(o: Observation): Long = o.get("n").asInstanceOf[Long]

  /** Declared schemas of the two store trees: every read goes through
    * [[readTree]], so none runs a footer-reading inference job. */
  private val TreeSchemas = Map(
    "docs" -> "doc_id BIGINT, text STRING, b INT",
    "bands" -> "doc_id BIGINT, bk BIGINT, b INT")

  private def readTree(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TreeSchemas(new Path(path).getName)).parquet(path)

  /** A store tree pruned to `buckets` (package-visible so the spec can
    * assert the static pruning on the physical plan). */
  private[graft] def treeFor(spark: SparkSession, path: String,
      buckets: Seq[Int]): DataFrame =
    readTree(spark, path).filter(col("b").isin(buckets: _*))

  /** The store's bucket count: the no-admission-opinion form of
    * [[ensureMeta]]. A crashed swap and a pending [[rebucketStore]]
    * intent finish FIRST, so no caller can read a bucket count the
    * layout doesn't have. `requested` binds only at store creation; an
    * existing record wins. */
  private def ensureBuckets(spark: SparkSession, store: String,
      requested: Int = DefaultStoreBuckets): Int =
    ensureMeta(spark, store, requested, None)._1

  /** Pending re-bucket target from a crashed [[rebucketStore]]'s
    * intent marker, if any. Racing/crashed intents can leave SEVERAL
    * markers; resolution must be deterministic (not listing-order),
    * so the HIGHEST count wins — [[doRebucket]] then clears every
    * intent in one pass, so the losers can never re-trigger a second
    * O(store) rewrite on a later touch. */
  private def pendingRebucket(names: Seq[String]): Option[Int] =
    names.collect { case RebucketRe(n) => n.toInt }.maxOption

  /** Re-bucket a live store to `buckets` — the operator the bucket
    * count's creation-time immutability otherwise forbids: a corpus
    * that outgrew its creation-time count (per-bucket scan width is
    * |corpus| / buckets) rewrites BOTH trees to the new count through
    * the crash-safe staged swap ([[swapTree]]), under an
    * intent marker (`_rebucket_<n>`): a crash at ANY point re-runs to
    * completion on the next store touch ([[ensureBuckets]] finishes a
    * pending re-bucket BEFORE reading the count), so no probe can ever
    * prune with a count the layout doesn't match — the silent-miss
    * mode a half-migrated store would otherwise have. O(store) by
    * design — one columnar scan per tree, run at rebuild cadence, not
    * per batch. The redelivery skip and all probes carry over
    * unchanged: bucket membership is a pure function of (key, count).
    * No-op when the store already has `buckets`. A pending intent from
    * a CRASHED earlier re-bucket (same count or different) is adopted
    * and finished FIRST — deterministically, highest count wins when
    * several markers coexist — and [[doRebucket]] clears every intent
    * marker it finds, so this call's own intent can never be shadowed
    * by, nor leave behind, a stale one. */
  def rebucketStore(spark: SparkSession, storeDir: String,
      buckets: Int): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    settle(spark, storeDir)
    val cur = metaOf(spark, storeDir).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir is not a bucketed store (no _meta_b<n>_t<ppm> " +
          "creation record) — the first processBatch creates one"))
    if (cur == buckets) return
    val (fs, hp) = fsOf(spark, storeDir)
    try fs.create(new Path(hp, s"_rebucket_$buckets"), false).close()
    catch { case _: java.io.IOException => () } // concurrent stamp
    doRebucket(spark, storeDir, buckets)
  }

  /** Idempotent re-bucket body: rewrite both trees to `nb` buckets,
    * then stamp the new count marker, drop the old one, drop the
    * intent — in that order, so every crash point either re-runs the
    * rewrite (harmless: re-bucketing an already-`nb` tree reproduces
    * it) or finishes the marker swap; the intent marker outlives both
    * creation records' window of coexistence, and every reader
    * resolves the intent before trusting a marker. */
  private def doRebucket(spark: SparkSession, store: String,
      nb: Int): Unit = {
    val (fs, hp) = fsOf(spark, store)
    def rewrite(path: String, key: String): Unit =
      if (exists(spark, path))
        swapTree(spark, path) { tmp =>
          readTree(spark, path)
            .drop("b")
            .withColumn("b", bucketCol(col(key), nb))
            .repartition(col("b"))
            .write.partitionBy("b").parquet(tmp)
        }
    rewrite(docsPath(store), "doc_id")
    rewrite(bandsPath(store), "bk")
    // move the count inside the creation record: re-stamp it at the
    // store's OWN ppm — the two-marker window between the create and
    // the delete always coexists with the intent marker (cleared
    // last), and every reader resolves the intent before consulting
    // the record, so the window is unobservable
    val fusedPpms = metaMarkers(markerNames(spark, store)).map(_._1).distinct
    require(fusedPpms.size <= 1,
      s"$store carries creation-record markers with DISAGREEING " +
        s"thresholds (${fusedPpms.mkString(", ")} ppm) — resolve the " +
        "interloper before re-bucketing")
    fusedPpms.foreach { ppm =>
      try fs.create(new Path(hp, s"_meta_b${nb}_t$ppm"), false).close()
      catch { case _: java.io.IOException => () } // re-run after crash
      metaMarkers(markerNames(spark, store)).foreach { case (t, b) =>
        if (b != nb) fs.delete(new Path(hp, s"_meta_b${b}_t$t"), false)
      }
    }
    // clear EVERY intent, not just this one's: a surviving loser
    // marker would deterministically re-bucket the store AGAIN on the
    // next touch — correct content, but a second O(store) rewrite to
    // a count nobody asked for anymore
    fs.listStatus(hp).foreach { f =>
      f.getPath.getName match {
        case RebucketRe(_) if f.isFile => fs.delete(f.getPath, false)
        case _                         => ()
      }
    }
  }

  /** Rewrite a whole store tree through the crash-safe two-rename
    * swap: `stage` writes the COMPLETE replacement at the tmp
    * location, the live tree moves aside in one rename, the staged
    * tree moves in with another, the retired copy deletes last.
    * [[recoverSwap]] finishes or unwinds every crash point
    * (retired present ⇒ the staged copy had finished writing, so
    * forward completion is always safe). */
  private def swapTree(spark: SparkSession, path: String)(
      stage: String => Unit): Unit = {
    val (fs, hp) = fsOf(spark, path)
    val tmp = new Path(path + ".bktmp")
    val retired = new Path(path + ".flat")
    fs.delete(tmp, true)
    stage(tmp.toString)
    require(fs.rename(hp, retired), s"store tree retire failed: $path")
    require(fs.rename(tmp, hp), s"store tree swap failed: $path")
    fs.delete(retired, true)
  }

  /** Small-file compaction — the bucketed store's housekeeping twin
    * of [[graft.sim.IncrementalAnnIndex.compact]]: every batch appends
    * one file per touched bucket, so a long-lived store fragments.
    * Each tree holding a bucket with more than `maxFiles` data files
    * is rewritten to its minimal layout through the SAME crash-safe
    * staged swap as [[rebucketStore]] — content-identical, and
    * the rewrite is one columnar scan of that tree (run at rebuild
    * cadence, not per batch). Returns (docs rewritten, bands
    * rewritten). */
  def compactStore(spark: SparkSession, storeDir: String,
      maxFiles: Int = 4): (Boolean, Boolean) = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    ensureBuckets(spark, storeDir)
    val fs = new Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def fragmented(path: String): Boolean = {
      val hp = new Path(path)
      fs.exists(hp) && fs.listStatus(hp).exists(d =>
        d.isDirectory && d.getPath.getName.startsWith("b=") &&
          fs.listStatus(d.getPath).count(f =>
            f.isFile && !f.getPath.getName.startsWith("_")) > maxFiles)
    }
    def rewrite(path: String): Boolean =
      if (!fragmented(path)) false
      else {
        swapTree(spark, path) { tmp =>
          readTree(spark, path)
            .repartition(col("b"))
            .write.partitionBy("b").parquet(tmp)
        }
        true
      }
    (rewrite(docsPath(storeDir)), rewrite(bandsPath(storeDir)))
  }

  /** Finish or unwind a crashed staged tree swap ([[swapTree]] —
    * [[rebucketStore]] and [[compactStore]] share it): a retired
    * tree with the live dir missing either completes forward (staged
    * replacement fully written) or restores the retired tree (staging
    * incomplete — the operation re-runs); leftover staging beside a
    * live tree is discarded. */
  private def recoverSwap(spark: SparkSession, store: String): Unit = {
    val (fs, _) = fsOf(spark, store)
    Seq(docsPath(store), bandsPath(store)).foreach { path =>
      val live = new Path(path)
      val tmp = new Path(path + ".bktmp")
      val retired = new Path(path + ".flat")
      if (fs.exists(retired)) {
        if (fs.exists(live)) fs.delete(retired, true) // finished swap
        else if (fs.exists(tmp)) { // crashed between the two renames
          require(fs.rename(tmp, live),
            s"store tree swap recovery failed: $path")
          fs.delete(retired, true)
        } else {
          require(fs.rename(retired, live), // unwind: re-run later
            s"store tree swap restore failed: $path")
        }
      } else if (fs.exists(tmp)) {
        fs.delete(tmp, true) // crashed mid-write: staging discards
      }
    }
  }

  /** (doc_id, bk) band keys via the module's MinHash signatures. Fused
    * 64-bit keys (same scheme as Dedup.minhashLshPairs): the PERSISTED
    * band index stores 8-byte keys instead of "b_h1_h2…" strings, and
    * the per-batch probe join exchanges longs. Collisions only add
    * candidates; the exact rescore drops them. */
  private def bandKeys(docs: DataFrame): DataFrame =
    Dedup.minhashBandKeys(Dedup.minhashSignaturesFromSets(
      Dedup.docShingleSets(docs, "doc_id", "text")))

  /** (da, db, jaccard) of pairs carrying both sides' shingle sets
    * (`ssa`, `ssb`), kept at or above `threshold`. round(4) BEFORE
    * thresholding, exactly like minhashLshPairs — the two Jaccard paths
    * must classify boundary docs identically. */
  private def jaccardAtLeast(pairs: DataFrame, threshold: Double): DataFrame = {
    val i = size(array_intersect(col("ssa"), col("ssb"))).cast("long")
    pairs.select(col("da"), col("db"), round(i.cast("double") /
        (size(col("ssa")).cast("long") + size(col("ssb")).cast("long") - i),
        4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The accepted corpus as (doc_id, text) — the store's read API
    * (consumers should not depend on the layout's bucket column).
    * Tombstoned docs ([[removeDocs]]) are NOT part of the corpus. */
  def readDocs(spark: SparkSession, storeDir: String): DataFrame =
    readTree(spark, docsPath(storeDir)).select("doc_id", "text")
      .filter(col("text").isNotNull)

  final case class RemoveResult(tombstoned: Long, bandRowsRemoved: Long)

  /** TAKEDOWN — the removal a real training corpus needs (rights
    * requests, policy strikes) that a naive delete cannot provide: the
    * store's replay convergence RELIES on removed ids staying known
    * (a deleted row would vanish from the redelivery skip, and a
    * replayed feed file would silently RE-ADMIT the taken-down doc).
    * So removal is a TOMBSTONE: the doc's text nulls out and its band
    * rows leave the index, while the doc_id row stays — the skip set
    * keeps recognizing it, forever. Semantics after removal:
    *   - [[readDocs]] no longer returns the doc (the content is gone
    *     from the corpus and from disk);
    *   - new near-dups of the removed CONTENT are admitted (the
    *     content is no longer in the corpus to collide with — the
    *     policy-correct direction for a takedown);
    *   - a redelivery of the removed doc_id still SKIPS (never
    *     re-admitted, same or fresh checkpoint);
    *   - re-running the same removal is a no-op (idempotent).
    *
    * I/O is bucket-pruned like every store operation: the docs
    * rewrite touches only the doomed ids' buckets, the bands rewrite
    * only the buckets the doomed docs' band keys hash to (re-derived
    * from the stored text BEFORE it nulls). Writes go bands-FIRST
    * (the inverse of the admit path's rationale: a crash between the
    * two writes leaves the doc temporarily unguarded against its own
    * near-dups — the post-removal behavior anyway — and the re-run
    * converges from disk state, whereas docs-first would null the
    * text the bands cleanup needs to locate its buckets). Dynamic
    * partition overwrite cannot DROP a partition, so a bands bucket
    * whose rows ALL leave is deleted explicitly after the survivor
    * write; a crash before that delete leaves dangling band rows,
    * which are harmless by construction (every text-reading path
    * excludes tombstones, so such candidates die in the rescore) and
    * leave on the re-run. Returns (docs tombstoned, band rows
    * removed). */
  def removeDocs(spark: SparkSession, storeDir: String,
      doomed: DataFrame): RemoveResult = {
    val keys = Observation()
    val ids = keyed(doomed, keys).distinct().localCheckpoint()
    refuseBadKeys(keys, "removeDocs")
    if (!exists(spark, docsPath(storeDir))) return RemoveResult(0L, 0L)
    val nb = ensureBuckets(spark, storeDir)
    val docBuckets = bucketSet(ids, col("doc_id"), nb)
    // the doomed docs' LIVE texts (bucket-pruned; tombstones and
    // never-admitted ids contribute nothing)
    val doomedLive = treeFor(spark, docsPath(storeDir), docBuckets)
      .join(ids, Seq("doc_id"), "left_semi")
      .filter(col("text").isNotNull)
      .select("doc_id", "text").localCheckpoint()
    val nLive = doomedLive.count()
    if (nLive == 0) return RemoveResult(0L, 0L)

    // bands first (see ordering note above): drop the doomed docs'
    // rows from the buckets their band keys hash to
    var bandRows = 0L
    if (hasBandRows(spark, storeDir)) {
      val doomedKeys = bandKeys(doomedLive)
      val bandBuckets = bucketSet(doomedKeys, col("bk"), nb)
      if (bandBuckets.nonEmpty) {
        val tree = treeFor(spark, bandsPath(storeDir), bandBuckets)
        bandRows = tree.join(ids, Seq("doc_id"), "left_semi").count()
        if (bandRows > 0) {
          val survivors = tree.join(ids, Seq("doc_id"), "left_anti")
            .localCheckpoint() // break lineage: we overwrite the source
          val survivorBuckets = survivors.select("b").distinct()
            .collect().map(_.getInt(0)).toSet
          if (survivorBuckets.nonEmpty)
            survivors.repartition(col("b"))
              .write.partitionBy("b")
              .option("partitionOverwriteMode", "dynamic")
              .mode(SaveMode.Overwrite).parquet(bandsPath(storeDir))
          // dynamic overwrite replaces only partitions PRESENT in the
          // output — a fully-emptied bucket must be dropped explicitly
          val bfs = new Path(bandsPath(storeDir))
            .getFileSystem(spark.sessionState.newHadoopConf())
          bandBuckets.filterNot(survivorBuckets).foreach { b =>
            bfs.delete(new Path(s"${bandsPath(storeDir)}/b=$b"), true)
          }
        }
      }
    }

    // docs second: null the text IN PLACE — every row survives as a
    // row (tombstone or live), so every touched bucket stays non-empty
    // and dynamic overwrite replaces exactly the touched partitions;
    // the doomed set joins as a relation (never an IN-literal — a
    // takedown list can be large)
    val rewritten = treeFor(spark, docsPath(storeDir), docBuckets)
      .join(ids.withColumn("__doomed", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__doomed"), lit(null).cast("string"))
          .otherwise(col("text")).as("text"),
        col("b"))
      .localCheckpoint() // break lineage: we overwrite the source
    rewritten.repartition(col("b"))
      .write.partitionBy("b")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(docsPath(storeDir))
    RemoveResult(nLive, bandRows)
  }

  final case class RegimeRebuildResult(accepted: Long,
      rejectedNearDup: Long, tombstonesCarried: Long)

  /** ADMISSION-REGIME REBUILD — the operator [[ensureMeta]]'s refusal
    * message points at: one store is one admission regime, so
    * changing the threshold means replaying the accepted corpus
    * through a FRESH store at the new value, in deterministic doc_id
    * order (one [[processBatch]] call over the whole live corpus —
    * its sequential-greedy in-batch resolution IS one-at-a-time
    * id-order admission, so the replay needs no driver-side loop and
    * no ordering shuffle beyond what the greedy rounds already do).
    *
    * The subtle part a naive ad-hoc replay gets wrong is TOMBSTONE
    * CARRY: a taken-down id ([[removeDocs]]) must stay down in the
    * new store — under the new regime, under feed replay, forever —
    * so the tombstone rows copy into the destination BEFORE the
    * replay, arming the redelivery skip from the store's first byte.
    * (They cannot re-admit through the replay itself either: the live
    * corpus excludes them by construction.)
    *
    * O(src store) by design, run at rebuild cadence like the ANN
    * [[rebuild]]: the destination is a fresh directory (MVCC cutover
    * — readers keep the old store until the caller swaps pointers),
    * the source is never touched. `storeBuckets` defaults to the
    * source's count; a regime rebuild is also a legitimate moment to
    * re-bucket. Returns the replay decisions and the carried
    * tombstone count. */
  def rebuildStoreThreshold(spark: SparkSession, srcDir: String,
      destDir: String, newThreshold: Double,
      storeBuckets: Option[Int] = None): RegimeRebuildResult = {
    require(!exists(spark, destDir),
      s"rebuild destination already exists: $destDir — regime " +
        "rebuilds land in fresh directories (MVCC cutover), never " +
        "over a live store")
    // finish any crashed swap or pending re-bucket, then read the
    // source layout; refuse a source with nothing to replay
    require(exists(spark, docsPath(srcDir)),
      s"$srcDir has no docs tree — nothing to rebuild")
    val nbSrc = ensureBuckets(spark, srcDir)
    val nb = storeBuckets.getOrElse(nbSrc)
    require(nb > 0, s"storeBuckets must be positive: $nb")
    val newPpm = thresholdPpm(newThreshold)

    // destination creation record FIRST: the new store is the new
    // regime from its first byte (a crash after this leaves an empty
    // marked store — the re-run refuses on "destination already
    // exists" and the operator deletes the debris; never a
    // half-regime store)
    val (dfs, dhp) = fsOf(spark, destDir)
    dfs.mkdirs(dhp)
    try dfs.create(new Path(dhp, s"_meta_b${nb}_t$newPpm"), false).close()
    catch { case _: java.io.IOException => () }

    val docs = readTree(spark, docsPath(srcDir))
    // 1. tombstone carry — removed ids stay down in the new store
    val tombs = docs.filter(col("text").isNull)
      .select(col("doc_id"), col("text"))
    val nTombs = tombs.count()
    if (nTombs > 0)
      tombs.withColumn("b", bucketCol(col("doc_id"), nb))
        .repartition(col("b"))
        .write.partitionBy("b").mode(SaveMode.Append)
        .parquet(docsPath(destDir))

    // 2. the replay: the whole live corpus through ONE processBatch at
    // the new threshold — sequential-greedy lowest-id-first admission,
    // exactly "replay the accepted docs in id order"
    val live = docs.filter(col("text").isNotNull).select("doc_id", "text")
    val r = processBatch(live, destDir, newThreshold, nb)
    RegimeRebuildResult(r.accepted, r.rejectedNearDup, nTombs)
  }

  /** The cross-corpus probe in its DEPLOYMENT form —
    * [[Dedup.minhashLshPairsBetween]]'s contract served from the
    * PERSISTED store instead of re-banding the published side: the
    * batch's band keys equi-join the store's band INDEX (the published
    * corpus is never re-shingled and never self-paired), and only the
    * MATCHED accepted docs re-shingle for the exact rescore. Returns
    * (pub_id, new_id, jaccard); read-only — [[processBatch]] is the
    * mutating twin that also appends accepted docs' bands. Store-side
    * bucket sizes stay bounded by admission itself (near-dups are
    * never admitted, so a clone farm cannot pile into one bucket the
    * way it can in the one-shot generator — which is why the one-shot
    * [[Dedup.minhashLshPairsBetween]] carries a maxBucket cap and this
    * probe does not need one).
    *
    * Action budget: two batch-sized checkpoints — the batch's shingle
    * sets (counting bad keys) and its band keys (observing their bucket
    * set) — and the caller's one action on the returned relation. No
    * bucket-set or schema-inference job runs. */
  def probeStorePairs(
      batch: DataFrame,
      storeDir: String,
      threshold: Double = Dedup.JaccardThreshold,
      storeBuckets: Int = DefaultStoreBuckets): DataFrame = {
    val spark = batch.sparkSession
    // batch-sized; feeds band keys AND the rescore — pin it so the
    // incoming docs shingle once
    val keys = Observation()
    val incSets = keyed(batch, keys, "text").dropDuplicates("doc_id")
      .select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("ss"))
      .filter(size(col("ss")) > 0)
      .localCheckpoint()
    refuseBadKeys(keys, "probeStorePairs")
    if (!hasBandRows(spark, storeDir))
      return incSets.select(col("doc_id").as("pub_id"),
        col("doc_id").as("new_id"), lit(0.0).as("jaccard")).limit(0)
    // resolves the creation record (a crashed swap or a pending
    // re-bucket finishes first) — every read below prunes on it
    val nb = ensureBuckets(spark, storeDir, storeBuckets)
    val bandBuckets = Observation()
    val newBands = Dedup.minhashBandKeys(
        Dedup.minhashSignaturesFromSets(incSets))
      .observe(bandBuckets, bucketsObserved(col("bk"), nb))
      .localCheckpoint()
    storePairs(storeCandidates(spark, storeDir, newBands,
        bucketsOf(bandBuckets)), readTree(spark, docsPath(storeDir)), nb,
        incSets, threshold)
      .select(col("da").as("pub_id"), col("db").as("new_id"), col("jaccard"))
  }

  /** (da = stored doc, db = batch doc) band-key matches: the index
    * probe reads ONLY `bandBuckets`, the buckets the batch's band keys
    * hash to — |batch's buckets| / nb of the index, never all of it. */
  private def storeCandidates(spark: SparkSession, storeDir: String,
      newBands: DataFrame, bandBuckets: Seq[Int]): DataFrame =
    newBands
      .join(treeFor(spark, bandsPath(storeDir), bandBuckets)
        .withColumnRenamed("doc_id", "da"), "bk")
      .select(col("da"), col("doc_id").as("db"))
      .distinct()

  /** (da, db, jaccard) of candidate (da = stored doc, db = batch doc)
    * pairs at or above `threshold`, against the batch's pinned shingle
    * `sets`: only the MATCHED stored docs are fetched from the `docs`
    * tree and re-shingled, never the corpus. The fetch joins on (id,
    * bucket) — b is a pure function of the id — so a `docs` tree the
    * caller did not prune statically still prunes dynamically off the
    * candidate side (DPP) while the plan stays one lazy relation. */
  private def storePairs(cand: DataFrame, docs: DataFrame, nb: Int,
      sets: DataFrame, threshold: Double): DataFrame =
    jaccardAtLeast(cand.withColumn("b", bucketCol(col("da"), nb))
      .join(docs.filter(col("text").isNotNull) // tombstones are not corpus
        .select(col("doc_id").as("da"), col("text"), col("b")), Seq("da", "b"))
      .withColumn("ssa", array_distinct(Dedup.shingles(col("text"))))
      .join(sets.select(col("doc_id").as("db"), col("ss").as("ssb")), "db"),
      threshold)

  /** Process one batch of (doc_id, text): rejects near-dups of accepted
    * docs and in-batch near-dups (lower id wins), appends survivors to
    * the store, and returns the decision counts. `storeBuckets` and
    * `threshold` bind only when this call CREATES the store — both
    * live in the fused creation record (`_meta_b<n>_t<ppm>`) and the
    * record wins thereafter: [[rebucketStore]] changes a live store's
    * count, [[rebuildStoreThreshold]] its admission regime. An
    * explicit threshold that DISAGREES with the record refuses
    * loudly; a default-threshold call follows the record. API
    * carve-out: an explicit threshold EQUAL to
    * [[Dedup.JaccardThreshold]] is indistinguishable from a defaulted
    * call and follows the record rather than refusing — callers that
    * need their exact value enforced against an unknown store should
    * compare the refusal contract first. Threshold identity is
    * recorded at ppm (1e-6) resolution; finer digits round.
    *
    * Action budget on an established store: four checkpoints, whose
    * passes also count and observe bucket sets — the deduplicated batch,
    * the fresh docs with their shingle sets, their band keys, the store
    * candidates — then ONE collect of the rescored edges and the two
    * appends. No count, bucket-set or schema-inference job runs: under
    * [[LocalGreedyMaxEdges]] the accepted count is driver arithmetic
    * and the rejected ids filter both appends; over it the distributed
    * rounds add their per-round actions. */
  def processBatch(
      batch: DataFrame,
      storeDir: String,
      threshold: Double = Dedup.JaccardThreshold,
      storeBuckets: Int = DefaultStoreBuckets): BatchResult = {
    val spark = batch.sparkSession
    // the key check rides the incoming pass, so it runs before ensureMeta
    // may touch the store; the pass observes the id buckets under the
    // count listed now (a call that moves the count recomputes them)
    val nbListed = metaMarkers(markerNames(spark, storeDir)).headOption
      .fold(storeBuckets)(_._2)
    val keys = Observation()
    val inc = Observation()
    val incoming = timed("incoming ckpt")(keyed(batch, keys, "text")
      .dropDuplicates("doc_id")
      .observe(inc, count(lit(1)).as("n"),
        bucketsObserved(col("doc_id"), nbListed))
      .localCheckpoint())
    refuseBadKeys(keys, "processBatch")
    // one store = one admission regime: the creation record wins for
    // default calls, a disagreeing explicit threshold refuses loudly
    val (nb, admPpm) = timed("ensureMeta")(
      ensureMeta(spark, storeDir, storeBuckets,
        Some(thresholdPpm(threshold))))
    val adm = admPpm / 1e6
    // one existence probe per batch (each is a FileSystem RPC); the
    // bands store may lag docs by half a crashed batch, but writes go
    // bands-first so that lag direction never loses index entries.
    // Docs-WITHOUT-bands is also legal (see hasBandRows): the
    // redelivery skip reads docs, candidate generation reads bands —
    // each gates on its own tree.
    val storeExists = exists(spark, docsPath(storeDir))
    val bandsLive = storeExists && hasBandRows(spark, storeDir)

    // the redelivery skip and the shingling share ONE checkpoint; the
    // sets feed BOTH the band keys and the rescore
    val fr = Observation()
    val fresh = timed("fresh ckpt")((
      if (!storeExists) incoming
      else incoming.join(
        treeFor(spark, docsPath(storeDir),
          if (nb == nbListed) bucketsOf(inc)
          else bucketSet(incoming, col("doc_id"), nb)).select("doc_id"),
        Seq("doc_id"), "left_anti"))
      .withColumn("ss", array_distinct(Dedup.shingles(col("text"))))
      .observe(fr, count(lit(1)).as("n"))
      .localCheckpoint())
    val nRedelivered = countOf(inc) - countOf(fr)
    val nFresh = countOf(fr)
    // a doc under ShingleSize words has no set, no bands, no edge: kept
    val freshSets = fresh.filter(size(col("ss")) > 0).select("doc_id", "ss")
    val bandBuckets = Observation()
    val newBands = timed("bands ckpt")(Dedup.minhashBandKeys(
        Dedup.minhashSignaturesFromSets(freshSets))
      .observe(bandBuckets, bucketsObserved(col("bk"), nb))
      .localCheckpoint())

    // rescored near-dup edges (da, db): a store match always rejects
    // `db`; an in-batch match only if `da` is itself accepted
    val storeEdges =
      if (!bandsLive)
        fresh.select(col("doc_id").as("da"), col("doc_id").as("db")).limit(0)
      else {
        // its pass observes the matched docs' buckets: a static prune
        val matched = Observation()
        val cand = timed("candidates ckpt")(storeCandidates(spark,
            storeDir, newBands, bucketsOf(bandBuckets))
          .observe(matched, bucketsObserved(col("da"), nb))
          .localCheckpoint())
        storePairs(cand, treeFor(spark, docsPath(storeDir),
          bucketsOf(matched)), nb, freshSets, adm)
      }
    val inEdges = jaccardAtLeast(newBands.as("a")
      .join(newBands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") > col("b.doc_id"))
      .select(col("b.doc_id").as("da"), col("a.doc_id").as("db"))
      .distinct()
      .join(freshSets.select(col("doc_id").as("da"), col("ss").as("ssa")), "da")
      .join(freshSets.select(col("doc_id").as("db"), col("ss").as("ssb")), "db"),
      adm)

    // ONE collect of both kinds: store edges (a few per fresh doc at
    // most) and in-batch edges capped one past the local bound
    val bound = localGreedyMaxEdges
    val (storeHits, batchHits) = timed("edges collect")(
      storeEdges.select(lit(true).as("s"), col("da"), col("db"))
        .unionByName(inEdges.limit(math.min(bound + 1, Int.MaxValue).toInt)
          .select(lit(false).as("s"), col("da"), col("db")))
        .collect().partition(_.getBoolean(0)))

    // In-batch resolution must match processing the batch's docs ONE AT
    // A TIME in id order (so acceptance does not depend on how a corpus
    // was batched — the r02 advisor's non-transitivity finding: with
    // B~A, C~B, C!~A, rejecting every `db` killed both B and C, while
    // split batches accepted C). Sequential greedy = lowest-id-first
    // maximal independent set over the similarity edges, computed in
    // parallel rounds: each round accepts all docs with no smaller-id
    // UNDECIDED neighbor, rejects their neighbors, and drops both from
    // the graph — exactly the sequential result, in O(longest dependency
    // chain) rounds. Returns the accepted count and the filter that
    // keeps the accepted rows of a doc_id-keyed relation.
    val (nAccepted, keep) = timed("greedy MIS") {
      // regime split (r19): the similarity-edge relation is
      // candidate-bounded and usually tiny (admission keeps the store
      // dup-free, so in-batch near-dup edges are the exception) — under
      // [[LocalGreedyMaxEdges]] the SAME round algorithm runs on the
      // driver (same minima rule, same round cap, same
      // undecided-after-cap rejection — IncrementalDedupSpec pins the
      // regimes equal), replacing 4-6 Spark actions per round. Driver
      // state is edges only, never docs; over the bound the distributed
      // rounds below run unchanged.
      if (batchHits.length <= bound) {
        val storeRej = storeHits.iterator.map(_.getLong(2)).toSet
        val rawEdges = batchHits.map(r => (r.getLong(1), r.getLong(2)))
        var rem = scala.collection.immutable.SortedSet.empty[Long] ++
          rawEdges.iterator.flatMap(e => Iterator(e._1, e._2))
            .filterNot(storeRej)
        var es = rawEdges.filter(e => rem(e._1) && rem(e._2))
        val acceptedIds = scala.collection.mutable.Set.empty[Long]
        var rounds = 0
        while (rem.nonEmpty && rounds < MaxGreedyRounds) {
          rounds += 1
          if (es.isEmpty) { acceptedIds ++= rem; rem = rem.empty }
          else {
            val targets = es.iterator.map(_._2).toSet
            val minima = rem.filterNot(targets)
            val newRej = es.iterator.filter(e => minima(e._1))
              .map(_._2).toSet
            acceptedIds ++= minima
            rem = rem -- minima -- newRej
            es = es.filter(e => rem(e._1) && rem(e._2))
          }
        }
        // endpoints neither store-rejected nor accepted — including
        // any still undecided at the cap — are the greedy rejects;
        // every other fresh doc is accepted by construction, so the
        // count is arithmetic and only the rejected ids ride back
        val rejected = storeRej ++ rawEdges.iterator
          .flatMap(e => Iterator(e._1, e._2)).filterNot(acceptedIds)
        val rejectedIds = spark.sparkContext.broadcast(rejected)
        val isRejected = udf((id: Long) => rejectedIds.value.contains(id))
        (nFresh - rejected.size, (df: DataFrame) =>
          if (rejected.isEmpty) df else df.filter(!isRejected(col("doc_id"))))
      } else {
        val storeRejected = storeEdges.select(col("db").as("doc_id")).distinct()
        var remaining = fresh.select("doc_id")
          .join(storeRejected, Seq("doc_id"), "left_anti").localCheckpoint()
        var edges = inEdges.select("da", "db")
          .join(remaining.withColumnRenamed("doc_id", "da"), Seq("da"), "left_semi")
          .join(remaining.withColumnRenamed("doc_id", "db"), Seq("db"), "left_semi")
          .localCheckpoint()
        val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        var rounds = 0
        while (remaining.limit(1).count() > 0 && rounds < MaxGreedyRounds) {
          rounds += 1
          if (edges.limit(1).count() == 0) {
            acc += remaining
            remaining = remaining.limit(0)
          } else {
            // minima: no edge arrives from a smaller-id remaining doc
            val minima = remaining
              .join(edges.select(col("db").as("doc_id")), Seq("doc_id"), "left_anti")
              .localCheckpoint()
            val newRejected = edges
              .join(minima.withColumnRenamed("doc_id", "da"), Seq("da"), "left_semi")
              .select(col("db").as("doc_id")).distinct()
            acc += minima
            remaining = remaining
              .join(minima, Seq("doc_id"), "left_anti")
              .join(newRejected, Seq("doc_id"), "left_anti")
              .localCheckpoint()
            edges = edges
              .join(remaining.withColumnRenamed("doc_id", "da"), Seq("da"), "left_semi")
              .join(remaining.withColumnRenamed("doc_id", "db"), Seq("db"), "left_semi")
              .localCheckpoint()
          }
        }
        // a >MaxGreedyRounds dependency chain is adversarial; the docs
        // still undecided at the cap are rejected (conservative: never
        // admits a near-dup, may drop a would-be survivor)
        val accepted = fresh.select("doc_id")
          .join(if (acc.isEmpty) fresh.select("doc_id").limit(0)
            else acc.reduce(_ unionByName _), Seq("doc_id"), "left_semi")
          .localCheckpoint()
        (accepted.count(), (df: DataFrame) =>
          df.join(accepted, Seq("doc_id"), "left_semi"))
      }
    }

    if (nAccepted > 0) timed("store writes") {
      // bands FIRST, docs second: a crash between the writes leaves
      // extra band rows pointing at absent docs (harmless — candidates
      // go through the rescore join against docs/), while the opposite
      // order would leave accepted docs invisible to future dedup and
      // the doc_id redelivery skip would never backfill them.
      // Band rows come from the checkpointed newBands, not a second
      // full shingle+MinHash pass over the text.
      // Batch-sized appends (the known nAccepted) write NARROW —
      // coalesce(1): one task, one file per bucket dir, no shuffle
      // stage (IncrementalAnnIndex's CoalescedAppendRows discipline);
      // over-bound batches keep the keyed repartition for file sizing.
      def shaped(df: DataFrame): DataFrame =
        if (nAccepted <= CoalescedAppendRows) df.coalesce(1)
        else df.repartition(col("b"))
      shaped(keep(newBands).withColumn("b", bucketCol(col("bk"), nb)))
        .write.partitionBy("b").mode(SaveMode.Append)
        .parquet(bandsPath(storeDir))
      shaped(keep(fresh.select("doc_id", "text"))
          .withColumn("b", bucketCol(col("doc_id"), nb)))
        .write.partitionBy("b").mode(SaveMode.Append)
        .parquet(docsPath(storeDir))
    }
    BatchResult(nAccepted, nFresh - nAccepted, nRedelivered)
  }
}
