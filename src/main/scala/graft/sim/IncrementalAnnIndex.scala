package graft.sim

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental IVF index — the production shape of similarity search at
  * corpus-build time: embedding batches arrive continuously and must
  * become searchable WITHOUT re-indexing the corpus (the same
  * incremental discipline as [[graft.dedup.IncrementalDedup]]).
  *
  * Store layout:
  *   - `centroids`: (cent_id, cv) — the coarse quantizer, FIXED at init
  *     (classic IVF: lists grow, the quantizer doesn't; re-training is a
  *     rebuild, not an append).
  *   - `lists/cid=<n>/` — inverted lists as HIVE PARTITIONS of
  *     (vec_id, v): a probe restricted to k centroid ids statically
  *     prunes every other partition AT THE SCAN, so query I/O is
  *     |probed lists|, not |index|.
  *   - `ledger/b=<k>/` — the id LEDGER: (vec_id, cid) rows hash-
  *     bucketed on vec_id. Every maintenance-side id lookup (the
  *     redelivery skip, the affected-list discovery under deletes)
  *     probes ONLY the buckets the delta's ids hash to, so discovery
  *     I/O is |delta's buckets| × (|index| / buckets) — never a full
  *     index scan. The vectors themselves never enter the ledger; at
  *     10B vectors the whole ledger is two longs per row, and a
  *     one-bucket delta reads 1/`ledgerBuckets` of that.
  *   - `tombstones/b=<k>/` — TAKEDOWN armor ([[takedownVecs]]): ids
  *     removed for good, hash-bucketed like the ledger. Absent until
  *     the first takedown; every admission path refuses ids found
  *     here, and rebuilds carry the tree, so a taken-down id stays
  *     down through replays, re-inserts, and from-source rotations.
  *
  * Append assigns each new vector to its nearest centroid (broadcast
  * quantizer, argmax with the same round-then-tiebreak discipline as
  * [[Similarity.ivfTopK]], so an incremental build equals a one-shot
  * build vector-for-vector) and appends ONLY the touched partitions.
  * Re-delivered vec_ids are skipped (bucket-pruned anti-join against
  * the ledger), so replaying a batch is a no-op.
  *
  * Every maintenance call (append, delete, or a CDC delta mixing both)
  * is ONE transaction: the full new content of every touched partition
  * — delete-survivors merged with fresh appends, in BOTH trees — is
  * staged under `_txn/`, a manifest records which live partitions are
  * to be swapped out or dropped, and an `_ok` marker commits. Nothing
  * live moves before the marker exists, so a crash before it discards
  * the staging wholesale; after it, [[recover]] replays the publish
  * forward to completion (every step is idempotent), so the lists and
  * the ledger can never diverge durably — the swap is all-or-nothing
  * across both trees, including partitions a delete fully empties
  * (recorded as explicit `drop` manifest entries, never inferred from
  * what survived a crash).
  *
  * Filesystem contract (deployment note): the protocol's atomicity
  * unit is `FileSystem.rename` — atomic on HDFS and local filesystems,
  * which is what "a crash either discards or finishes" relies on. On
  * S3-class object stores rename is a non-atomic copy+delete, so this
  * layout must sit behind an HDFS-semantics layer (HBoss/EMRFS-style
  * locking) or be replaced by a manifest-commit table format (the
  * VersionedTable discipline: immutable data files + an atomic
  * pointer) — the store doc's "can never lie about list membership"
  * claim is only as strong as the rename underneath it.
  */
object IncrementalAnnIndex {

  final case class AppendResult(appended: Long, skippedRedelivered: Long)
  final case class ChangesResult(removed: Long, appended: Long,
      skippedRedelivered: Long, skippedTombstoned: Long = 0L)
  final case class TakedownResult(removed: Long, tombstoned: Long)

  /** Default ledger bucket count — recorded in the store at creation
    * (`ledger/_buckets_<n>`), immutable thereafter (the bucket of an id
    * must be stable for the life of the store; re-bucketing is a
    * rebuild). Two forces size it: each bucket holds |index| /
    * buckets rows of (vec_id, cid) and must fit one comfortable scan
    * task (more buckets), while every
    * maintenance transaction writes one staged file PER TOUCHED
    * BUCKET, so an oversized bucket count taxes small deltas with
    * near-empty files (fewer buckets). 16 suits the gate scales; a
    * 10B-vector deployment would init with O(1000) — at that scale
    * deltas are large and the per-file constant is noise next to the
    * scan width it buys. */
  val DefaultLedgerBuckets = 16

  /** Below this many fresh rows, a pure append stages each tree as ONE
    * write task instead of hash-distributing: a tiny delta otherwise
    * fans out into one near-empty file per populated bucket. The
    * delete path never coalesces — survivor partitions are
    * index-partition-sized and must keep their write parallelism. */
  private val CoalescedAppendRows = 100000L

  private def centroidsPath(store: String) = s"$store/centroids"
  private def listsPath(store: String) = s"$store/lists"
  private def ledgerPath(store: String) = s"$store/ledger"
  private def booksPath(store: String) = s"$store/pqbooks"
  private def tombstonesPath(store: String) = s"$store/tombstones"
  private def txnPath(store: String) = s"$store/_txn"

  /** DEFAULT PQ geometry for compressed stores: [[IvfPq]]'s segment
    * count (the per-segment codebook size too) with the segment width
    * derived from the store's own vector dimension at init. The
    * geometry is a PER-STORE [[init]] parameter, FIXED at init like
    * the coarse quantizer (the books parquet IS the record: segment
    * count and codebook size read back from it, so every search and
    * encode path is geometry-agnostic and [[rebuild]] carries the
    * source store's geometry into the re-trained books). Sizing at
    * scale: ADC cost and code footprint are Segments longs per
    * candidate; recall rises with Segments x log2(Codes) bits — a
    * production dim-768 store would run 48-96 segments with 256
    * codes, which is exactly why these cannot be compile-time
    * constants. */
  val PqSegments: Int = IvfPq.Segments
  val PqCodes: Int = IvfPq.Codes
  val PqIters: Int = IvfPq.PqIters

  private val BucketsRe = "_buckets_(\\d+)".r

  /** Store format stamp. Format 2 = the single-staged-transaction
    * protocol (`_txn` staging, ledger data column `ref_cid`). The
    * first maintenance call on a store that holds no index data yet
    * creates it. A store whose lists or ledger hold data WITHOUT the
    * stamp was written by a retired format (format 1 named the ledger
    * column `cid`; older stores had no ledger at all) and is refused
    * with its path — never read or rewritten, so a retired ledger can
    * never surface as an analysis error deep inside the first probe. */
  private val FormatMarker = "_format_2"

  /** Stage timing for the maintenance path, printed only when
    * SPARK_GRAFT_ANN_PROFILE is set (the Profile `anncdc` axis). */
  private def timed[A](label: String)(f: => A): A =
    if (sys.env.contains("SPARK_GRAFT_ANN_PROFILE")) {
      val t0 = System.nanoTime()
      val r = f
      println(f"[annprof] $label%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    } else f

  private def fsOf(spark: SparkSession, p: String): (FileSystem, Path) = {
    val hp = new Path(p)
    (hp.getFileSystem(spark.sessionState.newHadoopConf()), hp)
  }

  /** The dir holds at least one `<prefix>=` partition (an `exists` on
    * the root is not enough: an emptied store keeps the bare dir). */
  private def hasData(spark: SparkSession, p: String,
      prefix: String): Boolean = {
    val (fs, hp) = fsOf(spark, p)
    fs.exists(hp) && fs.listStatus(hp).exists(d =>
      d.isDirectory && d.getPath.getName.startsWith(prefix + "="))
  }

  /** Stable id→bucket map: Murmur3 of the id mod the bucket count.
    * Engine-internal (the ledger is never oracle-compared), so Spark's
    * native codegen'd hash is the right tool. */
  private def bucketOf(id: Column, nb: Int): Column =
    pmod(hash(id), lit(nb))

  /** Bucket count the ledger was created with, from its marker file. */
  private def ledgerBucketsOf(
      spark: SparkSession, store: String): Option[Int] = {
    val (fs, lp) = fsOf(spark, ledgerPath(store))
    if (!fs.exists(lp)) None
    else fs.listStatus(lp).toSeq.flatMap { f =>
      f.getPath.getName match {
        case BucketsRe(n) if f.isFile => Some(n.toInt)
        case _                        => None
      }
    }.headOption
  }

  /** The ledger restricted to `buckets` — every maintenance-side id
    * lookup goes through this, so the scan statically prunes to the
    * delta's hash buckets (package-visible so the spec can assert the
    * pruning on the physical plan). */
  private[graft] def ledgerFor(spark: SparkSession, store: String,
      buckets: Seq[Int]): DataFrame =
    spark.read.parquet(ledgerPath(store))
      .filter(col("b").isin(buckets: _*)) // static partition pruning
      .select(col("vec_id"), col("ref_cid").as("cid"), col("b"))

  /** The TAKEDOWN armor — `tombstones/b=<k>/` rows of vec_id, hash-
    * bucketed like the ledger (same bucket count, same pruning
    * discipline: a consult reads only the delta's buckets). A
    * tombstoned id is DOWN FOREVER: its content left the lists and
    * the ledger, and every later admission path (append, CDC insert,
    * a from-source rebuild reading the unredacted corpus) skips it —
    * the [[graft.dedup.IncrementalDedup.removeDocs]] replay-armor
    * discipline applied to the vector index. Empty when the store has
    * never taken anything down. `buckets = None` reads the whole tree
    * (rebuilds); `Some(bs)` statically prunes to a delta's buckets. */
  private def tombstonedFor(spark: SparkSession, store: String,
      buckets: Option[Seq[Int]]): Option[DataFrame] =
    if (!hasData(spark, tombstonesPath(store), "b")) None
    else Some {
      val t = spark.read.parquet(tombstonesPath(store))
      buckets.fold(t)(bs => t.filter(col("b").isin(bs: _*)))
        .select(col("vec_id"), col("b"))
    }

  /** Create the ledger if missing and return its bucket count. Only a
    * store with no lists data gets a new (empty) ledger, committed by
    * one atomic directory rename; lists WITHOUT a ledger are refused —
    * an empty ledger there would silently disarm the redelivery skip
    * and every delete, which find ids through the ledger. */
  private def ensureLedger(spark: SparkSession, store: String,
      requested: Int): Int = {
    ledgerBucketsOf(spark, store).getOrElse {
      require(requested > 0, s"ledgerBuckets must be positive: $requested")
      require(!hasData(spark, listsPath(store), "cid"),
        s"store $store holds inverted lists but no ledger (no " +
          "ledger/_buckets_<n> marker): the ledger is never rebuilt " +
          "from the lists — init a fresh store from the source vectors")
      val (fs, lp) = fsOf(spark, ledgerPath(store))
      val tmp = new Path(s"$store/_ledger_tmp")
      fs.delete(tmp, true)
      fs.mkdirs(tmp)
      fs.create(new Path(tmp, s"_buckets_$requested"), false).close()
      require(fs.rename(tmp, lp), s"ledger commit failed: $tmp -> $lp")
      requested
    }
  }

  /** Refuse a store whose lists or ledger hold data without the
    * [[FormatMarker]] stamp; stamp one that holds none. Runs before
    * every maintenance call's first ledger access; the stamp makes
    * every later call one `exists` probe. */
  private def checkFormat(spark: SparkSession, store: String): Unit = {
    val (fs, sp) = fsOf(spark, store)
    if (fs.exists(new Path(sp, FormatMarker))) return
    require(!hasData(spark, listsPath(store), "cid") &&
        !hasData(spark, ledgerPath(store), "b"),
      s"store $store holds index data but no $FormatMarker stamp: a " +
        "retired store format, which is never adopted or rewritten — " +
        "init a fresh store from the source vectors")
    try fs.create(new Path(sp, FormatMarker), false).close()
    catch { case _: java.io.IOException => () } // concurrent stamp: fine
  }

  /** Above this many centroids the inlined-literal argmax would bloat
    * the generated code (|centroids| cosine expressions per row), so
    * assignment falls back to the broadcast-join form. IVF quantizers
    * are small by design; the gate scales sit far under this. */
  private val InlineQuantizerMax = 64

  /** The quantizer collected to the driver: it is driver-sized BY
    * DESIGN (classic IVF — lists grow, the quantizer doesn't), and
    * FIXED after [[init]], so one read per store per JVM suffices —
    * cached by store path, invalidated by the only writer (init's
    * overwrite). */
  private val centroidCache = scala.collection.concurrent.TrieMap
    .empty[String, Array[(Long, Seq[Double])]]

  private def centroidsOf(spark: SparkSession,
      store: String): Array[(Long, Seq[Double])] =
    centroidCache.getOrElseUpdate(centroidsPath(store),
      spark.read.parquet(centroidsPath(store))
        .select(col("cent_id"), col("cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))))

  /** Per-centroid scored struct array for `vec`: (csim, -cent_id), so
    * lexicographic struct ORDER encodes ivfTopK's rank discipline —
    * similarity rounded to 4 decimals first, ties to the LOWER
    * cent_id. One narrow expression per row: no crossJoin against the
    * quantizer, no repartitioning window — at any corpus size the
    * assignment is map-only and rides the surrounding stage. */
  private def centScores(vec: Column,
      cents: Array[(Long, Seq[Double])]): Column =
    // the quantizer as ONE nested literal with the cosine lambda
    // expressed once (KMeans.assignExpr's r19 plan-cost discipline):
    // the per-centroid expression copies made every maintenance/search
    // plan re-analyze k cosine trees. transform preserves the array
    // order and the math per element is unchanged — bit-identical.
    transform(
      typedLit(cents.toSeq.map { case (cid, cv) => (-cid, cv) }),
      c => struct(
        round(Similarity.cosine(vec, c.getField("_2")), 4).as("csim"),
        c.getField("_1").as("ncid")))

  /** Nearest-centroid assignment, identical to ivfTopK's: similarity
    * rounded to 4 decimals BEFORE the argmax, ties to the lower
    * cent_id. Input: (vec_id, v) plus carried columns; output adds
    * `cid` and preserves the rest. Small
    * quantizers (the normal case) assign via [[centScores]] +
    * array_max — a shuffle-free projection; oversized ones fall back
    * to the broadcast crossJoin + window form. */
  private def assign(vecs: DataFrame,
      cents: Array[(Long, Seq[Double])]): DataFrame =
    if (cents.length <= InlineQuantizerMax) {
      val best = array_max(centScores(col("v"), cents))
      vecs.withColumn("cid", -best.getField("ncid"))
    } else {
      val spark = vecs.sparkSession
      import spark.implicits._
      val centsDf = cents.toSeq.toDF("cent_id", "cv")
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      vecs.crossJoin(broadcast(centsDf))
        .withColumn("csim",
          round(Similarity.cosine(col("v"), col("cv")), 4))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("cid", col("cent_id"))
        .drop("cent_id", "cv", "csim", "rn")
    }

  private def vecsOf(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))

  // ------------------------------------------------------------------
  // PQ-compressed layout — the 100 TB cost story for the MAINTAINED
  // store. A store initialized with `pq = true` additionally trains
  // [[PqSegments]] per-segment codebooks over the init corpus's
  // RESIDUALS (vector − assigned centroid, in KMeans' shifted integer
  // micro-units — IVFADC's discipline, [[IvfPq]]) and stores each
  // row's codes as a `pq: array<long>` COLUMN of the lists tree. The
  // column IS the "codes tree": it rides the same staged transaction
  // as the vector (codes and content can never diverge), and parquet's
  // columnar layout is the code/raw separation — the ADC search path
  // reads ONLY (vec_id, pq) from the probed partitions (spec-asserted
  // on the scan's ReadSchema), while the raw `v` column is the rerank
  // sidecar paid only for shortlist rows. At 10B vectors the hot
  // search I/O is Segments longs per candidate, not the float64
  // vector; a deployment that wants the STORAGE win too drops `v` at
  // the file level (the ADC-only form — same plans, no rerank stage),
  // which this layout reaches by writing the lists projection without
  // `v`. Codebooks are FIXED at init like the coarse quantizer
  // (re-training is a rebuild — [[rebuild]] re-trains both).
  // ------------------------------------------------------------------

  /** Residual re-shift keeping every coordinate non-negative —
    * [[IvfPq.RShift]]'s precondition for exact-integer training. */
  private val PqRShift = IvfPq.RShift

  /** Shifted-micro-unit quantization of a double array column — the
    * [[KMeans.quantized]] rule as a reusable expression. */
  private def quantizeExpr(v: Column): Column =
    transform(v, e => round(e * KMeans.Micro).cast("long") + KMeans.Shift)

  /** Quantized centroid of the row's assigned `cid`, appended as a
    * `qcent` column — used by every PQ encode (insert-side residuals)
    * and by the per-query ADC tables. Small quantizers inline a
    * literal when-chain (quantization happens IN the expression, so
    * it is Spark's own round semantics); above [[InlineQuantizerMax]]
    * the chain would bloat the generated code (|centroids| dim-wide
    * quantized literals per expression — at 1024 centroids ~65k
    * literals, codegen blowup or the interpreted fallback), so the
    * column comes from a broadcast join against the quantized
    * quantizer instead — the same fallback discipline as
    * [[assign]]/[[probeSelection]], and the SAME arithmetic: the join
    * side quantizes through the identical expression. Both forms are
    * package-visible so the spec pins their equivalence directly. */
  private def withQcent(df: DataFrame,
      cents: Array[(Long, Seq[Double])]): DataFrame =
    if (cents.length <= InlineQuantizerMax) qcentInline(df, cents)
    else qcentJoined(df, cents)

  private[graft] def qcentInline(df: DataFrame,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    // one map literal + one quantize lambda instead of a k-branch
    // when-chain of k dim-wide quantized literals (the r19 plan-cost
    // discipline — see KMeans.assignExpr). The quantization still
    // happens IN the expression (Spark's own round semantics), applied
    // to the looked-up centroid — value-identical per cid, and a cid
    // absent from the map yields null exactly like the fallen-through
    // when-chain did.
    val m = typedLit(cents.toSeq.toMap)
    df.withColumn("qcent", quantizeExpr(element_at(m, col("cid"))))
  }

  private[graft] def qcentJoined(df: DataFrame,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centsDf = cents.toSeq.toDF("cid", "cv")
      .select(col("cid"), quantizeExpr(col("cv")).as("qcent"))
    df.join(broadcast(centsDf), Seq("cid"))
  }

  /** Exact integer squared L2 between two long-array columns. */
  private def sqDistL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Per-segment codebooks collected to the driver (model-sized:
    * Segments x Codes x segDim longs), cached per store path like the
    * quantizer — fixed after init, invalidated by init's overwrite.
    * None ⇔ the store was not initialized with pq. */
  private val booksCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[Seq[(Long, Seq[Long])]]]

  private def booksOf(spark: SparkSession,
      store: String): Option[Seq[Seq[(Long, Seq[Long])]]] = {
    val bp = booksPath(store)
    booksCache.get(bp).orElse {
      val (fs, p) = fsOf(spark, bp)
      if (!fs.exists(p)) None
      else {
        val books = spark.read.parquet(bp)
          .select(col("seg"), col("cid"), col("dim"), col("c"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (_, segRows) =>
            segRows.groupBy(_._2).toSeq
              .map { case (c, rs) => c -> rs.sortBy(_._3).map(_._4).toSeq }
              .sortBy(_._1)
          }
        booksCache.put(bp, books)
        Some(books)
      }
    }
  }

  /** Residual of the assigned rows (`out` = quantized `vCol` −
    * quantized centroid + re-shift, every coordinate a non-negative
    * long). Input must carry (`vCol`, cid); the transient qcent
    * column is dropped. */
  private def withResidual(df: DataFrame,
      cents: Array[(Long, Seq[Double])], vCol: String,
      out: String): DataFrame =
    withQcent(df, cents)
      .withColumn(out, zip_with(quantizeExpr(col(vCol)), col("qcent"),
        (a, b) => a - b + lit(PqRShift)))
      .drop("qcent")

  /** The lists-tree row shape: (vec_id, [v,] cid[, pq]) — the raw
    * vector column absent in an ADC-only store, the codes column
    * present in a PQ one. The one place that decides which columns
    * survive a rewrite, so the survivor merge, compaction, and the
    * staged write can never drop codes (nor resurrect a dropped raw
    * column). */
  private def listsProjection(lists: DataFrame): DataFrame =
    lists.select(Seq(col("vec_id")) ++
      (if (lists.columns.contains("v")) Seq(col("v")) else Nil) ++
      Seq(col("cid").cast("long").as("cid")) ++
      (if (lists.columns.contains("pq")) Seq(col("pq")) else Nil): _*)

  /** Add the `pq` codes column to assigned rows (vec_id, v, cid, …):
    * one row-local projection — slice the residual per segment, argmin
    * against that segment's codebook ([[KMeans.assignExpr]]'s exact
    * tiebreak). */
  private def withPqCodes(assigned: DataFrame,
      cents: Array[(Long, Seq[Double])],
      books: Seq[Seq[(Long, Seq[Long])]]): DataFrame = {
    val segDim = books.head.head._2.size
    withResidual(assigned, cents, "v", "__rq")
      .withColumn("pq",
        array((0 until books.size).map { s =>
          KMeans.assignExpr(books(s), slice(col("__rq"), s * segDim + 1,
            segDim))
        }: _*))
      .drop("__rq")
  }

  /** Marker stamping the ADC-ONLY layout: the lists tree carries no
    * raw vector column, so only codes-path reads are legal. Created by
    * [[init]] (keepRaw = false) or [[dropRawVectors]]; checked by
    * every raw-needing read path ([[requireRaw]]) and by maintenance
    * (which stops writing `v`). */
  private val AdcOnlyMarker = "_adc_only"

  private def isAdcOnly(spark: SparkSession, store: String): Boolean = {
    val (fs, sp) = fsOf(spark, store)
    fs.exists(new Path(sp, AdcOnlyMarker))
  }

  /** Geometry marker stamped by a PQ [[init]] — the TRAINED-k record
    * (`_pq_s<segments>_c<codes>_i<iters>`). The books parquet cannot
    * serve as this record: a training cluster that empties leaves a
    * smaller codebook than the k it was trained with, so [[rebuild]]
    * needs the marker to re-train at the INIT-TIME geometry.
    * Pre-marker PQ stores (r16) fall back to books-derived segments +
    * the default codes/iters — exactly the old rebuild behavior. */
  private val PqGeomRe = "_pq_s(\\d+)_c(\\d+)_i(\\d+)".r

  private def pqGeometryOf(spark: SparkSession,
      store: String): Option[(Int, Int, Int)] = {
    val (fs, sp) = fsOf(spark, store)
    if (!fs.exists(sp)) None
    else fs.listStatus(sp).toSeq.flatMap { f =>
      f.getPath.getName match {
        case PqGeomRe(s, c, i) if f.isFile =>
          Some((s.toInt, c.toInt, i.toInt))
        case _ => None
      }
    }.headOption
  }

  /** Trained-k quantizer-size marker stamped by [[init]]
    * (`_ivf_k<n>` — the REQUESTED nCentroids): the [[PqGeomRe]]
    * rationale applied to the coarse quantizer. The centroids parquet
    * cannot serve as this record because an init batch smaller than k
    * leaves fewer centroids than the store was MEANT to train with,
    * so a rebuild over a now-larger corpus must re-train at the
    * requested k, not the lossy observed count. Pre-marker stores
    * fall back to the observed centroid count — the honest carry for
    * them (never a silent reset to the session default). */
  private val IvfKRe = "_ivf_k(\\d+)".r

  private def ivfKOf(spark: SparkSession, store: String): Option[Int] = {
    val (fs, sp) = fsOf(spark, store)
    if (!fs.exists(sp)) None
    else fs.listStatus(sp).toSeq.flatMap { f =>
      f.getPath.getName match {
        case IvfKRe(n) if f.isFile => Some(n.toInt)
        case _                     => None
      }
    }.headOption
  }

  /** The coarse-quantizer k a REBUILD of `store` re-trains at: the
    * caller's explicit value, else the store's trained-k marker, else
    * the observed centroid count (pre-marker stores). */
  private def carryNCentroids(spark: SparkSession, store: String,
      requested: Option[Int]): Int =
    requested.orElse(ivfKOf(spark, store))
      .getOrElse(centroidsOf(spark, store).length)

  private def requireRaw(spark: SparkSession, store: String,
      op: String): Unit =
    require(!isAdcOnly(spark, store),
      s"$store is an ADC-only store (no raw vectors): $op needs the raw " +
        "vector column — serve with topKPqAdc, rotate a served root " +
        "with rebuildServedFromSource (codes cannot retrain a " +
        "quantizer; the source corpus can), or init a fresh raw store " +
        "from the source corpus")

  /** Initialize the store: the quantizer is the `nCentroids`
    * lowest-vec_id vectors of the init batch (deterministic, like
    * ivfTopK's first-k rule), then the whole batch is appended.
    *
    * `pq = true` initializes the COMPRESSED layout: `pqSegments`
    * per-segment codebooks of `pqCodes` entries are trained over the
    * init batch's residuals ([[KMeans.fitSegmentsQ]], seeded from the
    * `pqCodes` lowest vec_ids' residuals passed explicitly — ids stay
    * arbitrary) and every row ever appended carries its `pq` codes
    * column. The vector dimension must divide evenly into
    * `pqSegments` segments; the geometry is FIXED at init (the books
    * parquet records it — searches, encodes, and [[rebuild]] read it
    * back, so nothing downstream hard-wires the defaults).
    *
    * `keepRaw = false` (requires pq) initializes the ADC-ONLY layout:
    * the lists tree is written WITHOUT the raw vector column, so the
    * store's footprint is [[PqSegments]] code longs per row instead of
    * the full vector (a dim-64 float64 vector is 512 B; 4 code longs
    * are 32 B raw and ~4 B parquet-encoded — the 8x-plus storage win
    * the PQ layout exists for). [[topKPqAdc]] serves unchanged (its
    * scans never read `v` anyway); [[topK]]/[[topKAmong]]/[[topKPq]]/
    * [[topKPqAmong]]/[[rebuild]] refuse loudly — the rerank's recall
    * recovery is exactly what the layout trades away. */
  def init(batch: DataFrame, storeDir: String,
      nCentroids: Int = Similarity.IvfCentroids,
      ledgerBuckets: Int = DefaultLedgerBuckets,
      pq: Boolean = false,
      keepRaw: Boolean = true,
      pqSegments: Int = PqSegments,
      pqCodes: Int = PqCodes,
      pqIters: Int = PqIters): AppendResult = {
    require(pq || keepRaw,
      "keepRaw = false requires pq = true: a store with neither raw " +
        "vectors nor codes has nothing to search")
    val spark = batch.sparkSession
    // a raw re-init cannot land on a directory stamped ADC-only: the
    // existing lists may already be reclaimed (no `v` column), so newly
    // appended raw rows would produce a tree no survivor merge can
    // union — and silently un-stamping would promise reranks over
    // vectors the old partitions never kept. Loud refusal is the only
    // honest option; restoring the raw layout is an init into a FRESH
    // directory from the source corpus.
    if (keepRaw) require(!isAdcOnly(spark, storeDir),
      s"$storeDir is stamped ADC-only: a keepRaw re-init over it would " +
        "mix raw and codes-only list partitions — init a fresh " +
        "directory from the source corpus instead")
    // the quantizer is model-sized: collect it ONCE, write the parquet
    // from the driver-local relation, and seed the cache directly —
    // the pre-r19 shape wrote a sort+limit plan and then read the file
    // straight back for the PQ block below (two more jobs per init)
    val spark0 = batch.sparkSession
    val centRows = timed("init cents collect")(vecsOf(batch)
      .orderBy(col("vec_id")).limit(nCentroids)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))))
      .sortBy(_._1)
    val cents = {
      import spark0.implicits._
      centRows.toSeq.toDF("cent_id", "cv")
    }
    timed("init cents write")(
      cents.coalesce(1).write.mode("overwrite")
        .parquet(centroidsPath(storeDir)))
    centroidCache.put(centroidsPath(storeDir),
      centRows.map { case (id, cv) => (id, cv) })
    // refresh the trained-k marker WITH the quantizer it describes
    // (delete-first, the geometry marker's crash rationale: a crash in
    // the gap leaves no marker and the rebuild falls back to the
    // observed centroid count — the safe degraded read)
    locally {
      val (kfs, ksp) = fsOf(spark, storeDir)
      kfs.listStatus(ksp).foreach { f =>
        f.getPath.getName match {
          case IvfKRe(_) if f.isFile => kfs.delete(f.getPath, false)
          case _                     => ()
        }
      }
      try kfs.create(new Path(ksp, s"_ivf_k$nCentroids"), false).close()
      catch { case _: java.io.IOException => () } // concurrent stamp
    }
    if (pq) timed("init pq train") {
      require(pqSegments >= 1 && pqCodes >= 2 && pqIters >= 1,
        s"bad PQ geometry: segments=$pqSegments codes=$pqCodes " +
          s"iters=$pqIters")
      val centsArr = centroidsOf(spark, storeDir)
      val dim = centsArr.head._2.size
      require(dim % pqSegments == 0,
        s"vector dim $dim must divide into $pqSegments PQ segments")
      val segDim = dim / pqSegments
      // training input deduped per id (appendBatch's arbitrary-pick
      // rule) — the codebooks must see each vector once
      val deduped = vecsOf(batch)
        .groupBy(col("vec_id")).agg(first(col("v")).as("v"))
      val resid = withResidual(assign(deduped, centsArr), centsArr,
          "v", "rq")
        .select(col("vec_id"), col("rq")).localCheckpoint()
      // seed rule unchanged (codebook cid i = the i-th LOWEST vec_id's
      // residual), but the seeds now pass EXPLICITLY instead of
      // remapping the whole batch's ids to 0..k-1 first — the remap's
      // only consumer was the seed filter, so this is value-identical
      // and drops the remap's collect + when-chain from the plan.
      val seedRows = resid.orderBy(col("vec_id")).limit(pqCodes)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
      require(seedRows.length == pqCodes,
        s"PQ training needs at least $pqCodes distinct vec_ids, found " +
          s"${seedRows.length}")
      // all segments trained in ONE fused job per iteration
      // (KMeans.fitSegmentsQ — bit-identical to per-segment fitQ runs;
      // resid is already checkpointed, so no extra pass). The model is
      // driver-sized (segments x codes x segDim rows), so the books
      // parquet writes from a local relation instead of a Spark job.
      val bookRows = KMeans.fitSegmentsQ(
        resid.select(col("vec_id"), col("rq").as("q")),
        pqSegments, segDim, pqCodes, pqIters, checkpointInput = false,
        seeds = Some(seedRows.sortBy(_._1).map(_._2).toSeq))
      val books = {
        import spark.implicits._
        bookRows.map { case (seg, cid, d, _, c) => (seg, cid, d, c) }
          .toDF("seg", "cid", "dim", "c")
      }
      books.coalesce(1).write.mode("overwrite").parquet(booksPath(storeDir))
      booksCache.remove(booksPath(storeDir))
      // refresh the geometry marker WITH the books it describes: a
      // stale marker from an earlier init would make a later rebuild
      // re-train at a geometry the books no longer have (delete-first;
      // a crash in the gap leaves no marker, and rebuild's fallback —
      // books-derived segments + defaults — is the safe degraded read)
      val (gfs, gsp) = fsOf(spark, storeDir)
      gfs.listStatus(gsp).foreach { f =>
        f.getPath.getName match {
          case PqGeomRe(_, _, _) if f.isFile => gfs.delete(f.getPath, false)
          case _                             => ()
        }
      }
      try gfs.create(new Path(gsp,
        s"_pq_s${pqSegments}_c${pqCodes}_i$pqIters"), false).close()
      catch { case _: java.io.IOException => () } // concurrent stamp
    }
    if (!keepRaw) {
      val (fs, sp) = fsOf(spark, storeDir)
      try fs.create(new Path(sp, AdcOnlyMarker), false).close()
      catch { case _: java.io.IOException => () } // re-init stamp: fine
    }
    appendBatch(batch, storeDir, ledgerBuckets)
  }

  /** Append one batch of (vec_id, embedding); re-delivered ids skipped
    * via a BUCKET-PRUNED ledger probe — the scan reads only the
    * buckets the batch's ids hash to, never the index. */
  def appendBatch(batch: DataFrame, storeDir: String,
      ledgerBuckets: Int = DefaultLedgerBuckets): AppendResult = {
    // per-id dedup with an arbitrary-pick vector (dropDuplicates
    // semantics), shaped as an insert-only delta
    val delta = vecsOf(batch)
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"))
      .select(col("vec_id"), col("v"),
        lit(false).as("is_del"), lit(true).as("is_ins"),
        lit(null).cast("string").as("bad_type"))
    val r = applyDelta(batch.sparkSession, storeDir, ledgerBuckets, delta,
      hasDeletes = false)
    AppendResult(r.appended, r.skippedRedelivered)
  }

  /** Maintain the index off a [[graft.sinks.VersionedTable.changes]]-
    * shaped feed (vec_id, embedding, change_type, ...): the CDC
    * consumer form of index maintenance, composing with the versioned
    * corpus exactly as [[graft.sinks.IncrementalView.maintain]] does
    * for aggregates. `delete`/`update_preimage` rows REMOVE their
    * vec_ids; `insert`/`update_postimage` rows append (probe-assigned
    * to the FIXED quantizer). Removal and append are ONE transaction —
    * a doomed id's exit and an update postimage's re-entry land in the
    * same staged swap, so no crash can observe the delete without the
    * insert. An unknown change_type fails loudly (the IncrementalView
    * requireExact discipline: a consumer that silently drops feed rows
    * corrupts the index tracelessly).
    *
    * Cost is delta-localized END TO END: the feed (often an expensive
    * CDC-diff plan) is scanned ONCE into a per-id delta checkpoint;
    * ONE bucket-pruned ledger probe serves discovery, the redelivery
    * skip, the removed-count, and the skipped-count; the rewrite
    * touches ONLY the inverted-list partitions and ledger buckets
    * holding doomed ids (the Lucene-segment-rewrite shape — at 100 TB
    * a delta touches a handful of lists, never the index); the append
    * is |inserts| work as always. Replay converges: a redelivered feed
    * finds deletes already gone and inserts already known (redelivery
    * skip); an update's preimage+postimage re-apply — removal and
    * re-insert of the same (id, vector) — landing on identical
    * content. */
  def applyChanges(feed: DataFrame, storeDir: String,
      ledgerBuckets: Int = DefaultLedgerBuckets): ChangesResult = {
    val isDel = col("change_type").isin("delete", "update_preimage")
    val isIns = col("change_type").isin("insert", "update_postimage")
    // ONE scan of the feed: per-id role flags, the insert-side vector,
    // and any unknown change_type captured for the loud failure (the
    // check itself runs on the checkpoint, not a second feed scan)
    val delta = feed
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        col("change_type"))
      .groupBy(col("vec_id"))
      .agg(
        (max(when(isDel, 1).otherwise(0)) === 1).as("is_del"),
        (max(when(isIns, 1).otherwise(0)) === 1).as("is_ins"),
        first(when(isIns, col("v")), ignoreNulls = true).as("v"),
        max(when(!(isDel || isIns), col("change_type"))).as("bad_type"))
      .select(col("vec_id"), col("v"), col("is_del"), col("is_ins"),
        col("bad_type"))
    applyDelta(feed.sparkSession, storeDir, ledgerBuckets, delta,
      hasDeletes = true)
  }

  /** TAKEDOWN — remove `ids` from the index FOREVER: the rights
    * request / policy strike a serving corpus must honor, with the
    * replay-convergence armor a plain [[applyChanges]] delete lacks.
    * A CDC delete is a statement about the SOURCE (the row left the
    * corpus, and a later insert legitimately re-admits it); a takedown
    * is a statement about the ID (this vector must never be served
    * again, even though the unredacted source still carries it — so a
    * feed replay, a late re-insert, or a from-source rebuild reading
    * that source must all refuse it).
    *
    * Mechanics: the doomed ids' list rows and ledger rows leave
    * (bucket/list-pruned survivor rewrite, [[applyDelta]]'s shape) and
    * the ids land in `tombstones/b=<k>/` — all in ONE staged
    * transaction ([[commitTxn]] carries the third tree), so no crash
    * can observe the content gone without the armor in place or vice
    * versa. Every admission path consults the tombstones: appends and
    * CDC inserts skip them (counted as `skippedTombstoned`), and
    * [[rebuild]] / [[rebuildServed]] / [[rebuildServedFromSource]]
    * CARRY them — a from-source rotation reads the unredacted corpus
    * and excludes tombstoned ids from the new generation's content
    * AND its training input. Taking down an id the store never held
    * (or already removed) still arms the tombstone: the admission
    * refusal is the point, presence is not a precondition. Idempotent
    * and replay-convergent: re-running a takedown finds the content
    * already gone and the tombstones already stamped.
    *
    * Erasure scope (deployment note): the coarse quantizer and PQ
    * codebooks are TRAINED ARTIFACTS that may retain information
    * derived from a taken-down vector (a centroid seeded from it
    * verbatim, in the worst case). A deployment under strict erasure
    * obligations follows takedowns with [[rebuildServedFromSource]] —
    * the rotation re-trains quantizer and codebooks on the REDACTED
    * corpus (tombstoned ids are excluded from its training input), so
    * takedown + rotation is the complete erasure story. */
  def takedownVecs(spark: SparkSession, store: String,
      ids: DataFrame): TakedownResult = {
    timed("recover")(recover(spark, store))
    val nb = ledgerBucketsOf(spark, store).getOrElse(
      throw new IllegalArgumentException(
        s"$store has no ledger — takedown targets an initialized " +
          "store (to blocklist ids before any content exists, init " +
          "the store first, then take the ids down)"))
    val doomed = timed("takedown ids ckpt")(ids
      .select(col("vec_id").cast("long").as("vec_id")).distinct()
      .withColumn("b", bucketOf(col("vec_id"), nb))
      .localCheckpoint())
    val idSummary = timed("takedown summary")(doomed.agg(
      count(lit(1)).as("n"),
      collect_set(col("b")).as("buckets")).head())
    val nIds = idSummary.getLong(0)
    val idBuckets = idSummary.getSeq[Int](1)
    if (nIds == 0) return TakedownResult(0L, 0L)
    // ONE bucket-pruned ledger probe: which doomed ids are present,
    // and in which (bucket, list) pairs — the rewrite touches only
    // those partitions, so takedown cost is bucket-bounded at any
    // corpus size
    val stats: Array[(Int, Long, Long)] =
      if (!hasData(spark, ledgerPath(store), "b")) Array.empty
      else timed("takedown probe")(
        ledgerFor(spark, store, idBuckets)
          .join(doomed.select("vec_id"), Seq("vec_id"), "left_semi")
          .groupBy(col("b"), col("cid")).count().collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
    val removed = stats.map(_._3).sum
    val affectedCids = stats.map(_._2).distinct.sorted.toSeq
    val affectedBuckets = stats.map(_._1).distinct.sorted.toSeq
    val adcOnly = isAdcOnly(spark, store)
    val survivorsL = spark.read.parquet(listsPath(store))
      .filter(col("cid").isin(affectedCids: _*)) // static pruning
      .join(doomed.select("vec_id"), Seq("vec_id"), "left_anti")
    val listsOut =
      listsProjection(if (adcOnly) survivorsL.drop("v") else survivorsL)
    val ledgerOut = ledgerFor(spark, store, affectedBuckets)
      .join(doomed.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("b"))
    // the armor: existing tombstones at the doomed buckets union the
    // new ids (idempotent re-takedown lands on identical content)
    val tombOut = tombstonedFor(spark, store, Some(idBuckets))
      .fold(doomed.select(col("vec_id"), col("b")))(e =>
        e.unionByName(doomed.select(col("vec_id"), col("b"))).distinct())
    timed("commitTxn")(commitTxn(spark, store, listsOut, ledgerOut,
      affectedCids, affectedBuckets, coalesce = false,
      tombOut = Some(tombOut),
      replaceTombBuckets = idBuckets.sorted))
    TakedownResult(removed, nIds)
  }

  /** The one maintenance primitive: remove the delta's `is_del` ids
    * and append its `is_ins` vectors, as a single staged transaction
    * over both trees.
    *
    * Planned for minimum fixed overhead as much as minimum I/O — a
    * CDC consumer runs this on EVERY delta, so constant per-call cost
    * is the throughput at high delta rates. Exactly three substantial
    * jobs run per call: (1) the delta checkpoint (one scan of the
    * feed), (2) the bucket-pruned ledger probe joined with the delta's
    * flags (delta-bounded, checkpointed), (3) the ONE staged write
    * carrying both trees ([[commitTxn]]'s tree/pk union). Everything
    * else is a driver-sized collect over a checkpoint: one summary
    * (insert count + unknown-type check + the delta's bucket set) and
    * one probe aggregation that yields the affected (bucket, list)
    * pairs, the removed total, AND the redelivered count — so no
    * standalone count job ever runs against the index or the staged
    * output.
    *
    * Sizing contract: the delta checkpoint pins the WHOLE delta —
    * insert vectors included — in the block manager for the call's
    * duration. That is the design point (CDC deltas are small next to
    * the index, and the checkpoint is what keeps the call at three
    * jobs), but it means a bulk-load-sized "delta" pays corpus-scale
    * block-manager residency for no benefit: route bulk ingestion
    * through [[init]] (an empty store) or [[rebuild]] (a re-trained
    * one), which stream the corpus straight into the staged write. */
  private def applyDelta(spark: SparkSession, store: String,
      requestedBuckets: Int, deltaRaw: DataFrame,
      hasDeletes: Boolean): ChangesResult = {
    timed("recover")(recover(spark, store))
    val nb = timed("ensureLedger")(
      ensureLedger(spark, store, requestedBuckets))
    // the takedown armor: a tombstoned id is down forever, so inserts
    // carrying one are flagged in the SAME delta checkpoint (the
    // tombstones tree is |takedowns| rows — tiny by nature — so the
    // un-pruned read costs nothing, and stores that never took
    // anything down skip it entirely on one exists probe)
    val tomb = tombstonedFor(spark, store, None)
    val deltaFlagged = tomb.fold(
        deltaRaw.withColumn("is_tomb", lit(false)))(t =>
      deltaRaw.join(t.select(col("vec_id"), lit(true).as("is_tomb")),
          Seq("vec_id"), "left")
        .withColumn("is_tomb", coalesce(col("is_tomb"), lit(false))))
    val delta = timed("delta ckpt")(deltaFlagged
      .withColumn("b", bucketOf(col("vec_id"), nb))
      .localCheckpoint())
    // one driver-sized pass over the checkpoint: loud unknown-type
    // failure, the insert count (tombstone-skipped rows counted apart
    // — they are not incoming, they are refused), and the delta's
    // hash-bucket set
    val summary = timed("summary collect")(delta.agg(
      sum(when(col("is_ins") && !col("is_tomb"), 1L).otherwise(0L))
        .as("n_incoming"),
      collect_set(col("bad_type")).as("bad"),
      collect_set(col("b")).as("buckets"),
      sum(when(col("is_ins") && col("is_tomb"), 1L).otherwise(0L))
        .as("n_tombskip")).head())
    val bad = summary.getSeq[String](1)
    require(bad.isEmpty,
      s"IncrementalAnnIndex: unknown change_type(s): ${bad.mkString(", ")}")
    val nIncoming = Option(summary.get(0)).map(_.asInstanceOf[Long])
      .getOrElse(0L)
    val buckets = summary.getSeq[Int](2)
    val nTombSkip = Option(summary.get(3)).map(_.asInstanceOf[Long])
      .getOrElse(0L)

    // ONE bucket-pruned ledger probe, the delta's flags joined in:
    // delta-bounded, so every downstream id decision is local
    val probe: Option[DataFrame] =
      if (buckets.isEmpty || !hasData(spark, ledgerPath(store), "b")) None
      else Some(timed("probe ckpt")(ledgerFor(spark, store, buckets)
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("b"))
        .join(delta.select(col("vec_id"), col("is_del"), col("is_ins")),
          Seq("vec_id"))
        .localCheckpoint()))

    // one driver-sized aggregation of the probe: the affected
    // (bucket, list) pairs and doomed-row counts (removed), plus the
    // already-known insert count (skipped) — ≤ |buckets| x |lists| x 4
    val stats: Array[(Int, Long, Boolean, Boolean, Long)] = probe match {
      case Some(p) if hasDeletes || nIncoming > 0 =>
        timed("stats collect")(
          p.groupBy(col("b"), col("cid"), col("is_del"), col("is_ins"))
            .count().collect()
            .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2),
              r.getBoolean(3), r.getLong(4))))
      case _ => Array.empty
    }
    val removed = stats.filter(_._3).map(_._5).sum
    val skipped = stats.filter(t => t._4 && !t._3).map(_._5).sum
    val affectedCids = stats.filter(_._3).map(_._2).distinct.sorted.toSeq
    val affectedBuckets = stats.filter(_._3).map(_._1).distinct.sorted.toSeq
    val nFresh = nIncoming - skipped
    if (nFresh == 0 && affectedCids.isEmpty)
      return ChangesResult(0L, 0L, skipped, nTombSkip)

    // fresh inserts: not known to the ledger unless doomed this delta
    // (an update's postimage re-enters), and never tombstoned — the
    // takedown armor holds through any replay or late re-insert.
    // Narrow recomputation over the two checkpoints — no
    // materialization of its own.
    val incoming = delta.filter(col("is_ins") && !col("is_tomb"))
      .select(col("vec_id"), col("v"), col("b"))
    val fresh = probe match {
      case None => incoming
      case Some(p) => incoming.join(
        p.filter(!col("is_del")).select("vec_id"), Seq("vec_id"),
        "left_anti")
    }
    val cents = centroidsOf(spark, store)
    val books = booksOf(spark, store)
    val assigned0 = assign(fresh, cents)
    // a PQ store encodes every insert against the FIXED codebooks —
    // one more row-local projection riding the same staged write
    // (measured r19: pinning this with a localCheckpoint did NOT
    // shrink the staged write — its ~1s/call is the write machinery,
    // not duplicated expression compute — so it stays a lazy plan)
    val assigned = books.fold(assigned0)(withPqCodes(assigned0, cents, _))
    val doomedIds = delta.filter(col("is_del")).select("vec_id")

    // an ADC-only store never writes the raw column: the codes ARE the
    // stored content (the survivor merge below reads a v-less tree and
    // listsProjection keeps the shapes aligned)
    val adcOnly = isAdcOnly(spark, store)
    if (adcOnly) require(books.isDefined,
      s"$store is stamped ADC-only but has no pqbooks — the store is " +
        "unservable; rebuild it from the source corpus")
    val newLists = {
      val p = listsProjection(assigned)
      if (adcOnly) p.drop("v") else p
    }
    // the survivor side drops `v` under the ADC-only marker even when
    // the files still carry it: a crash between dropRawVectors' stamp
    // and its reclaim commit leaves dead `v` bytes in the live tree,
    // and without the drop the union against the v-less fresh rows
    // would throw — maintenance must tolerate a half-reclaimed store
    // (this swap also reclaims the touched partitions as a side effect)
    val listsOut =
      if (affectedCids.isEmpty) newLists
      else {
        val survivors = spark.read.parquet(listsPath(store))
          .filter(col("cid").isin(affectedCids: _*)) // static pruning
          .join(doomedIds, Seq("vec_id"), "left_anti")
        listsProjection(if (adcOnly) survivors.drop("v") else survivors)
          .unionByName(newLists)
      }
    val newLedger = assigned
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("b"))
    val ledgerOut =
      if (affectedBuckets.isEmpty) newLedger
      else ledgerFor(spark, store, affectedBuckets)
        .join(doomedIds, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cid").cast("long").as("cid"), col("b"))
        .unionByName(newLedger)

    timed("commitTxn")(commitTxn(spark, store, listsOut, ledgerOut,
      affectedCids, affectedBuckets,
      coalesce = affectedCids.isEmpty && nFresh <= CoalescedAppendRows))
    ChangesResult(removed, nFresh, skipped, nTombSkip)
  }

  /** Stage both trees under `_txn/`, record the manifest, mark `_ok`,
    * publish. Before the marker nothing live has moved (a crash
    * discards the staging wholesale); the marker commits the
    * transaction and [[publishTxn]] is forward-idempotent from any
    * crash point after it. */
  private def commitTxn(spark: SparkSession, store: String,
      listsOut: DataFrame, ledgerOut: DataFrame,
      replaceCids: Seq[Long], replaceBuckets: Seq[Int],
      coalesce: Boolean,
      tombOut: Option[DataFrame] = None,
      replaceTombBuckets: Seq[Int] = Nil): Unit = {
    val (fs, txnP) = fsOf(spark, txnPath(store))
    fs.delete(txnP, true)
    // ONE write action stages BOTH trees: rows union under
    // (tree, pk) hive partitioning — publish translates `pk=<n>` to
    // the live `cid=<n>` / `b=<n>` dir names. The list id is stored
    // as `ref_cid` so a lists FILE never carries a data column named
    // like its partition column (ledger reads alias it back to cid;
    // lists reads never select it). Lists-only columns beyond the
    // fixed (vec_id, cid) pair — the raw vector `v` (absent in an
    // ADC-only store) and the PQ codes — ride the union with the
    // ledger side null-padded; parquet stores the nulls as column
    // metadata, so the ledger files stay two longs per row.
    val extras = listsOut.schema.fields
      .filterNot(f => Set("vec_id", "cid")(f.name))
    val twoTrees = listsOut
      .select(Seq(col("vec_id"),
        col("cid").cast("long").as("ref_cid")) ++
        extras.map(f => col(f.name)) ++
        Seq(lit("lists").as("tree"), col("cid").cast("long").as("pk")): _*)
      .unionByName(ledgerOut.select(Seq(col("vec_id"),
        col("cid").cast("long").as("ref_cid")) ++
        extras.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        Seq(lit("ledger").as("tree"), col("b").cast("long").as("pk")): _*))
    // the takedown armor rides the SAME staged write when present:
    // tombstone rows are vec_id-only (ref_cid and the lists extras
    // null-padded away by parquet column metadata), so content removal
    // and the armor that keeps it removed land in ONE transaction — no
    // crash can observe the takedown without the tombstone
    val combined = tombOut.fold(twoTrees)(t =>
      twoTrees.unionByName(t.select(Seq(col("vec_id"),
        lit(null).cast("long").as("ref_cid")) ++
        extras.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        Seq(lit("tomb").as("tree"), col("b").cast("long").as("pk")): _*)))
    // small appends: coalesce(1), not repartition(1) — same rows, same
    // one-file-per-partition layout (one task writes every pk dir),
    // but NARROW: no shuffle stage, no AQE re-optimization for a
    // bounded-size delta (the CoalescedAppendRows gate). Large/rewrite
    // transactions keep the keyed repartition so file sizing scales.
    val shaped =
      if (coalesce) combined.coalesce(1)
      else combined.repartition(col("tree"), col("pk"))
    timed("  staged write")(shaped
      .write.partitionBy("tree", "pk").parquet(s"$txnP/data"))
    // manifest: every live partition this transaction replaces. A
    // replaced partition with staged survivors swaps; one a delete
    // fully emptied is an explicit `drop` — never inferred from what a
    // crash left behind (the inference is exactly what a half-swapped
    // recovery cannot do safely).
    def stagedParts(sub: String): Set[Long] = {
      val p = new Path(txnP, s"data/tree=$sub")
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix("pk=").toLong).toSet
    }
    val stagedLists = stagedParts("lists")
    val stagedLedger = stagedParts("ledger")
    val stagedTomb = stagedParts("tomb")
    val manifest =
      replaceCids.map(c =>
        s"${if (stagedLists(c)) "swap" else "drop"} lists cid=$c") ++
      replaceBuckets.map(k =>
        s"${if (stagedLedger(k.toLong)) "swap" else "drop"} ledger b=$k") ++
      replaceTombBuckets.map(k =>
        s"${if (stagedTomb(k.toLong)) "swap" else "drop"} tomb b=$k")
    val mf = fs.create(new Path(txnP, "_manifest"), true)
    mf.write(manifest.mkString("\n").getBytes(StandardCharsets.UTF_8))
    mf.close()
    val mk = fs.create(new Path(txnP, "_ok"), false)
    mk.close()
    timed("  publish")(publishTxn(fs, txnP, store))
    fs.delete(txnP, true)
  }

  private def readManifest(fs: FileSystem,
      p: Path): Seq[(String, String, String)] = {
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split(" ") match {
        case Array(action, sub, part) => (action, sub, part)
        case _ => throw new IllegalStateException(
          s"corrupt txn manifest line: '$line'")
      }
    }
  }

  /** Publish a marked transaction into the live trees — forward-only
    * and idempotent from any crash point. Per tree: manifest `swap`s
    * move the live partition aside (into the txn's own trash, gone
    * with the txn dir) and rename the staged partition in; `drop`s
    * move the live partition aside; everything still staged after the
    * swaps is an APPEND — a whole-directory rename when the live
    * partition doesn't exist yet (init and new lists publish as one
    * rename per partition), else per-file renames skipping names
    * already published, resolved against ONE listing of the live
    * partition. Staged partitions are named `pk=<n>` (both trees ride
    * one staged write); the rename maps them to the live `cid=<n>` /
    * `b=<n>` names. */
  private def publishTxn(fs: FileSystem, txnP: Path,
      store: String): Unit = {
    val manifest = readManifest(fs, new Path(txnP, "_manifest"))
    Seq(("lists", "cid", new Path(listsPath(store))),
        ("ledger", "b", new Path(ledgerPath(store))),
        ("tomb", "b", new Path(tombstonesPath(store))))
      // a tree this transaction never touched (the usual case for
      // `tomb`) is skipped outright — no empty live dir appears
      .filter { case (sub, _, _) =>
        manifest.exists(_._2 == sub) ||
          fs.exists(new Path(txnP, s"data/tree=$sub"))
      }.foreach {
      case (sub, livePrefix, liveRoot) =>
        val stagedSub = new Path(txnP, s"data/tree=$sub")
        fs.mkdirs(liveRoot)
        manifest.filter(_._2 == sub).foreach { case (action, _, part) =>
          val stagedDir = new Path(stagedSub,
            "pk=" + part.substring(part.indexOf('=') + 1))
          val liveDir = new Path(liveRoot, part)
          val trashDir = new Path(txnP, s"_trash/$sub/$part")
          action match {
            case "swap" =>
              // staged dir already gone ⇒ this swap was published by
              // a crashed attempt — nothing to do
              if (fs.exists(stagedDir)) {
                if (fs.exists(liveDir)) {
                  fs.mkdirs(trashDir.getParent)
                  require(fs.rename(liveDir, trashDir),
                    s"txn publish rename failed: $liveDir -> $trashDir")
                }
                require(fs.rename(stagedDir, liveDir),
                  s"txn publish rename failed: $stagedDir -> $liveDir")
              }
            case "drop" =>
              if (fs.exists(liveDir)) {
                fs.mkdirs(trashDir.getParent)
                require(fs.rename(liveDir, trashDir),
                  s"txn publish rename failed: $liveDir -> $trashDir")
              }
            case other => throw new IllegalStateException(
              s"corrupt txn manifest action: '$other'")
          }
        }
        if (fs.exists(stagedSub)) {
          fs.listStatus(stagedSub).filter(_.isDirectory).foreach { pd =>
            val liveName =
              livePrefix + "=" + pd.getPath.getName.stripPrefix("pk=")
            val liveDir = new Path(liveRoot, liveName)
            if (!fs.exists(liveDir)) {
              require(fs.rename(pd.getPath, liveDir),
                s"txn publish rename failed: ${pd.getPath} -> $liveDir")
            } else {
              val have = fs.listStatus(liveDir)
                .map(_.getPath.getName).toSet
              fs.listStatus(pd.getPath)
                .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
                .foreach { f =>
                  if (!have(f.getPath.getName))
                    require(fs.rename(f.getPath,
                      new Path(liveDir, f.getPath.getName)),
                      s"txn publish rename failed: ${f.getPath}")
                }
            }
          }
        }
    }
  }

  /** Finish whatever a crashed maintenance call left behind: a marked
    * transaction publishes forward (idempotent), an unmarked one never
    * touched the live trees and discards wholesale. */
  private def recover(spark: SparkSession, storeDir: String): Unit = {
    checkFormat(spark, storeDir)
    val (fs, txnP) = fsOf(spark, txnPath(storeDir))
    if (fs.exists(txnP)) {
      if (fs.exists(new Path(txnP, "_ok")))
        publishTxn(fs, txnP, storeDir)
      fs.delete(txnP, true)
    }
  }

  /** Small-file COMPACTION — the housekeeping a long-lived store needs
    * at 100 TB: every maintenance transaction appends one file per
    * touched partition, so hot lists and ledger buckets fragment into
    * many small files over months of deltas. compact() rewrites every
    * partition (in BOTH trees) holding more than `maxFiles` data files
    * back to its minimal count, through the SAME staged transaction as
    * maintenance (manifest swaps + `_ok` marker) — content-identical,
    * crash-safe, and scoped to the FRAGMENTED partitions only, never
    * the index (discovery is pure directory listing, no data I/O).
    * Returns (list partitions, ledger buckets) rewritten. */
  def compact(spark: SparkSession, storeDir: String,
      maxFiles: Int = 4): (Int, Int) = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    recover(spark, storeDir)
    val (fs, _) = fsOf(spark, storeDir)
    def fragmented(root: String, prefix: String): Seq[String] = {
      val rp = new Path(root)
      if (!fs.exists(rp)) Nil
      else fs.listStatus(rp).toSeq.filter(d =>
          d.isDirectory && d.getPath.getName.startsWith(prefix + "="))
        .filter(d => fs.listStatus(d.getPath).count(f =>
          f.isFile && !f.getPath.getName.startsWith("_")) > maxFiles)
        .map(_.getPath.getName.stripPrefix(prefix + "="))
    }
    val cids = fragmented(listsPath(storeDir), "cid").map(_.toLong).sorted
    val buckets = fragmented(ledgerPath(storeDir), "b").map(_.toInt).sorted
    if (cids.isEmpty && buckets.isEmpty) return (0, 0)
    // same half-reclaimed tolerance as the maintenance merge: under
    // the ADC-only marker the rewrite never re-emits `v`, even if a
    // crashed dropRawVectors left dead bytes in the fragmented files
    val lists0 = spark.read.parquet(listsPath(storeDir))
    val lists = if (isAdcOnly(spark, storeDir)) lists0.drop("v") else lists0
    val listsOut = listsProjection(
      if (cids.isEmpty) lists.filter(lit(false)) // schema-only: no swaps
      else lists.filter(col("cid").isin(cids: _*)))
    val ledgerOut =
      (if (buckets.isEmpty)
         ledgerFor(spark, storeDir, Seq(-1)) // never-matching: schema-only
       else ledgerFor(spark, storeDir, buckets))
        .select(col("vec_id"), col("cid"), col("b"))
    commitTxn(spark, storeDir, listsOut, ledgerOut,
      replaceCids = cids, replaceBuckets = buckets, coalesce = false)
    (cids.size, buckets.size)
  }

  /** ONE-WAY migration of a PQ store to the ADC-ONLY layout: stamp
    * [[AdcOnlyMarker]] (the semantic switch — every raw-vector read
    * path refuses from this point and maintenance stops writing `v`),
    * then rewrite every list partition without the raw column through
    * the SAME staged transaction as maintenance (the space reclaim).
    * Marker-first is the crash order that can never lie: a crash
    * after the stamp leaves some partitions still carrying dead `v`
    * bytes — never read, reclaimed by a re-run — while the reverse
    * order could leave raw-less files behind a store that still
    * promises reranks (a rerank over silently-null vectors). Storage
    * arithmetic: a dim-64 float64 vector is 512 B/row; [[PqSegments]]
    * code longs are 32 B raw and ~4 B parquet-encoded — the 8x-plus
    * footprint reduction the PQ layout exists for. Returns the number
    * of list partitions rewritten. Irreversible: restoring raw
    * vectors is an init from the source corpus. */
  def dropRawVectors(spark: SparkSession, storeDir: String): Int = {
    recover(spark, storeDir)
    require(booksOf(spark, storeDir).isDefined,
      s"$storeDir is not a PQ store (no pqbooks): an ADC-only store " +
        "serves searches from codes alone — init(pq = true) first")
    val (fs, sp) = fsOf(spark, storeDir)
    try fs.create(new Path(sp, AdcOnlyMarker), false).close()
    catch { case _: java.io.IOException => () } // re-run: reclaim only
    val lp = new Path(listsPath(storeDir))
    val cids =
      if (!fs.exists(lp)) Nil
      else fs.listStatus(lp).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("cid="))
        .map(_.getPath.getName.stripPrefix("cid=").toLong).sorted
    if (cids.isEmpty) return 0
    val listsOut = listsProjection(
      spark.read.parquet(listsPath(storeDir)).drop("v"))
    val ledgerOut = ledgerFor(spark, storeDir, Seq(-1)) // schema-only
      .select(col("vec_id"), col("cid"), col("b"))
    commitTxn(spark, storeDir, listsOut, ledgerOut,
      replaceCids = cids, replaceBuckets = Nil, coalesce = false)
    cids.size
  }

  /** Filtered vector search — top-k WITHIN an allowlist of ids (the
    * production "vector search + metadata predicate" shape: the caller
    * derives `allowed` (vec_id) from any predicate over its metadata
    * tables). Probing and partition pruning are [[topK]]'s exactly;
    * the allowlist semi-join restricts CANDIDATES before ranking, so
    * each query's top-k is computed over the permitted ids only —
    * ranks are dense within the filtered set, not holes in the
    * unfiltered ranking. The allowlist joins on the probed candidates
    * (|probed lists| rows, never the index); AQE broadcasts a small
    * one and shuffles a huge one. */
  def topKAmong(queries: DataFrame, storeDir: String, k: Int,
      allowed: DataFrame,
      nProbe: Int = Similarity.IvfProbes): DataFrame =
    topKImpl(queries, storeDir, k, nProbe,
      restrict = l => l.join(allowed.select("vec_id"),
        Seq("vec_id"), "left_semi"))

  /** Carry the takedown armor to a rebuilt store: the source's
    * tombstoned ids re-bucket at the destination's ledger bucket
    * count and land under its tombstones tree. Runs while the
    * destination is still unpublished (no reader resolves it until
    * the caller's cutover), so the plain write needs no staging —
    * a crashed rebuild's destination is discarded wholesale. */
  private def carryTombstones(spark: SparkSession, src: String,
      dest: String, destBuckets: Int): Unit =
    tombstonedFor(spark, src, None).foreach { t =>
      t.select(col("vec_id"),
          bucketOf(col("vec_id"), destBuckets).as("b"))
        .distinct()
        .write.mode("overwrite").partitionBy("b")
        .parquet(tombstonesPath(dest))
    }

  /** REBUILD — the one operation IVF cannot do incrementally, made
    * explicit: re-train the quantizer over the store's CURRENT
    * vectors (init's deterministic lowest-vec_id rule) and re-assign
    * every list into a fresh store at `destDir`. Rebuild is O(index)
    * by definition (that is WHY the quantizer stays fixed between
    * rebuilds); it runs as init into an empty destination, so it
    * inherits init's transactional publish wholesale. The destination
    * is a NEW directory, never an in-place swap — the MVCC discipline
    * the engine uses everywhere (VersionedTable versions,
    * MvMaintainJob.serve): readers keep the old store until the
    * caller's pointer cutover, and a failed rebuild leaves nothing to
    * repair. The `_applied_v` CDC chain markers carry over (content is
    * unchanged by a rebuild, so the rebuilt store resumes the SAME
    * feed position under [[graft.streaming.AnnMaintainJob]]). */
  def rebuild(spark: SparkSession, storeDir: String, destDir: String,
      nCentroids: Option[Int] = None,
      ledgerBuckets: Int = DefaultLedgerBuckets): AppendResult = {
    requireRaw(spark, storeDir,
      "rebuild (re-trains and re-assigns over the stored raw vectors)")
    recover(spark, storeDir)
    val (fs, destP) = fsOf(spark, destDir)
    require(!fs.exists(destP),
      s"rebuild destination already exists: $destDir — rebuilds land " +
        "in fresh directories (MVCC cutover), never over a live store")
    val current = spark.read.parquet(listsPath(storeDir))
      .select(col("vec_id"), col("v").as("embedding"))
    // a PQ store rebuilds as a PQ store WITH ITS OWN GEOMETRY: the
    // codebooks re-train over the current content alongside the
    // quantizer (code drift against init-time books is erased by the
    // same cutover) at the geometry the SOURCE was initialized with
    // (the `_pq_*` marker — trained-k, not the lossy observed
    // codebook size) — a non-default-geometry store never silently
    // reverts to the defaults across a rebuild. Pre-marker stores
    // fall back to books-derived segments + default codes/iters.
    val srcBooks = booksOf(spark, storeDir)
    val geom = pqGeometryOf(spark, storeDir)
    // the coarse k carries like the PQ geometry does (`_ivf_k` —
    // trained-k, falling back to the observed centroid count for
    // pre-marker stores): a non-default quantizer size never silently
    // reverts to the session default across a rebuild
    val r = init(current, destDir,
      carryNCentroids(spark, storeDir, nCentroids), ledgerBuckets,
      pq = srcBooks.isDefined,
      pqSegments = geom.map(_._1)
        .orElse(srcBooks.map(_.size)).getOrElse(PqSegments),
      pqCodes = geom.map(_._2).getOrElse(PqCodes),
      pqIters = geom.map(_._3).getOrElse(PqIters))
    val (sfs, storeP) = fsOf(spark, storeDir)
    sfs.listStatus(storeP)
      .filter(f => f.isFile && f.getPath.getName.startsWith("_applied_v"))
      .foreach { m =>
        val out = fs.create(new Path(destP, m.getPath.getName), false)
        out.close()
      }
    // takedown armor survives the rebuild: taken-down ids stay down
    // in the re-trained store under any later replay or re-insert
    carryTombstones(spark, storeDir, destDir, ledgerBuckets)
    r
  }

  // ------------------------------------------------------------------
  // Serve-latest pointer — rebuild composed into the standing
  // lifecycle. A store ROOT holds generation directories `gen=<g>`
  // (each a complete store) and `_serve_<g>` marker files; the highest
  // marker is the served generation (MvMaintainJob.serve's discipline
  // for ANN: readers and the standing drain resolve the pointer, a
  // rebuild lands in gen+1 and CUTS OVER by creating the next marker —
  // one atomic create, so there is no moment with no served store and
  // no torn one). The `_applied_v` chain markers carry through rebuild,
  // so the drain resumes the SAME feed position against the new
  // generation: drain → rebuild → cutover → keep draining needs no
  // coordination beyond the pointer.
  // ------------------------------------------------------------------

  private def genDir(root: String, g: Long) = s"$root/gen=$g"
  private val ServeRe = "_serve_(\\d+)".r

  /** The served generation: the highest `_serve_<g>` marker, if any. */
  def servedGen(spark: SparkSession, root: String): Option[Long] = {
    val (fs, rp) = fsOf(spark, root)
    if (!fs.exists(rp)) None
    else fs.listStatus(rp).toSeq.flatMap { f =>
      f.getPath.getName match {
        case ServeRe(g) if f.isFile => Some(g.toLong)
        case _                      => None
      }
    }.maxOption
  }

  /** The served store directory under `root`; fails if [[initServed]]
    * never ran. */
  def servedStore(spark: SparkSession, root: String): String =
    genDir(root, servedGen(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root has no served ANN store generation — run initServed")))

  /** Initialize generation 0 under `root` and publish the pointer.
    * The full [[init]] layout surface rides through — `keepRaw = false`
    * starts a served ADC-ONLY store, `pqSegments`/`pqCodes`/`pqIters`
    * a non-default geometry — because the serve-latest root is exactly
    * the deployment that wants the codes-only footprint (the 100 TB
    * serving corpus); [[rebuildServedFromSource]] is its rotation
    * path. */
  def initServed(batch: DataFrame, root: String,
      nCentroids: Int = Similarity.IvfCentroids,
      ledgerBuckets: Int = DefaultLedgerBuckets,
      pq: Boolean = false,
      keepRaw: Boolean = true,
      pqSegments: Int = PqSegments,
      pqCodes: Int = PqCodes,
      pqIters: Int = PqIters): AppendResult = {
    val spark = batch.sparkSession
    require(servedGen(spark, root).isEmpty,
      s"$root already serves a generation — rebuildServed rotates it")
    val r = init(batch, genDir(root, 0), nCentroids, ledgerBuckets, pq,
      keepRaw, pqSegments, pqCodes, pqIters)
    val (fs, rp) = fsOf(spark, root)
    fs.create(new Path(rp, "_serve_0"), false).close()
    r
  }

  /** Rebuild the served generation into the next one and cut the
    * pointer over. A crashed earlier attempt (a gen+1 directory with
    * no marker — readers never saw it) is discarded and redone; the
    * marker create is the cutover, after which [[servedStore]] — and
    * therefore the next standing-drain batch and every new reader —
    * resolves to the re-trained store at the same applied-through feed
    * position. Returns the new generation number. */
  def rebuildServed(spark: SparkSession, root: String,
      nCentroids: Option[Int] = None,
      ledgerBuckets: Int = DefaultLedgerBuckets): Long = {
    val g = servedGen(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root has no served ANN store generation — run initServed"))
    val (fs, rp) = fsOf(spark, root)
    val destG = g + 1
    val dest = genDir(root, destG)
    val (dfs, dp) = fsOf(spark, dest)
    if (dfs.exists(dp)) dfs.delete(dp, true) // unmarked ⇒ crashed attempt
    rebuild(spark, genDir(root, g), dest, nCentroids, ledgerBuckets)
    fs.create(new Path(rp, s"_serve_$destG"), false).close() // cutover
    destG
  }

  private val AppliedVRe = "_applied_v(\\d+)".r

  /** The store's applied-through CDC position — the max `_applied_v`
    * chain marker ([[graft.streaming.AnnMaintainJob]]'s discipline) —
    * if the store has ever drained a feed. */
  def appliedPosition(spark: SparkSession, store: String): Option[Long] = {
    val (fs, sp) = fsOf(spark, store)
    if (!fs.exists(sp)) None
    else fs.listStatus(sp).toSeq.flatMap { f =>
      f.getPath.getName match {
        case AppliedVRe(v) if f.isFile => Some(v.toLong)
        case _                         => None
      }
    }.maxOption
  }

  /** [[rebuildServed]] for the layouts a stored-vector rebuild cannot
    * host: an ADC-ONLY generation keeps no raw vectors, and codes
    * genuinely cannot retrain a quantizer — but the CDC feed that
    * maintains the store is derived from a VERSIONED corpus, so the
    * source AT THE STORE'S `_applied_v` POSITION is exactly the
    * store's logical content, with the raw vectors the rebuild needs.
    * This reads that snapshot (`VersionedTable.readVersion(sourceRoot,
    * appliedPosition)`), re-inits generation g+1 from it — re-trained
    * quantizer and codebooks, the SAME layout as the served
    * generation: its ADC-only flag and its `_pq_*` trained-k geometry
    * both carry — copies the `_applied_v` chain markers (content
    * equals the corpus at that position, so the new generation resumes
    * the SAME feed slot), and cuts the pointer over. Works for raw
    * generations too (a from-source rebuild is valid there as well);
    * the position requirement is what scopes it: a store that never
    * drained a feed has no position to read the source at — use
    * [[rebuildServed]] (raw stores) or re-init a fresh root. Crash
    * discipline is [[rebuildServed]]'s: an unmarked g+1 is discarded
    * debris, the marker create is the cutover. Returns the new
    * generation number.
    *
    * The layout overrides make this THE geometry-migration moment:
    * every `None` carries the served generation's layout verbatim
    * (ADC-only flag, `_pq_*` trained-k geometry, `_ivf_k` quantizer
    * size), while an explicit value re-trains the new generation AT
    * THE OVERRIDE — a from-source re-init is exactly when 4x4 can
    * become 2x8 for a grown corpus, or a raw store can go ADC-only to
    * reclaim the 8x footprint, because the raw source vectors are in
    * hand either way. The new generation's markers re-stamp from the
    * resolved values ([[init]] stamps them), so a migrated layout is
    * the store's recorded layout from then on. A geometry override on
    * a non-PQ store ADDS the PQ layout; dropping the PQ layout is not
    * expressible (a codes-less ADC-only store has nothing to search,
    * and discarding trained codes from a raw store is an init into a
    * fresh root, not a rotation). */
  def rebuildServedFromSource(spark: SparkSession, root: String,
      sourceRoot: String,
      nCentroids: Option[Int] = None,
      ledgerBuckets: Int = DefaultLedgerBuckets,
      keepRaw: Option[Boolean] = None,
      pqSegments: Option[Int] = None,
      pqCodes: Option[Int] = None,
      pqIters: Option[Int] = None): Long = {
    val g = servedGen(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root has no served ANN store generation — run initServed"))
    val cur = genDir(root, g)
    recover(spark, cur)
    val pos = appliedPosition(spark, cur).getOrElse(
      throw new IllegalArgumentException(
        s"$cur has no _applied_v chain marker: " +
          "rebuildServedFromSource re-initializes from the versioned " +
          "corpus AT the store's applied-through position, and a store " +
          "that never drained a feed has none — use rebuildServed (raw " +
          "stores) or initServed into a fresh root"))
    val source = graft.sinks.VersionedTable
      .readVersion(spark, sourceRoot, pos)
      .select(col("vec_id"), col("embedding"))
    // the rebuild's whole premise is that the corpus at `pos` IS the
    // store's logical content (the CDC feed derives from the versioned
    // table, so they agree by construction) — verify it instead of
    // trusting it: a wrong sourceRoot, or a feed that was never
    // derived from this table, would otherwise rebuild a silently
    // WRONG index behind a healthy-looking cutover. Two ids-only
    // anti-join counts (ledger side is two longs per row), at rebuild
    // cadence — noise next to the re-train this call exists to do.
    // takedown armor: a tombstoned id legitimately sits in the source
    // (the takedown redacted the STORE, not the unredacted corpus), so
    // the verification treats it as expected-but-excluded, and the
    // rebuild must neither refuse over it nor re-admit it
    val tombstoned = tombstonedFor(spark, cur, None)
      .map(_.select(col("vec_id")))
    val srcIds = source.select(col("vec_id"))
    val storeIds = spark.read.parquet(ledgerPath(cur)).select(col("vec_id"))
    val missing = timed("rotate verify missing")(
      storeIds.join(srcIds, Seq("vec_id"), "left_anti").count())
    val extraRaw = srcIds.join(storeIds, Seq("vec_id"), "left_anti")
    val extra = timed("rotate verify extra")(tombstoned.fold(extraRaw)(t =>
      extraRaw.join(t, Seq("vec_id"), "left_anti")).count())
    require(missing == 0 && extra == 0,
      s"source snapshot $sourceRoot@v$pos disagrees with the served " +
        s"store's content ($missing store id(s) absent from the " +
        s"source, $extra source id(s) unknown to the store and not " +
        "tombstoned) — wrong sourceRoot, or the store's feed was not " +
        "derived from this table; refusing to rebuild a store that " +
        "would not match what it serves")
    // the id check alone cannot catch a wrong source whose id SPACE
    // coincides (same generator, different embeddings), so raw
    // generations also compare a deterministic content sample — the
    // lowest stored ids' vectors against the source's (exact: both
    // sides are the same parquet doubles when the source is right).
    // ADC-only generations keep no vectors to compare; for them the
    // check is id-level BY CONSTRUCTION and documented as such.
    if (!isAdcOnly(spark, cur)) {
      val sample = spark.read.parquet(listsPath(cur))
        .select(col("vec_id"), col("v"))
        .orderBy(col("vec_id")).limit(8)
      val diverged = sample.join(
          source.select(col("vec_id"),
            col("embedding").cast("array<double>").as("__sv")),
          Seq("vec_id"))
        .filter(col("v") =!= col("__sv")).count()
      require(diverged == 0,
        s"source snapshot $sourceRoot@v$pos carries the store's ids " +
          s"but $diverged sampled vector(s) differ from the stored " +
          "content — a coinciding id space over different embeddings; " +
          "refusing to rebuild a store that would not match what it " +
          "serves")
    }
    val destG = g + 1
    val dest = genDir(root, destG)
    val (dfs, dp) = fsOf(spark, dest)
    if (dfs.exists(dp)) dfs.delete(dp, true) // unmarked ⇒ crashed attempt
    val geom = pqGeometryOf(spark, cur)
    val srcBooks = booksOf(spark, cur)
    // every override defaults to the carry; an explicit value is the
    // migration (see the layout-override scaladoc above). keepRaw =
    // false forces the PQ layout through init's own invariant.
    val newKeepRaw = keepRaw.getOrElse(!isAdcOnly(spark, cur))
    val newPq = srcBooks.isDefined || !newKeepRaw ||
      pqSegments.isDefined || pqCodes.isDefined || pqIters.isDefined
    // the rebuild input is the REDACTED source: tombstoned ids are
    // excluded from the new generation's content AND its quantizer/
    // codebook training — this rotation is the erasure completion the
    // takedownVecs scaladoc promises (trained artifacts re-fit on a
    // corpus that no longer contains the taken-down vectors)
    val redacted = tombstoned.fold(source)(t =>
      source.join(t, Seq("vec_id"), "left_anti"))
    init(redacted, dest, carryNCentroids(spark, cur, nCentroids),
      ledgerBuckets,
      pq = newPq,
      keepRaw = newKeepRaw,
      pqSegments = pqSegments.orElse(geom.map(_._1))
        .orElse(srcBooks.map(_.size)).getOrElse(PqSegments),
      pqCodes = pqCodes.orElse(geom.map(_._2)).getOrElse(PqCodes),
      pqIters = pqIters.orElse(geom.map(_._3)).getOrElse(PqIters))
    val (cfs, cp) = fsOf(spark, cur)
    cfs.listStatus(cp)
      .filter(f => f.isFile && f.getPath.getName.startsWith("_applied_v"))
      .foreach { m =>
        dfs.create(new Path(dp, m.getPath.getName), false).close()
      }
    // the armor itself carries too: a re-insert arriving AFTER the
    // rotation must still be refused by the new generation
    carryTombstones(spark, cur, dest, ledgerBuckets)
    val (fs, rp) = fsOf(spark, root)
    fs.create(new Path(rp, s"_serve_$destG"), false).close() // cutover
    destG
  }

  /** Retention for the serve-latest root: keep the newest `keep`
    * SERVED generations (the current one always survives), delete
    * older generations' markers and directories —
    * [[graft.sinks.VersionedTable.vacuum]]'s discipline applied to
    * store generations, so a root that rebuilds monthly doesn't
    * accrete every store it ever served. Marker goes FIRST per
    * generation (a concurrent resolver never sees a marker whose
    * store is mid-delete; deleting OLD markers can never change the
    * max, so the served pointer is untouched). Generations ABOVE the
    * served one are left alone — an unmarked one is a possibly
    * in-flight rebuild, and [[rebuildServed]] discards its own debris.
    * Returns the removed generation numbers.
    *
    * Retention contract (the standard vacuum hazard,
    * [[graft.sinks.VersionedTable.vacuum]]'s discipline): deleting a
    * retired generation fails any IN-FLIGHT reader that resolved the
    * pointer before the cutover — marker-first ordering stops new
    * readers from resolving a doomed generation, but cannot protect
    * ones already inside it. So vacuum with `keep = 1` only after the
    * deployment's maximum query runtime has elapsed since the last
    * cutover, or run `keep >= 2` routinely so the previous generation
    * survives one full rebuild cycle of grace — `minRetiredAgeMs`
    * encodes the first discipline directly: a generation is only
    * deleted once its SUCCESSOR's serve marker (the moment it stopped
    * being current) is at least that old, so "vacuum after the
    * maximum query runtime" becomes a parameter instead of an
    * operator's calendar. */
  def vacuumGenerations(spark: SparkSession, root: String,
      keep: Int = 1, minRetiredAgeMs: Long = 0L): Seq[Long] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    require(minRetiredAgeMs >= 0,
      s"minRetiredAgeMs must be >= 0, got $minRetiredAgeMs")
    val served = servedGen(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root has no served ANN store generation — run initServed"))
    val (fs, rp) = fsOf(spark, root)
    val marked = fs.listStatus(rp).toSeq.flatMap { f =>
      f.getPath.getName match {
        case ServeRe(g) if f.isFile => Some(g.toLong)
        case _                      => None
      }
    }.filter(_ <= served).sorted
    // a retired generation's grace clock starts when its SUCCESSOR
    // took over (the successor marker's create time) — no reader can
    // have resolved it after that instant
    val now = System.currentTimeMillis()
    def retiredLongEnough(g: Long): Boolean =
      minRetiredAgeMs == 0L || {
        val idx = marked.indexOf(g)
        idx + 1 < marked.size && {
          val succ = new Path(rp, s"_serve_${marked(idx + 1)}")
          now - fs.getFileStatus(succ).getModificationTime >=
            minRetiredAgeMs
        }
      }
    val drop = marked.dropRight(keep).filter(retiredLongEnough)
    drop.foreach { g =>
      fs.delete(new Path(rp, s"_serve_$g"), false)
      fs.delete(new Path(genDir(root, g)), true)
    }
    drop
  }

  /** Top-k over the store for external queries (qid, embedding):
    * `nProbe` nearest lists per query, exact rescore inside them. The
    * probed cid set (≤ |queries| x nProbe distinct values, bounded by
    * the centroid count) is collected to the driver and pushed as an
    * IN-filter, so unprobed list PARTITIONS are statically pruned at the
    * scan — query cost is the probed lists, never the index. Self-hits
    * (qid == vec_id) are excluded, matching ivfTopK. */
  def topK(queries: DataFrame, storeDir: String, k: Int,
      nProbe: Int = Similarity.IvfProbes): DataFrame =
    topKImpl(queries, storeDir, k, nProbe, restrict = identity)

  /** Probe selection over the driver-sized quantizer: a narrow
    * sort-and-slice per query row (same (round, desc, lower-id)
    * ordering as the window form — struct order encodes it), not a
    * crossJoin + repartitioning window; oversized quantizers fall
    * back to the join form, like [[assign]]. Returns the checkpointed
    * (qid, qv, cid) probes and the distinct probed cid set (driver-
    * sized — bounded by the centroid count) for the scans' static
    * partition pruning. */
  private def probeSelection(queries: DataFrame,
      cents: Array[(Long, Seq[Double])],
      nProbe: Int): (DataFrame, Seq[Long]) = {
    val spark = queries.sparkSession
    val qv = queries
      .select(col("qid"), col("embedding").cast("array<double>").as("qv"))
    val probes = (if (cents.length <= InlineQuantizerMax) {
      qv.select(col("qid"), col("qv"),
          explode(slice(sort_array(centScores(col("qv"), cents),
            asc = false), 1, nProbe)).as("p"))
        .select(col("qid"), col("qv"), (-col("p.ncid")).as("cid"))
    } else {
      import spark.implicits._
      val centsDf = cents.toSeq.toDF("cent_id", "cv")
      val wProbe = Window.partitionBy(col("qid"))
        .orderBy(col("csim").desc, col("cent_id"))
      qv.crossJoin(broadcast(centsDf))
        .withColumn("csim",
          round(Similarity.cosine(col("qv"), col("cv")), 4))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= nProbe)
        .select(col("qid"), col("qv"), col("cent_id").as("cid"))
    }).localCheckpoint()
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    (probes, probedCids)
  }

  private def topKImpl(queries: DataFrame, storeDir: String, k: Int,
      nProbe: Int, restrict: DataFrame => DataFrame): DataFrame = {
    val spark = queries.sparkSession
    requireRaw(spark, storeDir, "exact search (topK/topKAmong)")
    val cents = centroidsOf(spark, storeDir)
    val (probes, probedCids) = probeSelection(queries, cents, nProbe)
    val lists = restrict(spark.read.parquet(listsPath(storeDir))
      .filter(col("cid").isin(probedCids: _*))) // static partition pruning
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("sim", round(Similarity.cosine(col("qv"), col("v")), 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("cid"), col("sim"))
  }

  /** Compressed search over a PQ store (IVFADC + exact re-ranking —
    * Jégou et al. 2011, the [[IvfPq.topKRerank]] math applied to the
    * MAINTAINED store): probing and partition pruning are [[topK]]'s
    * exactly; candidate scoring reads ONLY the (vec_id, pq) columns of
    * the probed partitions — the raw vector column never enters the
    * scan (columnar pruning IS the code/raw separation) — ranks by
    * exact-integer asymmetric distance against per-query lookup
    * tables, keeps a `shortlist` per query, and re-ranks the shortlist
    * alone with exact cosine over the raw vectors. At scale the hot
    * path's I/O is Segments longs per candidate; full vectors are paid
    * for shortlist·|queries| rows only. Output (qid, rank, cid, sim)
    * with sim the EXACT rounded cosine, ranks dense in 1..k. */
  def topKPq(queries: DataFrame, storeDir: String, k: Int,
      shortlist: Int, nProbe: Int = Similarity.IvfProbes): DataFrame =
    topKPqImpl(queries, storeDir, k, shortlist, nProbe,
      restrict = identity)

  /** [[topKPq]] within an allowlist of ids — the filtered-search form
    * over the COMPRESSED path: the allowlist semi-joins the probed
    * CANDIDATES before ADC ranking, so the shortlist, and therefore
    * the final ranks, are dense within the permitted set. */
  def topKPqAmong(queries: DataFrame, storeDir: String, k: Int,
      shortlist: Int, allowed: DataFrame,
      nProbe: Int = Similarity.IvfProbes): DataFrame =
    topKPqImpl(queries, storeDir, k, shortlist, nProbe,
      restrict = l => l.join(allowed.select("vec_id"),
        Seq("vec_id"), "left_semi"))

  /** Pure-ADC search over a PQ store — the rank is the integer
    * asymmetric distance itself, no exact re-rank, so NO scan in the
    * whole query reads the raw vector column (the ADC-only deployment
    * form: a store that drops `v` at the file level serves this
    * search unchanged). Trades the rerank's recall recovery for
    * codes-only I/O end to end. Output (qid, rank, cid, adc). */
  def topKPqAdc(queries: DataFrame, storeDir: String, k: Int,
      nProbe: Int = Similarity.IvfProbes): DataFrame =
    topKPqAdcImpl(queries, storeDir, k, nProbe, identity)

  /** [[topKPqAdc]] within an allowlist of ids — filtered search for
    * the ADC-ONLY deployment (the form a codes-only store was
    * otherwise locked out of: "vector search + metadata predicate"
    * with no raw vectors anywhere). The allowlist semi-joins the
    * probed CODED candidates before ranking, so ranks are dense
    * within the permitted set; like [[topKPqAdc]], no scan in the
    * whole query reads a raw vector column. */
  def topKPqAdcAmong(queries: DataFrame, storeDir: String, k: Int,
      allowed: DataFrame,
      nProbe: Int = Similarity.IvfProbes): DataFrame =
    topKPqAdcImpl(queries, storeDir, k, nProbe,
      l => l.join(allowed.select("vec_id"), Seq("vec_id"), "left_semi"))

  private def topKPqAdcImpl(queries: DataFrame, storeDir: String,
      k: Int, nProbe: Int,
      restrict: DataFrame => DataFrame): DataFrame = {
    val (scored, _) = pqScored(queries, storeDir, nProbe, restrict)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("cid"), col("adc"))
  }

  private def topKPqImpl(queries: DataFrame, storeDir: String, k: Int,
      shortlist: Int, nProbe: Int,
      restrict: DataFrame => DataFrame): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k = $k")
    val spark = queries.sparkSession
    requireRaw(spark, storeDir,
      "the exact rerank (topKPq/topKPqAmong)")
    val (scored, probedCids) = pqScored(queries, storeDir, nProbe, restrict)
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vec_id"))
    val short = scored
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("qid"), col("qv"), col("vec_id"))

    // exact re-rank of the shortlist alone: the raw-vector column is
    // read here and only here, for the probed partitions, joined to
    // the broadcast (query, candidate) shortlist
    val fulls = spark.read.parquet(listsPath(storeDir))
      .filter(col("cid").isin(probedCids: _*)) // static partition pruning
      .select(col("vec_id"), col("v"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    fulls.join(broadcast(short), Seq("vec_id"))
      .withColumn("sim", round(Similarity.cosine(col("qv"), col("v")), 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("cid"), col("sim"))
  }

  /** Shared ADC candidate scoring for the PQ search forms: probe,
    * per-(query, probed list) integer distance tables, codes-only
    * candidate scan (probed partitions, (vec_id, cid, pq) columns —
    * ReadSchema never includes the raw vector), explicit
    * code→table-position lookup. Returns the scored candidates
    * (qid, qv, vec_id, adc) and the probed cid set for downstream
    * partition pruning. */
  private def pqScored(queries: DataFrame, storeDir: String,
      nProbe: Int,
      restrict: DataFrame => DataFrame): (DataFrame, Seq[Long]) = {
    val spark = queries.sparkSession
    val cents = centroidsOf(spark, storeDir)
    val books = booksOf(spark, storeDir).getOrElse(
      throw new IllegalArgumentException(
        s"$storeDir is not a PQ store (no pqbooks) — init(pq = true) " +
          "or rebuild into a PQ layout, or use topK for exact search"))
    val segDim = books.head.head._2.size
    val (probes, probedCids) = probeSelection(queries, cents, nProbe)

    // per-(query, probed list) ADC tables: the query's residual
    // AGAINST THAT LIST's centroid; per segment an array of exact
    // integer distances to each codebook entry in books(s) order —
    // query-side-sized (|queries| x nProbe rows), broadcast below.
    // withResidual routes through the same inline/broadcast-join
    // quantizer split as the encode path, so an oversized quantizer
    // never inlines here either.
    val tabs = withResidual(probes, cents, "qv", "qr")
      .select(col("qid") +: col("qv") +: col("cid") +:
        books.indices.map { s =>
          val qseg = slice(col("qr"), s * segDim + 1, segDim)
          // codebook as ONE nested literal, the distance lambda once
          // (the r19 plan-cost discipline — entries stay in books(s)
          // order, so the table positions are unchanged)
          transform(typedLit(books(s).map(_._2)),
            arr => sqDistL(qseg, arr)).as(s"dt$s")
        }: _*)

    // candidate scoring: codes columns ONLY (ReadSchema excludes v),
    // probed partitions only; code -> table position maps explicitly
    // because a training cluster can empty and leave sparse cids
    val codes = restrict(spark.read.parquet(listsPath(storeDir))
      .filter(col("cid").isin(probedCids: _*)) // static partition pruning
      .select(col("vec_id"), col("cid"), col("pq")))
    // code -> table position via one map literal (try_element_at: a
    // code absent from the books — only a corrupt store could produce
    // one — yields null exactly like the old when-chain fallthrough,
    // instead of an ANSI missing-key error)
    def lookup(s: Int): Column =
      element_at(col(s"dt$s"), try_element_at(
        typedLit(books(s).zipWithIndex
          .map { case ((c, _), i) => (c, i + 1) }.toMap),
        element_at(col("pq"), s + 1)))
    val scored = codes.join(broadcast(tabs), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("adc", books.indices.map(lookup).reduce(_ + _))
      .select(col("qid"), col("qv"), col("vec_id"), col("adc"))
    (scored, probedCids)
  }
}
