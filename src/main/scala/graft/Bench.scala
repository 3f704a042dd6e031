package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. A single warmup
  * query first absorbs JVM/codegen/parquet-footer costs so per-query
  * numbers reflect steady-state plan execution. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // measurement aid (r19): SPARK_GRAFT_LOGLEVEL=INFO exposes
    // per-job DAGScheduler timings for decomposition runs; the
    // driver never sets it, so recorded benches stay WARN
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))

    // noop sink: forces FULL evaluation of every output column — count()
    // would let Catalyst prune projection work (a map-only query's
    // expressions would never execute and its timing would be fiction)
    def execute(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Per-query isolation: queries that localCheckpoint/cache would
    // otherwise pin blocks for the REST of the run — 60+ queries in one
    // JVM accumulate gigabytes of dead blocks, and the resulting memory
    // pressure lands on whichever query runs later (r01 saw a 6s query
    // report 40s this way). Dropping leftover state between queries makes
    // each timing reflect that query alone.
    def resetState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(
        _.unpersist(blocking = false))
    }

    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { execute(fn(spark, sfDir)); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9 // reset cost excluded
      resetState()
      if (ok) dt else -1.0
    }

    // warmup: absorb session/codegen/scan-init cost outside the timings —
    // one query per input family (lineitem, documents, embeddings), so
    // the first measured query on each table isn't charged its parquet
    // footer reads and shared codegen paths. NOTE (r17 adjudication,
    // BENCH_NOTES): the suite's alphabetically first query still
    // carries a query-SPECIFIC one-time JIT cost no family warmup can
    // absorb — a pages-family warmup entry (html_extract) was measured
    // and did NOT move anchor_text_index's first pass (11.8 vs 9.4 s,
    // noise), so the warmup list stays minimal; judge first-position
    // queries by their focused REPS min, never the full-run reading.
    Seq("q1_agg", "text_stats", "ann_topk_brute").foreach(n =>
      SparkEntry.queries.get(n).foreach(fn =>
        try execute(fn(spark, sfDir)) catch { case _: Throwable => () }))
    resetState()

    // optional local-iteration filter (the driver never sets it):
    // SPARK_GRAFT_ONLY=q1_agg,corpus_select
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val querySeq = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Interleaved repetition protocol (BENCH_NOTES r8): with
    // SPARK_GRAFT_REPS=k, the WHOLE list runs k passes in one session
    // and each query reports its min across passes. Passes separate a
    // query's reps by the length of a full pass, so a transient host
    // spike lands in at most one rep and the min differences ambient
    // drift out of round-over-round per-query deltas — the driver's
    // single-pass invocation (REPS unset) is unchanged.
    // clamp to >= 1 and survive junk values: REPS=0 would run zero
    // passes (every query -1.0, total meaningless) and a non-numeric
    // value would throw before any query runs
    val reps = math.max(1, sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(1))
    val passes = (1 to reps).map(_ =>
      querySeq.map { case (name, fn) => name -> runOne(name, fn) })
    def minOk(vs: Seq[Double]): Double = {
      val ok = vs.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    val results = querySeq.map(_._1).zipWithIndex.map { case (name, i) =>
      name -> minOk(passes.map(_(i)._2))
    }

    // The harness capturing this line keeps only the last 2000 chars of
    // output — the full 100+-query map (~3 KB) overflows that and the
    // line never parses (r01–r03 all recorded parsed:null). stdout
    // carries a headline subset spanning every operator family; the
    // complete per-query map goes to a FILE (not stderr: if the harness
    // merges streams, an unbuffered stderr write could interleave after
    // the final stdout line and corrupt the tail again).
    val headline = Vector(
      "q1_agg", "q3_join_topk", "q5_broadcast_dims", "q6_selective",
      "q_global_rank", "q_window_topk_per_group", "events_sessions",
      "asof_click_error", "minhash_lsh_dups", "simhash_dups",
      "ann_topk_ivf", "tfidf_top_terms", "text_stats", "detected_items",
      "price_parse", "q_salted_join")
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // a failed query (-1) is left out of the total, so the count of
    // failures rides the metric line and a failure is never silent
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (n, v) if v < 0 => n }
    val byName = results.toMap
    val head = headline.flatMap(n => byName.get(n).map(n -> _))
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/tmp/graft_bench_full.json")
    val passesJson =
      if (reps == 1) ""
      else s""","passes":[${passes.map(jsonMap).mkString(",")}]"""
    val fullLine =
      s"""{"metric":"total_all","value":${fmt(total)},"queries":${jsonMap(results)}$passesJson}
         |""".stripMargin.getBytes("UTF-8")
    // never let an artifact write kill the run AFTER the queries already
    // executed — the stdout metric line below is the round's record and
    // must print regardless
    def writeQuietly(path: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path), fullLine)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    writeQuietly(fullPath)
    // ALSO drop the full map in the repo working dir: /tmp dies with the
    // host, and round-over-round per-query diffs (what caught the r4
    // ngram regression) need the map to survive as a committed artifact.
    // Only a full-surface run may replace it: a SPARK_GRAFT_ONLY subset
    // would overwrite the committed map with a partial one
    if (only.isEmpty) writeQuietly("BENCH_FULL_latest.json")
    if (failed.nonEmpty)
      println(s"[bench] FAILED n=${failed.size} (left out of total): ${failed.mkString(",")}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jsonMap(head)},"n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
