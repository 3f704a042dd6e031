package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import graft.GraftSession
import graft.pipeline.IngestPipeline
import graft.sinks.KeyedUpsertSink

/** Times [[KeyedUpsertSink]]'s merge path the way `IngestJob` drives it:
  * per-flyer batches (the fixture's detected rows of one PDF, under a
  * round tag) upserted one after another into ONE growing store. Prints a
  * line per batch (keys, stored rows, upsert ms, store files and bytes),
  * then checks the store holds one row per key.
  *
  * Usage: runMain graft.tools.UpsertMergeProbe workDir rounds seedCopies
  * (`seedCopies` fixture copies are upserted in one batch first, to start
  * from a large store; `rounds` passes over the 42 flyers follow). To
  * compare bucket counts, run the same file at both commits. */
object UpsertMergeProbe {
  def main(args: Array[String]): Unit = {
    val Array(work, rounds, seedCopies) = args
    val spark = GraftSession.local("upsert-merge-probe", 4)
    spark.sparkContext.setLogLevel("ERROR")
    // the scalar row IngestJob stores
    val golden = IngestPipeline.runFixture(spark).drop("model2_detections")
    val rows = golden.collect().toSeq
    def tagged(rs: Seq[Row], tag: Int) = rs.map(r => Row.fromSeq(
      r.getString(0).replace("images/", f"images/r$tag%05d_") +: r.toSeq.tail))
    def frame(rs: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), golden.schema)
    val byFlyer = rows.groupBy(r => r.getString(0).split("/").last
      .replaceAll("_page_\\d+.*$", "")).toSeq.sortBy(_._1)
    println(s"NumBuckets=${KeyedUpsertSink.NumBuckets} keys=${rows.size} " +
      s"flyers=${byFlyer.size} keys per flyer: " +
      byFlyer.map(_._2.size).sorted.mkString(","))

    val store = s"$work/store"
    val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(store), true)
    def size(): (Int, Long) = {
      val it = fs.listFiles(new Path(store), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foldLeft((0, 0L)) { case ((n, b), s) => (n + 1, b + s.getLen) }
    }

    if (seedCopies.toInt > 0) KeyedUpsertSink.upsert(
      frame((0 until seedCopies.toInt).flatMap(c => tagged(rows, 90000 + c))),
      store, "image_id")
    var stored = seedCopies.toLong * rows.size
    println("batch round flyer keys stored_rows upsert_ms files bytes")
    for (r <- 0 until rounds.toInt; ((flyer, rs), i) <- byFlyer.zipWithIndex) {
      val batch = frame(tagged(rs, r))
      val t0 = System.nanoTime()
      KeyedUpsertSink.upsert(batch, store, "image_id")
      val ms = (System.nanoTime() - t0) / 1e6
      stored += rs.size
      val (files, bytes) = size()
      println(f"${r * byFlyer.size + i} $r $flyer ${rs.size} $stored $ms%.1f $files $bytes")
    }
    val got = KeyedUpsertSink.read(spark, store)
    val (n, keys) = (got.count(), got.select("image_id").distinct().count())
    println(s"stored rows $n, distinct keys $keys, expected $stored")
    spark.stop()
    if (n != stored || keys != stored) sys.exit(1)
  }
}
