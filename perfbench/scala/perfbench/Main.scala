package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** JVM side of the benchmark: runs one workload as a closed loop with one
  * client and writes the raw record (set-up stamps, one entry per
  * operation, checks, and in the traced run spans and per-operation layer
  * figures) as JSON. `perfbench/run.py` turns that record into metrics.
  *
  * Usage: Main <workload> <inputDir> <workDir> <resultJson> <seconds>
  *             <trace 0|1> <seed> <cores>
  */
object Main {

  final case class OpRec(i: Int, t0: Double, t1: Double, ok: Boolean,
      items: Long, error: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, resultPath, secondsArg, traceArg,
      seedArg, coresArg) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val seconds = secondsArg.toDouble
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(new File(s"$inputDir/spec.json"))
    val spark = GraftSession.local("perfbench", coresArg.toInt)
    val tracer = new Tracer(traceArg == "1")
    val probe = if (tracer.enabled) Some(new EngineProbe(spark, tracer)) else None
    val stub =
      if (workload.startsWith("ingest_")) Some(new Stub(seedArg.toLong,
        spec.path("sizes").path("service_ms").asLong,
        spec.path("sizes").path("fail_permille").asInt, 16))
      else None
    val out = mapper.createObjectNode()
    val ops = ArrayBuffer.empty[OpRec]
    val layers = ArrayBuffer.empty[(Int, Map[String, Double])]
    var failedCheck: Option[String] = None
    var exitCode = 0
    try {
      val w = Workload(workload, new Ctx(spark, spec, inputDir, workDir,
        tracer, stub))
      val phases = out.putObject("phases")
      var mark = tracer.nowMs
      def phase(name: String): Unit = {
        val now = tracer.nowMs
        phases.put(name, (now - mark) / 1000.0)
        mark = now
      }
      phases.put("session", (mark - jvmStartMs) / 1000.0)
      w.prepare()
      phase("generate")
      w.setup()
      phase("setup")
      for (i <- 0 until w.warmupOps) {
        w.beforeOp(i); w.op(i); w.afterOp(i)
      }
      probe.foreach(_.drain())
      phase("warmup")
      out.put("setup_s", (mark - jvmStartMs) / 1000.0 - phases.get("generate").asDouble)

      // the window closes before an operation that would likely overrun
      // it (judged by the mean so far); at least one operation runs
      val start = System.nanoTime()
      def fits: Boolean = ops.isEmpty || {
        val mean = ops.map(o => o.t1 - o.t0).sum / ops.size
        (System.nanoTime() - start) / 1e9 + mean <= seconds
      }
      var i = w.warmupOps
      while (i < w.maxOps && fits) {
        w.beforeOp(i)
        stub.foreach(_.resetPeak())
        val s0 = stub.map(_.snapshot())
        tracer.op = i
        val t0 = System.nanoTime()
        val res = scala.util.Try(w.op(i))
        val t1 = System.nanoTime()
        probe.foreach(_.drain())
        ops += OpRec(i, t0 / 1e9, t1 / 1e9, res.isSuccess, res.getOrElse(0L),
          res.failed.map(e => String.valueOf(e)).getOrElse(""))
        res.failed.foreach(e => e.printStackTrace())
        if (res.isSuccess) {
          val engine = probe.map(_.opMetrics(i, (t1 - t0) / 1e9)).getOrElse(Map.empty)
          val enrich = (for (a <- s0; b <- stub.map(_.snapshot())) yield {
            val d = b.minus(a)
            Map("enrich.calls" -> d.calls.toDouble, "enrich.service_s" -> d.serviceS,
              "enrich.span_s" -> d.busyS,
              "enrich.mean_in_flight" -> (if (d.busyS > 0) d.serviceS / d.busyS else 0.0),
              "enrich.peak_in_flight" -> d.peakInFlight.toDouble,
              "enrich.retries" -> d.refused.toDouble,
              "stub.handle_ms_per_call" ->
                (if (d.calls > 0) d.handleS * 1000.0 / d.calls else 0.0),
              "stub.peak_busy_threads" -> d.peakInFlight.toDouble)
          }).getOrElse(Map.empty)
          val own = w.afterOp(i)
          val byName = tracer.ofOp(i).groupBy(_.name)
          val spans = byName.map { case (n, ss) =>
            n -> ss.map(s => (s.endMs - s.startMs) / 1000.0).sum
          }
          val jobsIn = probe.map(p => byName.map { case (n, ss) =>
            s"$n.jobs" -> p.jobsWithin(i, ss).size.toDouble
          }).getOrElse(Map.empty)
          layers += ((i, engine ++ enrich ++ own ++ spanMetrics(spans, jobsIn) +
            ("trace.op_s" -> (t1 - t0) / 1e9)))
        }
        // untimed follow-up work stays out of the next operation's figures
        probe.foreach(_.drain())
        tracer.op = -1
        i += 1
      }
      phase("measure")
      w.check(ops.last.i)
      phase("check")
    } catch {
      case e: CheckFailed =>
        failedCheck = Some(e.check)
        System.err.println(e.getMessage)
        exitCode = 3
      case e: Throwable =>
        e.printStackTrace()
        failedCheck = Some(s"$workload.run: $e")
        exitCode = 4
    } finally {
      probe.foreach(p => scala.util.Try { p.drain(); p.remove() })
      stub.foreach(_.stop())
      spark.stop()
    }
    out.put("workload", workload)
    out.put("rss_peak_kb", rssPeakKb)
    failedCheck.foreach(out.put("failed_check", _))
    val opsNode = out.putArray("ops")
    ops.foreach { o =>
      val n = opsNode.addObject()
      n.put("i", o.i); n.put("t0", o.t0); n.put("t1", o.t1); n.put("ok", o.ok)
      n.put("items", o.items); n.put("error", o.error)
    }
    val layersNode = out.putArray("layers")
    layers.foreach { case (i, m) =>
      val n = layersNode.addObject()
      n.put("op", i)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    }
    val spansNode = out.putArray("spans")
    tracer.all.foreach { s =>
      val n = spansNode.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("op", s.op)
      n.put("start", s.startMs / 1000.0); n.put("end", s.endMs / 1000.0)
      s.parent.foreach(n.put("parent", _))
    }
    Files.createDirectories(Paths.get(resultPath).getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(resultPath), out)
    System.exit(exitCode)
  }

  /** Span totals and job counts of one operation, under their metric
    * names. */
  private def spanMetrics(spans: Map[String, Double],
      jobs: Map[String, Double]): Map[String, Double] = {
    val named = Map(
      "pipeline.crops" -> "pipeline.crops_s",
      "pipeline.detected" -> "pipeline.detected_s",
      "text.correct" -> "text.correct_s",
      "price.parse" -> "price.parse_s",
      "sinks.upsert" -> "sinks.upsert_s",
      "validity.sweep" -> "validity.sweep_s",
      "validity.apply" -> "validity.apply_s",
      "validity.propagate" -> "validity.propagate_s",
      "notify.send" -> "notify.send_s",
      "alerts" -> "alerts.s",
      "dedup.write" -> "dedup.write_s",
      "dedup.read" -> "dedup.read_s",
      "ann.write" -> "ann.write_s",
      "ann.read" -> "ann.read_s")
    val counted = Map(
      "sinks.upsert.jobs" -> "sinks.upsert_jobs",
      "dedup.write.jobs" -> "dedup.write_jobs",
      "dedup.read.jobs" -> "dedup.read_jobs",
      "ann.write.jobs" -> "ann.write_jobs",
      "ann.read.jobs" -> "ann.read_jobs")
    spans.collect { case (n, s) if named.contains(n) => named(n) -> s } ++
      jobs.collect { case (n, j) if counted.contains(n) => counted(n) -> j }
  }

  /** Peak resident set of this JVM (VmHWM), in kB. */
  private def rssPeakKb: Long =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong
    }.getOrElse(0L)
}
