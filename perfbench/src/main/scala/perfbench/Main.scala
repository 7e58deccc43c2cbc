package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run: generate inputs, warm the JVM up with untimed ops,
  * set up a session several times (each set-up ends with an untimed op),
  * settle the last session with untimed ops, then run ops in a closed loop
  * with one client for `--seconds`. Prints a context line, then the
  * result as the last line of stdout.
  */
object Main {
  /** `--workload a,b` runs each workload in turn in this JVM; `--train 1`
    * runs each with one set-up and one timed op and no other, enough to
    * load every class a run uses.
    */
  def main(argv: Array[String]): Unit = {
    val args = RunArgs.parse(argv)
    args.workload.split(',').foreach(w => runOne(args.copy(workload = w)))
  }

  private def runOne(run: RunArgs): Unit = {
    val w = Workload(run)
    val trace = new Trace(run.trace)
    val stats = new StageStats
    val ops = mutable.ArrayBuffer.empty[Op]
    var spark: SparkSession = null

    def runOp(phase: String, traced: Boolean): Op = {
      val k = ops.size
      val sc = spark.sparkContext
      val tag = s"op$k"
      if (traced) sc.addSparkListener(stats)
      sc.setLocalProperty(StageStats.TagKey, tag)
      val load0 = Proc.loadavg()
      val gc0 = Proc.gcSeconds()
      val cpu0 = Proc.processCpuSeconds()
      val (steal0, all0) = Proc.cpuJiffies()
      val t0 = System.nanoTime()
      val r =
        try trace.span(s"${w.name}.$phase", k)(w.op(spark, k, tag, trace))
        catch {
          case NonFatal(e) =>
            OpRun((System.nanoTime() - t0) / 1e9, 1, 1, errors = Seq(s"threw: $e"))
        }
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(stats)
      }
      sc.setLocalProperty(StageStats.TagKey, null)
      val (steal1, all1) = Proc.cpuJiffies()
      val op = Op(k, phase, traced, r.seconds, r.attempted, r.failed, load0, Proc.loadavg(),
        Proc.gcSeconds() - gc0, Proc.processCpuSeconds() - cpu0,
        Stats.ratio(steal1 - steal0, all1 - all0), r.detail, r.errors)
      // every op starts from a collected heap, so neither its time nor the
      // run's peak RSS depends on where earlier ops left the collector
      System.gc()
      op.errors.foreach(e => System.err.println(s"[perfbench] op $k ($phase): $e"))
      ops += op
      op
    }

    val genStart = System.nanoTime()
    spark = Harness.session(Harness.nproc, w.shufflePartitions, run.work)
    trace.span("generate", -1)(w.generate(spark))
    val generateS = (System.nanoTime() - genStart) / 1e9

    // untimed warm-up in the generating session: the JIT compiles the hot
    // paths here, so that set-ups and timed ops both run warm
    trace.span("warmup", -1) {
      w.open(spark)
      (1 to (if (run.train) 0 else w.warmOps)).foreach(_ => runOp("warmup", traced = false))
    }

    val setupS = (1 to (if (run.train) 1 else w.setupRounds)).map { r =>
      spark.stop()
      trace.span("setup", -1) {
        val t0 = System.nanoTime()
        spark = Harness.session(Harness.nproc, w.shufflePartitions, run.work)
        w.open(spark)
        runOp("setup", traced = false)
        (System.nanoTime() - t0) / 1e9
      }
    }

    // a fresh session's first ops run slower than later ones in the same
    // JVM; these settle it before timing
    (1 to (if (run.train) 0 else w.settleOps)).foreach(_ => runOp("settle", traced = false))

    // closed loop, one client; a traced run interleaves traced and untraced
    // ops as U T T U U T T U ..., so a drift in speed cancels between them
    val minOps = if (run.train) 1 else w.minTimedOps * (if (run.trace) 2 else 1)
    val start = System.nanoTime()
    val timed = mutable.ArrayBuffer.empty[Op]
    while (timed.size < minOps || (System.nanoTime() - start) / 1e9 < run.seconds)
      timed += runOp("timed", traced = run.trace && (timed.size + 1) % 4 >= 2)
    val peakRss = Proc.peakRssMb()

    def endToEnd(sel: Seq[Op]): Option[Metrics] =
      Option.when(sel.nonEmpty && sel.forall(_.detail.nonEmpty))(
        Metrics() + ("setup_s", Stats.median(setupS), "s") ++ w.endToEnd(sel) +
          ("peak_rss_mb", peakRss, "MB"))

    val untraced = timed.filterNot(_.traced).toSeq
    val traced = timed.filter(_.traced).toSeq
    val context = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> run.seed, "seconds" -> run.seconds,
      "trace" -> run.trace, "nproc" -> Harness.nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
      "commit" -> run.commit, "source_digest" -> run.sourceDigest,
      "generate_s" -> generateS, "setup_s" -> setupS
    ) ++ w.context

    var ownAttempted, ownFailed = 0
    Option.when(untraced.nonEmpty && untraced.forall(_.detail.nonEmpty)) {
      val qs = w.querySeconds(untraced)
      context("query_p50_s") = Stats.median(qs)
      context("query_p90_s") = Stats.quantile(qs, 0.9)
      context("queries_timed") = qs.size
    }
    val metrics: Option[Metrics] =
      if (!run.trace) endToEnd(untraced)
      else
        for (tm <- endToEnd(traced); um <- endToEnd(untraced)) yield {
          context("end_to_end_traced") = tm.entries.map { case (n, (v, _)) => n -> v }
          context("end_to_end_untraced") = um.entries.map { case (n, (v, _)) => n -> v }
          val kernel = Layers.probe(run.seed)
          val perOp = traced.map { o =>
            val t = StageTotals(stats.stagesUnder(s"op${o.k}"))
            Seq(stats.jobsUnder(s"op${o.k}").toDouble, t.rows.size.toDouble,
              stats.taskFailuresUnder(s"op${o.k}").toDouble,
              Stats.ratio(t.runS, o.seconds * Harness.nproc))
          }
          def med(i: Int) = Stats.median(perOp.map(_(i)))
          val layers = Layers.metrics(kernel) ++
            w.perLayer(traced, stats, kernel("engine.kernel").usPerDoc) +
            ("spark.jobs", med(0), "count") + ("spark.stages", med(1), "count") +
            ("spark.task_failures", perOp.map(_(2)).sum, "count") +
            ("spark.busy_share", med(3), "share") +
            ("trace.overhead_ratio", tm.entries("total_s")._1 / um.entries("total_s")._1, "ratio")
          spark.stop()
          spark = null
          // sessions of the workload's own (scaling, production path): one
          // checked unit, failed if any of their output checks fails
          ownAttempted = 1
          layers ++ (try w.ownSessions() catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] own sessions: $e")
              ownFailed = 1
              Metrics()
          })
        }
    if (spark != null) spark.stop()
    if (run.trace) trace.write(new File(run.work, s"trace/${w.name}-seed${run.seed}.jsonl"), stats.allStages)

    context("ops") = ops.map(o => Map("k" -> o.k, "phase" -> o.phase, "traced" -> o.traced,
      "seconds" -> o.seconds, "attempted" -> o.attempted, "failed" -> o.failed,
      "load_before" -> o.loadBefore, "load_after" -> o.loadAfter, "jvm_gc_s" -> o.gcS, "cpu_s" -> o.cpuS, "steal_share" -> o.stealShare,
      "detail" -> o.detail))
    println("perfbench-context " + Json.render(context))

    val failed = ops.map(_.failed).sum + ownFailed
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> (failed == 0 && metrics.nonEmpty),
      "attempted" -> (ops.map(_.attempted).sum + ownAttempted),
      "failed" -> failed,
      "metrics" -> metrics.fold(Map.empty[String, Any])(_.entries.map {
        case (n, (v, u)) => n -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      })
    )))
  }
}
