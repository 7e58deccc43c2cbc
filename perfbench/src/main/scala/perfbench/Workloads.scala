package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.engine.Pipeline

/** What one op reports. `attempted`/`failed` count checked units: the op
  * itself for extract, each query for corpus_ops.
  */
final case class Op(
    k: Int,
    phase: String,
    traced: Boolean,
    seconds: Double,
    attempted: Int,
    failed: Int,
    loadBefore: Double,
    loadAfter: Double,
    gcS: Double,
    cpuS: Double,
    stealShare: Double,
    detail: Map[String, Double] = Map.empty,
    errors: Seq[String] = Nil
)

/** The result of running an op's body: seconds, checked units, detail. */
final case class OpRun(seconds: Double, attempted: Int, failed: Int,
    detail: Map[String, Double] = Map.empty, errors: Seq[String] = Nil)

abstract class Workload(val run: RunArgs) {
  def name: String
  def shufflePartitions: Int = Harness.nproc
  def minTimedOps: Int = 3
  /** Untimed ops before the set-ups, until op times have settled. */
  def warmOps: Int
  def setupRounds: Int
  /** Untimed ops after the set-ups, in the session the timed ops use. */
  def settleOps: Int
  def context: Map[String, Any]

  /** Untimed input generation: the load generator, outside setup_s. */
  def generate(spark: SparkSession): Unit

  /** Per-session preparation, inside setup_s. */
  def open(spark: SparkSession): Unit = ()

  /** One op: the timed call(s) into the program, then its output check.
    * `tag` names the op's jobs for the stage listener.
    */
  def op(spark: SparkSession, k: Int, tag: String, trace: Trace): OpRun

  def endToEnd(ops: Seq[Op]): Metrics

  /** Seconds of each query the ops ran, for the context line's p50/p90. */
  def querySeconds(ops: Seq[Op]): Seq[Double]
  def perLayer(ops: Seq[Op], stats: StageStats, kernelUsPerDoc: Double): Metrics = Metrics()

  /** Layer figures that need sessions of their own (traced runs only). */
  def ownSessions(): Metrics = Metrics()

  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  protected def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val Names: Seq[String] = Seq("extract", "corpus_ops")

  def apply(run: RunArgs): Workload = run.workload match {
    case "extract" => new Extract(run)
    case "corpus_ops" => new CorpusOps(run)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** `Pipeline.extract(pages)` into a noop sink; the output check rides the
  * same pass as a `Dataset.observe` digest. Traced runs also profile the
  * production path over the same pages ([[ProductionPath]]) and the
  * local[1] / local[nproc] scaling, each in sessions of their own.
  */
final class Extract(run: RunArgs) extends Workload(run) {
  val name = "extract"
  val docs = 10000
  // op times settle after about ten ops from a cold JVM, and after two or
  // three in a fresh session of a warm one
  val warmOps = 5
  val setupRounds = 3
  val settleOps = 3
  private val pages = new Pages(run.work, run.seed, docs)
  private var golden: Digest = _
  private var input: DataFrame = _

  def context: Map[String, Any] = Map("docs" -> docs, "pages" -> pages.dir.getPath)

  def generate(spark: SparkSession): Unit = golden = pages.generate(spark)

  override def open(spark: SparkSession): Unit = input = pages.read(spark)

  def op(spark: SparkSession, k: Int, tag: String, trace: Trace): OpRun = {
    val obs = Observation(s"extract-$k")
    val cs = Digest.columns(col("url"), col("text")) :+ sum(col("kernelUs")).as("kernel_us")
    val out = Pipeline.extract(input).observe(obs, cs.head, cs.tail: _*)
    val (_, sec) = timed(trace.span("noop_write", k)(noop(out)))
    val m = obs.get
    val got = Digest.fromMap(m)
    val ok = got == golden
    OpRun(sec, 1, if (ok) 0 else 1, Map("kernel_us" -> m("kernel_us").asInstanceOf[Long].toDouble),
      if (ok) Nil else Seq(s"digest $got != golden $golden"))
  }

  def endToEnd(ops: Seq[Op]): Metrics = {
    val s = Stats.median(ops.map(_.seconds))
    Metrics() + ("docs_per_s", docs / s, "1/s") + ("total_s", s, "s")
  }

  def querySeconds(ops: Seq[Op]): Seq[Double] = ops.map(_.seconds)

  override def perLayer(ops: Seq[Op], stats: StageStats, kernelUsPerDoc: Double): Metrics = {
    val per = ops.map { o =>
      val t = StageTotals(stats.stagesUnder(s"op${o.k}"))
      val kernelUs = o.detail("kernel_us")
      (kernelUs / docs, (t.runS * 1e6 - kernelUs) / docs, Stats.ratio(t.gcS, t.runS),
        t.inputRecords.toDouble / docs)
    }
    Metrics() +
      ("engine.kernel_parallel_slowdown", Stats.median(per.map(_._1)) / kernelUsPerDoc, "ratio") +
      ("engine.encode_us_per_doc", Stats.median(per.map(_._2)), "us") +
      ("engine.extract_gc_share", Stats.median(per.map(_._3)), "share") +
      ("engine.scan_records_per_doc", Stats.median(per.map(_._4)), "ratio")
  }

  override def ownSessions(): Metrics = scaling() ++
    new ProductionPath(run.work, pages, golden).profile()

  /** Alternating local[1] / local[nproc] sessions over the same pages:
    * (throughput at nproc / throughput at 1) / nproc, median over pairs.
    */
  private def scaling(): Metrics = {
    val effs = (1 to Extract.ScalePairs).map { p =>
      val Seq(one, many) = Seq(1, Harness.nproc).map { cores =>
        val spark = Harness.session(cores, Harness.nproc, run.work)
        try {
          open(spark)
          val r = op(spark, -p, s"scale$p", new Trace(false))
          require(r.failed == 0, s"scaling op at local[$cores] failed its check")
          r.seconds
        } finally spark.stop()
      }
      one / many / Harness.nproc
    }
    Metrics() + ("extract.scale_eff_1_n", Stats.median(effs), "ratio")
  }
}

object Extract {
  val ScalePairs = 3
}

/** The production path, `Pipeline.runFrom` with the program's `Main`
  * defaults, into a fresh output directory; its check reads `decoded/` and
  * `lineage/` back. Profiled in traced runs only: at these defaults one op
  * costs seconds of fixed overhead and takes several ops to warm up, more
  * than the untraced runs can spend.
  */
final class ProductionPath(work: File, pages: Pages, golden: Digest) {
  val partitions = 32
  val salts = 8
  val tracedOps = 2
  private val docs = pages.n
  private val outDir = new File(work, "pipeline-out")

  /** One untimed warm-up op, then traced ops, in a session shaped like
    * `Main`'s (shuffle partitions = --partitions).
    */
  def profile(): Metrics = {
    val spark = Harness.session(Harness.nproc, partitions, work)
    try {
      val input = pages.read(spark)
      val sc = spark.sparkContext
      val stats = new StageStats
      op(spark, input)
      sc.addSparkListener(stats)
      val ops = (1 to tracedOps).map { i =>
        sc.setLocalProperty(StageStats.TagKey, s"pipeline$i")
        op(spark, input)
      }
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(stats)
      metrics(ops, i => stats.stagesUnder(s"pipeline$i"), i => stats.jobsUnder(s"pipeline$i"))
    } finally spark.stop()
  }

  private def op(spark: SparkSession, input: DataFrame): Map[String, Double] = {
    Files.deleteRecursively(outDir)
    val t0 = System.nanoTime()
    val n = Pipeline.runFrom(spark, input, outDir.getPath, partitions, salts, resume = false,
      buckets = Pipeline.DefaultBuckets)
    val sec = (System.nanoTime() - t0) / 1e9
    val got = Digest.of(spark.read.parquet(s"$outDir/decoded"))
    val lineageDocs = spark.read.parquet(s"$outDir/lineage")
      .agg(sum(col("nDocs"))).head().getLong(0)
    val files = Files.listRecursively(new File(outDir, "decoded"), ".parquet")
    require(n == docs, s"runFrom returned $n docs, expected $docs")
    require(got == golden, s"decoded digest $got != golden $golden")
    require(lineageDocs == docs, s"lineage nDocs sum $lineageDocs, expected $docs")
    val detail = Map("seconds" -> sec, "files" -> files.size.toDouble,
      "bytes" -> files.map(_.length).sum.toDouble)
    Files.deleteRecursively(outDir)
    detail
  }

  private def metrics(ops: Seq[Map[String, Double]], stages: Int => Seq[StageRow],
      jobs: Int => Int): Metrics = {
    val half = docs / 2
    val per = ops.zipWithIndex.map { case (o, i0) =>
      val all = stages(i0 + 1).sortBy(_.stageId)
      // both shuffles move one record a doc: the salt shuffle runs first,
      // the range shuffle of the bucketed write after it; the write stage
      // writes one record a doc
      val (salt, range) = all.filter(_.shuffleWriteRecords >= half).splitAt(1)
      val write = StageTotals(all.filter(_.outputRecords >= half))
      Seq(o("seconds"), StageTotals(salt).shuffleWriteBytes.toDouble / docs,
        StageTotals(range).shuffleWriteBytes.toDouble / docs,
        write.runS, Stats.ratio(write.cpuS, write.runS), o("files"),
        StageTotals(all).spillBytes.toDouble, jobs(i0 + 1).toDouble,
        all.size.toDouble, o("bytes") / docs)
    }
    def med(i: Int) = Stats.median(per.map(_(i)))
    Metrics() +
      ("engine.pipeline_docs_per_s", docs / med(0), "1/s") +
      ("engine.salt_shuffle_bytes_per_doc", med(1), "B") +
      ("engine.range_shuffle_bytes_per_doc", med(2), "B") +
      ("engine.write_task_s", med(3), "s") +
      ("engine.write_cpu_share", med(4), "share") +
      ("engine.files_written", med(5), "count") +
      ("engine.spill_bytes", med(6), "B") +
      ("engine.pipeline_jobs", med(7), "count") +
      ("engine.pipeline_stages", med(8), "count") +
      ("engine.stored_bytes_per_doc", med(9), "B")
  }
}

/** Registry queries that read only the TPC-H-style testdata tables, once per
  * op, in name order, each into a noop sink with an observed row count.
  */
final class CorpusOps(run: RunArgs) extends Workload(run) {
  val name = "corpus_ops"
  // the first pass reads about twice as slow as the fourth
  val warmOps = 1
  val setupRounds = 2
  val settleOps = 0
  private val dataDir = new File(CorpusOps.DataDir).getPath
  private val registry = SparkEntry.queries
  private val queries = CorpusOps.Queries.filter(registry.contains).sorted
  private val reference = scala.collection.mutable.Map.empty[String, Long]
  private var documents = 0L

  def context: Map[String, Any] = Map("data" -> dataDir, "queries" -> queries.size,
    "missing_from_registry" -> CorpusOps.Queries.filterNot(registry.contains),
    "documents" -> documents)

  def generate(spark: SparkSession): Unit = {
    require(new File(dataDir, "documents.parquet").exists(), s"no corpus tables at $dataDir")
    documents = spark.read.parquet(s"$dataDir/documents.parquet").count()
  }

  def op(spark: SparkSession, k: Int, tag: String, trace: Trace): OpRun = {
    val sc = spark.sparkContext
    val results = queries.map { q =>
      sc.setLocalProperty(StageStats.TagKey, s"$tag/$q")
      val obs = Observation(s"rows-$k")
      val t0 = System.nanoTime()
      val rows = scala.util.Try(trace.span(q, k) {
        noop(registry(q)(spark, dataDir).observe(obs, count(lit(1)).as("rows")))
        obs.get("rows").asInstanceOf[Long]
      })
      val sec = (System.nanoTime() - t0) / 1e9
      val error = rows.fold(e => Some(s"$q: $e"), r => reference.get(q) match {
        case Some(want) if want != r => Some(s"$q: $r rows, the warm pass had $want")
        case Some(_) => None
        case None => reference(q) = r; None
      })
      (q, sec, error)
    }
    sc.setLocalProperty(StageStats.TagKey, tag)
    val errors = results.flatMap(_._3)
    OpRun(results.map(_._2).sum, queries.size, errors.size,
      results.map { case (q, s, _) => s"q:$q" -> s }.toMap, errors)
  }

  /** Each query's median over the ops. */
  def querySeconds(ops: Seq[Op]): Seq[Double] =
    queries.map(q => Stats.median(ops.map(_.detail(s"q:$q"))))

  /** A pass with every query at its median, so a stall in one query of one
    * pass does not move the figure.
    */
  def endToEnd(ops: Seq[Op]): Metrics = {
    val total = querySeconds(ops).sum
    Metrics() + ("docs_per_s", documents / total, "1/s") + ("total_s", total, "s")
  }

  override def perLayer(ops: Seq[Op], stats: StageStats, kernelUsPerDoc: Double): Metrics =
    CorpusOps.Families.foldLeft(Metrics()) { case (m, (family, prefixes)) =>
      val qs = queries.filter(q => prefixes.contains(q.takeWhile(_.isLetter)))
      val per = ops.map { o =>
        val tags = qs.map(q => s"op${o.k}/$q")
        val t = StageTotals(tags.flatMap(stats.stagesUnder))
        val sec = qs.map(q => o.detail(s"q:$q")).sum
        Seq(sec, tags.map(stats.jobsUnder).sum.toDouble, t.shuffleWriteBytes.toDouble,
          Stats.ratio(t.runS, sec * Harness.nproc), Stats.ratio(t.gcS, t.runS))
      }
      def med(i: Int) = Stats.median(per.map(_(i)))
      m + (s"ops.$family.s", med(0), "s") + (s"ops.$family.jobs", med(1), "count") +
        (s"ops.$family.shuffle_bytes", med(2), "B") +
        (s"ops.$family.busy_share", med(3), "share") + (s"ops.$family.gc_share", med(4), "share")
    }
}

object CorpusOps {
  /** The testdata tables (seed 42, sf0.001), kept inside the benchmark. */
  val DataDir = "perfbench/data/sf0.001"

  /** Two registry queries per graft.ops family whose inputs are only the
    * tables under [[DataDir]]: one bound by scheduling overhead, one
    * heavier kernel. The queries that read the pages/golden/media cache,
    * which `graft.app.Corpus` writes at a fixed path outside the checkout,
    * are left out, and a full pass over the rest takes over a minute, more
    * than a run can spend.
    */
  val Queries: Seq[String] = Seq(
    "d1_dedup_exact", "d3_simhash",
    "s2_ann_brute", "s7_kmeans",
    "t1_langid", "t15_tfidf",
    "p2_sample", "p1_prep_funnel",
    "q1_agg", "q7_sessions"
  )

  /** graft.ops families, keyed by query-name prefix. */
  val Families: Seq[(String, Set[String])] = Seq(
    "dedup" -> Set("d"), "similarity" -> Set("s"), "text" -> Set("t", "f"),
    "linkgraph" -> Set("g"), "prep" -> Set("p"), "media" -> Set("m"), "eval" -> Set("e"),
    "relational" -> Set("q", "a"), "extraction" -> Set("x"))
}
