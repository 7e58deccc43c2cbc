package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.html.{HtmlParser, Lineizer}

/** The engine: Common-Crawl-style pages -> decoded documents, expressed as
  * typed Dataset stages over Catalyst (SURVEY.md §3.4).
  *
  * Scale posture (10^12 docs / 1000 executors):
  *  - the pipeline is map-only per document — the ONLY shuffle is the
  *    optional salted repartition up front; aggregations (lineage, metrics)
  *    ride partial+final hash aggregation;
  *  - `html` (the fat binary column) is pruned at scan time via an explicit
  *    select, and dropped from the output row immediately after lineize;
  *  - skewed hosts are handled by explicit salting: partition key is
  *    (host, xxhash64(url) % saltsPerHost), so one hot host spreads over
  *    `saltsPerHost` partitions while small hosts stay co-located;
  *  - writes are bucketed by a deterministic url hash: dynamic partition
  *    overwrite of a bucket is idempotent, so a resumed run redoes only
  *    unfinished buckets (anti-join against the lineage table);
  *  - nothing driver-side is O(docs).
  */
object Pipeline {

  final val DefaultBuckets = 256

  // Row encoders of the extract stages, derived once per JVM: deriving them
  // through `spark.implicits._` reflects over the case-class TypeTags on
  // every call, on the driver, before any task starts.
  private lazy val pageSlimEncoder: Encoder[PageSlim] = Encoders.product[PageSlim]
  private lazy val docOutEncoder: Encoder[DocOut] = Encoders.product[DocOut]
  private lazy val pageDigestEncoder: Encoder[(String, Array[Byte], String, Long)] =
    Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.STRING, Encoders.scalaLong)
  private lazy val docDigestEncoder: Encoder[(DocOut, Long)] =
    Encoders.tuple(docOutEncoder, Encoders.scalaLong)

  /** Cheap host extraction (no java.net.URI exceptions in the hot path). */
  def hostOf(url: String): String = {
    val schemeEnd = url.indexOf("://")
    val start = if (schemeEnd >= 0) schemeEnd + 3 else 0
    var end = start
    while (end < url.length && url.charAt(end) != '/' && url.charAt(end) != ':' &&
      url.charAt(end) != '?' && url.charAt(end) != '#') end += 1
    url.substring(start, end)
  }

  /** Deterministic bucket for resume/write idempotency. */
  def bucketOf(url: String, buckets: Int): Int = UrlBucket.of(url, buckets)

  /** The per-document classify+decode kernel (SURVEY.md §2 D9): html ->
    * lineize -> heuristic spots -> decode. Pure; shared with the oracle.
    */
  def extractDoc(url: String, html: Array[Byte], lang: String, buckets: Int): DocOut = {
    val t0 = System.nanoTime()
    // byte-level scan: the whole-page String conversion (~html-sized
    // allocation per doc) never happens on the hot path
    val ann = Lineizer.lineizeStreamBytes(html, url)
    val sample = DocBuilder.build(ann)
    val d = DocBuilder.decodeSampleFast(sample)
    DocOut.of(url, hostOf(url), lang, bucketOf(url, buckets), sample.nTokens,
      kernelUs = (System.nanoTime() - t0) / 1000L, d)
  }

  /** Read the pages table. Iceberg-format when a catalog table name is
    * given and the runtime is present; Parquet path otherwise (identical
    * downstream code — SURVEY.md §7.0).
    */
  def readPages(spark: SparkSession, pathOrTable: String): DataFrame =
    if (pathOrTable.contains("/")) spark.read.parquet(pathOrTable)
    else spark.read.table(pathOrTable)

  /** Salted repartition for skewed hosts. Key = (host, url-hash % salts):
    * hot hosts spread across `salts` partitions; the shuffle is the only
    * wide dependency in the whole pipeline.
    */
  def saltedByHost(pages: DataFrame, partitions: Int, salts: Int): DataFrame = {
    val withKeys = pages
      .withColumn("host", regexp_extract(col("url"), "^[a-z]+://([^/]+)/", 1))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(salts)))
    withKeys.repartition(partitions, col("host"), col("salt"))
      .drop("host", "salt")
  }

  /** Main extraction stage: prune to (url, html, lang) then run the typed
    * kernel over partitions. `html` never survives this stage.
    */
  def extract(pages: DataFrame, buckets: Int = DefaultBuckets): Dataset[DocOut] =
    pages
      .select(col("url"), col("html"), col("lang"))
      .as(pageSlimEncoder)
      .mapPartitions { it =>
        it.map(p => extractDoc(p.url, p.html, p.lang, buckets))
      }(docOutEncoder)

  /** [[extract]] plus an `html_x64` column — xxhash64 of the html bytes at
    * extract time, the change-detection key [[extractIncremental]] joins
    * on. The digest is computed in the same codegen projection that feeds
    * the kernel (no second pass over the fat binary column) and rides
    * through `mapPartitions` beside the decoded row, so the output is
    * itself a valid `prev` for the next increment.
    */
  def extractWithDigest(pages: DataFrame, buckets: Int = DefaultBuckets): DataFrame =
    pages
      .select(col("url"), col("html"), col("lang"),
        xxhash64(col("html")).as("html_x64"))
      .as(pageDigestEncoder)
      .mapPartitions { it =>
        it.map { case (u, h, l, x) => (extractDoc(u, h, l, buckets), x) }
      }(docDigestEncoder)
      .select(col("_1.*"), col("_2").as("html_x64"))

  /** Digest-level incremental re-extraction — the fine-grained resume the
    * bucket-level lineage gate (SURVEY A8) cannot give: when a new crawl
    * snapshot arrives, only pages whose html CHANGED (or are new) pay the
    * extraction kernel; unchanged pages reuse the prior run's decoded
    * rows verbatim. `prev` is a prior [[extractWithDigest]] output.
    *
    * Semantics mirror the current crawl exactly: deleted urls drop (their
    * prev rows fail the semi-join), changed urls re-extract (digest
    * mismatch routes them to the anti-join side AND drops the stale prev
    * row), new urls extract. So the result equals a full [[extract]] over
    * `pages` — the property the oracle pins — while the kernel leg's cost
    * is proportional to the CHANGE RATE, not the corpus: at 10^12 docs a
    * 1% drift re-parses 10^10 pages, not 10^12. The price is one url+digest
    * equi-join between crawl and prev: the prev side ships only
    * (url, digest), but the crawl side carries html through the anti-join
    * shuffle — the same wide-dependency class as [[saltedByHost]]'s salt
    * repartition, i.e. one corpus-wide shuffle, not a new cost tier. On a
    * real deployment both tables are bucket-partitioned by url
    * ([[writeDecoded]]'s layout), so a storage-partitioned (bucketed) join
    * co-locates the sides and removes even that shuffle. AQE splits
    * hot-url skew either way.
    */
  def extractIncremental(pages: DataFrame, prev: DataFrame,
      buckets: Int = DefaultBuckets): DataFrame = {
    val cur = pages.select(col("url"), col("html"), col("lang"),
      xxhash64(col("html")).as("html_x64"))
    val prevKeys = prev.select(col("url"), col("html_x64"))
    val todo = cur.join(prevKeys, Seq("url", "html_x64"), "left_anti")
    val reuse = prev.join(cur.select(col("url"), col("html_x64")),
      Seq("url", "html_x64"), "left_semi")
    reuse.unionByName(extractWithDigest(todo, buckets))
  }

  /** Per-bucket lineage aggregation (map-side partial agg -> tiny result).
    * `wallMs` sums the per-doc kernel micros measured inside extractDoc —
    * the per-task cost side-output of SURVEY.md §4.2, and the signal a
    * scheduler needs to spot pathological buckets.
    */
  def lineage(decoded: Dataset[DocOut]): Dataset[LineageRow] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("nDocs"),
        sum(col("nTokens")).as("nTokens"),
        sum(col("nKv")).as("nKv"),
        (sum(col("kernelUs")) / 1000L).cast("long").as("wallMs")
      )
      .withColumn("status", lit("done"))
      .as[LineageRow]
  }

  /** Range-partitioned, bucket-directory write (Iceberg-style layout;
    * dynamic overwrite per bucket is idempotent).
    */
  def writeDecoded(decoded: Dataset[DocOut], outDir: String): Unit =
    decoded
      .repartitionByRange(col("bucket"), col("url"))
      .sortWithinPartitions(col("bucket"), col("url"))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$outDir/decoded")

  def writeLineage(decoded: Dataset[DocOut], outDir: String): Unit =
    lineage(decoded).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/lineage")

  /** Resume: drop pages whose bucket is already marked done in the lineage
    * table (left anti join — broadcast, the lineage side is tiny).
    */
  def resumeFilter(spark: SparkSession, pages: DataFrame, outDir: String, buckets: Int = DefaultBuckets): DataFrame = {
    val lineagePath = s"$outDir/lineage"
    val fs = new java.io.File(lineagePath.stripPrefix("file:"))
    if (!fs.exists()) pages
    else {
      val done = spark.read.parquet(lineagePath)
        .filter(col("status") === "done")
        .select(col("bucket"))
      // native codegen'd expression, NOT a Scala udf: resume re-scans the
      // full input at 10^12-doc scale and must stay in whole-stage codegen
      pages
        .withColumn("bucket",
          graft.functions.GraftFunctions.bucketExpr("url", buckets))
        .join(broadcast(done), Seq("bucket"), "left_anti")
        .drop("bucket")
    }
  }

  /** Full run: read -> (resume) -> salt -> extract -> write + lineage. */
  def run(
      spark: SparkSession,
      inputPath: String,
      outDir: String,
      partitions: Int,
      salts: Int = 8,
      resume: Boolean = false,
      buckets: Int = DefaultBuckets
  ): Long =
    runFrom(spark, readPages(spark, inputPath), outDir, partitions, salts, resume, buckets)

  /** Full run over an already-constructed pages frame. */
  def runFrom(
      spark: SparkSession,
      pages0: DataFrame,
      outDir: String,
      partitions: Int,
      salts: Int = 8,
      resume: Boolean = false,
      buckets: Int = DefaultBuckets
  ): Long = {
    val pages1 = if (resume) resumeFilter(spark, pages0, outDir, buckets) else pages0
    val pages = saltedByHost(pages1, partitions, salts)
    val decoded = extract(pages, buckets).persist()
    try {
      writeDecoded(decoded, outDir)
      writeLineage(decoded, outDir)
      decoded.count()
    } finally decoded.unpersist()
  }
}
