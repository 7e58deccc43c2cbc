package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.DocBuilder
import graft.synth.CorpusGen

/** Order-independent digest of (url, text) rows: row count, xor and
  * 32-bit-lane sum of xxhash64(url, text). Equal digests mean equal
  * per-url text up to hash collisions.
  */
final case class Digest(rows: Long, xor: Long, sum: Long)

object Digest {
  def columns(url: Column, text: Column): Seq[Column] = {
    val h = xxhash64(url, text)
    Seq(count(lit(1)).as("rows"), bit_xor(h).as("xor"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("sum"))
  }

  def fromMap(m: Map[String, Any]): Digest =
    Digest(m("rows").asInstanceOf[Long], m("xor").asInstanceOf[Long],
      Option(m("sum")).fold(0L)(_.asInstanceOf[Long]))

  def of(df: DataFrame, url: String = "url", text: String = "text"): Digest = {
    val cs = columns(col(url), col(text))
    val r: Row = df.agg(cs.head, cs.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

/** The extraction workloads' inputs: `n` pages from `CorpusGen.pageFor(i,
  * seed)` (the corpus's own host and length skew), written as
  * lang-partitioned parquet in the layout the program's corpus uses.
  */
final class Pages(work: File, val seed: Long, val n: Int) {
  val dir: File = new File(work, s"data/pages-seed$seed-n$n")

  /** Writes the pages once per seed and returns the golden digest. Each
    * page is synthesized once: the cached rows feed both the parquet write
    * and the golden, which is built through the annotation path
    * (DocBuilder.build -> decodeSample), never touching HTML, so it is
    * independent of the engine's parse path.
    */
  def generate(spark: SparkSession): Digest = {
    import spark.implicits._
    val s = seed
    val rows = spark.range(0, n.toLong, 1, spark.sparkContext.defaultParallelism)
      .map { i =>
        val (ann, page) = CorpusGen.pageFor(i, s)
        (page, DocBuilder.decodeSample(DocBuilder.build(ann)).extractedText)
      }.toDF("page", "golden").cache()
    try {
      if (!new File(dir, "_SUCCESS").exists()) {
        // one seed's pages at a time: older seeds' pages are deleted
        Option(dir.getParentFile.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("pages-")).foreach(Files.deleteRecursively)
        rows.select(col("page.*"))
          .repartitionByRange(32, col("lang"), pmod(xxhash64(col("url")), lit(4)))
          .write.mode("overwrite").partitionBy("lang").parquet(dir.getPath)
      }
      Digest.of(rows.select(col("page.url").as("url"), col("golden").as("text")))
    } finally rows.unpersist()
  }

  def read(spark: SparkSession): DataFrame = spark.read.parquet(dir.getPath)
}
