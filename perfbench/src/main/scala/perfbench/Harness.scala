package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Parsed command line of one benchmark run. */
final case class RunArgs(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    train: Boolean,
    work: File,
    commit: String,
    sourceDigest: String
)

object RunArgs {
  def parse(args: Array[String]): RunArgs = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    RunArgs(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      train = m.get("train").contains("1"),
      work = new File(need("work")),
      commit = m.getOrElse("commit", "unknown"),
      sourceDigest = m.getOrElse("source-digest", "unknown")
    )
  }
}

object Harness {
  val nproc: Int = Runtime.getRuntime.availableProcessors

  /** One local session: AQE on, UTC, no UI, the program's SQL extensions,
    * and every temporary directory under the run's work directory.
    */
  def session(cores: Int, shufflePartitions: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
