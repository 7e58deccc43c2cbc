package perfbench

import java.io.File
import scala.collection.immutable.ListMap

/** Order-preserving metric map: name -> (value, unit). */
final case class Metrics(entries: ListMap[String, (Double, String)] = ListMap.empty) {
  def +(name: String, value: Double, unit: String): Metrics =
    Metrics(entries + (name -> (value, unit)))
  def ++(o: Metrics): Metrics = Metrics(entries ++ o.entries)
}

object Stats {
  /** Linear-interpolation quantile (numpy's default method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** a / b, or 0 when nothing was measured (b == 0). */
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Host readings taken from /proc. They only annotate a run: where a
  * reading is not available (a sandbox that hides /proc files) it is NaN
  * or 0, never an error.
  */
object Proc {
  private def read(path: String): Option[String] = scala.util.Try {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }.toOption

  /** 1-minute load average. */
  def loadavg(): Double =
    read("/proc/loadavg").flatMap(_.trim.split("\\s+").headOption.flatMap(_.toDoubleOption))
      .getOrElse(Double.NaN)

  /** (steal, all) jiffies of every CPU so far: the share of CPU time the
    * hypervisor gave to other guests while this one wanted to run.
    */
  def cpuJiffies(): (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.nextOption()).flatMap { l =>
      scala.util.Try(l.trim.split("\\s+").drop(1).map(_.toLong)).toOption
    }.fold((0L, 0L))(f => (if (f.length > 7) f(7) else 0L, f.sum))

  /** CPU seconds this JVM has used so far, all threads. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Collection seconds of every JVM garbage collector so far. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** VmHWM (peak resident set) of this JVM in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }).getOrElse(Double.NaN)
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Regular files under `dir` whose name ends with `suffix`. */
  def listRecursively(dir: File, suffix: String): Seq[File] =
    if (!dir.exists()) Nil
    else Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listRecursively(f, suffix)
      else if (f.getName.endsWith(suffix)) Seq(f) else Nil
    }
}
