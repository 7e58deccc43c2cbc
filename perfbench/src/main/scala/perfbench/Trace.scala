package perfbench

import java.io.{File, PrintWriter}
import scala.collection.mutable

/** In-memory span recorder for traced runs. Spans nest on the calling
  * thread; nothing is written until [[write]] at the end of the run.
  * When disabled, [[span]] only evaluates its body.
  */
final class Trace(val enabled: Boolean) {
  private final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String, op: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime() - origin
      try body
      finally {
        open = open.tail
        done += Span(id, parent, op, name, t0, System.nanoTime() - origin)
      }
    }

  /** Writes every span, then every stage row, one JSON object a line. */
  def write(file: File, stages: Seq[StageRow]): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try {
      done.sortBy(_.id).foreach { s =>
        out.println(Json.render(Map("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      stages.foreach { r =>
        out.println(Json.render(Map("stage" -> r.stageId, "op" -> r.tag, "name" -> r.name,
          "tasks" -> r.tasks, "run_ms" -> r.runMs, "cpu_ns" -> r.cpuNs, "gc_ms" -> r.gcMs,
          "input_records" -> r.inputRecords, "shuffle_read_bytes" -> r.shuffleReadBytes,
          "shuffle_write_bytes" -> r.shuffleWriteBytes,
          "shuffle_write_records" -> r.shuffleWriteRecords,
          "output_records" -> r.outputRecords, "spill_bytes" -> r.spillBytes)))
      }
    } finally out.close()
  }
}
