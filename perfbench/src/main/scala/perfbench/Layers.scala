package perfbench

import java.lang.management.ManagementFactory
import graft.core.DocBuilder
import graft.engine.Pipeline
import graft.html.Lineizer
import graft.synth.CorpusGen

/** Single-thread timed calls into the extraction layers, with the bytes
  * each call allocates on its thread: graft.html (lineize), graft.core
  * (build, decode) and the whole graft.engine kernel.
  */
object Layers {
  private val Distinct = 400
  private val Docs = 2000
  private val Reps = 5
  // enough calls for the JIT to compile each layer, however cold it starts
  private val WarmDocs = 10000

  @volatile private var sink: AnyRef = null

  final case class Cost(usPerDoc: Double, kbPerDoc: Double)

  private def measure(f: Int => AnyRef): Cost = {
    val bean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    var i = 0
    while (i < WarmDocs) { sink = f(i % Distinct); i += 1 }
    val reps = (1 to Reps).map { _ =>
      val a0 = bean.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      var j = 0
      while (j < Docs) { sink = f(j % Distinct); j += 1 }
      val us = (System.nanoTime() - t0) / 1e3 / Docs
      (us, (bean.getThreadAllocatedBytes(tid) - a0) / 1024.0 / Docs)
    }
    Cost(Stats.median(reps.map(_._1)), Stats.median(reps.map(_._2)))
  }

  def probe(seed: Long): Map[String, Cost] = {
    val pages = (0L until Distinct.toLong).map(i => CorpusGen.pageFor(i, seed)._2).toArray
    val anns = pages.map(p => Lineizer.lineizeStreamBytes(p.html, p.url))
    val samples = anns.map(a => DocBuilder.build(a))
    Map(
      "html.lineize" -> measure(i => Lineizer.lineizeStreamBytes(pages(i).html, pages(i).url)),
      "core.build" -> measure(i => DocBuilder.build(anns(i))),
      "core.decode" -> measure(i => DocBuilder.decodeSampleFast(samples(i))),
      "engine.kernel" -> measure { i =>
        val p = pages(i)
        Pipeline.extractDoc(p.url, p.html, p.lang, Pipeline.DefaultBuckets)
      }
    )
  }

  def metrics(costs: Map[String, Cost]): Metrics =
    Seq("html.lineize", "core.build", "core.decode", "engine.kernel").foldLeft(Metrics()) {
      (m, k) => m + (s"${k}_us_per_doc", costs(k).usPerDoc, "us") +
        (s"${k}_kb_per_doc", costs(k).kbPerDoc, "KB")
    }
}
