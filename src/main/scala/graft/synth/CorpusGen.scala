package graft.synth

import graft.core._
import graft.html.HtmlParser.escape

/** One Common-Crawl-style page row, per BASELINE.json `input_hint`:
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Deterministic corpus synthesizer (FIXTURES.md §1-§3).
  *
  * Every page is a pure function of (seed, docIdx) — no wall-clock, no
  * external data. The renderer is information-preserving: the annotation's
  * entities/relations are encoded through the DOM idioms the Lineizer's
  * heuristics key on (dl/dt/dd, tr/th/td, label/for, h2, nav/footer link
  * farms), which is what makes engine output == oracle output achievable
  * (the engine-side mirror of the reference's GT round-trip invariant,
  * /root/reference/pipeline/decode.py:496-508).
  *
  * Skew knobs (FIXTURES.md §1): ~30% of docs land on the hot `host-0`; ~4%
  * of docs are near the 511-token truncation cap; ~10% flip an answer above
  * its question in reading order (exercises tag=2 triu paths).
  */
object CorpusGen {

  final val Langs = Vector("en", "zh", "ja", "es", "fr", "de", "it", "pt")
  final val DefaultSeed = 20260816L

  private val keyWords = Vector(
    "Name", "Date", "Total", "Amount", "Address", "Phone", "Email", "Status",
    "Invoice", "Order", "Customer", "Supplier", "Quantity", "Price", "Tax",
    "Reference", "Country", "City", "Zip", "Department", "Ｎｏ", "Titulo",
    "Résumé", "Büro", "項目", "金額"
  )
  private val valWords = Vector(
    "John", "Smith", "Maria", "García", "Zhang", "Wei", "2024", "01", "31",
    "active", "pending", "approved", "N/A", "USD", "EUR", "１２３４", "abc",
    "42", "807", "Main", "St", "Ave", "Suite", "Köln", "São", "Paulo",
    "東京", "data", "value", "§5", "™", "–"
  )
  private val navWords = Vector(
    "Home", "About", "Contact", "Login", "Register", "Privacy", "Terms",
    "Sitemap", "Careers", "Blog", "Help", "FAQ", "Search", "Archive"
  )
  private val contentWords = Vector(
    "The", "quick", "report", "shows", "quarterly", "figures", "for", "all",
    "regions", "and", "the", "summary", "follows", "below", "with", "notes"
  )

  private def mix(seed: Long, docIdx: Long): Long = {
    var z = seed + docIdx * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def words(rng: java.util.Random, pool: Vector[String], n: Int): String =
    Vector.fill(n)(pool(rng.nextInt(pool.size))).mkString(" ")

  /** Layout cursor: one line per row; rows 34px apart so row gaps always
    * exceed the sort_boxes band threshold (m_h = avg half-height ~= 10-14),
    * while side-by-side cells share a row. Distinct center-x within a row
    * and distinct center-y across rows keep the numpy-unstable-argsort
    * ambiguity out of the goldens (SURVEY.md §7.4).
    */
  private final class Layout {
    private var y = 40
    def row(): Int = { val r = y; y += 34; r }
    def rowBox(x: Int, w: Int): Vector[Int] = {
      val t = row()
      Vector(x, t, x + w, t + 22)
    }
    def sameRowBox(x: Int, w: Int, t: Int): Vector[Int] = Vector(x, t, x + w, t + 22)
  }

  // ---- annotation synthesis ----

  final case class Synth(ann: AnnDoc, idioms: Map[Int, String])
  // idioms: question-entity id -> rendering idiom ("dl" | "tr" | "label")

  def annFor(docIdx: Long, seed: Long = DefaultSeed): Synth = {
    val rng = new java.util.Random(mix(seed, docIdx))
    val entities = Vector.newBuilder[AnnEntity]
    val kv = Vector.newBuilder[AnnRelation]
    val grouping = Vector.newBuilder[AnnRelation]
    val idioms = Map.newBuilder[(Int), String]
    val layout = new Layout
    var entityId = 0
    var lineId = 0

    // ~10% of lines carry their box as an 8-value corner quad (the SIBR
    // schema's alternate form, /root/reference/data/data_utils.py:7-28);
    // DocBuilder's boxTwoPointConvert collapses it back to the identical
    // 4-value box, so goldens are unchanged while the quad path is exercised
    // end-to-end. Corner order is rotated per-line to cover all phases.
    // Separate rng: quad decisions must not shift the main content stream.
    val quadRng = new java.util.Random(mix(seed ^ 0x71AD5EEDL, docIdx))
    def maybeQuad(b: Vector[Int]): Vector[Int] =
      if (quadRng.nextDouble() >= 0.10) b
      else {
        val corners = Vector(
          Vector(b(0), b(1)), Vector(b(2), b(1)),
          Vector(b(2), b(3)), Vector(b(0), b(3)))
        val rot = quadRng.nextInt(4)
        (0 until 4).flatMap(k => corners((k + rot) % 4)).toVector
      }

    def newLines(texts: Seq[String], boxes: Seq[Vector[Int]]): Vector[AnnLine] = {
      val lines = texts.zip(boxes).map { case (t, b) =>
        val l = AnnLine(lineId, t, maybeQuad(b)); lineId += 1; l
      }.toVector
      lines.indices.drop(1).foreach { i =>
        grouping += AnnRelation(lines(i - 1).id, lines(i).id)
      }
      lines
    }
    def addEntity(label: String, texts: Seq[String], boxes: Seq[Vector[Int]]): Int = {
      val id = entityId; entityId += 1
      entities += AnnEntity(id, label, newLines(texts, boxes))
      id
    }

    // nav boilerplate
    addEntity(AnnLabels.Other,
      Seq(words(rng, navWords, 3 + rng.nextInt(3)) + " | " + words(rng, navWords, 2)),
      Seq(layout.rowBox(20, 900)))

    // page header
    addEntity(AnnLabels.Header,
      Seq(words(rng, keyWords, 2) + " " + (2020 + rng.nextInt(6))),
      Seq(layout.rowBox(100, 500)))

    val nearCap = rng.nextDouble() < 0.04
    val nKv = if (nearCap) 70 + rng.nextInt(40) else 2 + rng.nextInt(7)
    (0 until nKv).foreach { _ =>
      val qLines = 1 + (if (rng.nextDouble() < 0.3) rng.nextInt(2) + 0 else 0)
      val aLines = 1 + (if (rng.nextDouble() < 0.35) rng.nextInt(3) else 0)
      val idiom =
        if (qLines == 1 && aLines == 1 && rng.nextDouble() < 0.25) "label"
        else if (rng.nextDouble() < 0.5) "dl"
        else "tr"
      val flip = rng.nextDouble() < 0.10 // answer above question
      val withEmpty = rng.nextDouble() < 0.08

      val qTexts = (0 until qLines).map { i =>
        val base = words(rng, keyWords, 1 + rng.nextInt(2)) + (if (i == 0) ":" else "")
        if (withEmpty && i == qLines - 1 && qLines > 1) "   " else base
      }
      val aTexts = (0 until aLines).map(_ => words(rng, valWords, 1 + rng.nextInt(4)))

      // side-by-side when both single-line and not flipped
      val (qBoxes, aBoxes) =
        if (qLines == 1 && aLines == 1 && !flip && rng.nextDouble() < 0.6) {
          val t = layout.rowBox(50, 10 + qTexts.head.length * 7)
          (Seq(t), Seq(layout.sameRowBox(460, 10 + aTexts.head.length * 7, t(1))))
        } else if (flip) {
          val a = aTexts.map(s => layout.rowBox(460, 10 + s.length * 7))
          val q = qTexts.map(s => layout.rowBox(50, 10 + s.length * 7))
          (q, a)
        } else {
          val q = qTexts.map(s => layout.rowBox(50, 10 + s.length * 7))
          val a = aTexts.map(s => layout.rowBox(460, 10 + s.length * 7))
          (q, a)
        }

      val qId = addEntity(AnnLabels.Question, qTexts, qBoxes)
      val aId = addEntity(AnnLabels.Answer, aTexts, aBoxes)
      kv += AnnRelation(qId, aId)
      idioms += ((qId, idiom))
    }

    // occasional unlinked content paragraph (answer entity, no relation)
    if (rng.nextDouble() < 0.5) {
      val n = 1 + rng.nextInt(3)
      val texts = (0 until n).map(_ => words(rng, contentWords, 4 + rng.nextInt(8)))
      addEntity(AnnLabels.Answer, texts, texts.map(s => layout.rowBox(80, 10 + s.length * 7)))
    }
    // occasional unlinked question (dangling key)
    if (rng.nextDouble() < 0.25) {
      val t = words(rng, keyWords, 2) + ":"
      addEntity(AnnLabels.Question, Seq(t), Seq(layout.rowBox(50, 10 + t.length * 7)))
    }

    // footer boilerplate
    addEntity(AnnLabels.Other,
      Seq(words(rng, navWords, 4), "© " + words(rng, navWords, 2)),
      Seq(layout.rowBox(20, 880), layout.rowBox(20, 400)))

    val height = math.max(1414, lineId * 34 + 120)
    Synth(
      AnnDoc(s"doc-$docIdx", 1000, height, entities.result(), kv.result(), grouping.result()),
      idioms.result()
    )
  }

  // ---- HTML rendering (annotation -> page) ----

  private def styleOf(raw: Seq[Int]): String = {
    val b = graft.core.Boxes.boxTwoPointConvert(raw) // 8-value quads -> ltrb
    s"position:absolute;left:${b(0)}px;top:${b(1)}px;width:${b(2) - b(0)}px;height:${b(3) - b(1)}px"
  }

  private def blockHtml(tag: String, line: AnnLine, extra: String = ""): String =
    s"""<$tag$extra style="${styleOf(line.bbox)}">${escape(line.text)}</$tag>"""

  def render(s: Synth, lang: String): String = {
    val ann = s.ann
    val sb = new StringBuilder(4096)
    sb ++= s"""<!DOCTYPE html>
<html lang="$lang"><head><meta charset="utf-8"><title>${escape(ann.uid)}</title>"""
    sb ++= "<script>var t=1;</script><style>.x{color:#222}</style></head>\n"
    sb ++= s"<body><main data-w=\"${ann.width}\" data-h=\"${ann.height}\">\n"

    val answerOf: Map[Int, Int] = ann.kvEntity.map(r => r.fromId -> r.toId).toMap
    val renderedWithPair: Set[Int] =
      ann.kvEntity.flatMap(r => Seq(r.fromId, r.toId)).toSet

    var labelSeq = 0
    ann.entities.foreach { e =>
      e.label match {
        case AnnLabels.Other =>
          val tag = if (e.id == 0) "nav" else "footer"
          sb ++= s"<$tag>"
          e.lines.foreach { ln =>
            // link farm: entire text inside <a> -> link density 1.0.
            // Half the farm links are ABSOLUTE cross-host anchors (target
            // host deterministic from uid+line, with hosts 0..9 as planted
            // hubs receiving extra in-link mass) so the corpus carries a
            // real host link graph for x6/g1/g2; the other half stay
            // relative (resolve to the page's own host). Anchor TEXT is
            // untouched, so extraction goldens and the frozen digest are
            // unaffected.
            val k = graft.core.UrlBucket.of(s"${ann.uid}#${ln.id}", 294)
            val href =
              if (k < 147) {
                val t = if (k % 3 == 0) k % 10 else k % 98
                s"https://host-$t.example/ref/${e.id}/${ln.id}"
              } else s"/${e.id}/${ln.id}"
            sb ++= s"""<div style="${styleOf(ln.bbox)}"><a href="$href">${escape(ln.text)}</a></div>"""
          }
          sb ++= s"</$tag>\n"
        case AnnLabels.Header =>
          e.lines.foreach { ln => sb ++= blockHtml("h2", ln); sb ++= "\n" }
        case AnnLabels.Question if renderedWithPair.contains(e.id) =>
          val aId = answerOf(e.id)
          val a = ann.entities(aId)
          s.idioms.getOrElse(e.id, "dl") match {
            case "label" =>
              labelSeq += 1
              val ref = s"f$labelSeq"
              sb ++= s"""<div class="field">"""
              e.lines.foreach { ln => sb ++= blockHtml("label", ln, s""" for="$ref"""") }
              a.lines.zipWithIndex.foreach { case (ln, i) =>
                sb ++= blockHtml("output", ln, if (i == 0) s""" id="$ref"""" else "")
              }
              sb ++= "</div>\n"
            case "tr" =>
              sb ++= "<table><tr>"
              e.lines.foreach { ln => sb ++= blockHtml("th", ln) }
              a.lines.foreach { ln => sb ++= blockHtml("td", ln) }
              sb ++= "</tr></table>\n"
            case _ =>
              sb ++= "<dl>"
              e.lines.foreach { ln => sb ++= blockHtml("dt", ln) }
              a.lines.foreach { ln => sb ++= blockHtml("dd", ln) }
              sb ++= "</dl>\n"
          }
        case AnnLabels.Answer if renderedWithPair.contains(e.id) =>
          () // rendered together with its question
        case AnnLabels.Question =>
          // dangling key: dl with no dd
          sb ++= "<dl>"
          e.lines.foreach { ln => sb ++= blockHtml("dt", ln) }
          sb ++= "</dl>\n"
        case _ =>
          // unlinked content paragraphs
          sb ++= """<article>"""
          e.lines.foreach { ln => sb ++= blockHtml("p", ln) }
          sb ++= "</article>\n"
      }
    }
    sb ++= "</main></body></html>\n"
    sb.toString
  }

  // ---- page assembly ----

  def hostFor(docIdx: Long): String =
    if (docIdx % 10 < 3) "host-0" else s"host-${1 + (docIdx % 97)}"

  def urlFor(docIdx: Long, lang: String): String =
    s"https://${hostFor(docIdx)}.example/$lang/doc-$docIdx"

  def pageFor(docIdx: Long, seed: Long = DefaultSeed): (AnnDoc, PageRow) = {
    val lang = Langs((docIdx % Langs.size).toInt)
    val url = urlFor(docIdx, lang)
    val synth = annFor(docIdx, seed)
    val ann = synth.ann.copy(uid = url)
    val html = render(Synth(ann, synth.idioms), lang)
    val flatText = ann.entities.flatMap(_.lines.map(_.text)).mkString("\n")
    val ts = new java.sql.Timestamp(1704067200000L + (mix(seed, docIdx).abs % 31536000000L))
    (ann, PageRow(url, ts, html.getBytes(java.nio.charset.StandardCharsets.UTF_8), flatText, lang))
  }
}
