package graft.html

import scala.collection.mutable
import graft.core._

/** DOM lineizer + heuristic classifier: the engine-side replacement for the
  * reference's neural scoring path (SURVEY.md §2 C1-C6). Converts a parsed
  * HTML page into the same annotation algebra the decoder consumes:
  *
  *  - line extraction: positioned block elements become candidate lines;
  *    Boilerpipe/Readability-style *link-density* classification plus
  *    structural tags assign the {other, header, question, answer} category
  *    (reference category list: /root/reference/data/datasets/sibr.py:30-41);
  *  - line grouping: union-find over *adjacent DOM block spans* — consecutive
  *    sibling blocks with the same tag and category merge into one entity
  *    (replaces annotated line_grouping, sibr.py:349-408);
  *  - entity linking: DOM pair idioms `<dl><dt>/<dd>`, `<tr><th>/<td>`, and
  *    `<label for>/<id>` emit key->value relations (replaces annotated
  *    kv_entity, sibr.py:266-347).
  *
  * Output is an [[graft.core.AnnDoc]], so everything downstream (tokenize,
  * sort, spots, decode) is shared verbatim with the golden oracle.
  */
object Lineizer {

  /** link-density threshold above which an unclassified block is boilerplate */
  final val LinkDensityThreshold = 0.5

  private final case class Block(
      docOrder: Int,
      tag: String,
      parentRef: Int,
      dlRef: Int,
      trRef: Int,
      idAttr: String, // null = absent (an Option per block cost ~0.5 KB/doc)
      forAttr: String, // null = absent
      navLike: Boolean,
      headerLike: Boolean,
      cellTag: String, // nearest dt/dd/th/td/label/output ancestor-or-self tag, or ""
      text: String,
      // the box as (left, top, right, bottom); the Vector AnnLine carries is
      // built once, in assemble
      x0: Int, y0: Int, x1: Int, y1: Int,
      linkDensity: Double
  )

  private val styleKeys = Array("left", "top", "width", "height")
  private val styleKeyBytes = styleKeys.map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** ASCII whitespace only — Java regex `\s` = [ \t\n\x0B\f\r]. Using
    * Character.isWhitespace here would accept Unicode whitespace (U+2028
    * etc.) that the original regex rejected.
    */
  @inline private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  // Character.isLetterOrDigit / Character.isWhitespace of the 128 ASCII
  // bytes, as one table lookup in the byte scanner's per-byte loops
  private final val AsciiWord = 1
  private final val AsciiWs = 2
  private val asciiClass: Array[Byte] = Array.tabulate(128) { c =>
    ((if (Character.isLetterOrDigit(c)) AsciiWord else 0) |
      (if (Character.isWhitespace(c)) AsciiWs else 0)).toByte
  }

  /** Hand-rolled equivalent of `(left|top|width|height)\s*:\s*(-?\d+)px`
    * findAllMatchIn (left-to-right, resume after each match, last match per
    * key wins). The regex was the kernel's top allocation site — Match
    * objects per block at 10^12-doc scale. This is the reference form the
    * tree walk runs; the byte scanner runs [[parseStyleBoxB]].
    */
  private[html] def parseStyleBox(style: String): Option[Vector[Int]] = {
    var l, t, w, h = Integer.MIN_VALUE
    val n = style.length
    var i = 0
    while (i < n) {
      var matched = false
      var ki = 0
      while (!matched && ki < 4) {
        val k = styleKeys(ki)
        if (style.startsWith(k, i)) {
          var j = i + k.length
          while (j < n && isAsciiSpace(style.charAt(j))) j += 1
          if (j < n && style.charAt(j) == ':') {
            j += 1
            while (j < n && isAsciiSpace(style.charAt(j))) j += 1
            var neg = false
            if (j < n && style.charAt(j) == '-') { neg = true; j += 1 }
            val ds = j
            while (j < n && style.charAt(j) >= '0' && style.charAt(j) <= '9') j += 1
            // digit runs that cannot fit an Int are not a match (the regex
            // form threw on toInt; silently wrapping would parse garbage
            // boxes from pathological styles)
            if (j > ds && j - ds <= 9 && style.startsWith("px", j)) {
              var v = 0
              var p = ds
              while (p < j) { v = v * 10 + (style.charAt(p) - '0'); p += 1 }
              if (neg) v = -v
              ki match {
                case 0 => l = v
                case 1 => t = v
                case 2 => w = v
                case _ => h = v
              }
              i = j + 2
              matched = true
            }
          }
        }
        ki += 1
      }
      if (!matched) i += 1
    }
    if (l != Integer.MIN_VALUE && t != Integer.MIN_VALUE &&
      w != Integer.MIN_VALUE && h != Integer.MIN_VALUE)
      Some(Vector(l, t, l + w, t + h))
    else None
  }

  /** Byte twin of [[parseStyleBox]]: keys, digits, and "px" are
    * ASCII, and UTF-8 continuation bytes can never alias them, so the scan
    * runs on the raw bytes. It visits colons instead of trying four keys at
    * every byte: a match needs a ':' after its key, and the key is the one
    * ending at the last non-space before that colon. Colons in increasing
    * order give candidate key starts in increasing order, so the first
    * candidate that completes is the leftmost match, as in the String
    * form, and the next search resumes after its "px". On a match the box
    * lands in `out` as (left, top, right, bottom) and the result is true;
    * no Option or Vector is built.
    */
  private[html] def parseStyleBoxB(b: Array[Byte], from: Int, until: Int,
      out: Array[Int]): Boolean = {
    val n = until
    // does key ki occupy b[e - len, e) with e - len >= lo?
    def keyAt(ki: Int, e: Int, lo: Int): Boolean = {
      val k = styleKeyBytes(ki)
      val s = e - k.length
      if (s < lo) return false
      var m = 0
      while (m < k.length && b(s + m) == k(m)) m += 1
      m == k.length
    }
    var l, t, w, h = Integer.MIN_VALUE
    var lo = from // no match may start before lo
    var c = from
    while (c < n) {
      while (c < n && b(c) != ':') c += 1
      if (c < n) {
        var e = c
        while (e > lo && isAsciiSpace(b(e - 1).toChar)) e -= 1
        // no key is a suffix of another, so at most one ends at e
        var ki = 0
        while (ki < 4 && !keyAt(ki, e, lo)) ki += 1
        var j = c + 1
        var matched = false
        if (ki < 4) {
          while (j < n && isAsciiSpace(b(j).toChar)) j += 1
          var neg = false
          if (j < n && b(j) == '-') { neg = true; j += 1 }
          val ds = j
          var v = 0
          while (j < n && b(j) >= '0' && b(j) <= '9') { v = v * 10 + (b(j) - '0'); j += 1 }
          // as in the String form: at most 9 digits, then "px"
          if (j > ds && j - ds <= 9 && j + 1 < n && b(j) == 'p' && b(j + 1) == 'x') {
            if (neg) v = -v
            ki match {
              case 0 => l = v
              case 1 => t = v
              case 2 => w = v
              case _ => h = v
            }
            matched = true
          }
        }
        if (matched) { lo = j + 2; c = lo } else c += 1
      }
    }
    if (l != Integer.MIN_VALUE && t != Integer.MIN_VALUE &&
      w != Integer.MIN_VALUE && h != Integer.MIN_VALUE) {
      out(0) = l; out(1) = t; out(2) = l + w; out(3) = t + h
      true
    } else false
  }

  private val navTags = Set("nav", "footer", "aside", "header")
  private val cellTags = Set("dt", "dd", "th", "td", "label", "output")
  private val headerTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  // Class bits per HtmlParser.CommonTagNames id, derived from the sets the
  // tree walk reads, so the byte scanner classifies an element with one
  // array read instead of up to five set lookups. Every member of those
  // sets is a common tag, so an uncommon name has no bits.
  private final val TagNav = 1
  private final val TagHdr = 2
  private final val TagCell = 4
  private final val TagVoid = 8
  private final val TagRaw = 16
  private final val TagA = 32
  private final val TagDl = 64
  private final val TagTr = 128
  private val tagBits: Array[Int] = HtmlParser.CommonTagNames.map { n =>
    def bit(on: Boolean, b: Int) = if (on) b else 0
    bit(navTags(n), TagNav) | bit(headerTags(n), TagHdr) | bit(cellTags(n), TagCell) |
      bit(HtmlParser.VoidTags(n), TagVoid) | bit(HtmlParser.RawTextTags(n), TagRaw) |
      bit(n == "a", TagA) | bit(n == "dl", TagDl) | bit(n == "tr", TagTr)
  }
  require((navTags ++ headerTags ++ cellTags).subsetOf(HtmlParser.CommonTagNames.toSet))

  def lineize(root: HtmlParser.Elem, uid: String): AnnDoc = {
    val blocks = mutable.ArrayBuffer.empty[Block]
    var elemCounter = 0

    def walk(
        e: HtmlParser.Elem,
        parentRef: Int,
        dlRef: Int,
        trRef: Int,
        navLike: Boolean,
        headerLike: Boolean,
        cellTag: String
    ): Unit = {
      elemCounter += 1
      val myRef = elemCounter
      val nav2 = navLike || navTags.contains(e.tag)
      val hdr2 = headerLike || headerTags.contains(e.tag)
      val cell2 = if (cellTags.contains(e.tag)) e.tag else cellTag
      val dl2 = if (e.tag == "dl") myRef else dlRef
      val tr2 = if (e.tag == "tr") myRef else trRef

      val isBlock = e.attr("style").flatMap(parseStyleBox) match {
        case Some(box) =>
          val (text, linkLen) = HtmlParser.textAndLinkLength(e)
          val ld =
            if (text.isEmpty) 0.0
            else linkLen.toDouble / text.length
          blocks += Block(
            docOrder = blocks.length,
            tag = e.tag,
            parentRef = parentRef,
            dlRef = dl2,
            trRef = tr2,
            idAttr = e.attr("id").filter(_.nonEmpty).orNull,
            forAttr = e.attr("for").filter(_.nonEmpty).orNull,
            navLike = nav2,
            headerLike = hdr2,
            cellTag = cell2,
            text = text,
            x0 = box(0), y0 = box(1), x1 = box(2), y1 = box(3),
            linkDensity = ld
          )
          true
        case None => false
      }
      // the outermost positioned element is the line: don't descend into it
      if (!isBlock) e.children.foreach {
        case kid: HtmlParser.Elem =>
          walk(kid, myRef, dl2, tr2, nav2, hdr2, cell2)
        case _ => ()
      }
    }
    walk(root, parentRef = 0, dlRef = 0, trRef = 0,
      navLike = false, headerLike = false, cellTag = "")

    // page dimensions from the main/body data attributes, else defaults
    def findDims(e: HtmlParser.Elem): Option[(Int, Int)] = {
      val here = for {
        w <- e.attr("data-w").flatMap(_.toIntOption)
        h <- e.attr("data-h").flatMap(_.toIntOption)
      } yield (w, h)
      if (here.isDefined) here
      else e.children.iterator.collect { case kid: HtmlParser.Elem => findDims(kid) }
        .collectFirst { case Some(d) => d }
    }
    val (width, height) = findDims(root).getOrElse((1000, 1414))
    assemble(blocks, width, height, uid)
  }

  /** Blocks -> AnnDoc: classification, union-find grouping, entity/relation
    * assembly. Shared verbatim by the tree path ([[lineize]]) and the
    * streaming path ([[lineizeStream]]), so the two parsers can only differ
    * in block extraction — which the parity spec pins.
    */
  private def assemble(
      blocks: scala.collection.IndexedSeq[Block],
      width: Int,
      height: Int,
      uid: String
  ): AnnDoc = {
    // ids referenced by any label[for]: their blocks are answers
    val referencedIds: Set[String] =
      blocks.iterator.map(_.forAttr).filter(_ != null).toSet

    def category(b: Block): String = {
      if (b.headerLike) AnnLabels.Header
      else if (b.cellTag == "dt" || b.cellTag == "th" || b.cellTag == "label")
        AnnLabels.Question
      else if (b.cellTag == "dd" || b.cellTag == "td" || b.cellTag == "output")
        AnnLabels.Answer
      else if (b.idAttr != null && referencedIds.contains(b.idAttr)) AnnLabels.Answer
      else if (b.navLike || b.linkDensity > LinkDensityThreshold) AnnLabels.Other
      else AnnLabels.Answer // main content
    }
    val nB = blocks.length
    val cats = new Array[String](nB)
    var ci = 0
    while (ci < nB) { cats(ci) = category(blocks(ci)); ci += 1 }

    // --- line grouping over adjacent DOM block spans. The merge relation
    // only ever joins NEIGHBORS (k-1, k), so every component is a
    // contiguous run of document order — the general union-find this
    // started as (parent array + root->entity LinkedHashMap + per-entity
    // ArrayBuffers, all boxed) collapses to one run-boundary pass over a
    // primitive array with identical semantics (entity ids in order of
    // first member == run order; members ascending == run interval).
    val entityOf = new Array[Int](nB)
    var nEnt = if (nB == 0) 0 else 1
    var k = 1
    while (k < nB) {
      val prev = blocks(k - 1)
      val curr = blocks(k)
      if (!(prev.parentRef == curr.parentRef && prev.tag == curr.tag &&
        cats(k - 1) == cats(k))) nEnt += 1
      entityOf(k) = nEnt - 1
      k += 1
    }

    // --- entities with their lines (line id = document order), each
    // Vector adopting an exact-size array (a VectorBuilder allocates a
    // 32-slot node even for a one-line entity) ---
    val entArr = new Array[AnyRef](nEnt)
    // one grouping relation per line after the first of its entity
    val groupArr = new Array[AnyRef](nB - nEnt)
    var nGroup = 0
    var start = 0
    while (start < nB) {
      var end = start + 1
      while (end < nB && entityOf(end) == entityOf(start)) end += 1
      val lines = new Array[AnyRef](end - start)
      var i = start
      while (i < end) {
        val b = blocks(i)
        lines(i - start) = AnnLine(id = i, text = b.text, bbox = Boxes.box4(b.x0, b.y0, b.x1, b.y1))
        // consecutive lines within an entity are consecutive doc-order ids
        if (i > start) { groupArr(nGroup) = AnnRelation(i - 1, i); nGroup += 1 }
        i += 1
      }
      entArr(entityOf(start)) =
        AnnEntity(id = entityOf(start), label = cats(start), lines = Vecs.adopt(lines))
      start = end
    }
    val entities: Vector[AnnEntity] = Vecs.adopt(entArr)

    // --- KV links from DOM idioms, entity-level, first-seen order ---
    val kv = Vector.newBuilder[AnnRelation]
    val seen = mutable.HashSet.empty[(Int, Int)]
    def link(qEnt: Int, aEnt: Int): Unit =
      if (qEnt != aEnt && seen.add((qEnt, aEnt))) kv += AnnRelation(qEnt, aEnt)

    // dl and tr idioms: inside one container, pair each question-run with
    // the answer-run that follows it
    def pairRuns(groupRef: Block => Int, qTag: String, aTag: String): Unit = {
      val byContainer = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Int]]
      blocks.indices.foreach { i =>
        val ref = groupRef(blocks(i))
        if (ref != 0 && (blocks(i).cellTag == qTag || blocks(i).cellTag == aTag))
          byContainer.getOrElseUpdate(ref, mutable.ArrayBuffer.empty) += i
      }
      byContainer.valuesIterator.foreach { idxs =>
        var pendingQ: Option[Int] = None
        var lastCell = ""
        idxs.foreach { i =>
          val b = blocks(i)
          if (b.cellTag == qTag) {
            if (lastCell != qTag) pendingQ = Some(entityOf(i))
            lastCell = qTag
          } else {
            if (lastCell != aTag) pendingQ.foreach(q => link(q, entityOf(i)))
            lastCell = aTag
          }
        }
      }
    }
    pairRuns(_.dlRef, "dt", "dd")
    pairRuns(_.trRef, "th", "td")

    // label[for] -> id idiom
    val idToBlock: Map[String, Int] =
      blocks.iterator.filter(_.idAttr != null).map(b => b.idAttr -> b.docOrder).toMap
    blocks.indices.foreach { i =>
      val b = blocks(i)
      if (b.cellTag == "label" && b.forAttr != null) idToBlock.get(b.forAttr).foreach { tgt =>
        link(entityOf(i), entityOf(tgt))
      }
    }

    AnnDoc(
      uid = uid,
      width = width,
      height = height,
      entities = entities,
      kvEntity = kv.result(),
      lineGrouping = Vecs.adopt(groupArr)
    )
  }


  /** Streaming equivalent of `lineize(HtmlParser.parse(html), uid)`: a
    * single scan over the markup producing blocks directly — no DOM, no
    * per-element attr/children collections, text substrings only inside
    * positioned blocks. The tree path stays as the reference implementation
    * and the parity spec asserts equality over the corpus and adversarial
    * snippets.
    */
  def lineizeStream(html: String, uid: String): AnnDoc =
    lineizeStreamBytes(html.getBytes(java.nio.charset.StandardCharsets.UTF_8), uid)

  /** UTF-8 codepoint classification at a byte offset, for the two places
    * the scanner needs a CHARACTER class on non-ASCII input (tag-name
    * letters, attribute whitespace). Returns (len << 21) | cp; invalid,
    * overlong, surrogate-range, and supplementary (> BMP) sequences come
    * back as one-byte U+FFFD — exactly what the old decode-the-whole-page
    * path produced (Java's decoder replaces invalid input; supplementary
    * chars became surrogate CHARS, which classify as neither letter nor
    * whitespace).
    */
  @inline private def cpAndLen(b: Array[Byte], j: Int, n: Int): Int = {
    val c0 = b(j) & 0xFF
    def bad = (1 << 21) | 0xFFFD
    if (c0 < 0x80) (1 << 21) | c0
    else if (c0 < 0xC2) bad // continuation or overlong-2 lead
    else if (c0 < 0xE0) {
      if (j + 1 >= n || (b(j + 1) & 0xC0) != 0x80) bad
      else (2 << 21) | ((c0 & 0x1F) << 6) | (b(j + 1) & 0x3F)
    } else if (c0 < 0xF0) {
      if (j + 2 >= n || (b(j + 1) & 0xC0) != 0x80 || (b(j + 2) & 0xC0) != 0x80) bad
      else {
        val cp = ((c0 & 0x0F) << 12) | ((b(j + 1) & 0x3F) << 6) | (b(j + 2) & 0x3F)
        if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) bad else (3 << 21) | cp
      }
    } else bad // 4-byte (supplementary) and invalid leads classify as FFFD
  }

  /** Byte-level scanner body. All STRUCTURE characters of html are ASCII
    * and UTF-8 continuation bytes never collide with them, so the scan
    * works on the raw bytes and only text runs / attr values are decoded —
    * the whole-page `new String(bytes)` cost (~a third of the lineize
    * stage's allocation) disappears. Parity with the tree parser is pinned
    * by RoundTripSpec over the corpus (incl. multibyte zh/ja docs),
    * adversarial snippets, and the seeded fuzz.
    */
  def lineizeStreamBytes(b: Array[Byte], uid: String): AnnDoc = {
    import HtmlParser._
    val blocks = mutable.ArrayBuffer.empty[Block]
    val n = b.length

    @inline def u(x: Int): Int = b(x) & 0xFF
    def bIndexOf(ch: Int, from: Int): Int = {
      var k = from
      while (k < n && u(k) != ch) k += 1
      if (k < n) k else -1
    }
    def bStartsWith(lit: String, at: Int): Boolean = {
      if (at + lit.length > n) return false
      var k = 0
      while (k < lit.length) { if (u(at + k) != lit.charAt(k)) return false; k += 1 }
      true
    }
    def bIndexOfStr(lit: String, from: Int): Int = {
      var k = math.max(0, from)
      val max = n - lit.length
      while (k <= max) { if (bStartsWith(lit, k)) return k; k += 1 }
      -1
    }
    def bIndexOfCI(lit: String, from: Int): Int = {
      var k = math.max(0, from)
      val max = n - lit.length
      while (k <= max) {
        var m = 0
        var ok = true
        while (ok && m < lit.length) {
          if (Character.toLowerCase(u(k + m).toChar) != Character.toLowerCase(lit.charAt(m))) ok = false
          m += 1
        }
        if (ok) return k
        k += 1
      }
      -1
    }
    def bRegionMatchesCI(at: Int, lit: String): Boolean = {
      if (at + lit.length > n) return false
      var k = 0
      while (k < lit.length) {
        if (Character.toLowerCase(u(at + k).toChar) != lit.charAt(k)) return false
        k += 1
      }
      true
    }
    def decodeRange(from: Int, until: Int): String =
      new String(b, from, until - from, java.nio.charset.StandardCharsets.UTF_8)
    @inline def tagNameOfB(start: Int, end: Int): String =
      tagNameOfBytes(b, start, end)
    // whitespace byte-length at j (0 = not whitespace); multibyte BMP
    // whitespace (U+3000 etc.) classifies like the old char-based scan
    def wsLen(j: Int): Int = {
      val c = u(j)
      if (c < 0x80) asciiClass(c) >> 1 // AsciiWs: 1 byte of whitespace
      else {
        val pl = cpAndLen(b, j, n)
        val cp = pl & 0x1FFFFF
        if (Character.isWhitespace(cp.toChar)) pl >>> 21 else 0
      }
    }

    // frame stack as parallel primitive arrays (one [[SFrame]]-shaped record
    // per open element; an object per element measured ~8 KB/doc of churn).
    // bits: 1 = isA, 2 = isBlockRoot, 4 = nav, 8 = hdr.
    // 16 covers real nesting depth (corpus max ~10); deep tag-soup grows by
    // doubling. 64 initial slots cost ~1.5 KB/doc across the six arrays.
    var fCap = 16
    var fTag = new Array[String](fCap)
    var fRef = new Array[Int](fCap)
    var fBits = new Array[Int](fCap)
    var fCell = new Array[String](fCap)
    var fDl = new Array[Int](fCap)
    var fTr = new Array[Int](fCap)
    var fLen = 0
    def pushFrame(tag: String, ref: Int, isA: Boolean, isBlockRoot: Boolean,
        nav: Boolean, hdr: Boolean, cell: String, dl: Int, tr: Int): Unit = {
      if (fLen == fCap) {
        fCap *= 2
        fTag = java.util.Arrays.copyOf(fTag, fCap)
        fRef = java.util.Arrays.copyOf(fRef, fCap)
        fBits = java.util.Arrays.copyOf(fBits, fCap)
        fCell = java.util.Arrays.copyOf(fCell, fCap)
        fDl = java.util.Arrays.copyOf(fDl, fCap)
        fTr = java.util.Arrays.copyOf(fTr, fCap)
      }
      fTag(fLen) = tag
      fRef(fLen) = ref
      fBits(fLen) = (if (isA) 1 else 0) | (if (isBlockRoot) 2 else 0) |
        (if (nav) 4 else 0) | (if (hdr) 8 else 0)
      fCell(fLen) = cell
      fDl(fLen) = dl
      fTr(fLen) = tr
      fLen += 1
    }
    pushFrame("#root", 1, isA = false, isBlockRoot = false,
      nav = false, hdr = false, cell = "", dl = 0, tr = 0)

    var elemCounter = 1 // #root consumed ref 1, matching the tree walk

    // open-block capture state (at most one block open at a time: the walk
    // never descends into a block, so nested positioned elements inside it
    // are just text contributors)
    var blockOpen = false
    var bTag: String = null
    var bParentRef, bDlRef, bTrRef = 0
    var bId: String = null
    var bFor: String = null
    var bNav, bHdr = false
    var bCell = ""
    val bBox = new Array[Int](4)
    val bSb = new java.lang.StringBuilder
    var bFirst: String = null // first text run of the open block (fast path)
    var bLink = 0
    var aDepth = 0

    var dimW, dimH = -1

    // per-element attr bounds, DOC-scoped: nested defs capture these as
    // heap refs, and function-local vars would re-allocate the ref cells
    // for every element (measured ~2 KB/doc of IntRef churn)
    var styleVs, styleVe, idVs, idVe, forVs, forVe = -1
    var dwVs, dwVe, dhVs, dhVe = -1
    var selfClose = false

    def retainAttr(kind: Int, vs: Int, ve: Int): Unit =
      kind match {
        case 1 => styleVs = vs; styleVe = ve
        case 2 => idVs = vs; idVe = ve
        case 3 => forVs = vs; forVe = ve
        case 4 => dwVs = vs; dwVe = ve
        case 5 => dhVs = vs; dhVe = ve
        case _ => ()
      }

    def keyKind(ks: Int, ke: Int): Int = {
      val kl = ke - ks
      if (kl == 5 && bRegionMatchesCI(ks, "style")) 1
      else if (kl == 2 && bRegionMatchesCI(ks, "id")) 2
      else if (kl == 3 && bRegionMatchesCI(ks, "for")) 3
      else if (kl == 6 && bRegionMatchesCI(ks, "data-w")) 4
      else if (kl == 6 && bRegionMatchesCI(ks, "data-h")) 5
      else 0
    }

    /** '&' occurs in b[from, until)? Bounded scan — continuation bytes can
      * never read as 0x26, so the byte test is exact.
      */
    def hasAmp(from: Int, until: Int): Boolean = {
      var k = from
      while (k < until && u(k) != '&') k += 1
      k < until
    }

    /** Materialize a recorded attr value (entity-decoded, like the tree
      * parser's attr map) only when actually consumed.
      */
    def matVal(vs: Int, ve: Int): String =
      if (vs < 0) null
      else {
        val raw = decodeRange(vs, ve)
        if (hasAmp(vs, ve)) decodeEntities(raw) else raw
      }

    def emitBlock(): Unit = {
      // single-run fast path: most leaf blocks see exactly one text run —
      // its decoded String IS the block text, no builder round-trip
      val text = if (bFirst != null) bFirst else bSb.toString
      val ld = if (text.isEmpty) 0.0 else bLink.toDouble / text.length
      blocks += Block(
        docOrder = blocks.length, tag = bTag, parentRef = bParentRef,
        dlRef = bDlRef, trRef = bTrRef, idAttr = bId, forAttr = bFor,
        navLike = bNav, headerLike = bHdr, cellTag = bCell,
        text = text, x0 = bBox(0), y0 = bBox(1), x1 = bBox(2), y1 = bBox(3),
        linkDensity = ld)
      blockOpen = false
      bFirst = null
    }

    def closeFrame(): Unit = {
      fLen -= 1
      val bits = fBits(fLen)
      if (blockOpen && (bits & 1) != 0) aDepth -= 1
      if ((bits & 2) != 0) emitBlock()
    }

    /** Text run [from, until): appended only while a block is open; link
      * density counts decoded CHARS (same as the char-based scan). The
      * first run of a block is held as-is ([[emitBlock]]'s fast path); the
      * builder only engages from the second run on.
      */
    def flushText(from: Int, until: Int): Unit =
      if (blockOpen && until > from) {
        val raw = decodeRange(from, until)
        val run = if (!hasAmp(from, until)) raw else decodeEntities(raw)
        if (bFirst == null && bSb.length == 0) bFirst = run
        else {
          if (bFirst != null) { bSb.append(bFirst); bFirst = null }
          bSb.append(run)
        }
        if (aDepth > 0) bLink += run.length
      }

    var i = 0
    while (i < n) {
      val lt = bIndexOf('<', i)
      if (lt < 0) { flushText(i, n); i = n }
      else {
        if (lt > i) flushText(i, lt)
        if (lt + 1 >= n) { i = n }
        else if (bStartsWith("<!--", lt)) {
          val end = bIndexOfStr("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (u(lt + 1) == '!' || u(lt + 1) == '?') {
          val end = bIndexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (u(lt + 1) == '/') {
          val end = bIndexOf('>', lt + 1)
          // trimmed [ns, ne) name bounds; tagNameOfB interns common tags
          var ns = lt + 2
          var ne = if (end < 0) n else end
          while (ns < ne && u(ns) <= ' ') ns += 1
          while (ne > ns && u(ne - 1) <= ' ') ne -= 1
          val name = tagNameOfB(ns, ne)
          var idx = fLen - 1
          while (idx >= 0 && fTag(idx) != name) idx -= 1
          if (idx > 0) while (fLen > idx) closeFrame()
          i = if (end < 0) n else end + 1
        } else {
          var j = lt + 1
          var nameDone = false
          while (!nameDone && j < n) {
            val c = u(j)
            if (c < 0x80) {
              if ((asciiClass(c) & AsciiWord) != 0) j += 1 else nameDone = true
            } else {
              val pl = cpAndLen(b, j, n)
              val cp = pl & 0x1FFFFF
              if (Character.isLetterOrDigit(cp.toChar)) j += (pl >>> 21)
              else nameDone = true
            }
          }
          val tagId = commonTagId(b, lt + 1, j)
          val name = if (tagId >= 0) CommonTagNames(tagId) else tagNameOfB(lt + 1, j)
          val bits = if (tagId >= 0) tagBits(tagId) else 0
          val isA = (bits & TagA) != 0
          if (name.isEmpty) { flushText(lt, lt + 1); i = lt + 1 }
          else {
            // reset doc-scoped attr bounds for this element
            styleVs = -1; idVs = -1; forVs = -1; dwVs = -1; dhVs = -1
            selfClose = false
            var done = false
            while (!done && j < n) {
              while (j < n && { val w = wsLen(j); if (w > 0) { j += w; true } else false }) ()
              if (j < n && u(j) == '>') { done = true; j += 1 }
              else if (j + 1 < n && u(j) == '/' && u(j + 1) == '>') {
                selfClose = true; done = true; j += 2
              } else if (j < n && u(j) == '/') {
                j += 1 // stray '/' not followed by '>' is tag-soup noise
              } else if (j < n) {
                val ks = j
                var keyDone = false
                while (!keyDone && j < n) {
                  val c = u(j)
                  if (c == '=' || c == '>' || c == '/') keyDone = true
                  else if (c < 0x80) {
                    if ((asciiClass(c) & AsciiWs) != 0) keyDone = true else j += 1
                  } else if (wsLen(j) > 0) keyDone = true
                  else j += 1
                }
                val kind = if (j > ks) keyKind(ks, j) else 0
                while (j < n && { val w = wsLen(j); if (w > 0) { j += w; true } else false }) ()
                if (j < n && u(j) == '=') {
                  j += 1
                  while (j < n && { val w = wsLen(j); if (w > 0) { j += w; true } else false }) ()
                  if (j < n && (u(j) == '"' || u(j) == '\'')) {
                    val q = u(j)
                    val vs = j + 1
                    val ve = bIndexOf(q, vs)
                    retainAttr(kind, vs, if (ve < 0) n else ve)
                    j = if (ve < 0) n else ve + 1
                  } else {
                    val vs = j
                    var vDone = false
                    while (!vDone && j < n) {
                      val c = u(j)
                      if (c == '>') vDone = true
                      else if (c < 0x80) {
                        if ((asciiClass(c) & AsciiWs) != 0) vDone = true else j += 1
                      } else if (wsLen(j) > 0) vDone = true
                      else j += 1
                    }
                    retainAttr(kind, vs, j)
                  }
                } else retainAttr(kind, ks, ks) // key with no value -> empty
              }
            }
            i = j
            val isRaw = (bits & TagRaw) != 0
            val isVoidLike = (bits & TagVoid) != 0 || selfClose || isRaw
            if (isRaw) {
              val close = "</" + name
              val end = bIndexOfCI(close, i)
              val endGt = if (end < 0) n else bIndexOf('>', end)
              i = if (end < 0) n else (if (endGt < 0) n else endGt + 1)
            }
            if (dimW < 0 && dwVs >= 0 && dhVs >= 0) {
              (matVal(dwVs, dwVe).toIntOption, matVal(dhVs, dhVe).toIntOption) match {
                case (Some(w), Some(h)) => dimW = w; dimH = h
                case _                  => ()
              }
            }
            if (blockOpen) {
              // inside a block: frames still mirror the parser, text flows,
              // but no refs and no nested blocks (the walk never descends)
              if (!isVoidLike) {
                val t = fLen - 1
                pushFrame(name, 0, isA = isA, isBlockRoot = false,
                  nav = (fBits(t) & 4) != 0, hdr = (fBits(t) & 8) != 0,
                  cell = fCell(t), dl = fDl(t), tr = fTr(t))
                if (isA) aDepth += 1
              }
            } else {
              elemCounter += 1
              val myRef = elemCounter
              val t = fLen - 1
              val nav2 = (fBits(t) & 4) != 0 || (bits & TagNav) != 0
              val hdr2 = (fBits(t) & 8) != 0 || (bits & TagHdr) != 0
              val cell2 = if ((bits & TagCell) != 0) name else fCell(t)
              val dl2 = if ((bits & TagDl) != 0) myRef else fDl(t)
              val tr2 = if ((bits & TagTr) != 0) myRef else fTr(t)
              // style parsed in place over the raw byte region into bBox;
              // entity-bearing styles (never in practice) fall back to the
              // decoded string
              val hasBox =
                if (styleVs < 0) false
                else if (hasAmp(styleVs, styleVe))
                  parseStyleBox(decodeEntities(decodeRange(styleVs, styleVe))) match {
                    case Some(bx) =>
                      bBox(0) = bx(0); bBox(1) = bx(1); bBox(2) = bx(2); bBox(3) = bx(3)
                      true
                    case None => false
                  }
                else parseStyleBoxB(b, styleVs, styleVe, bBox)
              if (hasBox) {
                bTag = name; bParentRef = fRef(t)
                bDlRef = dl2; bTrRef = tr2
                bId = { val v = matVal(idVs, idVe); if (v != null && v.nonEmpty) v else null }
                bFor = { val v = matVal(forVs, forVe); if (v != null && v.nonEmpty) v else null }
                bNav = nav2; bHdr = hdr2; bCell = cell2
                bSb.setLength(0); bFirst = null; bLink = 0
                if (isVoidLike) { blockOpen = true; emitBlock() } // childless
                else {
                  blockOpen = true
                  aDepth = if (isA) 1 else 0
                  pushFrame(name, myRef, isA = isA, isBlockRoot = true,
                    nav = nav2, hdr = hdr2, cell = cell2, dl = dl2, tr = tr2)
                }
              } else if (!isVoidLike)
                pushFrame(name, myRef, isA = isA, isBlockRoot = false,
                  nav = nav2, hdr = hdr2, cell = cell2, dl = dl2, tr = tr2)
            }
          }
        }
      }
    }
    while (fLen > 1) closeFrame()
    val (width, height) = if (dimW >= 0) (dimW, dimH) else (1000, 1414)
    assemble(blocks, width, height, uid)
  }

  /** Full kernel body: html bytes -> annotation -> token sample -> decoded
    * document. The single per-document function the Spark engine maps over
    * partitions (pred path: mutual-best assignment).
    */
  def extract(uid: String, htmlBytes: Array[Byte]): DecodedDoc =
    DocBuilder.decodeSampleFast(DocBuilder.build(lineizeStreamBytes(htmlBytes, uid)))
}
