package graft.core

/** Text normalization primitives.
  *
  * Semantics mirror the reference implementation (cited below) so that the
  * distributed engine and the golden oracle produce byte-identical strings:
  *  - full-width to half-width folding: /root/reference/data/data_utils.py:173-195
  *  - special replacement table (inference superset):
  *    /root/reference/deploy/inference.py:182-203,
  *    /root/reference/data/datasets/rfund.py:95-109
  *  - Python-compatible `str.strip()` used at KV emit:
  *    /root/reference/pipeline/decode.py:360-361
  *
  * Source is ASCII-only on purpose: every non-ASCII code point appears as a
  * \\u escape so the byte-level contract is visible and encoding-proof.
  */
object TextNorm {

  /** Full-width to half-width: U+3000 -> space; U+FF01..U+FF5E -> code - 0xFEE0. */
  def charF2H(c: Char): Char =
    if (c.toInt == 0x3000) ' '
    else if (c.toInt >= 0xFF01 && c.toInt <= 0xFF5E) (c - 0xFEE0).toChar
    else c

  def stringF2H(s: String): String = {
    var i = 0
    var changed = false
    while (i < s.length && !changed) { if (charF2H(s.charAt(i)) != s.charAt(i)) changed = true; i += 1 }
    if (!changed) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var j = 0
      while (j < s.length) { sb.append(charF2H(s.charAt(j))); j += 1 }
      sb.toString
    }
  }

  /** Ordered literal replacement chain (order is load-bearing), then f2h.
    * Standardized on the inference-time table (the dataset-time table is a
    * strict subset). [[specialReplace]] runs it in one pass;
    * [[specialReplaceChain]] runs it as written.
    */
  private val replacements: Array[(String, String)] = Array(
    "\u2610" -> "", // BALLOT BOX
    "\u2611" -> "", // BALLOT BOX WITH CHECK
    "\uf702" -> "", // private-use U+F702
    "\uf703" -> "", // private-use U+F703
    "T\u03bfpic" -> "Topic", // Greek omicron homoglyph
    "\u00e1" -> "a",
    "\u00e9" -> "e",
    "\u00ed" -> "i",
    "\u00f3" -> "o",
    "\u00fa" -> "u",
    "\u00fc" -> "u",
    "\u2013" -> "-", // en dash
    "\u2018" -> "'",
    "\u2019" -> "'",
    "\u201c" -> "\"",
    "\u2014" -> "-", // em dash
    "\u2122" -> "TM",
    "\u00a7" -> "",
    "\u00a2" -> ""
  )

  /** The table applied as written: one `replace` pass per entry, then f2h. */
  private[core] def specialReplaceChain(text: String): String = {
    var t = text
    var i = 0
    while (i < replacements.length) {
      val (from, to) = replacements(i)
      if (t.contains(from)) t = t.replace(from, to)
      i += 1
    }
    stringF2H(t)
  }

  /** [[specialReplaceChain]] in one pass over the chars. The chain's shape
    * makes this exact: the first four entries delete single chars; the
    * fifth rewrites "T\u03bfpic" in what the deletions leave, so the
    * pass matches it over the chars it keeps (a deleted char between its
    * letters still joins them); every later entry maps one char to ASCII,
    * which no later entry matches, and neither they nor f2h touch the
    * pattern's letters, so a "T\u03bfpic" they expose (the deleted
    * U+00A7 in "T\u03bf\u00a7pic") stays, as in the chain.
    */
  def specialReplace(text: String): String = {
    // ASCII fast path: every replacement `from` contains a char >= 0x80
    // (incl. the Greek-omicron homoglyph in "T\u03bfpic") and charF2H only
    // maps code points >= 0x3000, so a pure-ASCII string is a fixpoint
    val n = text.length
    var a = 0
    while (a < n && text.charAt(a) < 0x80) a += 1
    if (a == n) return text
    val sb = new java.lang.StringBuilder(n + 8)
    sb.append(text, 0, a)
    var changed = false
    // chars of "T\u03bfpic" matched so far, over the kept chars
    var run = if (a > 0 && text.charAt(a - 1) == 'T') 1 else 0
    var i = a
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\u2610' || c == '\u2611' || c == '\uf702' || c == '\uf703') changed = true
      else {
        run = if (c == TopicHomoglyph.charAt(run)) run + 1 else if (c == 'T') 1 else 0
        if (run == TopicHomoglyph.length) {
          sb.setCharAt(sb.length - 3, 'o') // the omicron, before "pi"
          changed = true
          run = 0
        }
        c match {
          case '\u00e1'                       => sb.append('a'); changed = true
          case '\u00e9'                       => sb.append('e'); changed = true
          case '\u00ed'                       => sb.append('i'); changed = true
          case '\u00f3'                       => sb.append('o'); changed = true
          case '\u00fa' | '\u00fc'            => sb.append('u'); changed = true
          case '\u2013' | '\u2014'            => sb.append('-'); changed = true
          case '\u2018' | '\u2019'            => sb.append('\''); changed = true
          case '\u201c'                       => sb.append('"'); changed = true
          case '\u2122'                       => sb.append("TM"); changed = true
          case '\u00a7' | '\u00a2'            => changed = true
          case _ =>
            val h = charF2H(c)
            if (h != c) changed = true
            sb.append(h)
        }
      }
      i += 1
    }
    if (changed) sb.toString else text
  }

  private final val TopicHomoglyph = "T\u03bfpic"

  /** Predicate matching CPython `str.isspace()` per-char semantics: ASCII
    * whitespace, the C0 separators 0x1C-0x1F, NEL, and Unicode Zs/Zl/Zp.
    * [[pyIsSpace]] reads it from a table.
    */
  private[core] def pyIsSpaceRef(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') || (c.toInt >= 0x1C && c.toInt <= 0x1F) ||
      c.toInt == 0x85 || {
        val t = Character.getType(c)
        t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
      }

  // pyIsSpaceRef of every char, one bit each (8 KB): the tokenizer asks
  // for every char of every line, and Character.getType is the slow part
  private val spaceBits: Array[Long] = {
    val bits = new Array[Long](1024)
    var c = 0
    while (c < 65536) {
      if (pyIsSpaceRef(c.toChar)) bits(c >>> 6) |= 1L << c
      c += 1
    }
    bits
  }

  /** [[pyIsSpaceRef]] as one table lookup. */
  def pyIsSpace(c: Char): Boolean = ((spaceBits(c >>> 6) >>> c) & 1L) != 0

  /** Python `str.strip()` (no-arg) equivalent. */
  def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && pyIsSpace(s.charAt(a))) a += 1
    while (b > a && pyIsSpace(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** Python `str.isspace()`: true iff non-empty and all chars are space. */
  def pyIsSpaceStr(s: String): Boolean =
    s.nonEmpty && s.forall(pyIsSpace)
}
