package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TextNorm
import graft.functions.{F2HExpression, GraftFunctions}

/** Specs for the training-data pipeline operators (dedup / similarity /
  * text analysis / multimodal) and the native Catalyst f2h expression.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---------- text analysis ----------

  test("qualityGate: six outcomes with the documented funnel priority") {
    val out = TextAnalysis.qualityGate(docsDf(
      // 18 words, 10 en stopwords, all alpha -> score ~0.55: kept
      0L -> "the cat and the dog sat on the mat with a hat and a bat and more words",
      // 1 word AND zero stopwords: the length rule outranks no_lang
      1L -> "xyzzy",
      // 100 words AND zero stopwords: too_long outranks no_lang
      2L -> Seq.fill(100)("w").mkString(" "),
      // 20 words, zero stopword hits in any profile
      3L -> Seq.fill(20)("xyzzy").mkString(" "),
      // 20 words, 1 stopword, 1 alpha word -> score ~0.065 < 0.36
      4L -> ("the " + (1 to 19).map(i => s"z$i").mkString(" ")),
      // 18 words, en, score ok; 1 email + 1 long digit run = 2000 per-kword
      // units > 18 * 50
      5L -> "the cat and the dog sat on the mat with a hat user5@example.com 5551234567 extra words here now"
    )).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[String]("drop_reason")).getOrElse("kept"), r.getAs[Int]("keep")))
    }.toMap
    assert(out(0L) == (("kept", 1)))
    assert(out(1L) == (("too_short", 0)))
    assert(out(2L) == (("too_long", 0)))
    assert(out(3L) == (("no_lang", 0)))
    assert(out(4L) == (("low_quality", 0)))
    assert(out(5L) == (("pii_heavy", 0)))
  }

  test("qualityThreshold: per-lang p10 floor is an exact member value; null lang survives") {
    import spark.implicits._
    // en scores are strictly increasing with word count here; 10 docs ->
    // p10 = the lowest score (exactly one doc sits AT the floor and is kept)
    val docs = ((1 to 10).map(i =>
        (i.toLong, "en", ("the " * i).trim)) :+
        ((99L, null.asInstanceOf[String], "the a and of")))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.qualityThreshold(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score_micro"), r.getAs[Long]("thresh_micro"), r.getAs[Int]("kept"))))
      .toMap
    val enScores = (1 to 10).map(i => out(i.toLong)._1)
    assert(enScores == enScores.sorted && enScores.distinct.size == 10)
    val floor = enScores.min
    (1 to 10).foreach { i =>
      assert(out(i.toLong)._2 == floor) // the floor IS a member value
      assert(out(i.toLong)._3 == (if (out(i.toLong)._1 >= floor) 1 else 0))
    }
    assert(out(1L)._3 == 1) // the doc AT the p10 floor is kept, not dropped
    // the null-lang group forms its own stratum and is never lost to the join
    assert(out(99L)._2 == out(99L)._1 && out(99L)._3 == 1)
    // p=0.5 over 10 distinct scores: floor = 5th value -> exactly 4 dropped
    val strict = TextAnalysis.qualityThreshold(docs, p = 0.5).collect()
      .filter(_.getAs[String]("lang") == "en")
    assert(strict.count(_.getAs[Int]("kept") == 0) == 4)
    assert(strict.count(_.getAs[Int]("kept") == 1) == 6)
  }

  test("mixtureSample: rates derive from observed mass; saturation; unlisted sources excluded") {
    import spark.implicits._
    // srcA: 4 docs x 100 chars = 400; srcB: 2 x 100 = 200; srcC unlisted
    val docs = Seq(
      (0L, "srcA", 100L), (1L, "srcA", 100L), (2L, "srcA", 100L), (3L, "srcA", 100L),
      (4L, "srcB", 100L), (5L, "srcB", 100L),
      (6L, "srcC", 100L)
    ).toDF("doc_id", "source", "n_chars")
    // weights A=1, B=1 (W=2), budget 400: rate_A = 400*1/(2*400) = 0.5,
    // rate_B = 400*1/(2*200) = 1.0 (saturated), srcC weight 0 -> excluded
    val out = Prep.mixtureSample(docs, Seq("srcA" -> 1L, "srcB" -> 1L), 400L).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    assert(!bySrc.contains("srcC"))
    assert(bySrc("srcB").map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(4L, 5L),
      "saturated source keeps every doc")
    assert(out.forall(r => r.getAs[String]("source") match {
      case "srcA" => r.getAs[Long]("rate_micro") == 500000L
      case "srcB" => r.getAs[Long]("rate_micro") == 1000000L
      case _ => false
    }))
    // the srcA subset is exactly the deterministic hash gate at 0.5 — a
    // re-run (resumability) returns the same rows
    val again = Prep.mixtureSample(docs, Seq("srcA" -> 1L, "srcB" -> 1L), 400L).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == again.map(_.getAs[Long]("doc_id")).toSeq)
    // a budget twice the corpus saturates every listed source
    val all = Prep.mixtureSample(docs, Seq("srcA" -> 1L, "srcB" -> 1L), 1200L).collect()
    assert(all.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("mixtureSample: zero-mass and NULL-mass sources neither crash (ANSI /0) nor leak") {
    import spark.implicits._
    val docs = Seq(
      (0L, "srcA", Some(100L)),
      (1L, "srcZero", Some(0L)), (2L, "srcZero", Some(0L)), // weighted, zero mass
      (3L, "srcNull", None), (4L, "srcNull", None)          // UNLISTED, null mass
    ).toDF("doc_id", "source", "n_chars")
    val out = Prep.mixtureSample(docs, Seq("srcA" -> 1L, "srcZero" -> 1L), 100L).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    // weighted source with no observed mass saturates (quota-starved), no /0
    assert(bySrc("srcZero").map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L))
    assert(bySrc("srcZero").forall(_.getAs[Long]("rate_micro") == 1000000L))
    // an unlisted source is excluded even when its NULL mass makes the raw
    // rate expression NULL (least() would have skipped the NULL -> keep-all)
    assert(!bySrc.contains("srcNull"))
  }

  // ---------- bloom decontamination ----------

  test("contaminationBloom: identical to exact contamination incl. null text") {
    val corpus = docsDf(0L -> "a b c d e", 1L -> "x y z w v", 2L -> (null: String))
    val probes = docsDf(100L -> "b c d q r") // shares exactly shingle "b c d" with doc 0
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"))).toSeq
    val exact = rows(Dedup.contamination(corpus, probes, n = 3))
    assert(exact == Seq(0L -> 1L))
    assert(rows(Dedup.contaminationBloom(corpus, probes, n = 3)) == exact)
  }

  test("contaminationBloom: empty probe set is an empty result, not a null-bloom failure") {
    val corpus = docsDf(0L -> "a b c d e")
    val out = Dedup.contaminationBloom(corpus, docsDf(), n = 3)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("doc_id", "n_hits"))
  }

  test("langId: stopword argmax with fixed priority tie-break") {
    val df = TextAnalysis.langId(docsDf(
      0L -> "the cat and the dog",          // en
      1L -> "der hund und die katze ist",   // de
      2L -> "xyzzy plugh quux",             // no hits -> und
      3L -> "the der"                       // 1-1 tie -> en (priority)
    ))
    val out = df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out == Map(0L -> "en", 1L -> "de", 2L -> "und", 3L -> "en"))
  }

  test("quality: exact integer components and deterministic micro score") {
    val row = TextAnalysis.quality(docsDf(0L -> "the quick brown fox")).collect()(0)
    assert(row.getAs[Long]("n_words") == 4L)
    assert(row.getAs[Long]("sum_wlen") == 16L)
    assert(row.getAs[Long]("stop_hits") == 1L)
    assert(row.getAs[Long]("alpha_words") == 4L)
    // 0.4*(1/4) + 0.3*(4/4) + 0.3*min(1, 4/200) = .1+.3+.006
    assert(row.getAs[Long]("score_micro") == math.floor(1e6 * (0.1 + 0.3 + 0.3 * (4.0 / 200.0))).toLong)
  }

  test("tokenCounts: BPE-ish regex segmentation vs whitespace") {
    val row = TextAnalysis.tokenCounts(docsDf(0L -> "ab3 x, y9!")).collect()(0)
    assert(row.getAs[Int]("n_ws") == 3)
    // ab|3, x|comma, y|9|! -> 7
    assert(row.getAs[Int]("n_bpe") == 7)
  }

  test("fingerprint: deterministic, order-sensitive rolling hash") {
    val a = TextAnalysis.fingerprint(docsDf(0L -> "a b c d e")).collect()(0)
    val b = TextAnalysis.fingerprint(docsDf(0L -> "a b c d e")).collect()(0)
    val c = TextAnalysis.fingerprint(docsDf(0L -> "e d c b a")).collect()(0)
    assert(a.getAs[Long]("fp") == b.getAs[Long]("fp"))
    assert(a.getAs[Long]("fp") != c.getAs[Long]("fp"), "rolling hash must be order-sensitive")
    assert(!a.isNullAt(a.fieldIndex("winnow_fp")), "winnow defined for len>=4")
  }

  test("vocab top-k: deterministic count-desc token-asc order with ties") {
    val rows = TextAnalysis.vocabTopK(docsDf(
      0L -> "b a a c b a",
      1L -> "c d  d"), k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // a:3, b:2, c:2, d:2 -> top3 = a, then b/c tie by token asc
    assert(rows == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
  }

  // ---------- dedup ----------

  private val dupDocs = docsDf(
    0L -> "alpha beta gamma delta epsilon zeta eta theta",
    1L -> "alpha beta gamma delta epsilon zeta eta theta", // exact dup of 0
    2L -> "alpha beta gamma delta epsilon zeta eta iota",  // near dup of 0
    3L -> "one two three four five six seven eight")

  test("exact dedup: canonical is min doc_id of the md5 group") {
    val out = Dedup.exact(dupDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical")).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L))
  }

  test("minhash LSH: exact and near duplicates land in a shared band bucket") {
    val pairs = Dedup.lshCandidatePairs(dupDocs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)), "identical docs must collide in every band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("lshRecall: exact audit truth pairs with caught flags vs the production LSH pass") {
    val rows = Dedup.lshRecall(dupDocs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("jac_micro"), r.getAs[Int]("caught")))
    // 8-word docs -> five 4-gram shingles; 0/1 identical (jac 1), 0/2 and
    // 1/2 share 4 of 6 distinct shingles (floor(4/6 * 1e6)); doc 3 disjoint.
    // The jac-0.67 pairs happen NOT to band-collide at (k=8, rows=2) with
    // these hash values — the audit reports that honestly (caught=0): this
    // is the measured-recall-below-1 case the operator exists to surface
    assert(rows.toSeq == Seq(
      (0L, 1L, 1000000L, 1), (0L, 2L, 666666L, 0), (1L, 2L, 666666L, 0)),
      rows.mkString("; "))
    // bucketCap=1 starves every band bucket below pair size: the production
    // pass emits nothing and the audit must report zero recall, not pass
    val starved = Dedup.lshRecall(dupDocs, bucketCap = 1).collect()
      .map(r => r.getAs[Int]("caught"))
    assert(starved.toSeq == Seq(0, 0, 0), starved.mkString("; "))
  }

  test("simhash: identical texts collide, disjoint texts differ") {
    val out = Dedup.simhash(dupDocs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(out(0L) == out(1L))
    assert(out(0L) != out(3L))
  }

  test("simhash pairs: identical docs pair at hamming 0; banding finds them") {
    val rows = Dedup.simhashPairs(dupDocs).collect()
    val m = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    assert(m.get((0L, 1L)).contains(0), "exact duplicates must pair at hamming 0")
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("bandedFrame: 4x16-bit pigeonhole — Hamming 3 across three bands found, 4 across all bands not") {
    import spark.implicits._
    // two groups whose band values never meet, so only in-group pairs can
    // share a bucket; the cap is far above every bucket's size
    val b = 0x0F0F0F0FL
    val sig = Seq(
      (1L, 0L, 0L),
      // top bit of a band: a band layout that overlaps or skips bits
      // changes which bands these flips land in
      (2L, 0x80008000L, 0x00008000L), // flips in bands h0, h1, l0; l1 shared
      (3L, b, b),
      (4L, b ^ 0x80008000L, b ^ 0x80008000L) // one flip in every band
    ).toDF("doc_id", "h", "l")
    val framed = Dedup.bandedFrame(sig, "h", "l", bucketCap = 1000)
    assert(framed.columns.toSeq == Seq("doc_id", "hi", "lo", "bkey"))
    assert(framed.count() == 16, "four band rows per signature")
    val pairs = Dedup.bandedHammingPairs(framed, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((1L, 2L, 3)),
      s"Hamming 3 sharing band l1 must pair; Hamming 4 sharing no band must not: $pairs")
  }

  test("ngram jaccard: identical docs score exactly 1.0 (1e6 micro)") {
    val rows = Dedup.jaccardPairs(dupDocs, thresh = 0.2).collect()
    val m = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Long]("jac_micro")).toMap
    assert(m((0L, 1L)) == 1000000L)
    assert(m.contains((0L, 2L)) && m((0L, 2L)) < 1000000L)
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pii redaction: emails and long digit runs scrubbed, short numbers kept") {
    val df = docsDf(
      1L -> "mail me at a.b-c@test.org thanks",
      2L -> "id 123456789 and 12345 ok",
      3L -> "both x9@a.co.uk then 0000001",
      4L -> "clean text stays put")
    val got = TextAnalysis.redactPii(df)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail me at <EMAIL> thanks")
    assert(got(2L) == "id <NUM> and 12345 ok")
    assert(got(3L) == "both <EMAIL> then <NUM>")
    assert(got(4L) == "clean text stays put")
  }

  test("contamination: docs sharing a probe n-gram are flagged with hit counts") {
    // probe = doc 1; doc 2 shares its full 4-gram run, doc 3 shares none
    val df = docsDf(
      1L -> "alpha beta gamma delta epsilon",      // probe: 2 distinct 4-grams
      2L -> "alpha beta gamma delta other words",  // shares 1 of them
      3L -> "completely different text here now")
    val got = Dedup.contamination(df, df.filter(col("doc_id") === 1L), n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("incrementalGate: band hits against the standing-corpus index") {
    val corpus = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight")
    val increment = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta eta theta", // exact copy: all 4 bands hit
      11L -> "red green blue yellow purple orange cyan pink", // disjoint: no hits
      12L -> "tiny")                                          // < n words: no bands at all
    val got = Dedup.incrementalGate(corpus, increment)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((10L, 4L, 1), (11L, 0L, 0), (12L, 0L, 0)))
  }

  test("incrementalGate: increment-only rows keep row count (left join, never inner)") {
    // empty standing corpus: every increment doc must still surface, hit=0
    val out = Dedup.incrementalGate(docsDf(), docsDf(
        1L -> "alpha beta gamma delta epsilon",
        2L -> "one two three four five"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, 0L, 0), (2L, 0L, 0)))
  }

  test("cleanLines: C4 line rules — punct, min words, blocklist, doc-level gates") {
    import spark.implicits._
    val pages = Seq(
      "u1" -> Seq(
        "This is a good first sentence.", // kept
        "Is this kept too?",              // kept (terminal ?)
        "  padded but fine!  ",           // kept: predicate sees the stripped line, output keeps the raw one
        "short.",                         // dropped: < 3 words
        "no terminal punctuation here",   // dropped: no terminal mark
        "please enable javascript now.",  // dropped: blocklist needle
        "").mkString("\n"),
      // doc-level marker drops the whole page even with 2 good lines
      "u2" -> "Good line one stays here.\nAnother good line stays.\nlorem ipsum dolor sit.",
      // survives line rules but fails the min-kept-lines floor
      "u3" -> "Only one good line survives here.\nbad\nbad",
      // '{' marker (C4's code tell) drops the page outright
      "u4" -> "Braces { appear here.\nGood line two is present.\nGood line three is present."
    ).toDF("url", "text")
    val out = TextAnalysis.cleanLines(pages).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("u1"))
    val r = out.head
    assert(r.getString(1) ==
      "This is a good first sentence.\nIs this kept too?\n  padded but fine!  ")
    assert(r.getLong(2) == 7L && r.getLong(3) == 3L) // 6 lines + trailing ""
  }

  test("cleanLines: requirePunct=false keeps unpunctuated prose; needles stay case-sensitive") {
    import spark.implicits._
    val pages = Seq(
      "u1" -> "plain words no punctuation\nJavascript is a proper noun here\nenable javascript now"
    ).toDF("url", "text")
    val out = TextAnalysis.cleanLines(pages, minWords = 2, requirePunct = false,
        blocklist = Seq("javascript"), minKeptLines = 1)
      .collect()
    // lowercase needle drops line 3 only; capitalized "Javascript" survives
    assert(out.head.getString(1) ==
      "plain words no punctuation\nJavascript is a proper noun here")
  }

  test("stratified sampling: rate edges, default fallback, threshold monotonicity") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "zh", s"text $i"))
      .toDF("doc_id", "lang", "text")
    def ids(rates: Seq[(String, Double)], dflt: Double): Set[Long] =
      Prep.stratifiedSample(df, rates, defaultRate = dflt)
        .collect().map(_.getLong(0)).toSet
    // rate 1.0 keeps every row of the stratum; 0.0 drops all of it
    assert(ids(Seq("en" -> 1.0), dflt = 0.0) == (2L to 200L by 2).toSet)
    // default-rate fallback applies to unlisted languages (zh here)
    assert(ids(Seq("en" -> 0.0), dflt = 1.0) == (1L to 199L by 2).toSet)
    // hash-gate monotonicity: raising a rate only ADDS rows (same hashes)
    val lo = ids(Seq("en" -> 0.3, "zh" -> 0.2), dflt = 0.0)
    val hi = ids(Seq("en" -> 0.6, "zh" -> 0.7), dflt = 0.0)
    assert(lo.subsetOf(hi))
    assert(lo.nonEmpty && hi.size > lo.size && hi.size < 200)
  }

  test("repetition stats: top-word/dup-word/top-bigram fractions") {
    // "a a a b": n=4, maxw=3, distinct=2, bigrams: "a a"x2, "a b"x1 -> maxb=2/3
    val df = docsDf(
      1L -> "a a a b",
      2L -> "x y z",      // all distinct: top 1/3, dup 0, bigrams all unique 1/2
      3L -> "solo",       // single word: no bigrams
      4L -> " ")          // no words at all
    val got = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((4L, 750000L, 500000L, 666666L)))
    assert(got(2L) == ((3L, 333333L, 0L, 500000L)))
    assert(got(3L) == ((1L, 1000000L, 0L, 0L)))
    assert(got(4L) == ((0L, 0L, 0L, 0L)))
  }

  test("connected components: multi-round path graph and singletons") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("doc_id")
    // path 1-2-3-4 (diameter 3 -> several propagation rounds), pair 5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.componentsFrom(nodes, pairs, maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components: diameter-12 chain converges across checkpoint boundaries") {
    import spark.implicits._
    // a 13-node path graph needs >5 propagation rounds, so the fixpoint
    // loop crosses the every-5-rounds localCheckpoint at least twice —
    // exercising both lineage truncation and the decimal-sum convergence
    // test on a high-diameter graph (plus a large-id singleton: the decimal
    // path must not care about id magnitude)
    val big = Long.MaxValue / 2
    val nodes = ((1L to 13L) :+ big).toDF("doc_id")
    val pairs = (1L until 13L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.componentsFrom(nodes, pairs, maxIters = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 13L).map(_ -> 1L).toMap + (big -> big)
    assert(got == expected)
  }

  test("dedupComponents clusters exact-duplicate groups; others stay singletons") {
    val text1 = "alpha beta gamma delta epsilon zeta"
    val text2 = "one two three four five six seven"
    val df = docsDf(
      1L -> text1, 2L -> text1, 3L -> text1,
      4L -> text2, 5L -> text2,
      6L -> "completely different words here now ok")
    val got = Dedup.dedupComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("leakageSafeSplit: near-dup cluster members always land on the same side") {
    val text1 = "alpha beta gamma delta epsilon zeta"
    val text2 = "one two three four five six seven"
    val df = docsDf(
      1L -> text1, 2L -> text1, 3L -> text1,
      4L -> text2, 5L -> text2,
      6L -> "completely different words here now ok")
    val got = Dedup.leakageSafeSplit(df, testPermille = 500)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("component"), r.getAs[String]("split")))
    assert(got.map(_._1).toSeq == (1L to 6L), "one row per doc, ordered")
    // the leakage invariant: same component => same split, no exceptions
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).toSet.size == 1, s"component $c split across sides: ${rows.toSeq}")
    }
    // split matches the documented hash rule exactly (reproducible gate)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    got.foreach { case (_, c, sp) =>
      val expect = if (h32(s"$c:split") % 1000 < 500) "test" else "train"
      assert(sp == expect, s"component $c: got $sp, hash says $expect")
    }
  }

  test("dedup results invariant to input partitioning") {
    val repartitioned = dupDocs.repartition(7)
    assert(Dedup.lshCandidatePairs(dupDocs).collect().toSeq ==
      Dedup.lshCandidatePairs(repartitioned).collect().toSeq)
    assert(Dedup.simhash(dupDocs).collect().toSeq ==
      Dedup.simhash(repartitioned).collect().toSeq)
  }

  // ---------- similarity ----------

  private def embDf(rows: (Long, Seq[Float], Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  private lazy val embFixture = embDf(
    (0L, Seq.tabulate(64)(i => (i + 1).toFloat), 0),
    (1L, Seq.tabulate(64)(i => (i + 1).toFloat * 2f), 0), // parallel to 0
    (2L, Seq.tabulate(64)(i => if (i % 2 == 0) 1f else -1f), 0),
    (3L, Seq.tabulate(64)(i => (64 - i).toFloat), 1)
  )

  test("prefixRecall: full-width prefix is exactly 1.0; a lossy prefix is penalized") {
    // query v0 = all ones. v1 shares the 16-dim prefix exactly (prefix cos
    // 1.0) but inverts the suffix (full cos -0.5); v2 flips one PREFIX dim
    // (prefix cos 0.875) but is nearly parallel overall (full cos 62/64).
    // Full-dim truth top-2 = {v0, v2}; 16-dim prefix top-2 = {v0, v1}.
    val df = embDf(
      (0L, Seq.fill(64)(1f), 0),
      (1L, Seq.fill(16)(1f) ++ Seq.fill(48)(-1f), 0),
      (2L, Seq(-1f) ++ Seq.fill(63)(1f), 0))
    val full = Similarity.prefixRecall(df, prefixDim = 64, nQueries = 1, k = 2).collect()
    assert(full.length == 1 && full(0).getAs[Long]("recall_micro") == 1000000L,
      s"prefixDim=Dim must reproduce the truth exactly: ${full.toSeq}")
    val lossy = Similarity.prefixRecall(df, prefixDim = 16, nQueries = 1, k = 2).collect()
    assert(lossy(0).getAs[Long]("recall_micro") == 500000L,
      s"the prefix-fooled neighbor must cost exactly 1/k: ${lossy.toSeq}")
  }

  test("brute-force topk: self is rank 1 with cosine exactly 1.0") {
    val rows = Similarity.bruteForceTopK(embFixture, nQueries = 2, k = 2).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    Seq(0L, 1L).foreach { q =>
      val top = byQ(q).minBy(_.getAs[Int]("rank"))
      // 0 and 1 are exactly parallel: both rank-1 by cosine, tie broken by id
      assert(top.getAs[Long]("n_id") == 0L)
      assert(top.getAs[Long]("cos_micro") >= 999999L)
    }
  }

  test("ivf topk searches only the query's cell") {
    val rows = Similarity.ivfTopK(embFixture, nQueries = 4, k = 4).collect()
    val cells = rows.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.map(_.getAs[Long]("n_id")).toSet)
    assert(cells(3L) == Set(3L), "label-1 query must only see label-1 candidates")
    assert(cells(0L) == Set(0L, 1L, 2L))
  }

  test("cosine near-dup: hot cells are LSH-sub-bucketed, small cells exact") {
    val rng = new java.util.Random(7)
    // label 0 hot (40 vectors), label 1 small (6 vectors)
    val rows = (0L until 40L).map { i =>
      (i, Seq.tabulate(64)(_ => rng.nextFloat() * 2f - 1f), 0)
    } ++ (40L until 46L).map { i =>
      (i, Seq.tabulate(64)(_ => rng.nextFloat() * 2f - 1f), 1)
    }
    val df = embDf(rows: _*)
    val uncapped = Similarity.cosineNearDupPairs(df, thresh = -1.0, cellCap = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Similarity.cosineNearDupPairs(df, thresh = -1.0, cellCap = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "sub-bucketing must only remove candidates")
    // bound: hot-cell candidates collapse to within-(label,bucket) pairs
    val buckets = Similarity.lshBuckets(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectHot = uncapped.filter { case (a, b) => a < 40L && buckets(a) == buckets(b) }
    val expectSmall = uncapped.filter { case (a, _) => a >= 40L }
    assert(capped == expectHot ++ expectSmall)
    assert(capped.size < uncapped.size, "skewed cell must actually shrink")
  }

  test("kmeans family: empty input yields empty results with the declared schemas") {
    // r6: centroids are a driver-side model — an empty corpus must degrade
    // to empty frames (as the former empty joins did), never an analysis
    // error from a zero-centroid argmin
    val empty = embDf()
    assert(Similarity.kmeans(empty).collect().isEmpty)
    assert(Similarity.trainedIvfTopK(empty).collect().isEmpty)
    assert(Similarity.semDedup(empty).collect().isEmpty)
    assert(Similarity.pqTopK(empty).collect().isEmpty)
    assert(Similarity.semDedup(empty).columns.toSeq ===
      Seq("vec_id", "cid", "component", "dist_mic2", "kept"))
  }

  test("kmeans: two tight groups separate; members assign to their own centroid") {
    // two clusters in micro-exact range (|x| <= 2): group A near +0.1*e_i
    // pattern, group B near -0.1 — far apart relative to within-group jitter
    def v(base: Float, jit: Float): Seq[Float] =
      Seq.tabulate(64)(i => base + (if (i == 0) jit else 0f))
    val df = embDf(
      (0L, v(0.1f, 0.00f), 0), (1L, v(0.1f, 0.01f), 0), (2L, v(0.1f, -0.01f), 0),
      (3L, v(-0.1f, 0.00f), 0), (4L, v(-0.1f, 0.01f), 0), (5L, v(-0.1f, -0.01f), 0))
    val out = Similarity.kmeans(df, k = 2, rounds = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Int]("cid"), r.getAs[Long]("dist_mic2")))
      .toMap
    assert(out.size == 6, "one row per vector")
    val aCids = Set(out(0L)._1, out(1L)._1, out(2L)._1)
    val bCids = Set(out(3L)._1, out(4L)._1, out(5L)._1)
    assert(aCids.size == 1 && bCids.size == 1 && aCids != bCids,
      s"groups must land in distinct clusters: $out")
    // after the mean update the centroid sits inside its group: distances
    // are bounded by the within-group spread (0.01 micro = 1e4; squared
    // with the mean offset stays far under the cross-group 0.2 gap)
    assert(out.values.forall(_._2 < 400000000L), s"within-group dists only: $out")
  }

  test("kmeans: empty clusters carry their previous centroid; duplicates land at dist 0") {
    // 2 distinct points, 3 copies each, k=3: at least one cluster must go
    // empty in some round — it keeps its init centroid (left-join+coalesce)
    // instead of silently shrinking k; the means over pure-duplicate
    // clusters are the points themselves, so every vec ends at dist 0
    def v(x: Float): Seq[Float] = Seq.tabulate(64)(_ => x)
    val df = embDf(
      (0L, v(0.2f), 0), (1L, v(0.2f), 0), (2L, v(0.2f), 0),
      (3L, v(-0.2f), 0), (4L, v(-0.2f), 0), (5L, v(-0.2f), 0))
    val out = Similarity.kmeans(df, k = 3, rounds = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"), r.getAs[Long]("dist_mic2")))
    assert(out.length == 6)
    assert(out.forall(r => r._3 == 0L), s"every copy sits ON its centroid: ${out.toSeq}")
    assert(out.forall(r => r._2 >= 1 && r._2 <= 3), s"cids stay in 1..k: ${out.toSeq}")
    // the two distinct points keep distinct winners
    assert(out.filter(_._1 < 3).map(_._2).toSet.size == 1)
    assert(out.filter(_._1 >= 3).map(_._2).toSet.size == 1)
    assert(out.filter(_._1 < 3).map(_._2).toSet != out.filter(_._1 >= 3).map(_._2).toSet)
  }

  test("trainedIvfTopK: search restricted to the query's TRAINED cell") {
    def v(base: Float, jit: Float): Seq[Float] =
      Seq.tabulate(64)(i => base + (if (i == 0) jit else 0f))
    val df = embDf(
      (0L, v(0.1f, 0.00f), 0), (1L, v(0.1f, 0.01f), 0), (2L, v(0.1f, -0.01f), 0),
      (3L, v(-0.1f, 0.00f), 0), (4L, v(-0.1f, 0.01f), 0), (5L, v(-0.1f, -0.01f), 0))
    val out = Similarity.trainedIvfTopK(df, nQueries = 1, k = 3, kCentroids = 2)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("cos_micro")))
    // query 0 sits in the +0.1 group: its trained cell holds exactly
    // {0,1,2}, so the top-3 is that cell — never a -0.1 vector
    assert(out.length == 3, s"got ${out.toSeq}")
    assert(out.map(_._2).toSet == Set(0L, 1L, 2L), s"cell members only: ${out.toSeq}")
    assert(out.find(_._3 == 1).get._2 == 0L, "rank 1 is the query itself (cos 1)")
    assert(out.find(_._3 == 1).get._4 >= 999999L)
  }

  test("semDedup: one keeper per near-dup component, the member farthest from its centroid") {
    def v(base: Float, jit: Float): Seq[Float] =
      Seq.tabulate(64)(i => base + (if (i == 0) jit else 0f))
    // two tight groups (within-group cosine ~1, cross-group negative) plus
    // one orthogonal singleton (alternating signs: cosine ~0 to both groups)
    val df = embDf(
      (0L, v(0.1f, 0.00f), 0), (1L, v(0.1f, 0.01f), 0), (2L, v(0.1f, -0.01f), 0),
      (3L, v(-0.1f, 0.00f), 0), (4L, v(-0.1f, 0.01f), 0), (5L, v(-0.1f, -0.01f), 0),
      (6L, Seq.tabulate(64)(i => if (i % 2 == 0) 0.1f else -0.1f), 0))
    val out = Similarity.semDedup(df, kCentroids = 2, rounds = 2, thresh = 0.3)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("component"),
        r.getAs[Long]("dist_mic2"), r.getAs[Int]("kept")))
    assert(out.length == 7, "one row per vector, singletons included")
    val byComp = out.groupBy(_._2)
    assert(byComp.keySet == Set(0L, 3L, 6L),
      s"components are the two groups + the singleton: ${out.toSeq}")
    assert(byComp(0L).map(_._1).toSet == Set(0L, 1L, 2L))
    assert(byComp(3L).map(_._1).toSet == Set(3L, 4L, 5L))
    // exactly one keeper per component; the keeper realizes the component's
    // max centroid distance (SemDeDup keeps the least-prototypical member),
    // ties broken to the smaller vec_id
    byComp.foreach { case (c, members) =>
      val kept = members.filter(_._4 == 1)
      assert(kept.length == 1, s"component $c: exactly one keeper: ${members.toSeq}")
      val maxD = members.map(_._3).max
      val expect = members.filter(_._3 == maxD).map(_._1).min
      assert(kept.head._1 == expect,
        s"component $c keeper must be farthest-from-centroid (min-id ties): ${members.toSeq}")
    }
    assert(byComp(6L).head._4 == 1, "singleton is its own keeper")
  }

  test("pqTopK equals a plain-Scala PQ/ADC reference (third implementation)") {
    def vf(i: Long): Seq[Float] =
      Seq.tabulate(64)(d => ((i * 13 + d * 5) % 19).toFloat / 19f - 0.5f)
    val n = 40
    val (mSub, kCodes, rounds, nQ, k) = (4, 4, 2, 5, 3)
    val subDim = 64 / mSub
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val micro: Map[Long, Array[Long]] = (0L until n).map(i =>
      i -> vf(i).map(x => math.floor(x.toDouble * 1e6).toLong).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val initIds = (0L until n).sortBy(i => (h32(s"$i:km"), i)).take(kCodes)
    // per-subspace Lloyd over the sliced micro vectors (same init rule:
    // the k lowest-priority vec_ids seed every codebook)
    val trained = (0 until mSub).map { s =>
      val vecs = micro.view.mapValues(_.slice(s * subDim, (s + 1) * subDim)).toMap
      var cents: Map[Int, Array[Long]] =
        initIds.zipWithIndex.map { case (id, ix) => (ix + 1) -> vecs(id).clone() }.toMap
      def assignAll(): Map[Long, Int] = vecs.map { case (id, q) =>
        id -> cents.toSeq.map { case (c, cv) => (d2(q, cv), c) }.min._2
      }
      for (_ <- 1 to rounds) {
        val byC = assignAll().toSeq.groupBy(_._2)
        cents = cents.map { case (c, old) =>
          c -> byC.get(c).map { members =>
            val qs = members.map(m => vecs(m._1))
            Array.tabulate(subDim) { d =>
              val su = qs.map(_(d)).sum; val m = qs.size.toLong
              (su - (((su % m) + m) % m)) / m
            }
          }.getOrElse(old)
        }
      }
      (vecs, cents, assignAll())
    }
    val expect = (0L until nQ).flatMap { q =>
      val top = (0L until n).map { v =>
        val ad = (0 until mSub).map { s =>
          val (vecs, cents, codes) = trained(s)
          d2(vecs(q), cents(codes(v)))
        }.sum
        (v, ad)
      }.sortBy { case (v, ad) => (ad, v) }.take(k)
      top.zipWithIndex.map { case ((v, ad), r) => (q, v, r + 1, ad) }
    }.toSet
    val got = Similarity
      .pqTopK(embDf((0L until n).map(i => (i, vf(i), 0)): _*), mSub, kCodes, rounds, nQ, k)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("adist"))).toSet
    assert(got == expect,
      s"spark=${got.toSeq.sorted.take(6)} ref=${expect.toSeq.sorted.take(6)}")
  }

  test("kmeans: deterministic and partition-independent") {
    def v(i: Long): Seq[Float] = Seq.tabulate(64)(d => ((i * 7 + d) % 13).toFloat / 13f - 0.5f)
    val rows = (0L until 40L).map(i => (i, v(i), 0))
    val a = Similarity.kmeans(embDf(rows: _*), k = 4, rounds = 2).collect().toSeq
    val b = Similarity.kmeans(embDf(rows: _*).repartition(7), k = 4, rounds = 2).collect().toSeq
    assert(a == b, "micro-int arithmetic must make the result partition-order-free")
  }

  test("kmeans equals a plain-Scala Lloyd reference (third implementation)") {
    // independent of BOTH engines: quantize, init, assign, update in
    // straight Scala over collected arrays, then compare row-for-row
    def vf(i: Long): Seq[Float] =
      Seq.tabulate(64)(d => ((i * 11 + d * 3) % 17).toFloat / 17f - 0.5f)
    val n = 40
    val (k, rounds) = (4, 2)
    val vecs: Map[Long, Array[Long]] = (0L until n).map(i =>
      i -> vf(i).map(x => math.floor(x.toDouble * 1e6).toLong).toArray).toMap
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val initIds = (0L until n).sortBy(i => (h32(s"$i:km"), i)).take(k)
    var cents: Map[Int, Array[Long]] =
      initIds.zipWithIndex.map { case (id, ix) => (ix + 1) -> vecs(id).clone() }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def assignAll(): Map[Long, (Int, Long)] = vecs.map { case (id, q) =>
      id -> cents.toSeq.map { case (c, cv) => (d2(q, cv), c) }.min.swap
    }
    for (_ <- 1 to rounds) {
      val byC = assignAll().toSeq.groupBy(_._2._1)
      cents = cents.map { case (c, old) =>
        c -> byC.get(c).map { members =>
          val qs = members.map(m => vecs(m._1))
          Array.tabulate(64) { d =>
            val s = qs.map(_(d)).sum; val m = qs.size.toLong
            (s - (((s % m) + m) % m)) / m
          }
        }.getOrElse(old)
      }
    }
    val expect = assignAll()
    val got = Similarity.kmeans(embDf((0L until n).map(i => (i, vf(i), 0)): _*), k, rounds)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cid"), r.getAs[Long]("dist_mic2")))).toMap
    assert(got == expect.map { case (id, (c, d)) => id -> ((c, d)) },
      s"spark=${got.toSeq.sortBy(_._1).take(8)} ref=${expect.toSeq.sortBy(_._1).take(8)}")
  }

  test("lsh buckets: parallel vectors share a bucket; deterministic planes") {
    val out = Similarity.lshBuckets(embFixture).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(out(0L) == out(1L), "positively-parallel vectors see identical signs")
    assert(Similarity.planes.flatten.forall(w => w >= -1.0 && w < 1.0))
    assert(Similarity.lshBuckets(embFixture).collect().toSeq ==
      Similarity.lshBuckets(embFixture.repartition(5)).collect().toSeq)
  }

  // ---------- multimodal ----------

  test("media kernel: real BMP/WAV header parse recovers the encoded metadata") {
    import spark.implicits._
    val rows = (0L until 64L).map(Media.rowFor)
    val ds = spark.createDataset(rows)
    val parsed = Media.extractMeta(ds).collect().map(p => p.doc_id -> p).toMap
    rows.foreach { r =>
      val p = parsed(r.doc_id)
      assert(p.kind == r.kind)
      assert(p.width == r.meta.width && p.height == r.meta.height)
      assert(p.sample_rate == r.meta.sampleRate)
      assert(p.payload_len == r.meta.nBytes, s"payload_len doc ${r.doc_id}")
    }
  }

  test("wav chunk walker tolerates extra chunks before fmt/data") {
    // RIFF with a LIST chunk (odd size -> word-aligned) before fmt and data
    val samples = "abcd".getBytes("US-ASCII")
    val canonical = Media.wavBytes(22050, samples)
    val fmtAndData = canonical.drop(12)
    val extra = new java.io.ByteArrayOutputStream()
    extra.write("RIFF".getBytes("US-ASCII"))
    val listBody = Array[Byte]('I', 'N', 'F', 'O', 'x') // 5 bytes, odd
    extra.write(Array[Byte](
      ((4 + 8 + listBody.length + 1 + fmtAndData.length) & 0xFF).toByte, 0, 0, 0))
    extra.write("WAVE".getBytes("US-ASCII"))
    extra.write("LIST".getBytes("US-ASCII"))
    extra.write(Array[Byte](listBody.length.toByte, 0, 0, 0))
    extra.write(listBody); extra.write(0) // pad byte
    extra.write(fmtAndData)               // fmt + data chunks
    val parsed = Media.MediaKernel.decodeWav(extra.toByteArray)
    assert(parsed.sample_rate == 22050 && parsed.payload_len == 4)
  }

  test("audioStats: exact integer PCM stats on hand-computed samples") {
    import spark.implicits._
    // devs: 0, +127, -128, 0 -> peak 128; sq = (0+16129+16384+0)/4 = 8128;
    // dc = (128+255+0+128)/4 = 127 (floored); duration = 4*1000/8000 = 0ms
    val s1 = Array[Byte](128.toByte, 255.toByte, 0.toByte, 128.toByte)
    // pure silence at the midpoint: peak/sq 0, dc exactly 128; 2000 samples
    // at 16 kHz = 125 ms
    val s2 = Array.fill(2000)(128.toByte)
    val rows = Seq(
      Media.MediaRow(1L, "audio", Media.wavBytes(8000, s1),
        Media.MediaMeta(0, 0, 8000, 4), new String(s1.map(b => (b & 0xFF).toChar))),
      Media.MediaRow(2L, "audio", Media.wavBytes(16000, s2),
        Media.MediaMeta(0, 0, 16000, 2000), "x"),
      // an image row must be filtered out, not parsed as WAV
      Media.rowFor(0L))
    val out = Media.audioStats(spark.createDataset(rows)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("sample_rate"), r.getAs[Long]("n_samples"),
          r.getAs[Long]("duration_ms"), r.getAs[Long]("peak_dev"),
          r.getAs[Long]("sq_mean"), r.getAs[Long]("dc_mean"))).toMap
    assert(out.keySet == Set(1L, 2L), "audio rows only")
    assert(out(1L) == ((8000, 4L, 0L, 128L, 8128L, 127L)), s"got ${out(1L)}")
    assert(out(2L) == ((16000, 2000L, 125L, 0L, 0L, 128L)), s"got ${out(2L)}")
  }

  test("shotBounds: exact frame deltas and cut indices on hand-built frames") {
    import spark.implicits._
    // 2x2 frames (px=4, cut threshold 4*4=16):
    //  f0 "aaaa" -> f1 "aaab" delta 1 (same shot)
    //  f1        -> f2 "ppaa" delta |p-a|*2 + 1 = 31 (cut at frame 2)
    //  f2        -> f3 "ppab" delta 1 (same shot)
    val frames = "aaaa" + "aaab" + "ppaa" + "ppab"
    val fb = frames.getBytes("US-ASCII")
    val rows = Seq(
      Media.MediaRow(1L, "video", Media.gvidBytes(2, 2, 24, fb),
        Media.MediaMeta(2, 2, 24, fb.length), frames),
      // a single-frame video has no deltas: one shot, empty cuts
      Media.MediaRow(2L, "video", Media.gvidBytes(3, 1, 12, "abc".getBytes("US-ASCII")),
        Media.MediaMeta(3, 1, 12, 3), "abc"),
      // image and audio rows must be filtered out, not parsed as GVID
      Media.rowFor(0L), Media.rowFor(1L))
    val out = Media.shotBounds(spark.createDataset(rows)).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_frames"), r.getAs[Int]("n_shots"),
          r.getAs[String]("cuts"), r.getAs[Long]("max_delta"),
          r.getAs[Long]("sum_delta"))).toMap
    assert(out.keySet == Set(1L, 2L), "video rows only")
    assert(out(1L) == ((4, 2, "2", 31L, 33L)), s"got ${out(1L)}")
    assert(out(2L) == ((1, 1, "", 0L, 0L)), s"got ${out(2L)}")
  }

  test("gvid round-trip: decode recovers the encoded geometry; corrupt header fails loudly") {
    val b = Media.gvidBytes(5, 3, 30, Array.fill(45)('c'.toByte))
    val p = Media.MediaKernel.decodeGvid(b)
    assert(p.width == 5 && p.height == 3 && p.sample_rate == 30 && p.payload_len == 45)
    val lying = b.clone(); lying(8) = 99.toByte // nFrames claims 99
    val e = intercept[IllegalArgumentException](Media.MediaKernel.gvidData(lying))
    assert(e.getMessage.contains("corrupt GVID"))
  }

  test("audioPairs: planted one-sample nudge is found; dissimilar audio is not") {
    import spark.implicits._
    // varied per-window energies (near-constant audio would give a
    // near-zero fingerprint that pairs with everything)
    val a = Array.tabulate(128)(j => ('a' + (j * j) % 16).toByte)
    val b = a.clone(); b(17) = 'a'.toByte // one nudged sample
    val c = Array.tabulate(128)(j => ('a' + (j * 5 + 3) % 16).toByte)
    def row(id: Long, s: Array[Byte]) =
      Media.MediaRow(id, "audio", Media.wavBytes(8000, s),
        Media.MediaMeta(0, 0, 8000, s.length),
        new String(s.map(x => (x & 0xFF).toChar)))
    val rows = Seq(row(1L, a), row(2L, b), row(3L, c), row(4L, a.clone()),
      Media.rowFor(0L)) // image row must be filtered out
    val out = Media.audioPairs(spark.createDataset(rows)).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming")))
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)), s"nudged duplicate must pair: ${out.toSeq}")
    assert(out.find(p => p._1 == 1L && p._2 == 2L).get._3 <= 2,
      "single-sample edit flips at most 2 fingerprint bits")
    assert(out.find(p => p._1 == 1L && p._2 == 4L).get._3 == 0,
      "exact copy at hamming 0")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"the inverted-pattern audio must not pair: ${out.toSeq}")
  }

  test("audioFp kernel: hand-computed neighbor-window energy bits") {
    // 128 samples, window = 2 samples; windows 0..31 energy 2*256=512
    // (dev -16 each), windows 32..63 energy 0 -> bit w = e(w) > e(w+1):
    // only window 31 (512 > 0) and NOT window 63 (0 > 512 false; cyclic
    // wrap compares w63 to w0). Bits: w31 = 1, everything else 0 except
    // w0..w30 compare equal energies (false).
    val s = Array.tabulate(128)(j => if (j < 64) 'p'.toByte else 128.toByte)
    val (hi, lo) = Media.MediaKernel.audioFp(Media.wavBytes(8000, s))
    assert(lo == (1L << 31) && hi == 0L, s"got hi=$hi lo=$lo")
  }

  test("media histogram: feature counts sum to payload length") {
    import spark.implicits._
    val rows = (0L until 32L).map(Media.rowFor)
    val df = Media.byteHistogram(spark.createDataset(rows).toDF())
    df.collect().foreach { r =>
      val total = r.getAs[String]("features").split(",").map(_.toInt).sum
      val expected = rows.find(_.doc_id == r.getAs[Long]("doc_id")).get.meta.nBytes
      assert(total == expected)
    }
  }

  // ---------- native Catalyst expression ----------

  test("f2h expression matches the pure kernel incl. boundary code points") {
    import spark.implicits._
    val samples = Seq(
      "！～　", // boundaries: fullwidth ! ~ and ideographic space
      "０９ＡＺａｚmixed ascii",
      "no fullwidth at all",
      "＀｟ untouched neighbors ⿿")
    val out = samples.toDF("s")
      .select(GraftFunctions.f2hExpr("s").as("h")).collect().map(_.getString(0))
    assert(out.toSeq == samples.map(TextNorm.stringF2H))
  }

  test("f2h expression stays codegen-compatible and null-safe") {
    import spark.implicits._
    val df = Seq(Some("ａ"), None).toDF("s")
      .select(GraftFunctions.f2hExpr("s").as("h"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "a" && rows(1).isNullAt(0))
    // interpreted path parity (codegen fallback)
    val expr = F2HExpression(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString("Ａ　x")))
    assert(expr.eval(null).toString == "A x")
  }

  // ---------- eval metrics query ----------

  test("perturbed eval: deterministic, bounded, duplicate-aware") {
    import graft.app.Corpus
    val sfDir = "/root/testdata/sf0.001"
    Corpus.ensure(spark, sfDir)
    val r1 = EvalMetrics.perturbedEval(spark, Corpus.goldenPath(sfDir)).collect()(0)
    val r2 = EvalMetrics.perturbedEval(spark, Corpus.goldenPath(sfDir)).collect()(0)
    assert(r1 == r2, "perturbation must be deterministic")
    val (pred, gt, correct) = (r1.getAs[Long]("kvPred"), r1.getAs[Long]("kvGt"), r1.getAs[Long]("kvCorrect"))
    assert(correct == pred,
      "every perturbed prediction is a golden item -> all preds correct (incl. dup double-count)")
    assert(pred != gt, "dropping/duplicating must actually change the pred set")
    // pinned against the independent DuckDB oracle at sf0.001
    assert((pred, gt, correct) == ((3252L, 3262L, 3252L)))
    assert(r1.getAs[Long]("kvPMicro") == 1000000L)
    assert(r1.getAs[Long]("kvRMicro") == 996934L)
    assert(r1.getAs[Long]("lnF1Micro") == 995542L)
  }

  // ---------- as-of join ----------

  test("asOfJoin: inclusive ties, max event_id among equal-ts quotes, -1 sentinel") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(ms: Long) = new Timestamp(ms)
    val ev = Seq(
      (10L, t(1000L), 1L, "view"),
      (11L, t(2000L), 1L, "click"), // two quotes AT the probe ts: both visible
      (12L, t(2000L), 1L, "view"),
      (13L, t(2000L), 1L, "view"), //   and the higher event_id wins the tie
      (14L, t(3000L), 1L, "click"),
      (15L, t(2500L), 1L, "error"), // other types never match
      (20L, t(5000L), 2L, "click") // no prior quote for this user -> sentinel
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = AsOf.asOfJoin(ev).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("quote_id"), r.getAs[Long]("lag_ms")))
    assert(out.toSeq == Seq((11L, 13L, 0L), (14L, 13L, 1000L), (20L, -1L, -1L)))
  }

  test("asOfJoin: equals the naive O(n^2) scan on random event sets") {
    import spark.implicits._
    import java.sql.Timestamp
    val rng = new scala.util.Random(4242)
    // dense ts space so equal-timestamp ties actually occur
    val events = (0 until 400).map { id =>
      (id.toLong, new Timestamp(1000L * rng.nextInt(40)), rng.nextInt(8).toLong,
        if (rng.nextBoolean()) "click" else "view")
    }
    val got = AsOf.asOfJoin(events.toDF("event_id", "ts", "user_id", "event_type"))
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("quote_id"), r.getAs[Long]("lag_ms")))
    val naive = events.filter(_._4 == "click").sortBy(_._1).map { case (id, ts, u, _) =>
      val qs = events.filter(e => e._4 == "view" && e._3 == u && !e._2.after(ts))
      if (qs.isEmpty) (id, -1L, -1L)
      else {
        val q = qs.maxBy(e => (e._2.getTime, e._1))
        (id, q._1, ts.getTime - q._2.getTime)
      }
    }
    assert(got.toSeq == naive.toSeq)
  }

  // ---------- line-level dedup ----------

  test("lineDedup: first (url,pos) occurrence survives, docs reassemble in order") {
    import spark.implicits._
    val pages = Seq(
      ("u1", "nav\nalpha\nfooter"),
      ("u2", "nav\nbeta\nfooter"),
      ("u3", "nav\nfooter") // every line is a later duplicate -> empty doc
    ).toDF("url", "text")
    val out = Dedup.lineDedup(pages).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_lines"), r.getAs[Long]("n_dropped")))
    assert(out.toSeq == Seq(
      ("u1", "nav\nalpha\nfooter", 3L, 0L),
      ("u2", "beta", 3L, 2L),
      ("u3", "", 2L, 2L)))
  }

  // ---------- url canonicalization + host stats ----------

  test("normalizeUrl: scheme/www/fragment/utm stripped, other params kept") {
    import spark.implicits._
    val out = Seq(
      "HTTPS://WWW.Host-1.example/en/doc-1?id=7&utm_source=n&utm_campaign=x#frag",
      "http://host-2.example/a?utm_x=1",
      "host-3.example/b#f",
      "https://x.example/?utm_a=1&b=2" // stripped leading param: & -> ?
    ).toDF("u").select(Prep.normalizeUrl(col("u"))).as[String].collect()
    assert(out.toSeq == Seq(
      "host-1.example/en/doc-1?id=7",
      "host-2.example/a",
      "host-3.example/b",
      "x.example/?b=2"))
  }

  test("urlHostStats: blocklisted hosts dropped; variants collapse per host") {
    import spark.implicits._
    val pages = Seq(
      "https://host-13.example/en/doc-1", // blocklisted
      "https://host-7.example/en/doc-1",
      "https://host-7.example/en/doc-2"
    ).toDF("url")
    val out = Prep.urlHostStats(pages).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_pages"), r.getAs[Long]("n_urls")))
    assert(out.toSeq == Seq(("host-7.example", 2L, 2L)))
  }

  // ---------- image perceptual hash ----------

  test("ahash: bright half sets exactly its bits; row padding is excluded") {
    // 8x8, left half 'a' (gray 291), right half 'p' (gray 336): each 8x8
    // block is one pixel, bits set exactly on columns 4..7 of every row
    val w = 8; val h = 8
    val rowSize = ((3 * w + 3) / 4) * 4
    val px = Array.tabulate(rowSize * h) { i =>
      val c = (i % rowSize) / 3
      (if (c < 4) 'a' else 'p').toByte
    }
    val (ww, hh, hi, lo) = Media.MediaKernel.ahash(Media.bmpBytes(w, h, px))
    assert((ww, hh) == (8, 8))
    assert(lo == 0xF0F0F0F0L && hi == 0xF0F0F0F0L)

    // w=5 -> rowSize 16, one padding byte per row: flipping the padding
    // between extremes must not move the hash (real-parse honesty)
    val w2 = 5; val rs2 = ((3 * w2 + 3) / 4) * 4
    def img(pad: Byte) = Array.tabulate(rs2 * 4) { i =>
      if (i % rs2 >= 3 * w2) pad
      else (('a' + (i * 7) % 16).toByte)
    }
    val a = Media.MediaKernel.ahash(Media.bmpBytes(w2, 4, img('a'.toByte)))
    val b = Media.MediaKernel.ahash(Media.bmpBytes(w2, 4, img('p'.toByte)))
    assert(a == b, "padding bytes leaked into the hash")
  }

  // ---------- per-host cap ----------

  test("hostCap: two-stage top-k equals the single-window answer on a skewed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 200 pages on one hot host + a long tail, like the real corpus skew
    val urls = (0 until 200).map(i => s"https://hot.example/p$i") ++
      (0 until 40).map(i => s"https://tail-${i % 7}.example/p$i")
    val pages = urls.toDF("url")
    val got = Prep.hostCap(pages, k = 3, nSub = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // naive single-window reference, same priority function
    val ref = pages.select(col("url"),
        regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
        graft.ops.ColFns.h32(concat(col("url"), lit(":cap1"))).as("pri"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("host")).orderBy(col("pri"), col("url"))))
      .filter(col("rn") <= 3)
      .select(col("host"), col("url"), col("rn").cast("int"))
      .orderBy("host", "rn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.toSeq == ref.toSeq)
    assert(got.count(_._1 == "hot.example") == 3, "hot host must be capped at k")
  }

  test("crawlFreshness: span and bounds per host") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val pages = Seq(
      ("https://a.example/1", t("2024-01-01 00:00:00")),
      ("https://a.example/2", t("2024-01-04 12:00:00")),
      ("https://b.example/1", t("2024-02-01 00:00:00"))
    ).toDF("url", "warc_ts")
    val out = Prep.crawlFreshness(pages).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_pages"), r.getAs[Long]("span_days")))
    assert(out.toSeq == Seq(("a.example", 2L, 3L), ("b.example", 1L, 0L)))
  }

  // ---------- robots gate ----------

  test("robotsGate: planted noindex pages counted out per lang") {
    import spark.implicits._
    // urls chosen so h32(url) % 5 == 0 for SOME rows; verify counts react
    val pages = (0 until 50).map(i =>
      (s"https://h.example/en/doc-$i", "<html><p>x</p></html>".getBytes("UTF-8"), "en"))
    val df = pages.toDF("url", "html", "lang")
    val out = Prep.robotsGate(df).collect()(0)
    val expectNi = pages.count { case (u, _, _) =>
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(u).substring(0, 8), 16)
      h % 5 == 0
    }
    assert(out.getAs[Long]("n_pages") == 50L)
    assert(out.getAs[Long]("n_noindex") == expectNi.toLong)
    assert(out.getAs[Long]("n_indexable") == 50L - expectNi)
    assert(expectNi > 0, "plant condition must fire for some urls")
  }

  // ---------- duplicated spans ----------

  test("dupSpans: shared and repeated 3-grams merge into maximal spans") {
    val df = Dedup.dupSpans(docsDf(
      // docs 0/1 share "a b c d e" -> positions 0..2 flagged in both,
      // merging into one span [0, 5)
      0L -> "a b c d e x y z",
      1L -> "a b c d e q r s",
      // doc 2 repeats "u v w" within itself at 0 and 5 -> two spans
      2L -> "u v w k m u v w",
      3L -> "nothing shared here at all"
    ), n = 3).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"), r.getAs[Int]("span_end"), r.getAs[Long]("n_pos")))
    assert(df.toSeq == Seq(
      (0L, 0, 5, 3L), (1L, 0, 5, 3L), (2L, 0, 3, 1L), (2L, 5, 8, 1L)))
  }

  test("dupSpans: docs shorter than n emit nothing") {
    val out = Dedup.dupSpans(docsDf(0L -> "a b", 1L -> "a b"), n = 3).collect()
    assert(out.isEmpty)
  }

  // ---------- image near-dup pairs ----------

  test("aHashPairs: planted one-byte-nudged duplicates surface as pairs") {
    import spark.implicits._
    val rows = (0L until 40L).map(Media.rowFor).filter(_.kind == "image")
    val pairs = Media.aHashPairs(rows.toDS()).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    // fixture plants near-dups at i where (i/2) % 5 == 4: (6,8), (16,18), (26,28), (36,38)
    val planted = Seq((6L, 8L), (16L, 18L), (26L, 28L), (36L, 38L))
    planted.foreach { pp =>
      val hit = pairs.find(p => (p._1, p._2) == pp)
      assert(hit.isDefined, s"planted near-dup $pp not found in ${pairs.toSeq}")
      assert(hit.get._3 <= 4, s"planted pair $pp hamming ${hit.get._3}")
    }
  }

  test("imageComponents: planted near-dups share a component; every image is a node") {
    import spark.implicits._
    val rows = (0L until 40L).map(Media.rowFor).filter(_.kind == "image")
    val comp = Media.imageComponents(rows.toDS()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(comp.keySet == rows.map(_.doc_id).toSet,
      "images with no near-dup must survive as singleton components")
    Seq((6L, 8L), (16L, 18L), (26L, 28L), (36L, 38L)).foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"planted pair ($a,$b) split: ${comp(a)} vs ${comp(b)}")
      assert(comp(a) <= a, s"component label must be the min member, got ${comp(a)}")
    }
  }

  test("ahash/resize refuse a lying BMP header instead of reading out of bounds") {
    // honest 4x2 image, then the header's height field inflated to 999
    val w = 4; val h = 2
    val rowSize = ((3 * w + 3) / 4) * 4
    val bmp = Media.bmpBytes(w, h, Array.fill(rowSize * h)('a'.toByte))
    bmp(22) = 0xE7.toByte; bmp(23) = 0x03.toByte // biHeight = 999
    intercept[IllegalArgumentException](Media.MediaKernel.ahash(bmp))
    intercept[IllegalArgumentException](Media.MediaKernel.resizeGray(bmp, 8, 8))
  }

  test("resizeGray: block averages over the decoded grid, padding excluded") {
    // 4x2 image, left half 'a' (gray 291), right half 'p' (gray 336);
    // 2x2 grid -> each cell averages one uniform 2x1 block
    val w = 4; val h = 2
    val rowSize = ((3 * w + 3) / 4) * 4
    val px = Array.tabulate(rowSize * h) { i =>
      (if ((i % rowSize) / 3 < 2) 'a' else 'p').toByte
    }
    val out = Media.MediaKernel.resizeGray(Media.bmpBytes(w, h, px), 2, 2)
    assert(out == "291,336,291,336")
  }

  // ---------- token packing ----------

  test("shardsFor: bounds every (lang, shard) partition at the doc target") {
    import spark.implicits._
    assert(Prep.shardsFor(500L) == 8, "small corpora keep the floor")
    assert(Prep.shardsFor(1000L * 1000 * 1000, 1000000L) == 1000)
    assert(Prep.shardsFor(999999L, 1000000L) == 8)
    // a deliberately fat single-lang corpus: 120 docs, target 10/shard
    val docs = (0 until 120).map(i => (i.toLong, "en", "w " * (i % 5 + 1)))
      .toDF("doc_id", "lang", "text")
    val nShards = Prep.shardsFor(120L, targetPerShard = 10L)
    assert(nShards == 12)
    val out = Prep.packChunks(docs, budget = 16L, nShards = nShards)
    // every (lang, shard) stream holds <= ceil(120/12) docs — no partition
    // ever exceeds the sizing target (pmod spreads sequential ids evenly)
    val perShard = out.groupBy("lang", "shard")
      .agg(sum("n_docs").as("docs")).collect().map(_.getAs[Long]("docs"))
    assert(perShard.forall(_ <= 10L), s"fat shard: ${perShard.mkString(",")}")
    // and the auto form equals the explicit form at the derived count
    val auto = Prep.packChunksAuto(docs, budget = 16L, targetPerShard = 10L)
    assert(auto.collect().toSeq == out.collect().toSeq)
  }

  test("tokenQuantiles: histogram construction equals the plain order statistic") {
    import spark.implicits._
    // skewed mix: a hot duplicate length, a long tail, a single-doc lang
    val lens = (1 to 60).map(i => ("en", if (i <= 20) 5 else i)) ++
      (1 to 9).map(i => ("de", i * i)) ++ Seq(("ja", 3))
    val docs = lens.zipWithIndex
      .map { case ((l, n), i) => (i.toLong, l, ("t " * (n - 1) + "t")) }
      .toDF("doc_id", "lang", "text")
    val pcts = Seq(0, 25, 50, 75, 90, 99, 100)
    val got = Prep.tokenQuantiles(docs, pcts).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val byLang = lens.groupBy(_._1).view.mapValues(_.map(_._2.toLong).sorted).toMap
    for ((lang, vs) <- byLang; p <- pcts) {
      val idx = ((vs.length - 1).toLong * p) / 100
      assert(got((lang, p)) == vs(idx.toInt),
        s"$lang p$p: got ${got((lang, p))}, want ${vs(idx.toInt)} of $vs")
    }
    assert(got.size == byLang.size * pcts.size, "one row per (lang, pct)")
  }

  test("curriculumOrder: two-stage rank equals the single-window curriculum schedule") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // stopword density (and so the quality score/band) varies across docs
    val docs = (0L until 97L).map { i =>
      (i, ("the and is " * (i % 5 + 1).toInt) + ("zzz9 " * (i % 7).toInt) + "end")
    }.toDF("doc_id", "text")
    // single-window reference built from the SAME score/band/salt columns
    val expect = docs
      .select(col("doc_id"),
        TextAnalysis.qualityScoreMicroFromStats(
          TextAnalysis.statsCol(col("text"))).as("s"))
      .select(col("doc_id"), expr("s div 100000L").as("band"),
        ColFns.h32(concat(col("doc_id").cast("string"), lit(":cur1"))).as("k"))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("band").desc, col("k"), col("doc_id"))).cast("long"))
      .select("doc_id", "band", "pos").orderBy("pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(expect.map(_._2).distinct.size > 1, "fixture must span multiple bands")
    Seq(4, 16).foreach { nb =>
      val got = Prep.curriculumOrder(docs, epoch = 1, nBuckets = nb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expect, s"nBuckets=$nb must not change the schedule")
    }
    val got = Prep.curriculumOrder(docs.repartition(7), epoch = 1, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, "schedule must be partition-independent")
    assert(got.map(_._3).sorted == (1L to 97L), "positions are a permutation of 1..N")
    // bands never increase along the schedule (quality-first contract)
    got.map(_._2).sliding(2).foreach { case Seq(a, b) => assert(a >= b); case _ => }
    // a new epoch reshuffles within bands but keeps the band progression
    val e2 = Prep.curriculumOrder(docs, epoch = 2, nBuckets = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(e2 != got, "epoch salt must reshuffle within bands")
    assert(e2.sortBy(_._3).map(_._2) == got.sortBy(_._3).map(_._2),
      "band progression along positions is epoch-invariant")
  }

  test("epochOrder: two-stage global rank equals the single-window permutation") {
    import spark.implicits._
    val docs = (0L until 97L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    // plain-Scala reference: sort by (salted hash, id), positions 1..N
    def expect(epoch: Int): Seq[(Long, Long)] =
      (0L until 97L).sortBy(i => (h32(s"$i:ep$epoch"), i))
        .zipWithIndex.map { case (id, p) => (id, p + 1L) }
        .sortBy(_._2)
    Seq(4, 16).foreach { nb =>
      val got = Prep.epochOrder(docs, epoch = 0, nBuckets = nb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expect(0), s"nBuckets=$nb must not change the permutation")
    }
    // a different epoch is a genuinely different permutation
    val e1 = Prep.epochOrder(docs, epoch = 1, nBuckets = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(e1 == expect(1))
    assert(e1 != expect(0), "epoch salt must reshuffle")
    assert(e1.map(_._2).sorted == (1L to 97L), "positions are a permutation of 1..N")
    // partition-independent (the reproducibility contract)
    val rep = Prep.epochOrder(docs.repartition(7), epoch = 1, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rep == e1)
  }

  test("capBuckets: two-stage cap equals the single-window cap on a hot bucket") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one 60-member hot bucket (exact-duplicate-cluster shape) + a tail
    val banded = ((0 until 60).map(i => (i.toLong, "HOT")) ++
      (0 until 20).map(i => (100L + i, s"tail${i % 7}"))).toDF("doc_id", "bkey")
    val got = Dedup.capBuckets(banded, cap = 8, nSub = 4)
      .select("doc_id", "bkey").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // reference = the single-window form with the same BUCKET-SALTED
    // priority (the salt keeps different members in different buckets —
    // the d6 recall property; the two-stage form must equal it exactly)
    val ref = banded
      .withColumn("pri", ColFns.h32(concat(col("doc_id").cast("string"), lit(":"),
        col("bkey"), lit(":bcap"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bkey")).orderBy(col("pri"), col("doc_id"))))
      .filter(col("rn") <= 8)
      .select("doc_id", "bkey").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == ref)
    assert(got.count(_._2 == "HOT") == 8, "hot bucket must be capped")
    assert(got.count(_._2.startsWith("tail")) == 20, "under-cap buckets keep all members")
  }

  test("lshCandidatePairs: a mass of exact duplicates stays bounded by the bucket cap") {
    import spark.implicits._
    // 50 byte-identical docs share all 4 band buckets -> 4*50²/2 candidate
    // rows uncapped. The salted cap keeps a DIFFERENT <=10 subset per band
    // (that's the recall property: evicted docs keep edges in other bands),
    // so distinct pairs are bounded by bands * cap·(cap-1)/2, with every
    // single bucket's contribution at most cap·(cap-1)/2.
    val dupes = (0 until 50).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta")) ++
      Seq((900L, "totally different words entirely here now"))
    val pairs = Dedup.lshCandidatePairs(dupes.toDF("doc_id", "text"), bucketCap = 10).collect()
    assert(pairs.length <= 4 * (10 * 9 / 2), s"pair mass above the banded cap bound: ${pairs.length}")
    assert(pairs.length >= 10 * 9 / 2, s"a full bucket must still emit its capped pairs: ${pairs.length}")
    // salt effectiveness: more than one band's worth of distinct survivors
    // means eviction is band-dependent, not cluster-global
    val members = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(members.size > 10, s"band-salted cap should spread survivors, got ${members.size}")
    assert(!members.contains(900L), "the unrelated doc must not pair with the cluster")
  }

  test("exciseSpans: start/end/whole-doc spans cut, clean docs pass through") {
    import spark.implicits._
    // n=2 word-grams; spans are engineered at doc START (ids 0/1 share
    // "a b c"), doc END (ids 2/3 share "p q z w"), WHOLE-DOC (id 3's
    // internal "k k" repeat merges with its shared tail into one island
    // covering every token), and id 4 shares nothing (pure passthrough)
    val docs = Seq(
      (0L, "a b c X Y"),
      (1L, "a b c P Q"),
      (2L, "m n o p q z w"),
      (3L, "k k k p q z w"),
      (4L, "u v w x"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.exciseSpans(docs, n = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, "X Y", 5L, 3L),          // span at start: [0,3) excised
      (1L, "P Q", 5L, 3L),
      (2L, "m n o", 7L, 4L),        // span at end: [3,7) excised
      (3L, "", 7L, 7L),             // whole-doc span: islands merged to [0,7)
      (4L, "u v w x", 4L, 0L),      // no spans: byte-identical passthrough
      (5L, "", 0L, 0L)              // zero-token doc survives the surgery
    ))
  }

  test("packChunks: chunk = floor(start-token / budget) within the shard stream") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "a b c d"), // starts at 0  -> chunk 0
      (1L, "en", "e f"),     // starts at 4  -> chunk 0 (cum 6 straddles)
      (2L, "en", "g h i"),   // starts at 6  -> chunk 1
      (3L, "en", "j")        // starts at 9  -> chunk 1
    ).toDF("doc_id", "lang", "text")
    val out = Prep.packChunks(docs, budget = 5L, nShards = 1).collect()
      .map(r => (r.getAs[Long]("chunk_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("chunk_tokens"), r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
    assert(out.toSeq == Seq((0L, 2L, 6L, 0L, 1L), (1L, 2L, 4L, 2L, 3L)))
  }

  test("packEfficiency: overflow / full-chunk / fill accounting per lang") {
    import spark.implicits._
    // shardsFor floors at 8 shards; ids congruent mod 8 keep the en docs
    // in ONE (lang, shard) stream so they pack as the packChunks spec
    // above — chunks of 6 and 4 tokens at budget 5 -> overflow 1, one
    // full chunk, fill = 10/10 = 1.0
    val docs = Seq(
      (0L, "en", "a b c d"), (8L, "en", "e f"),
      (16L, "en", "g h i"), (24L, "en", "j"),
      // de: a single 2-token doc -> one underfull chunk, fill 2/5
      (4L, "de", "x y")
    ).toDF("doc_id", "lang", "text")
    val out = Prep.packEfficiency(docs, budget = 5L).collect()
      .map(r => r.getAs[String]("lang") -> ((r.getAs[Long]("n_chunks"),
        r.getAs[Long]("total_tokens"), r.getAs[Long]("overflow_tokens"),
        r.getAs[Long]("full_chunks"), r.getAs[Long]("fill_micro")))).toMap
    assert(out("en") == ((2L, 10L, 1L, 1L, 1000000L)), s"en: ${out("en")}")
    assert(out("de") == ((1L, 2L, 0L, 0L, 400000L)), s"de: ${out("de")}")
  }

  test("latestSnapshotOf: latest capture per canonical url; ts ties break by url") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val snaps = Seq(
      ("https://a.example/p", ts("2024-01-01 00:00:00"), "old body"),
      // url variant of the same page, captured later: must win AND collapse
      ("HTTPS://WWW.a.example/p?utm_source=x#frag", ts("2024-03-01 00:00:00"), "new body"),
      // non-tracking param is page identity: separate canonical
      ("https://a.example/p?id=2", ts("2024-02-01 00:00:00"), "other page"),
      ("https://b.example/q", ts("2024-01-05 00:00:00"), "only capture"),
      // exact ts tie between two variants of one page: max url wins
      ("https://c.example/r", ts("2024-01-01 00:00:00"), "v1"),
      ("https://www.c.example/r", ts("2024-01-01 00:00:00"), "v2")
    ).toDF("url", "warc_ts", "text")
    val out = Prep.latestSnapshotOf(snaps).collect()
    assert(out.length == 4, out.mkString("; "))
    val byCurl = out.map(r => r.getAs[String]("curl") -> r).toMap
    assert(byCurl("a.example/p").getAs[Long]("n_snaps") == 2L)
    assert(byCurl("a.example/p").getAs[java.sql.Timestamp]("latest_ts")
      == ts("2024-03-01 00:00:00"))
    assert(byCurl("a.example/p").getAs[String]("latest_url")
      == "HTTPS://WWW.a.example/p?utm_source=x#frag")
    assert(byCurl("a.example/p?id=2").getAs[Long]("n_snaps") == 1L)
    assert(byCurl("b.example/q").getAs[Long]("n_snaps") == 1L)
    // 'https://www.' > 'https://c' lexicographically at the 9th char (w > c)
    assert(byCurl("c.example/r").getAs[String]("latest_url")
      == "https://www.c.example/r")
  }

  test("bestCanonicalOver: quality beats doc_id; score ties fall to min doc_id") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 8L), (9L, 8L))
      .toDF("doc_id", "component")
    val docs = Seq(
      // component 1: doc 3 is stopword-rich (highest score) despite max id
      (1L, "zzz qqq vvv"),
      (2L, "zzz qqq vvv www"),
      (3L, "the cat and the dog sat on the mat with the hat"),
      // component 7: singleton
      (7L, "lone document body"),
      // component 8: identical texts -> identical scores -> min id wins
      (8L, "same words here exactly"),
      (9L, "same words here exactly")
    ).toDF("doc_id", "text")
    val out = Dedup.bestCanonicalOver(comps, docs).collect()
      .map(r => (r.getAs[Long]("component"), r.getAs[Long]("n_members"),
        r.getAs[Long]("best_doc"))).toSeq
    assert(out == Seq((1L, 3L, 3L), (7L, 1L, 7L), (8L, 2L, 8L)), out.mkString("; "))
  }

  test("temperatureMixture: sqrt smoothing up-weights small sources; tiny quota saturates") {
    import spark.implicits._
    val docs = (
      (0L until 40L).map(i => (i, "big", 10L)) ++
        (100L until 120L).map(i => (i, "small", 5L)) ++
        Seq((200L, "tiny", 1L))
      ).toDF("doc_id", "source", "n_chars")
    val out = Prep.temperatureMixture(docs, budgetChars = 150L).collect()
    val rates = out.map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("rate_micro"))).toSet
    // masses: big 400 (s_milli 20000), small 100 (10000), tiny 1 (1000);
    // S = 31000. big 150*20000/(31000*400) -> 241935 micro; small
    // 150*10000/(31000*100) -> 483870 (proportional would give both
    // ~299401 — the sqrt shifts mass to the small source); tiny's quota
    // exceeds its size -> saturates at keep-everything
    assert(rates == Set(("big", 241935L), ("small", 483870L),
      ("tiny", 1000000L)), rates)
    assert(out.count(_.getAs[String]("source") == "tiny") == 1)
    // the hash gate is deterministic: identical re-run, identical survivors
    assert(Prep.temperatureMixture(docs, 150L).collect().toSeq == out.toSeq)
  }

  test("phraseMerge: top pair fuses per round; adjacent occurrences share a delimiter") {
    val out = TextAnalysis.phraseMerge(docsDf(
      0L -> "new york is big",
      1L -> "new york new york", // back-to-back: only the FIRST merges (delimiter shared)
      2L -> "big apple is big"
    ), rounds = 3, minCount = 2L).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[Long]("n_merged")))
    // round 1 winner "new york" (3 > "is big" 2); round 2 winner "is big";
    // round 3 has no pair with count >= 2 -> identity
    assert(out.toSeq == Seq(
      (0L, "new_york is_big", 2L),
      (1L, "new_york new york", 1L),
      (2L, "big apple is_big", 1L)), out.mkString("; "))
  }

  test("lmScore: add-one bigram LM over the capped train-slice vocab") {
    // train slice (doc_id % 2 == 0) = docs {0, 2, 4}; token counts a:3 b:3
    // c:1 -> v=2 vocab [a, b] (tie a/b broken token-asc), c and z map to
    // <unk>. Train unigrams a:3 b:3 <unk>:1; train bigrams "a b":2 "b a":2
    // "b <unk>":1; V+1 = 3 smoothing.
    val out = TextAnalysis.lmScore(docsDf(
      0L -> "a b a b c",
      1L -> "a b z",
      2L -> "b a",
      3L -> "q", // one token: no bigram, score NULL
      4L -> ""   // zero tokens
    ), v = 2, trainMod = 2).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("sum_p_micro"),
        Option(r.get(r.fieldIndex("score_micro"))).map(_.asInstanceOf[Long])))
    // p(a b) = (2+1)/(3+3) = .5 ; p(b a) = .5 ; p(b <unk>) = (1+1)/(3+3)
    // -> 333333 micro (floored); doc0 sum 1833333 over 4 -> 458333
    assert(out.toSeq == Seq(
      (0L, 4L, 1833333L, Some(458333L)),
      (1L, 2L, 833333L, Some(416666L)),
      (2L, 1L, 500000L, Some(500000L)),
      (3L, 0L, 0L, None),
      (4L, 0L, 0L, None)), out.mkString("; "))
  }

  // ---------- p15 robots rules / t14 classifier / s12 bitext ----------

  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("robotsRules: longest rule wins, allow beats disallow on re-allowed subtree") {
    import spark.implicits._
    val hosts = (0 until 10).map(i => s"h$i.example")
    val urls = hosts.flatMap { h =>
      Seq(s"https://$h/en/doc-3", s"https://$h/de/doc-13", s"https://$h/de/doc-23",
        s"https://$h/fr/doc-1")
    }
    val got = Prep.robotsRules(urls.toDF("url")).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getInt(3)))).toMap
    // plain-Scala replica of the constructed rules + Google longest-match
    def rulesFor(h: String): Seq[(String, Int)] =
      Seq("/" -> 1) ++
        (if (md5h32(h + ":r1") % 3 == 0) Seq("/en" -> 0) else Nil) ++
        (if (md5h32(h + ":r2") % 4 == 0) Seq("/de" -> 0) else Nil) ++
        (if (md5h32(h + ":r3") % 2 == 0) Seq("/de/doc-1" -> 1) else Nil)
    urls.foreach { u =>
      val h = u.split('/')(2)
      val path = u.substring(u.indexOf(h) + h.length)
      val matching = rulesFor(h).filter(r => path.startsWith(r._1))
      val expect = matching.maxBy(r => (r._1.length, r._2))
      assert(got(u) == expect, s"$u: got ${got(u)}, expect $expect")
    }
    // the corpus of 10 hosts must actually exercise every branch
    val picked = got.values.map(_._1).toSet
    assert(picked == Set("/", "/en", "/de", "/de/doc-1"),
      s"10-host fixture must hit all four rules, hit $picked")
    // the override subtlety: where /de/doc-1 is re-allowed, doc-13 is
    // allowed (prefix match!) while doc-23 under the same host is denied
    hosts.filter(h => md5h32(h + ":r2") % 4 == 0 && md5h32(h + ":r3") % 2 == 0)
      .foreach { h =>
        assert(got(s"https://$h/de/doc-13") == (("/de/doc-1", 1)))
        assert(got(s"https://$h/de/doc-23") == (("/de", 0)))
      }
  }

  test("containmentPairs: a quoted short doc is found where symmetric Jaccard misses") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val long = (1 to 40).map(i => s"w$i").mkString(" ") + " " + quote +
      " " + (41 to 80).map(i => s"w$i").mkString(" ")
    val df = docsDf(0L -> quote, 1L -> long, 2L -> "totally unrelated words here now")
    val got = Dedup.containmentPairs(df, n = 4, dfMax = 50, thresh = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc0 has 5 4-gram shingles, all inside doc1 -> cont_a = 1.0 exactly;
    // doc1 has 85, so cont_b = 5/85 and jaccard = 5/85 would NEVER pass
    assert(got.toList == List((0L, 1L, 1000000L, 58823L)), got.mkString(";"))
    // and the symmetric op indeed misses it at any usable threshold
    assert(Dedup.jaccardPairs(df, n = 4, dfMax = 50, thresh = 0.5).count() == 0)
  }

  test("classifierFilter: margin in exact integers, OOV at weight 0, empty doc kept out") {
    val out = TextAnalysis.classifierFilter(docsDf(
      0L -> "alpha beta alpha",
      1L -> "",
      2L -> "gamma"
    ), thresholdMicro = 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    def wt(t: String): Option[Long] =
      if (md5h32(t + ":v") % 4 == 0) None else Some(md5h32(t + ":w") % 2001 - 1000)
    def expect(id: Long, ws: Seq[String]) = {
      val total = ws.map(w => wt(w).getOrElse(0L)).sum
      val inv = ws.count(w => wt(w).isDefined)
      (id, ws.length.toLong, total, inv.toLong, if (total > 5L * ws.length) 1 else 0)
    }
    assert(out.toList == List(
      expect(0L, Seq("alpha", "beta", "alpha")),
      (1L, 0L, 0L, 0L, 0),
      expect(2L, Seq("gamma"))), out.mkString("; "))
  }

  test("bitextMine: cell-pruned best match with margin; lone candidate gets sentinel") {
    import spark.implicits._
    def v(x: Double) = Array.tabulate(64)(i => if (i == 0) x.toFloat else if (i == 1) math.sqrt(1 - x * x).toFloat else 0.0f)
    // cell 1: en query 0 vs de candidates 10 (cos~1.0) and 11 (cos~0.6)
    // cell 2: en query 1 vs ONE de candidate 12 -> runner-up sentinel
    // cell 3: en query 2 with NO de candidate -> absent from output
    val emb = Seq(
      (0L, v(1.0), 1), (1L, v(1.0), 2), (2L, v(1.0), 3),
      (10L, v(0.999), 1), (11L, v(0.6), 1), (12L, v(0.9), 2),
      (20L, v(0.5), 1) // French: never a candidate
    ).toDF("vec_id", "embedding", "label")
    val docs = Seq(
      (0L, "en"), (1L, "en"), (2L, "en"),
      (10L, "de"), (11L, "de"), (12L, "de"), (20L, "fr")
    ).toDF("doc_id", "lang")
    val got = Similarity.bitextMine(emb, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getInt(4)))
    assert(got.length == 2, s"query 2 has no in-cell candidate: ${got.mkString(";")}")
    val byQ = got.map(x => x._1 -> x).toMap
    // q0: clear margin (cos ~0.999 vs ~0.6) -> accepted
    assert(byQ(0L)._2 == 10L && byQ(0L)._3 > 300000L && byQ(0L)._4 == 1)
    // q1: single candidate -> margin vs sentinel is huge -> accepted
    assert(byQ(1L)._2 == 12L && byQ(1L)._3 > 1000000L && byQ(1L)._4 == 1)
  }

  test("budgetApportion: exact Hamilton allocation, sum == budget, ties by host") {
    import spark.implicits._
    def urls(h: String, n: Int) = (0 until n).map(i => s"https://$h.example/p$i")
    // W=10, budget=7: bases 3/2/1 (sum 6), remainders 5/1/4 -> the one
    // leftover seat goes to host a
    val df = (urls("a", 5) ++ urls("b", 3) ++ urls("c", 2)).toDF("url")
    val got = Prep.budgetApportion(df, budget = 7L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List(("a.example", 5L, 4L), ("b.example", 3L, 2L), ("c.example", 2L, 1L)))
    // remainder tie (1 vs 1) -> host asc wins the seat
    val tie = (urls("a", 1) ++ urls("b", 1)).toDF("url")
    val got2 = Prep.budgetApportion(tie, budget = 3L).collect()
      .map(r => (r.getString(0), r.getLong(2))).toList
    assert(got2 == List(("a.example", 2L), ("b.example", 1L)))
    // property on a skewed corpus: allocations always sum EXACTLY to B
    val skew = (urls("hot", 97) ++ urls("w1", 2) ++ urls("w2", 1)).toDF("url")
    (1L to 23L).foreach { b =>
      val total = Prep.budgetApportion(skew, budget = b).agg(sum("alloc")).head.getLong(0)
      assert(total == b, s"budget $b leaked: $total")
    }
  }

  test("hllDistinct: dup-insensitive registers; estimate tracks exact distinct") {
    import spark.implicits._
    val urls = (0 until 2000).map(i => (s"https://h${i % 37}.example/doc-$i", "en")) ++
      (0 until 1000).map(i => (s"https://h${i % 37}.example/de-$i", "de"))
    val once = urls.toDF("url", "lang")
    val thrice = (urls ++ urls ++ urls).toDF("url", "lang")
    val a = Sketch.hllDistinct(once).collect().map(_.toSeq).toList
    val b = Sketch.hllDistinct(thrice).collect().map(_.toSeq).toList
    assert(a == b, "registers are max-folds: duplicates must not move the sketch")
    // raw-regime accuracy: m=64 gives ~13% standard error; pin a 30% band
    val est = a.map(r => r(0).asInstanceOf[String] -> r(3).asInstanceOf[Long]).toMap
    assert(math.abs(est("en") - 2000L * 1000000L) < 600L * 1000000L, s"en: ${est("en")}")
    assert(math.abs(est("de") - 1000L * 1000000L) < 300L * 1000000L, s"de: ${est("de")}")
  }

  test("tfidfKeywords: rare-term boost with the fixed integer division order") {
    val got = TextAnalysis.tfidfKeywords(docsDf(
      0L -> "apple apple banana",
      1L -> "banana cherry",
      2L -> "cherry cherry dog"
    ), k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toList
    assert(got == List(
      (0L, "apple", 1999998L, 1), (0L, "banana", 333333L, 2),
      // tie on 500000 -> term asc
      (1L, "banana", 500000L, 1), (1L, "cherry", 500000L, 2),
      // the corpus-rare "dog" outranks the in-doc-frequent "cherry"
      (2L, "dog", 999999L, 1), (2L, "cherry", 666666L, 2)), got.mkString(";"))
  }

  test("tableCells: document order, nested markup flattened, entities decoded") {
    val html = """<div><table><tr><th>K:</th><td>v &amp; w</td></tr></table>""" +
      """<p>x</p><table><tr><td><b>bold</b> cell</td></tr></table></div>"""
    assert(Tables.tableCells(html) == List(
      (0, 0, "th", "K:"), (0, 1, "td", "v & w"), (1, 0, "td", "bold cell")))
    assert(Tables.tableCells("<p>no tables</p>") == Nil)
  }

  test("audioComponents: planted near-dup clips cluster; every clip is a node") {
    import spark.implicits._
    val rows = (0L until 40L).map(Media.rowFor).filter(_.kind == "audio")
    val comp = Media.audioComponents(rows.toDS()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(comp.keySet == rows.map(_.doc_id).toSet,
      "clips with no near-dup must survive as singleton components")
    comp.foreach { case (id, c) =>
      assert(c <= id, s"component label must be a min member: $id -> $c")
    }
    // consistency with the pair op: every m10 edge lands inside one cluster
    val pairs = Media.audioPairs(rows.toDS()).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty, "v7 fixture plants audio near-dups")
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    assert(comp.values.toSet.size < comp.size,
      "the planted near-dups must merge at least one cluster")
  }

  test("crawlDiff: every url lands in exactly one class; classes match the hash rule") {
    import spark.implicits._
    val urls = (0 until 60).map(i => s"https://h${i % 4}.example/p$i")
    val df = urls.map(u => (u, s"content of $u".getBytes("UTF-8"))).toDF("url", "html")
    val got = Prep.crawlDiff(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // plain replica of the snapshot construction
    def expectFor(host: String) = {
      val hs = urls.filter(_.contains(s"//$host/"))
      val removed = hs.count(u => md5h32(u + ":del") % 7 == 0)
      val changed = hs.count(u => md5h32(u + ":del") % 7 != 0 && md5h32(u + ":chg") % 5 == 0)
      val added = hs.count(u => md5h32(u + ":add") % 11 == 0)
      val same = hs.size - removed - changed
      (added.toLong, removed.toLong, changed.toLong, same.toLong)
    }
    got.foreach { case (host, a, r, c, s) =>
      assert((a, r, c, s) == expectFor(host), s"$host: got ($a,$r,$c,$s)")
    }
    // per-host row conservation: removed+changed+same == first-snapshot urls
    got.foreach { case (host, _, r, c, s) =>
      assert(r + c + s == urls.count(_.contains(s"//$host/")).toLong, host)
    }
  }

  test("trainingFeed: dense curriculum positions, exact global chunk boundaries") {
    import spark.implicits._
    val docs = (0L until 120L).map { i =>
      (i, (0 to (i % 13).toInt).map(k => s"w${(i + k) % 7}").mkString(" "),
        "en", s"src${i % 3}", 100L + i % 50)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Prep.trainingFeed(docs, budgetChars = 5000L, budgetTokens = 16L,
      bucketRows = 8L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty, "the mixture must keep some docs")
    // positions are exactly 1..N in collected order
    assert(out.map(_._3).toList == (1L to out.length.toLong).toList)
    // bands never increase along the schedule (highest quality first)
    out.sliding(2).foreach {
      case Array(a, b) => assert(a._2 >= b._2, s"band rose: $a -> $b")
      case _           => ()
    }
    // chunk rule: chunk_id == floor(tokens-before / budget), recomputed locally
    val tokensOf = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong).toMap
    var cum = 0L
    out.foreach { case (id, _, _, chunk) =>
      assert(chunk == cum / 16L, s"doc $id: chunk $chunk, expected ${cum / 16L}")
      cum += tokensOf(id)
    }
  }

  test("mmrTopK: a near-duplicate of the top hit cannot take rank 2") {
    import spark.implicits._
    def v(xs: Double*) = {
      val a = new Array[Float](64)
      xs.zipWithIndex.foreach { case (x, i) => a(i) = x.toFloat }
      a
    }
    val emb = Seq(
      (0L, v(1.0), 0),            // the query
      (1L, v(0.99, 0.14), 0),     // best hit
      (2L, v(0.98, 0.19), 0),     // near-duplicate of 1 (high mutual cos)
      (3L, v(0.7, -0.71), 0),     // diverse, decent relevance
      (4L, v(0.5, 0.87), 0),      // diverse, lower relevance
      (5L, v(-0.9, 0.44), 0)      // irrelevant
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.mmrTopK(emb, qId = 0L, poolK = 5, k = 3, lambdaPct = 50)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList
    // pure relevance would rank (1, 2, 3); MMR must demote the near-dup 2
    assert(got.map(_._2).head == 1L, s"rank 1 is pure relevance: $got")
    assert(got(1)._2 == 3L, s"rank 2 must be the diverse doc, not the near-dup: $got")
    assert(got.map(_._1) == List(1, 2, 3))
    assert(got.map(_._2).contains(2L) || got.map(_._2).contains(4L))
  }

  test("codeSwitchAudit: per-line predictions roll up against a local replica") {
    import spark.implicits._
    val profiles = TextAnalysis.StopwordProfiles
    def predict(line: String): String = {
      val ws = line.split(" ").filter(_.nonEmpty)
      val hits = profiles.map { case (l, sw) => l -> ws.count(sw.contains) }
      hits.zipWithIndex.collectFirst {
        case ((l, h), i) if h > 0 && hits.drop(i + 1).forall(h >= _._2) => l
      }.getOrElse("und")
    }
    val deLine = profiles.find(_._1 == "de").get._2.take(6).mkString(" ")
    val enLine = profiles.find(_._1 == "en").get._2.take(6).mkString(" ")
    val lines = Seq(enLine, deLine, "xyzzy plugh", enLine)
    val df = Seq(("https://a.example/1", lines.mkString("\n"), "en"))
      .toDF("url", "text", "lang")
    val r = TextAnalysis.codeSwitchAudit(df).collect()(0)
    val preds = lines.map(predict)
    val expOff = preds.count(p => p != "en" && p != "und").toLong
    val expUnd = preds.count(_ == "und").toLong
    assert(preds.contains("de"), s"fixture must contain a real off-lang line: $preds")
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((4L, expOff, expUnd)),
      s"got ${r.mkString(",")}, preds $preds")
    assert(r.getLong(5) == math.floor(expOff.toDouble / 4.0 * 1e6).toLong)
  }

  test("videoPairs: planted one-byte-nudged videos pair at small hamming") {
    import spark.implicits._
    val rows = (0L until 64L).map(Media.rowFor).filter(_.kind == "video")
    val out = Media.videoPairs(rows.toDS()).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    val pairs = out.map(p => (p._1, p._2)).toSet
    // v9 fixture: videos at i=19,39,59 are one-byte nudges of i-4
    Seq((15L, 19L), (35L, 39L), (55L, 59L)).foreach { case (a, b) =>
      assert(pairs.contains((a, b)), s"planted pair ($a,$b) missing: ${out.toSeq}")
    }
    // a one-byte nudge moves one temporal-sum pixel by <= 15 units
    out.filter(p => Set((15L, 19L), (35L, 39L), (55L, 59L)).contains((p._1, p._2)))
      .foreach { p => assert(p._3 <= 3, s"planted pair too far: $p") }
  }

  test("videoComponents: every clip a node; every m12 edge inside one cluster") {
    import spark.implicits._
    val rows = (0L until 64L).map(Media.rowFor).filter(_.kind == "video")
    val comp = Media.videoComponents(rows.toDS()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(comp.keySet == rows.map(_.doc_id).toSet)
    comp.foreach { case (id, c) => assert(c <= id) }
    val pairs = Media.videoPairs(rows.toDS()).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.nonEmpty, "v9 fixture plants video near-dups")
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
  }
}
