package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import ColFns._

/** End-to-end training-data prep composition: the realistic chain a corpus
  * run applies per shard — language gate -> quality gate -> exact dedup ->
  * survivors + audit counts. One narrow pass plus the dedup window; every
  * stage reuses the oracle-checked operator columns, so the composition is
  * itself oracle-checkable.
  */
object Prep {

  /** Per-language audit of the prep funnel: total docs, language-gate pass,
    * quality-gate pass, exact-dup drops among quality-passers, survivors,
    * and surviving token mass.
    */
  def funnel(docs: DataFrame, lang: String = "en", minScoreMicro: Long = 250000L): DataFrame = {
    // Two partial-aggregating branches + one tiny per-lang join. NOT a
    // window over md5(text): the most-duplicated text in a web corpus (an
    // empty page, a CDN error page) has 10^7-10^8 exact copies and a
    // `min() OVER (PARTITION BY text_h)` would sort every one of them in a
    // single window task. Here neither branch ever shuffles full rows:
    //  - the per-lang gate counts collapse map-side (partial sums);
    //  - the survivor branch collapses each text_h map-side via
    //    min(struct(doc_id, lang, n_words)) — struct min orders by the
    //    leading field, so this is the argmin row, partial-aggregable —
    //    then re-aggregates the (tiny) one-row-per-distinct-text frame.
    // The cost is scanning/scoring the corpus twice (two plan branches);
    // at 10^12 docs two narrow map passes beat one hot-key window task.
    // The canonical is the min doc_id AMONG GATE-PASSERS of the same text
    // (a failed-gate copy must not shadow its passing duplicates — if the
    // min-id copy fails lang/quality, the next passing copy survives).
    val base = docs
      .select(col("doc_id"), col("lang"), call_function("graft_md5bin", col("text")).as("text_h"),
        TextAnalysis.statsCol(col("text")).as("st"))
      .select(col("doc_id"), col("lang"), col("text_h"),
        col("st").getField("n_words").as("n_words"),
        TextAnalysis.langPredFromStats(col("st")).as("lang_pred"),
        TextAnalysis.qualityScoreMicroFromStats(col("st")).as("score_micro"))
      .withColumn("lang_ok", (col("lang_pred") === lang).cast("int"))
      .withColumn("qual_ok", (col("lang_pred") === lang && col("score_micro") >= minScoreMicro).cast("int"))
    val gates = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("lang_ok")).cast("long").as("n_lang_ok"),
        sum(col("qual_ok")).cast("long").as("n_qual_ok"))
    val survivors = base
      .filter(col("qual_ok") === 1)
      .groupBy(col("text_h"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_words"))).as("c"))
      .groupBy(col("c.lang").as("lang"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("c.n_words")).cast("long").as("survivor_words"))
    // null-safe join key: a USING join drops NULL-lang groups (null never
    // equals null), silently zeroing their survivor counts — <=> keeps the
    // window form's semantics for corpora with missing lang
    gates.as("g").join(survivors.as("sv"),
        col("g.lang") <=> col("sv.lang"), "left")
      .select(col("g.lang").as("lang"), col("g.n_docs"),
        col("g.n_lang_ok"), col("g.n_qual_ok"),
        coalesce(col("sv.n_survivors"), lit(0L)).as("n_survivors"),
        coalesce(col("sv.survivor_words"), lit(0L)).as("survivor_words"))
      .orderBy("lang")
  }

  /** Deterministic stratified sampling — the data-mixing primitive: keep a
    * doc iff h32(doc_id ':' salt) % 1e6 < rate(lang)·1e6. Hash-gated rather
    * than RNG-gated: reproducible across retries, independent of partition
    * layout, and resumable (a re-run keeps exactly the same rows), which is
    * what mixture-weight sampling needs at 10^12 docs. One codegen
    * projection + filter; zero shuffles. Unlisted languages fall back to
    * `defaultRate`; expected stratum size = rate · |stratum|.
    */
  /** The keep-predicate of [[stratifiedSample]] as a reusable codegen
    * Column (shared with the composed pipeline p8).
    */
  /** The deterministic per-doc sampling gate in [0, 1e6) — ONE definition
    * (plus [[sqlSampleGate]], its SQL mirror) shared by p2, p8 and p9 so the
    * resumability semantics cannot drift between the samplers.
    */
  private[ops] def sampleGate(salt: String): org.apache.spark.sql.Column =
    h32(concat(col("doc_id").cast("string"), lit(":" + salt))) % 1000000L

  private[ops] def sqlSampleGate(salt: String): String =
    s"${sqlH32(s"CAST(doc_id AS VARCHAR) || ':$salt'")} % 1000000"

  private[ops] def sampleKeep(rates: Seq[(String, Double)],
      defaultRate: Double, salt: String): org.apache.spark.sql.Column = {
    val rateCol = rates.foldRight(lit((defaultRate * 1e6).toLong)) { case ((l, r), acc) =>
      when(col("lang") === l, lit((r * 1e6).toLong)).otherwise(acc)
    }
    sampleGate(salt) < rateCol
  }

  def stratifiedSample(docs: DataFrame, rates: Seq[(String, Double)],
      defaultRate: Double = 0.5, salt: String = "mix1"): DataFrame =
    docs.filter(sampleKeep(rates, defaultRate, salt))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  def stratifiedSampleSql(table: String, rates: Seq[(String, Double)],
      defaultRate: Double = 0.5, salt: String = "mix1"): String = {
    // thresholds computed with the SAME (r * 1e6).toLong as the Spark side,
    // so double-literal rounding can never diverge between engines
    val cases = rates.map { case (l, r) => s"WHEN lang = '$l' THEN ${(r * 1e6).toLong}" }
      .mkString("CASE ", " ", s" ELSE ${(defaultRate * 1e6).toLong} END")
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    ${sqlSampleGate(salt)} AS g,
       |    $cases AS rate_micro
       |  FROM $table)
       |WHERE g < rate_micro ORDER BY doc_id""".stripMargin
  }

  /** Token-budget mixture sampling — the closed-loop form of [[stratifiedSample]]:
    * instead of taking fixed rates, derive each source's keep-rate from its
    * OBSERVED character mass so the sampled corpus hits a target mixture.
    * Given integer weight parts `weights` (summing to W) and a total budget
    * of `budgetChars`, source s gets rate = min(1, budget·w_s / (W·chars_s))
    * — i.e. the sample aims at budget·w_s/W characters from s; a source too
    * small for its quota saturates at 1.0 (all kept; the shortfall is the
    * mixture report's business, not silently rebalanced). Unlisted sources
    * get weight 0 and are excluded.
    *
    * Shape at 100 TB: the observed-mass table is one row per source (partial
    * agg), rates derive from it row-locally and BROADCAST back (null-safe
    * `<=>`), and the gate itself is [[stratifiedSample]]'s deterministic
    * hash predicate — codegen filter, reproducible across retries and
    * partition layouts, resumable. Rate arithmetic is double with a fixed
    * operation order mirrored token-for-token in the SQL so IEEE rounding
    * cannot diverge between engines. Degenerate masses are guarded BEFORE
    * the division (weight 0 -> rate 0 always; weighted source with zero or
    * NULL observed chars -> saturates like any quota-starved source): an
    * unguarded x/0 would throw under Spark's ANSI mode while DuckDB's
    * inf-cast path silently kept the source, and `least(1e6, NULL)` skips
    * NULLs in BOTH engines — turning an unknown rate into keep-everything.
    */
  def mixtureSample(docs: DataFrame, weights: Seq[(String, Long)],
                    budgetChars: Long, salt: String = "mix9"): DataFrame = {
    val wSum = weights.map(_._2).sum
    require(wSum > 0, "mixtureSample needs at least one positive weight")
    val wCol = weights.foldRight(lit(0L)) { case ((s0, w), acc) =>
      when(col("source") === s0, lit(w)).otherwise(acc)
    }
    val rates = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("chars"))
      .select(col("source").as("source_r"),
        when(wCol === 0L, lit(0L))
          .when(col("chars").isNull || col("chars") <= 0L, lit(1000000L))
          .otherwise(least(lit(1000000L),
            floor(lit(budgetChars.toDouble) * wCol.cast("double") /
              (lit(wSum.toDouble) * col("chars").cast("double")) * lit(1000000.0))
              .cast("long")))
          .as("rate_micro"))
    docs.join(broadcast(rates), col("source") <=> col("source_r"))
      .where(sampleGate(salt) < col("rate_micro"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("rate_micro"))
      .orderBy("doc_id")
  }

  def mixtureSampleSql(table: String, weights: Seq[(String, Long)],
                       budgetChars: Long, salt: String = "mix9"): String = {
    val wSum = weights.map(_._2).sum
    val wCase = weights.map { case (s0, w) => s"WHEN source = '$s0' THEN $w" }
      .mkString("CASE ", " ", " ELSE 0 END")
    // wCol references mass's source column; operation order mirrors the
    // Spark side exactly: ((budget * w) / (wSum * chars)) * 1e6
    s"""WITH mass AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM $table GROUP BY source),
       |rates AS (SELECT source AS source_r,
       |  CASE WHEN ($wCase) = 0 THEN 0
       |       WHEN chars IS NULL OR chars <= 0 THEN 1000000
       |       ELSE least(1000000, CAST(floor(
       |    CAST($budgetChars AS DOUBLE) * CAST(($wCase) AS DOUBLE) /
       |    (CAST($wSum AS DOUBLE) * CAST(chars AS DOUBLE)) * 1000000.0)
       |    AS BIGINT)) END AS rate_micro FROM mass)
       |SELECT doc_id, source, n_chars, rate_micro
       |FROM $table t JOIN rates r ON t.source IS NOT DISTINCT FROM r.source_r
       |WHERE ${sqlSampleGate(salt)} < rate_micro
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature-based mixture resampling (mT5 §3.2 / Pile-style
    * α-smoothing, fixed at α = 1/2): instead of [[mixtureSample]]'s
    * *stated* target weights, each source's weight is derived from its own
    * observed mass, q_s ∝ sqrt(chars_s) — big sources are down-weighted,
    * small sources up-weighted, the standard low-resource-balancing move.
    * Keep-rate = min(1, budget·q_s / chars_s); a quota bigger than the
    * source saturates at keep-everything, exactly like [[mixtureSample]].
    *
    * α = 1/2 is deliberate: IEEE-754 requires sqrt be correctly rounded, so
    * Spark and DuckDB agree bit-for-bit, while a general pow(x, α) does
    * not. The normalizer Σ sqrt(chars) would still be an ORDER-SENSITIVE
    * float sum across sources, so each sqrt is first quantized to milli
    * units (floor·1e3 — a long) and the normalizer sums LONGS: order-free,
    * engine-exact, and the milli scale cancels in the q_s/S ratio. A source
    * with no measurable mass (NULL/zero chars) carries no sqrt weight and
    * drops out — unlike p9 there is no stated weight owed to it.
    *
    * Shape at 100 TB: identical to [[mixtureSample]] — one partial-agg
    * mass row per source, a one-row integer normalizer cross-broadcast
    * under it, rates BROADCAST back (null-safe `<=>`), and the per-doc
    * gate is the deterministic codegen hash filter (reproducible across
    * retries and partition layouts).
    */
  def temperatureMixture(docs: DataFrame, budgetChars: Long,
                         salt: String = "mix11"): DataFrame = {
    val mass = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("chars"))
      .select(col("source").as("source_r"), col("chars"),
        when(col("chars").isNull || col("chars") <= 0L, lit(0L))
          .otherwise(floor(sqrt(col("chars").cast("double")) * lit(1000.0))
            .cast("long")).as("s_milli"))
    val total = mass.agg(sum(col("s_milli")).as("s_total"))
    val rates = mass.crossJoin(broadcast(total))
      .select(col("source_r"),
        when(col("s_milli") <= 0L || col("s_total") <= 0L, lit(0L))
          .otherwise(least(lit(1000000L),
            floor(lit(budgetChars.toDouble) * col("s_milli").cast("double") /
              (col("s_total").cast("double") * col("chars").cast("double")) *
              lit(1000000.0)).cast("long")))
          .as("rate_micro"))
    docs.join(broadcast(rates), col("source") <=> col("source_r"))
      .where(sampleGate(salt) < col("rate_micro"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("rate_micro"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[temperatureMixture]] — same quantized-sqrt integer
    * normalizer, same `(budget * s) / (S * chars) * 1e6` operation order.
    */
  def temperatureMixtureSql(table: String, budgetChars: Long,
                            salt: String = "mix11"): String =
    s"""WITH mass AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
       |  FROM $table GROUP BY source),
       |q AS (SELECT source AS source_r, chars,
       |  CASE WHEN chars IS NULL OR chars <= 0 THEN 0
       |       ELSE CAST(floor(sqrt(CAST(chars AS DOUBLE)) * 1000.0) AS BIGINT)
       |  END AS s_milli FROM mass),
       |tot AS (SELECT CAST(sum(s_milli) AS BIGINT) AS s_total FROM q),
       |rates AS (SELECT source_r,
       |  CASE WHEN s_milli <= 0 OR s_total <= 0 THEN 0
       |       ELSE least(1000000, CAST(floor(
       |    CAST($budgetChars AS DOUBLE) * CAST(s_milli AS DOUBLE) /
       |    (CAST(s_total AS DOUBLE) * CAST(chars AS DOUBLE)) * 1000000.0)
       |    AS BIGINT)) END AS rate_micro FROM q CROSS JOIN tot)
       |SELECT doc_id, source, n_chars, rate_micro
       |FROM $table t JOIN rates r ON t.source IS NOT DISTINCT FROM r.source_r
       |WHERE ${sqlSampleGate(salt)} < rate_micro
       |ORDER BY doc_id""".stripMargin

  def funnelSql(table: String, lang: String = "en", minScoreMicro: Long = 250000L): String = {
    val w = sqlWords("text")
    val stop = TextAnalysis.StopwordProfiles.head._2.map(s => s"'$s'").mkString("[", ",", "]")
    val langCase = {
      val hitExpr = TextAnalysis.StopwordProfiles.map { case (l, sw) =>
        val lst = sw.map(s => s"'$s'").mkString("[", ",", "]")
        l -> s"len(list_filter($w, x -> list_contains($lst, x)))"
      }
      val langs = hitExpr.map(_._1)
      hitExpr.zipWithIndex.map { case ((l, _), i) =>
        val conds = (s"h_$l > 0" +: langs.drop(i + 1).map(l2 => s"h_$l >= h_$l2")).mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
    }
    val hitsDefs = TextAnalysis.StopwordProfiles.map { case (l, sw) =>
      val lst = sw.map(s => s"'$s'").mkString("[", ",", "]")
      s"len(list_filter($w, x -> list_contains($lst, x))) AS h_$l"
    }.mkString(", ")
    val score = "CASE WHEN n_words > 0 THEN " + sqlMicro(
      "0.4 * (CAST(stop_hits AS DOUBLE) / CAST(n_words AS DOUBLE)) " +
        "+ 0.3 * (CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)) " +
        "+ 0.3 * least(1.0, CAST(n_words AS DOUBLE) / 200.0)") + " ELSE 0 END"
    s"""WITH base AS (SELECT doc_id, lang, md5(text) AS text_h,
       |    CAST(len($w) AS BIGINT) AS n_words,
       |    CAST(len(list_filter($w, x -> list_contains($stop, x))) AS BIGINT) AS stop_hits,
       |    CAST(len(list_filter($w, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS alpha_words,
       |    $hitsDefs
       |  FROM $table),
       |flags AS (SELECT doc_id, lang, text_h, n_words,
       |    ($langCase) = '$lang' AS lang_ok,
       |    ($langCase) = '$lang' AND ($score) >= $minScoreMicro AS qual_ok
       |  FROM base),
       |canon AS (SELECT lang, n_words, lang_ok, qual_ok,
       |    min(CASE WHEN qual_ok THEN doc_id END) OVER (PARTITION BY text_h) = doc_id AS uniq
       |  FROM flags)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       |  CAST(sum(CASE WHEN qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_qual_ok,
       |  CAST(sum(CASE WHEN qual_ok AND uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       |  CAST(sum(CASE WHEN qual_ok AND uniq THEN n_words ELSE 0 END) AS BIGINT) AS survivor_words
       |FROM canon GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Hosts a crawl-curation pass would drop (spam/SEO farms, adult, ad
    * mirrors — here two synthetic stand-ins). Literal list: the real thing
    * is a broadcast lookup, identical plan shape.
    */
  val HostBlocklist: Seq[String] = Seq("host-13.example", "host-42.example")

  /** URL canonicalization + per-host corpus stats — the first stage of any
    * web-corpus curation run (RefinedWeb/CCNet style): scheme and `www.`
    * stripped, host lowercased, tracking (`utm_*`) params removed, fragment
    * dropped, then blocklist-filtered host-level aggregation. The synthetic
    * corpus keeps 30% of pages on one host (host-0) by design, so the
    * output also evidences the skew a salted writer has to handle.
    *
    * One codegen projection + one aggregate; zero joins (the blocklist is a
    * literal IN filter — a real list ships as a broadcast and keeps the
    * same map-side shape).
    */
  /** Canonical url form: lowercase, scheme and leading `www.` stripped,
    * fragment dropped, `utm_*` tracking params removed (other params kept).
    */
  private[ops] def normalizeUrl(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lowered = lower(u)
    val noScheme = regexp_replace(lowered, "^https?://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "[?&]utm_[^&#]*", "")
    // a stripped leading param leaves '&' where '?' belongs
    regexp_replace(noUtm, "^([^?]*)&", "$1?")
  }

  def urlHostStats(pages: DataFrame): DataFrame = {
    // deterministic noise so normalization has real work to do: a third of
    // urls gain uppercase scheme + www + tracking params + fragment (the
    // construct-input-identically-in-both-engines pattern, like t7/f1)
    val noisy = when(h32(col("url")) % 3 === 0,
      concat(lit("HTTPS://WWW."), substring(col("url"), 9, 1000000),
        lit("?id=7&utm_source=news&utm_campaign=x#frag")))
      .otherwise(col("url"))
    pages
      .select(normalizeUrl(noisy).as("norm_url"))
      .withColumn("host", regexp_extract(col("norm_url"), "^([^/]+)", 1))
      .filter(!col("host").isInCollection(HostBlocklist))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_pages"),
        countDistinct(col("norm_url")).as("n_urls"))
      .orderBy("host")
  }

  /** DuckDB mirror (regexes kept to the Java/RE2-identical subset; DuckDB
    * regexp_replace needs the explicit 'g' flag Spark applies implicitly —
    * these patterns all match at most once, so 'g' vs first-match cannot
    * diverge).
    */
  /** [[normalizeUrl]] as a DuckDB expression over `e` — ONE definition
    * shared by [[urlHostStatsSql]] and [[latestSnapshotSql]] (the
    * [[shardsForSql]] lesson: hand-inlined copies of a shared rule are
    * where cross-engine bugs breed).
    */
  private[ops] def sqlNormalizeUrl(e: String): String =
    s"""regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(lower($e), '^https?://', ''),
       |          '^www\\.', ''),
       |        '#.*$$', ''),
       |      '[?&]utm_[^&#]*', '', 'g'),
       |    '^([^?]*)&', '\\1?')""".stripMargin

  def urlHostStatsSql(pagesGlob: String): String = {
    val noisy = s"CASE WHEN ${sqlH32("url")} % 3 = 0 " +
      "THEN 'HTTPS://WWW.' || substring(url, 9) || '?id=7&utm_source=news&utm_campaign=x#frag' " +
      "ELSE url END"
    val block = HostBlocklist.map(h => s"'$h'").mkString(", ")
    s"""WITH n AS (SELECT ${sqlNormalizeUrl(noisy)} AS norm_url
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |h AS (SELECT norm_url, regexp_extract(norm_url, '^([^/]+)', 1) AS host FROM n)
       |SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
       |  CAST(count(DISTINCT norm_url) AS BIGINT) AS n_urls
       |FROM h WHERE host NOT IN ($block)
       |GROUP BY host ORDER BY host""".stripMargin
  }

  /** Meta-robots indexability gate — the policy pre-filter a crawl
    * curation run applies BEFORE spending a full parse on the page: a
    * codegen regexp scan over the raw html bytes costs a fraction of the
    * DOM walk, and pages opting out via
    * `<meta name="robots" content="...noindex...">` never reach the
    * extraction kernel. Synthetic corpus html carries no robots tags, so a
    * deterministic fifth of pages get one planted in-query (the
    * construct-input-identically-in-both-engines pattern, like t7/f1).
    * Map-only + one tiny aggregate.
    */
  def robotsGate(pages: DataFrame): DataFrame = {
    val htmlStr = col("html").cast("string")
    val planted = when(h32(col("url")) % 5 === 0,
      concat(lit("<meta name=\"robots\" content=\"noindex, nofollow\">"), htmlStr))
      .otherwise(htmlStr)
    val noindex = planted.rlike("<meta name=\"robots\" content=\"[^\"]*noindex")
    pages
      .select(col("lang"), noindex.cast("int").as("ni"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pages"),
        sum(col("ni")).cast("long").as("n_noindex"),
        (count(lit(1)) - sum(col("ni"))).cast("long").as("n_indexable"))
      .orderBy("lang")
  }

  def robotsGateSql(pagesGlob: String): String =
    s"""WITH h AS (SELECT lang,
       |    CASE WHEN ${sqlH32("url")} % 5 = 0
       |      THEN '<meta name="robots" content="noindex, nofollow">' || decode(html)
       |      ELSE decode(html) END AS html_s
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |f AS (SELECT lang, CASE WHEN regexp_matches(html_s,
       |    '<meta name="robots" content="[^"]*noindex') THEN 1 ELSE 0 END AS ni
       |  FROM h)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_pages,
       |  CAST(sum(ni) AS BIGINT) AS n_noindex,
       |  CAST(count(*) - sum(ni) AS BIGINT) AS n_indexable
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-host contribution cap (RefinedWeb-style): keep at most `k` pages
    * per host, chosen deterministically as the k smallest
    * h32(url ':' salt) — hash-priority, so the kept set is reproducible
    * and independent of partition layout, like [[stratifiedSample]].
    *
    * Skew-safe two-stage top-k: the corpus deliberately parks 30% of pages
    * on one host, and a single row_number window over `host` would sort
    * all of that host's 10^12-scale rows in ONE task. Stage 1 takes the
    * per-(host, sub-bucket) top-k over `nSub` hash sub-buckets — bounded
    * partitions regardless of host skew; stage 2 re-ranks the <= nSub*k
    * survivors per host, which is O(nSub*k) rows per host by construction.
    * Top-k of a union is contained in the union of per-bucket top-k's, so
    * the result is EXACTLY the single-window answer (the DuckDB oracle is
    * that single window).
    */
  def hostCap(pages: DataFrame, k: Int = 5, salt: String = "cap1",
      nSub: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = pages.select(col("url"),
      regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
      h32(concat(col("url"), lit(":" + salt))).as("pri"))
    // url breaks h32 ties (collisions are rare but must stay deterministic)
    val sub = Window
      .partitionBy(col("host"), pmod(h32(col("url")), lit(nSub.toLong)))
      .orderBy(col("pri"), col("url"))
    val whost = Window.partitionBy(col("host")).orderBy(col("pri"), col("url"))
    base
      .withColumn("rn1", row_number().over(sub)).filter(col("rn1") <= k)
      .withColumn("rn", row_number().over(whost)).filter(col("rn") <= k)
      .select(col("host"), col("url"), col("rn").cast("int").as("rn"))
      .orderBy("host", "rn")
  }

  /** DuckDB mirror: the semantically-equal single window (small data —
    * the oracle doesn't need the skew guard, which is the point: both
    * plans answer the same query).
    */
  def hostCapSql(pagesGlob: String, k: Int = 5, salt: String = "cap1"): String =
    s"""SELECT host, url, CAST(rn AS INT) AS rn FROM (
       |  SELECT host, url,
       |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY pri, url) AS rn
       |  FROM (SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       |      ${sqlH32(s"url || ':$salt'")} AS pri
       |    FROM read_parquet('$pagesGlob', hive_partitioning=1)))
       |WHERE rn <= $k ORDER BY host, rn""".stripMargin

  /** Per-host crawl freshness audit — the recency signal a re-crawl
    * scheduler and a training-data cutoff both need: page count, crawl-time
    * span, and newest/oldest capture per host. One narrow projection +
    * one aggregate over (url, warc_ts); completes input-schema coverage
    * (every column of the pages table is now exercised by some operator).
    */
  def crawlFreshness(pages: DataFrame): DataFrame =
    pages
      .select(regexp_extract(col("url"), "^https?://([^/]+)", 1).as("host"),
        col("warc_ts").cast("timestamp").as("ts"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_pages"),
        min(col("ts")).as("oldest"),
        max(col("ts")).as("newest"),
        ((unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))) / 86400000L)
          .cast("long").as("span_days"))
      .orderBy("host")

  def crawlFreshnessSql(pagesGlob: String): String =
    s"""SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
       |  CAST(count(*) AS BIGINT) AS n_pages,
       |  min(warc_ts) AS oldest, max(warc_ts) AS newest,
       |  CAST((epoch_ms(max(warc_ts)) - epoch_ms(min(warc_ts))) // 86400000 AS BIGINT)
       |    AS span_days
       |FROM read_parquet('$pagesGlob', hive_partitioning=1)
       |GROUP BY host ORDER BY host""".stripMargin

  /** Robots.txt rule application — the other half of crawl politeness
    * (p6 gates on in-page meta tags; this applies PER-HOST path rules the
    * way a fetcher must, BEFORE the request): every url is matched
    * against its host's Allow/Disallow prefix rules and the most specific
    * rule wins — Google semantics: longest rule path first, Allow beats
    * Disallow on a length tie. The corpus ships no robots.txt, so the
    * per-host rule set is constructed deterministically in BOTH engines
    * (the p6/t7 construct-input-identically pattern): "/" always allowed,
    * "/en" disallowed for a third of hosts, "/de" disallowed for a
    * quarter, and "/de/doc-1" RE-allowed for half — the classic
    * allow-under-disallow override, which also exercises prefix (not
    * path-segment) matching: it re-allows /de/doc-1, /de/doc-12, ...
    *
    * Longest-match is ROW-LOCAL (r6): the rule set is derived from the
    * host string alone, so the argmax over (zero-padded length ‖ allow ‖
    * path) keys is a `greatest` over four constant-per-rule CASE branches
    * — one codegen projection, no distinct-hosts pass, no rules join, no
    * aggregation. The former agg+join form (hosts distinct → 4-way rule
    * explode → host equi-join → per-url max_by) paid two extra corpus
    * passes and — worse — made the x9 composition SEMI-JOIN the page
    * payload against the allowed set, shuffling every page's bytes by url
    * at corpus scale (the guide §8 anti-pattern: heavy rows moved to make
    * a lightweight decision). Row-local evaluation makes the fetch gate a
    * filter the parse kernel reads through, with zero shuffles anywhere.
    * Urls matching NO rule (e.g. no "/"-rooted path) drop out exactly as
    * the join form dropped them.
    */
  private[ops] def robotsWinnerKey(url: Column): Column = {
    val host = regexp_extract(url, "^[a-z]+://([^/:?#]+)", 1)
    val path = regexp_extract(url, "^[a-z]+://[^/]+(/.*)$", 1)
    def gate(salt: String, m: Int) = h32(concat(host, lit(salt))) % m === 0
    // key layout: 4-digit length ':' allow ':' rule_path — CONSTANT per
    // rule, so the argmax is greatest() over when()-gated literals; string
    // order is identical to the former max_by key (same strings).
    def key(rp: String, allow: Int, on: Column) =
      when(on && path.startsWith(rp), lit(f"${rp.length}%04d:$allow:$rp"))
    greatest(
      key("/", 1, lit(true)),
      key("/en", 0, gate(":r1", 3)),
      key("/de", 0, gate(":r2", 4)),
      key("/de/doc-1", 1, gate(":r3", 2)))
  }

  // the winner key's fields, decoded here only: allow flag at byte 6,
  // rule path from byte 8 (1-based, as SQL substring counts)
  private def keyAllow(k: Column): Column = substring(k, 6, 1)
  private def keyRulePath(k: Column): Column = substr(k, lit(8))

  /** True iff the url's winning robots rule allows it; null (so a filter
    * drops the row) when no rule matches.
    */
  private[ops] def robotsAllowed(url: Column): Column =
    keyAllow(robotsWinnerKey(url)) === "1"

  /** Winning robots rule per page row: (url, host, rule_path, allow) for
    * every row whose url matches at least one rule.
    *
    * Precondition: urls are unique in `pages`. This emits one row per
    * input row, while [[robotsRulesSql]] groups by (url, host), so a url
    * that appears twice yields two rows here and one in the mirror.
    */
  def robotsRules(pages: DataFrame): DataFrame =
    pages
      .select(col("url"),
        regexp_extract(col("url"), "^[a-z]+://([^/:?#]+)", 1).as("host"),
        robotsWinnerKey(col("url")).as("k"))
      .filter(col("k").isNotNull)
      .select(col("url"), col("host"),
        keyRulePath(col("k")).as("rule_path"),
        keyAllow(col("k")).cast("int").as("allow"))
      .orderBy(col("url"))

  /** DuckDB mirror — same constructed rules, same argmax key. */
  def robotsRulesSql(pagesGlob: String): String = {
    def gate(salt: String, m: Int) = s"${sqlH32(s"host || '$salt'")} % $m = 0"
    s"""WITH pg AS (SELECT url,
       |    regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
       |    regexp_extract(url, '^[a-z]+://[^/]+(/.*)$$', 1) AS path
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |hosts AS (SELECT DISTINCT host FROM pg),
       |cand AS (
       |  SELECT host, '/' AS rule_path, 1 AS allow, TRUE AS onf FROM hosts
       |  UNION ALL SELECT host, '/en', 0, ${gate(":r1", 3)} FROM hosts
       |  UNION ALL SELECT host, '/de', 0, ${gate(":r2", 4)} FROM hosts
       |  UNION ALL SELECT host, '/de/doc-1', 1, ${gate(":r3", 2)} FROM hosts),
       |rules AS (SELECT host, rule_path, allow FROM cand WHERE onf),
       |m AS (SELECT pg.url, pg.host, r.rule_path, r.allow,
       |    lpad(CAST(length(r.rule_path) AS VARCHAR), 4, '0') || ':' ||
       |      CAST(r.allow AS VARCHAR) || ':' || r.rule_path AS k
       |  FROM pg JOIN rules r ON r.host = pg.host
       |    AND starts_with(pg.path, r.rule_path))
       |SELECT url, host, arg_max(rule_path, k) AS rule_path,
       |  CAST(arg_max(allow, k) AS INT) AS allow
       |FROM m GROUP BY url, host ORDER BY url""".stripMargin
  }

  /** Crawl-budget apportionment — divide an integer fetch budget across
    * hosts exactly proportionally (largest-remainder / Hamilton method,
    * the same rule election seat allocation uses): base quota
    * `floor(B*w/W)` per host, and the leftover `R = B - sum(base)` seats
    * go to the R largest remainders `(B*w) mod W` (ties by host). All
    * integer arithmetic, so `sum(alloc) == B` EXACTLY — the invariant a
    * fetch scheduler (or a sampling-quota planner) needs; floor-rate
    * schemes leak budget.
    *
    * The hard part at 10^8 hosts is the remainder rank: a
    * `ROW_NUMBER() OVER (ORDER BY rem DESC)` is one task over every host.
    * This uses the [[epochOrder]] distributed global-rank idiom instead —
    * range-bucket on the remainder (scaled into nBuckets by the total
    * weight), per-bucket bounded windows, tiny bucket-count offsets
    * broadcast back — provably equal to the single-window oracle. The two
    * scalars (total weight W, leftover R) ride as broadcast one-row
    * frames, never a collect.
    */
  def budgetApportion(pages: DataFrame, budget: Long = 1000L,
      nBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "positive budget")
    val hw = pages
      .select(regexp_extract(col("url"), "^[a-z]+://([^/:?#]+)", 1).as("host"))
      .groupBy(col("host")).agg(count(lit(1)).as("w"))
    val tot = hw.agg(sum(col("w")).as("tw"))
    val based = hw.crossJoin(broadcast(tot))
      .select(col("host"), col("w"),
        expr(s"(${budget}L * w) div tw").as("base"),
        expr(s"(${budget}L * w) % tw").as("rem"),
        expr(s"((${budget}L * w) % tw) * ${nBuckets}L div tw").as("bkt"))
    val leftover = based.agg((lit(budget) - sum(col("base"))).as("r"))
    // offsets: hosts in HIGHER-remainder buckets rank first
    val offsets = based.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum(col("n")).over(Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("rem").desc, col("host"))
    based.join(broadcast(offsets), "bkt")
      .withColumn("rnk", col("off") + row_number().over(w).cast("long"))
      .crossJoin(broadcast(leftover))
      .select(col("host"), col("w"),
        (col("base") + when(col("rnk") <= col("r"), 1L).otherwise(0L))
          .cast("long").as("alloc"))
      .orderBy(col("host"))
  }

  /** DuckDB mirror of [[budgetApportion]]: the single-window form the
    * bucketed construction provably equals.
    */
  def budgetApportionSql(pagesGlob: String, budget: Long = 1000L): String =
    s"""WITH hw AS (SELECT regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1) GROUP BY host),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM hw),
       |b AS (SELECT host, w, ($budget * w) // tw AS base, ($budget * w) % tw AS rem
       |  FROM hw, t),
       |r AS (SELECT CAST($budget - sum(base) AS BIGINT) AS lv FROM b),
       |rk AS (SELECT host, w, base,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS rnk FROM b)
       |SELECT host, w,
       |  CAST(base + CASE WHEN rnk <= (SELECT lv FROM r) THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM rk ORDER BY host""".stripMargin

  /** Crawl-snapshot diff — the host-granular change report a re-crawl
    * planner reads between two crawls: per host, how many urls were
    * added, removed, changed (same url, different content hash) or
    * unchanged. Complements x5 (which RESUMES extraction through a
    * digest): this is the audit that sizes the next crawl before any
    * extraction runs. The second snapshot is constructed deterministically
    * from the first in BOTH engines (the p6/t7 pattern): a seventh of
    * urls deleted, a fifth content-drifted, an eleventh gaining a new
    * `?v=2` twin — so every diff class has real members.
    *
    * Shape: content identity = md5 over the raw page bytes computed
    * map-side; ONE full-outer equi-join on url (AQE-skew-safe — no key
    * hotter than one url) and one per-host partial-agg fold. At 10^12
    * pages nothing but (url, host, 16-byte hash) ever shuffles.
    */
  def crawlDiff(pages: DataFrame): DataFrame = {
    val base = pages.select(col("url"),
      regexp_extract(col("url"), "^[a-z]+://([^/:?#]+)", 1).as("host"),
      md5(col("html")).as("ch"))
    val snap2 = base
      .filter(h32(concat(col("url"), lit(":del"))) % 7 =!= 0)
      .select(col("url"), col("host"),
        when(h32(concat(col("url"), lit(":chg"))) % 5 === 0,
          md5(concat(col("ch"), lit(":v2")))).otherwise(col("ch")).as("ch"))
      .union(base
        .filter(h32(concat(col("url"), lit(":add"))) % 11 === 0)
        .select(concat(col("url"), lit("?v=2")).as("url"), col("host"),
          md5(concat(col("ch"), lit(":new"))).as("ch")))
    base.select(col("url"), col("host").as("h1"), col("ch").as("ch1"))
      .join(snap2.select(col("url"), col("host").as("h2"), col("ch").as("ch2")),
        Seq("url"), "full_outer")
      .select(coalesce(col("h1"), col("h2")).as("host"),
        col("ch1"), col("ch2"))
      .groupBy(col("host"))
      .agg(
        sum(when(col("ch1").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("ch2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("ch1").isNotNull && col("ch2").isNotNull &&
          col("ch1") =!= col("ch2"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("ch1") === col("ch2"), 1L).otherwise(0L)).as("n_same"))
      .orderBy(col("host"))
  }

  /** DuckDB mirror of [[crawlDiff]] — same constructed second snapshot. */
  def crawlDiffSql(pagesGlob: String): String =
    s"""WITH base AS (SELECT url,
       |    regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
       |    md5(decode(html)) AS ch
       |  FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |snap2 AS (
       |  SELECT url, host,
       |    CASE WHEN ${sqlH32("url || ':chg'")} % 5 = 0
       |      THEN md5(ch || ':v2') ELSE ch END AS ch
       |  FROM base WHERE ${sqlH32("url || ':del'")} % 7 <> 0
       |  UNION ALL
       |  SELECT url || '?v=2', host, md5(ch || ':new')
       |  FROM base WHERE ${sqlH32("url || ':add'")} % 11 = 0),
       |j AS (SELECT COALESCE(a.host, b.host) AS host, a.ch AS ch1, b.ch AS ch2
       |  FROM base a FULL OUTER JOIN snap2 b ON a.url = b.url)
       |SELECT host,
       |  CAST(sum(CASE WHEN ch1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(sum(CASE WHEN ch2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN ch1 IS NOT NULL AND ch2 IS NOT NULL AND ch1 <> ch2
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(CASE WHEN ch1 = ch2 THEN 1 ELSE 0 END) AS BIGINT) AS n_same
       |FROM j GROUP BY host ORDER BY host""".stripMargin

  /** The training-feed flagship composition (p18) — the third of the
    * engine's composed chains (x9 = crawl side, p8 = prep side, this =
    * what the trainer actually streams): temperature mixture sampling
    * ([[temperatureMixture]]) -> quality-curriculum global order
    * ([[curriculumOrder]]) -> fixed-token-budget chunking ALONG THE
    * CURRICULUM ORDER. The last stage is what p4's per-(lang,shard)
    * packing deliberately is not: chunk boundaries follow the exact
    * global schedule, so it needs a corpus-scale GLOBAL PREFIX SUM —
    * computed distributed: dense `pos` ranks range-bucket evenly
    * ((pos-1) div bucketRows), per-bucket token sums fold into running
    * offsets over the tiny bucket frame (broadcast back), and the
    * within-bucket running sum windows over bounded partitions. Provably
    * the single-window `SUM OVER (ORDER BY pos)` the oracle computes,
    * with no single-task sort anywhere.
    *
    * Output: (doc_id, band, pos, chunk_id) — one row per fed doc in
    * curriculum order with its training-chunk assignment.
    */
  def trainingFeed(docs: DataFrame, budgetChars: Long = 20000L,
      budgetTokens: Long = 256L, epoch: Int = 0,
      bucketRows: Long = 4096L,
      // materialize=false is for PLAN-SHAPE tests only (see endToEnd)
      materialize: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint() else df
    val kept = temperatureMixture(docs, budgetChars).select(col("doc_id"))
    // r6: the fed subset (budget-bounded by the mixture) is materialized
    // once — it used to be recomputed, mixture chain included, by each of
    // its three consumers (curriculum order, token counts, chunking);
    // likewise seq0 feeds both the offsets agg and the final join.
    // localCheckpoint, not persist: object-keyed, so separate invocations
    // never share state (see endToEnd's note).
    val fed = mat(docs.join(kept, Seq("doc_id"), "left_semi"))
    val ordered = curriculumOrder(fed, epoch)
    val toks = fed.select(col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
    val seq0 = mat(ordered.join(toks, Seq("doc_id"))
      .withColumn("pb", expr(s"(pos - 1) div ${bucketRows}L")))
    val offs = seq0.groupBy(col("pb")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("boff",
        coalesce(sum(col("bt")).over(Window.orderBy(col("pb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pb"), col("boff"))
    val win = Window.partitionBy(col("pb")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq0.join(broadcast(offs), Seq("pb"))
      .withColumn("cum", col("boff") + sum(col("n_tokens")).over(win))
      .select(col("doc_id"), col("band"), col("pos"),
        expr(s"(cum - n_tokens) div ${budgetTokens}L").as("chunk_id"))
      .orderBy(col("pos"))
  }

  /** DuckDB mirror of [[trainingFeed]]: the mixture and curriculum
    * builders nested as subqueries (one definition each — the
    * curriculum's table parameter receives the kept-subset relation), and
    * the chunking as the single global running-sum window the distributed
    * prefix sum provably equals.
    */
  def trainingFeedSql(table: String, budgetChars: Long = 20000L,
      budgetTokens: Long = 256L, epoch: Int = 0): String = {
    val fedRel = s"(SELECT d.* FROM $table d WHERE d.doc_id IN (SELECT doc_id FROM kept))"
    s"""WITH kept AS (SELECT doc_id FROM (
       |${temperatureMixtureSql(table, budgetChars)}
       |)),
       |ord AS (SELECT * FROM (
       |${curriculumOrderSql(fedRel, epoch)}
       |)),
       |tok AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM $table WHERE doc_id IN (SELECT doc_id FROM kept)),
       |j AS (SELECT o.doc_id, o.band, o.pos, t.n_tokens
       |  FROM ord o JOIN tok t USING (doc_id)),
       |c AS (SELECT doc_id, band, pos, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM j)
       |SELECT doc_id, CAST(band AS BIGINT) AS band, pos,
       |  CAST((cum - n_tokens) // $budgetTokens AS BIGINT) AS chunk_id
       |FROM c ORDER BY pos""".stripMargin
  }

  /** Shard-count sizing rule for [[packChunks]]: enough shards that ONE
    * (lang, shard) running-sum partition holds at most ~`targetPerShard`
    * docs — the invariant that keeps the per-shard sort bounded as the
    * corpus grows (a fixed nShards=8 would put ≈N/8 of a language in one
    * window task at 10^12 docs). Shard count changes chunk boundaries,
    * which is fine — chunking is per-shard by definition; what must not
    * change with scale is the width of any single sort partition.
    */
  def shardsFor(nDocs: Long, targetPerShard: Long = 1000000L): Int =
    math.max(8L, (nDocs + targetPerShard - 1) / targetPerShard).toInt

  /** [[shardsFor]] as a DuckDB scalar subquery over `fromRel` — ONE
    * definition shared by [[packChunksAutoSql]] and [[endToEndSql]] so the
    * mirrors can't drift from each other (the [[Dedup.sqlCapPri]] lesson:
    * a hand-inlined copy of a shared rule is where cross-engine bugs
    * breed). `ceil(n / t.0)` == the Scala `(n + t - 1) / t` for n >= 0.
    */
  private[ops] def shardsForSql(fromRel: String, targetPerShard: Long): String =
    s"(SELECT GREATEST(8, CAST(ceil(count(*) / $targetPerShard.0) AS BIGINT)) FROM $fromRel)"

  /** [[packChunks]] with the shard count derived from the corpus size via
    * [[shardsFor]] (one cheap metadata count; the DuckDB mirror embeds the
    * same rule as a scalar subquery).
    *
    * NOTE for composers: `docs.count()` launches an extra job per
    * invocation — fine for a query entry point over a parquet scan
    * (metadata count), but a chain that already aggregated upstream
    * should pass that count through and call [[packChunks]] +
    * [[shardsFor]] directly instead of re-scanning (see [[endToEnd]]'s
    * note on why the chain is not silently .persist()ed either).
    */
  def packChunksAuto(docs: DataFrame, budget: Long = 256L,
      targetPerShard: Long = 1000000L): DataFrame =
    packChunks(docs, budget, shardsFor(docs.count(), targetPerShard))

  def packChunksAutoSql(table: String, budget: Long = 256L,
      targetPerShard: Long = 1000000L): String = {
    val nShards = shardsForSql(table, targetPerShard)
    s"""WITH t AS (SELECT doc_id, lang, doc_id % $nShards AS shard,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM $table),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT lang, CAST(shard AS INT) AS shard,
       |  CAST(floor((cum - n_tokens) / $budget) AS BIGINT) AS chunk_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY lang, shard, chunk_id
       |ORDER BY lang, shard, chunk_id""".stripMargin
  }

  /** Packing-efficiency audit (p12) — the table a training run reads
    * BEFORE accepting packed shards. In this packing a doc belongs to the
    * chunk where it STARTS, so a long doc overruns the cut: per language
    * this reports chunk counts, token mass, the overflow past the budget
    * (what a strict fixed-length loader truncates or spills to padding),
    * how many chunks reached the budget at all, and the exact fill ratio
    * vs budget*n_chunks. One partial-agg shuffle on top of
    * [[packChunksAuto]] — the packed frame is already one row per CHUNK,
    * corpus-size-free. fill_micro stays hash-exact: one IEEE division of
    * two exact integers (both < 2^53), floor-scaled to micro.
    */
  def packEfficiency(docs: DataFrame, budget: Long = 256L,
      targetPerShard: Long = 1000000L): DataFrame =
    packChunksAuto(docs, budget, targetPerShard)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("chunk_tokens")).as("total_tokens"),
        sum(greatest(col("chunk_tokens") - lit(budget), lit(0L))).as("overflow_tokens"),
        sum(when(col("chunk_tokens") >= budget, lit(1L)).otherwise(lit(0L))).as("full_chunks"))
      .withColumn("fill_micro",
        micro(col("total_tokens").cast("double") /
          (col("n_chunks") * lit(budget)).cast("double")))
      .orderBy("lang")

  def packEfficiencySql(table: String, budget: Long = 256L,
      targetPerShard: Long = 1000000L): String =
    s"""WITH pk AS (${packChunksAutoSql(table, budget, targetPerShard)})
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(chunk_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(greatest(chunk_tokens - $budget, 0)) AS BIGINT) AS overflow_tokens,
       |  CAST(sum(CASE WHEN chunk_tokens >= $budget THEN 1 ELSE 0 END) AS BIGINT) AS full_chunks,
       |  CAST(floor(CAST(sum(chunk_tokens) AS DOUBLE)
       |    / CAST(count(*) * $budget AS DOUBLE) * 1000000.0) AS BIGINT) AS fill_micro
       |FROM pk GROUP BY lang ORDER BY lang""".stripMargin

  /** Concat-and-chunk token packing — how a training run turns a filtered
    * corpus into fixed-budget sequences: within each (lang, shard) stream,
    * docs are laid end-to-end in doc_id order and cut every `budget`
    * tokens; a doc belongs to the chunk where it STARTS. A per-lang global
    * order would funnel a whole language through one sort partition;
    * shards bound that width ONLY if nShards scales with the corpus — use
    * [[shardsFor]]/[[packChunksAuto]], which size shards to a fixed
    * per-partition doc target. The per-shard running sum is the only
    * shuffle, and chunk stats ride the same partitioning into a
    * partial-agg.
    */
  def packChunks(docs: DataFrame, budget: Long = 256L, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(nShards.toLong)).cast("int").as("shard"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id", floor((col("cum") - col("n_tokens")) / budget).cast("long"))
      .groupBy(col("lang"), col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "shard", "chunk_id")
  }

  /** The flagship LLM-prep composition (p8): exact dedup -> MinHash-LSH
    * near-dup components -> per-source contribution cap -> stratified
    * mixture sample -> token packing, as ONE query over the documents
    * table — the chain a corpus run applies on day one, proving the
    * oracle-checked operators actually compose. Every stage is the
    * already-gated operator:
    *
    *  - exact survivors: [[Dedup.exact]] (agg+join on md5, no hot-key window),
    *  - near-dup canonical per cluster: [[Dedup.dedupComponents]] over the
    *    survivors (capped band buckets, min-label propagation),
    *  - per-source cap: [[Dedup.capBuckets]] keyed on `source` (two-stage
    *    group-limit — the hostCap idiom on the provenance column),
    *  - sample: the [[stratifiedSample]] hash gate (zero shuffles),
    *  - pack: [[packChunks]] with the shard count AUTO-SIZED from the
    *    sampled survivor count via [[shardsFor]] — the flagship chain must
    *    not re-import the fixed-shard weakness standalone p4 fixed (a
    *    fixed 8 puts ≈N/8 of a language in one sort partition at corpus
    *    scale). r6: the sampled survivor frame is localCheckpoint'ed, so
    *    the sizing count AND the packing stage both read the one
    *    materialized copy instead of re-executing the whole survivor
    *    chain twice per invocation. localCheckpoint (not .persist()) on
    *    purpose: checkpoints are keyed to THIS DataFrame object, invisible
    *    to CacheManager's canonicalized-plan lookup, so separate
    *    endToEnd() invocations in one session can never feed each other —
    *    every invocation recomputes from the parquet inputs (a .persist()
    *    would let a benchmark warm pass feed the timed pass from cache).
    *    A real corpus run checkpoints to the lake between major stages,
    *    which is exactly this shape.
    *
    * Output is the packed chunk table; chunk boundaries depend on every
    * upstream survivor decision, so the single oracle pins the whole chain.
    */
  def endToEnd(docs: DataFrame, rates: Seq[(String, Double)],
      defaultRate: Double = 0.35, capPerSource: Int = 30,
      budget: Long = 256L, targetPerShard: Long = 1000000L,
      k: Int = 8, n: Int = 4,
      // materialize=false is for PLAN-SHAPE tests only: it skips the
      // survivor checkpoint so gates can assert the full logical chain
      materialize: Boolean = true): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"), col("text"))
    val exactSurv = base.join(
      Dedup.exact(base).filter(col("doc_id") === col("canonical")).select("doc_id"),
      "doc_id")
    val comp = Dedup.dedupComponents(exactSurv, k, n)
    val canon = exactSurv.join(
      comp.filter(col("doc_id") === col("component")).select("doc_id"), "doc_id")
    val capped = Dedup.capBuckets(canon, capPerSource, key = "source")
    val sampled0 = capped.filter(sampleKeep(rates, defaultRate, "mix1"))
      .select(col("doc_id"), col("lang"), col("text"))
    val sampled = if (materialize) sampled0.localCheckpoint() else sampled0
    packChunks(sampled, budget, shardsFor(sampled.count(), targetPerShard))
  }

  /** DuckDB mirror of [[endToEnd]]: the same five stages as CTEs, with the
    * components stage as the d6 recursive transitive closure (incl. the
    * band bucket cap) restricted to the exact-dedup survivors.
    */
  def endToEndSql(table: String, rates: Seq[(String, Double)],
      defaultRate: Double = 0.35, capPerSource: Int = 30,
      budget: Long = 256L, targetPerShard: Long = 1000000L,
      k: Int = 8, n: Int = 4, bucketCap: Int = 10): String = {
    val nShards = shardsForSql("samp", targetPerShard)
    val rateCase = rates.map { case (l, r) => s"WHEN lang = '$l' THEN ${(r * 1e6).toLong}" }
      .mkString("CASE ", " ", s" ELSE ${(defaultRate * 1e6).toLong} END")
    s"""WITH RECURSIVE
       |firsts AS (SELECT md5(text) AS th, min(doc_id) AS canonical
       |  FROM $table GROUP BY 1),
       |exsurv AS (SELECT d.doc_id, d.lang, d.source, d.text
       |  FROM $table d JOIN firsts f
       |  ON md5(d.text) IS NOT DISTINCT FROM f.th AND d.doc_id = f.canonical),
       |${Dedup.sqlLshPairCtes("exsurv", k, n, bucketCap)},
       |${Dedup.sqlComponentCtes("doc_id", "exsurv", "lshp")},
       |canon AS (SELECT e.* FROM exsurv e
       |  JOIN comp c ON e.doc_id = c.node WHERE c.component = e.doc_id),
       |scap AS ${Dedup.sqlCapBuckets("canon", "doc_id, lang, text", capPerSource, key = "source")},
       |samp AS (SELECT doc_id, lang, text FROM scap
       |  WHERE ${sqlH32("CAST(doc_id AS VARCHAR) || ':mix1'")} % 1000000
       |    < ($rateCase)),
       |t AS (SELECT doc_id, lang, doc_id % $nShards AS shard,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM samp),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT lang, CAST(shard AS INT) AS shard,
       |  CAST(floor((cum - n_tokens) / $budget) AS BIGINT) AS chunk_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY lang, shard, chunk_id
       |ORDER BY lang, shard, chunk_id""".stripMargin
  }

  /** URL-snapshot selection — the crawl-consolidation pass that precedes
    * every content stage: a crawl store holds MANY captures of the same
    * page (re-crawls, scheme/www/tracking-param url variants); training
    * prep keeps exactly ONE — the latest capture per canonical url
    * ([[normalizeUrl]]). Emits (curl, n_snaps, latest_ts, latest_url,
    * latest_text_h) per canonical url.
    *
    * The synthetic corpus holds one capture per url, so a deterministic
    * third of pages gain a re-crawl in-query: the noisy-url variant
    * (uppercase scheme + www. + tracking param + fragment — canonicalizes
    * back to the same page) captured an h32-derived 1-900 s later with
    * amended text (the construct-input-identically-in-both-engines
    * pattern, like [[urlHostStats]]).
    *
    * Shape at 100 TB: ONE aggregate — groupBy(canonical url) with count +
    * max(struct(ts, url, text_h)). The struct max is an ordinary
    * partial-aggregable Max under the lexicographic struct order, so a
    * hot url (a page recrawled daily for years) collapses map-side; no
    * window over the url key, no join-back — the struct carries the whole
    * winning row out of the aggregate. Determinism contract: (warc_ts,
    * url) is unique per canonical url — the natural crawl-store key — and
    * the trailing text hash makes the order total even when it is not.
    */
  def latestSnapshot(pages: DataFrame): DataFrame = {
    val recrawls = pages
      .filter(h32(concat(col("url"), lit(":rc"))) % 3 === 0)
      .select(
        concat(lit("HTTPS://WWW."), substring(col("url"), 9, 1000000),
          lit("?utm_source=recrawl#top")).as("url"),
        timestamp_millis(unix_millis(col("warc_ts"))
          + (h32(concat(col("url"), lit(":rcts"))) % 900 + 1) * 1000L).as("warc_ts"),
        concat(col("text"), lit(" [recrawl]")).as("text"))
    latestSnapshotOf(pages.select(col("url"), col("warc_ts"), col("text"))
      .unionByName(recrawls))
  }

  /** The pure operator over any `(url, warc_ts, text)` snapshot store —
    * split out so edge cases (ts ties, single captures) unit-test without
    * the synthetic re-crawl construct.
    */
  def latestSnapshotOf(snaps: DataFrame): DataFrame =
    snaps
      .select(normalizeUrl(col("url")).as("curl"), col("warc_ts").as("ts"),
        col("url"), md5(col("text")).as("text_h"))
      .groupBy(col("curl"))
      .agg(count(lit(1)).as("n_snaps"),
        max(struct(col("ts"), col("url"), col("text_h"))).as("w"))
      .select(col("curl"), col("n_snaps"), col("w.ts").as("latest_ts"),
        col("w.url").as("latest_url"), col("w.text_h").as("latest_text_h"))
      .orderBy("curl")

  def latestSnapshotSql(pagesGlob: String): String = {
    val rel = s"read_parquet('$pagesGlob', hive_partitioning=1)"
    val rcTs = s"make_timestamp(epoch_ms(warc_ts) * 1000 " +
      s"+ (${sqlH32("url || ':rcts'")} % 900 + 1) * 1000000)"
    s"""WITH snaps AS (
       |  SELECT url, warc_ts, text FROM $rel
       |  UNION ALL
       |  SELECT 'HTTPS://WWW.' || substring(url, 9) || '?utm_source=recrawl#top',
       |    $rcTs, text || ' [recrawl]'
       |  FROM $rel WHERE ${sqlH32("url || ':rc'")} % 3 = 0),
       |n AS (SELECT ${sqlNormalizeUrl("url")} AS curl, warc_ts AS ts, url,
       |    md5(text) AS text_h
       |  FROM snaps),
       |g AS (SELECT curl, CAST(count(*) AS BIGINT) AS n_snaps,
       |    max({'ts': ts, 'url': url, 'text_h': text_h}) AS w
       |  FROM n GROUP BY curl)
       |SELECT curl, n_snaps, w.ts AS latest_ts, w.url AS latest_url,
       |  w.text_h AS latest_text_h
       |FROM g ORDER BY curl""".stripMargin
  }

  /** Deterministic epoch-order shuffle — the reproducible GLOBAL permutation
    * a training run reads its corpus in (every serious pipeline pins this:
    * re-running epoch 3 must stream the same examples in the same order on
    * any cluster size). Each doc gets position `pos` (1..N) in the order of
    * its salted hash h32(doc_id || ':ep' || epoch): a new epoch = a new salt
    * = an independent permutation, no RNG state anywhere.
    *
    * The naive form — `row_number() OVER (ORDER BY key)` — is a
    * SINGLE-PARTITION window: the whole corpus funnels through one task.
    * This is the distributed global-rank idiom instead:
    *  - bucket = the key's high bits (`key div width`, `nBuckets` RANGE
    *    buckets — uniform because the key is a hash), so global key order
    *    == (bucket, key) order;
    *  - per-bucket rank via `row_number() OVER (PARTITION BY bucket)` —
    *    nBuckets parallel bounded windows, never one task;
    *  - bucket base offsets from a tiny count agg (nBuckets rows) with a
    *    running sum over THAT frame only, broadcast back;
    *  - pos = offset + within-bucket rank. Exactly the single-window
    *    answer (which is what the oracle computes), at map-side cost.
    *
    * (pos, doc_id) is collision-free: ties on the hash break by doc_id
    * inside each bucket, and buckets partition the key space.
    */
  def epochOrder(docs: DataFrame, epoch: Int = 0, nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0, "power-of-two buckets")
    val width = (1L << 32) / nBuckets
    val keyed = docs
      .select(col("doc_id"),
        h32(concat(col("doc_id").cast("string"), lit(s":ep$epoch"))).as("k"))
      .withColumn("bucket", expr(s"k div ${width}L"))
    val offsets = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum(col("n")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("k"), col("doc_id"))
    keyed.join(broadcast(offsets), "bucket")
      .select(col("doc_id"),
        (col("off") + row_number().over(w).cast("long")).as("pos"))
      .orderBy("pos")
  }

  /** DuckDB mirror of [[epochOrder]]: the single-window form the two-stage
    * construction provably equals.
    */
  def epochOrderSql(table: String, epoch: Int = 0): String =
    s"""WITH k AS (SELECT doc_id,
       |    ${sqlH32(s"CAST(doc_id AS VARCHAR) || ':ep$epoch'")} AS k
       |  FROM $table)
       |SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
       |FROM k ORDER BY pos""".stripMargin

  /** Quality-curriculum global order — the schedule a curriculum-training
    * run reads its corpus in: highest-quality band first, and WITHIN a band
    * a salted-hash permutation (so the curriculum never correlates with
    * crawl/doc-id order; a new epoch = a new salt = a fresh within-band
    * shuffle, while the band progression stays fixed). Global order key:
    * (band DESC, h32(doc_id ':cur' epoch) ASC, doc_id ASC), where
    * band = score_micro div bandWidth over the shared quality score
    * ([[TextAnalysis.qualityScoreMicroFromStats]] — one definition with
    * t2/t9/p1, so the curriculum can never disagree with the quality gate
    * about what "quality" means).
    *
    * Same distributed global-rank construction as [[epochOrder]], with the
    * band prepended to the ordering: windows partition by (band, hash
    * sub-bucket) — bounded even when one band holds most of the corpus —
    * and base offsets come from a tiny (bands x nBuckets)-row count frame
    * broadcast back. Exactly the single-window answer the oracle computes.
    */
  def curriculumOrder(docs: DataFrame, epoch: Int = 0,
      bandWidth: Long = 100000L, nBuckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0, "power-of-two buckets")
    require(bandWidth > 0, "positive band width")
    val width = (1L << 32) / nBuckets
    val keyed = docs
      .select(col("doc_id"),
        TextAnalysis.qualityScoreMicroFromStats(
          TextAnalysis.statsCol(col("text"))).as("score_micro"))
      .select(col("doc_id"),
        expr(s"score_micro div ${bandWidth}L").as("band"),
        h32(concat(col("doc_id").cast("string"), lit(s":cur$epoch"))).as("k"))
      .withColumn("sub", expr(s"k div ${width}L"))
    val offsets = keyed.groupBy(col("band"), col("sub")).agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum(col("n")).over(Window.orderBy(col("band").desc, col("sub").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("band"), col("sub"), col("off"))
    val w = Window.partitionBy(col("band"), col("sub")).orderBy(col("k"), col("doc_id"))
    keyed.join(broadcast(offsets), Seq("band", "sub"))
      .select(col("doc_id"), col("band"),
        (col("off") + row_number().over(w).cast("long")).as("pos"))
      .orderBy("pos")
  }

  /** DuckDB mirror of [[curriculumOrder]]: the single-window form over the
    * shared stats relation + score rule.
    */
  def curriculumOrderSql(table: String, epoch: Int = 0,
      bandWidth: Long = 100000L): String =
    s"""WITH s AS (SELECT doc_id, ${TextAnalysis.sqlScoreMicroExpr} AS score_micro
       |  FROM ${TextAnalysis.sqlStatsRel(table)}),
       |k AS (SELECT doc_id, score_micro // $bandWidth AS band,
       |    ${sqlH32(s"CAST(doc_id AS VARCHAR) || ':cur$epoch'")} AS k
       |  FROM s)
       |SELECT doc_id, CAST(band AS BIGINT) AS band,
       |  CAST(ROW_NUMBER() OVER (ORDER BY band DESC, k, doc_id) AS BIGINT) AS pos
       |FROM k ORDER BY pos""".stripMargin

  /** Exact per-language token-count quantiles (discrete lower quantile:
    * the value at 1-based rank `floor((n-1)*pct/100) + 1` of the sorted
    * per-lang token counts) — corpus length statistics every curation run
    * reports, computed WITHOUT a global sort:
    *  - ONE corpus shuffle reduces docs to the (lang, n_tokens) frequency
    *    histogram (map-side partial counts);
    *  - the cumulative count runs as a window over the per-lang HISTOGRAM,
    *    whose row count is bounded by the token-count DOMAIN (max doc
    *    length), not the corpus — a 10^12-row language with docs up to
    *    10^6 tokens yields at most 10^6 window rows;
    *  - per-lang totals x requested percentiles form a tiny frame
    *    (n_langs * n_pcts rows) that BROADCASTS back onto the histogram;
    *  - the answer per (lang, pct) is `min(v) where cum >= rank` — a
    *    map-side-partial min over histogram rows.
    * All-integer: counts and token values are longs, the rank arithmetic
    * is exact long `div` (non-negative, so floor == truncation in both
    * engines). The naive form — `percentile(v, q) OVER lang` or a global
    * sort-by-value — moves full corpus rows; this never shuffles anything
    * larger than the histogram after the first agg.
    */
  def tokenQuantiles(docs: DataFrame, pcts: Seq[Int] = Seq(25, 50, 75, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pcts.nonEmpty && pcts.forall(p => p >= 0 && p <= 100), "pcts in [0,100]")
    val hist = docs
      .select(col("lang"), size(split(col("text"), " ", -1)).cast("long").as("v"))
      .groupBy(col("lang"), col("v")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("v"))))
    val targets = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      .select(col("lang"), col("n"), explode(lit(pcts.toArray)).as("pct"))
      .withColumn("rank", expr("((n - 1) * pct) div 100 + 1"))
      .select(col("lang"), col("pct"), col("rank"))
    cum.join(broadcast(targets), "lang")
      .filter(col("cum") >= col("rank"))
      .groupBy(col("lang"), col("pct"))
      .agg(min(col("v")).as("v"))
      .orderBy(col("lang"), col("pct"))
  }

  /** DuckDB mirror of [[tokenQuantiles]] — the same explicit rank rule
    * (never the engines' own quantile functions, whose interpolation /
    * rounding conventions differ), `//` on non-negative longs == `div`.
    */
  def tokenQuantilesSql(table: String, pcts: Seq[Int] = Seq(25, 50, 75, 90, 99)): String =
    s"""WITH h AS (SELECT lang, CAST(len(str_split(text, ' ')) AS BIGINT) AS v,
       |    count(*) AS cnt
       |  FROM $table GROUP BY lang, v),
       |c AS (SELECT lang, v, cnt,
       |    sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum FROM h),
       |t AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
       |g AS (SELECT t.lang, p.pct, ((t.n - 1) * p.pct) // 100 + 1 AS rnk
       |  FROM t CROSS JOIN (SELECT unnest([${pcts.mkString(", ")}]) AS pct) p)
       |SELECT g.lang, CAST(g.pct AS INT) AS pct, CAST(min(c.v) AS BIGINT) AS v
       |FROM g JOIN c ON c.lang = g.lang AND c.cum >= g.rnk
       |GROUP BY g.lang, g.pct ORDER BY g.lang, g.pct""".stripMargin

  def packChunksSql(table: String, budget: Long = 256L, nShards: Int = 8): String =
    s"""WITH t AS (SELECT doc_id, lang, doc_id % $nShards AS shard,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM $table),
       |c AS (SELECT doc_id, lang, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT lang, CAST(shard AS INT) AS shard,
       |  CAST(floor((cum - n_tokens) / $budget) AS BIGINT) AS chunk_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY lang, shard, chunk_id
       |ORDER BY lang, shard, chunk_id""".stripMargin
}
