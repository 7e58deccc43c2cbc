package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import ColFns._

/** Deduplication operators for a large-scale training-data pipeline, over a
  * `documents(doc_id, text, ...)` table. Four families:
  *
  *  - exact:      md5 content hash -> canonical id per group (one shuffle on
  *                the 16-byte hash; at 100 TB this is the cheapest possible
  *                exact dedup — no text comparison ever shuffles).
  *  - MinHash+LSH: word-shingle minhash signatures, banded into bucket keys,
  *                candidate pairs via an equi-join on the band key (the
  *                classic shingle->minhash->band->bucket-join; all-pairs is
  *                never materialized, so cost is ~linear in near-dup mass).
  *  - SimHash:    32-bit sign-of-weighted-bit-sums over word hashes; explode
  *                + hash-aggregate form so the bit sums get map-side partial
  *                aggregation (scales to any doc length without wide rows).
  *  - n-gram Jaccard: exact verification via a rare-shingle inverted-index
  *                join (document-frequency cap prunes stop-shingles, the
  *                standard guard against quadratic hot buckets at scale).
  *
  * Everything is built on the cross-engine md5-derived [[ColFns.h32]] so the
  * DuckDB oracles are bit-exact.
  */
object Dedup {

  /** Exact dedup: every doc mapped to the minimum doc_id sharing its md5.
    *
    * Deliberately agg+join, NOT a window over the content hash: the most
    * duplicated text in a web corpus (an empty page, a CDN error page) has
    * 10^7-10^8 exact copies, and `min() OVER (PARTITION BY md5(text))`
    * would funnel every one of them into a single window task. The
    * aggregate collapses the hot hash map-side (partial min), and the join
    * back is an equi-join AQE's skew handling splits automatically — the
    * same shape as [[lineDedup]]. Only (doc_id, 16-byte hash) ever
    * shuffles; the text never leaves the scan.
    *
    * The join back is NULL-SAFE (`<=>`): md5(NULL) is NULL, and a plain
    * equi-join would silently drop every null-text row from the output —
    * the grouping truth (both engines' GROUP BY and window PARTITION BY
    * treat NULL as one group) says null-text docs form their own dedup
    * group with the min doc_id canonical, and the join must preserve that
    * (the [[Prep.funnel]] lesson applied here).
    */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), call_function("graft_md5bin", col("text")).as("th"))
    // distinct name on the agg side: a self-derived hashed("th") vs
    // firsts("th") predicate only resolves through dataset-id metadata
    // (and warns); the rename makes the null-safe key pair unambiguous
    val firsts = hashed.groupBy(col("th")).agg(min(col("doc_id")).as("canonical"))
      .withColumnRenamed("th", "th_g")
    hashed.join(firsts, col("th") <=> col("th_g"))
      .select(col("doc_id"), col("canonical"))
      .orderBy("doc_id")
  }

  def exactSql(table: String): String =
    s"""SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
       |FROM $table ORDER BY doc_id""".stripMargin

  /** One row per (doc, word-n-gram shingle), generated in a typed flatMap
    * kernel rather than `explode(transform(...))`: Spark higher-order
    * functions are CodegenFallback (interpreted per element), and the
    * expression would be re-evaluated in every plan branch that consumes
    * it — the kernel emits each shingle exactly once per branch at plain
    * Scala speed. Strings are identical to the HOF form (and to the DuckDB
    * oracle's list_transform).
    */
  private[ops] def shingleRows(docs: DataFrame, n: Int, distinct: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        // null text -> no shingles (the SQL mirrors' unnest over a NULL
        // split-list emits nothing; the kernel must not NPE or diverge)
        val w = if (t == null) Array.empty[String] else t.split(' ').filter(_.nonEmpty)
        val sh =
          if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toVector
          else Vector.empty[String]
        (if (distinct) sh.distinct else sh).map(s => (id, s))
      }
      .toDF("doc_id", "s")
  }

  /** MinHash signatures: K independent hash slots, each the min over
    * word n-gram shingles of h32(slot || '|' || shingle). Computed as K
    * codegen'd `min` aggregates over the exploded shingle rows — map-side
    * partial aggregation, no wide rows, no interpreted lambdas; docs
    * shorter than n words naturally drop out (no shingle rows).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 8, n: Int = 4): DataFrame = {
    val ex = shingleRows(docs, n, distinct = false)
    val aggs = (0 until k).map(h =>
      min(h32(concat(lit(h.toString), lit("|"), col("s")))).as(s"m$h"))
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic per-band-bucket cap — the guard that keeps every LSH
    * band join linear at corpus scale: a cluster of m identical documents
    * shares every band, so an uncapped bucket join goes m²/2 on that one
    * key. Buckets keep only the `cap` members with the smallest
    * h32(doc_id ':' bucketKey ':bcap') priority — hash-priority, so the
    * kept set is reproducible and independent of partition layout (the
    * [[Prep.stratifiedSample]] rule), and SALTED BY THE BUCKET KEY: an
    * identical-signature cluster larger than the cap shares every band
    * bucket, and a band-independent priority would keep the SAME cap
    * members in every band — every evicted doc would lose ALL of its
    * edges (a singleton component downstream, the worst-case recall for
    * the cap's cost bound). With the per-bucket salt, different members
    * survive in different bands at the same per-bucket cost, and min-label
    * propagation reconnects most of the cluster. The residual recall
    * trade: a doc evicted from every bucket it shares with a true
    * near-dup loses that pair (and, downstream, its membership in the d6
    * component). This is the right trade at corpus scale because the mass
    * that overflows a bucket is dominated by EXACT-duplicate clusters —
    * which belong to the cheaper exact-dedup pass run FIRST (the p8
    * composition order) — and by boilerplate collisions, where linear
    * cost is the priority. An orthogonal sub-bucket split (the s1 cellCap
    * device) cannot guard this join: identical signatures sub-bucket
    * identically.
    *
    * Determinism contract: ranking ties are broken by (pri, doc_id, then
    * every payload column in frame order), so even a malformed input with
    * duplicate doc_ids carrying different payloads keeps the same row in
    * both engines (the bare (pri, doc_id) order left the survivor to
    * partition luck when doc_id repeats).
    *
    * Skew shape: the two-stage top-k idiom ([[Prep.hostCap]]) — stage 1
    * caps per (bkey, doc_id-sub-bucket) so the hot bucket never sorts in
    * one task (Spark 4 plans WindowGroupLimit = map-side partial top-k),
    * stage 2 re-ranks the <= nSub*cap survivors. Provably equal to the
    * single-window cap the DuckDB mirrors use.
    */
  private[ops] def capBuckets(banded: DataFrame, cap: Int, nSub: Int = 16,
                              key: String = "bkey"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rest = banded.columns.filterNot(c => c == key || c == "doc_id").map(col).toSeq
    val order = Seq(col("pri"), col("doc_id")) ++ rest
    val sub = Window
      .partitionBy(col(key), pmod(col("doc_id"), lit(nSub.toLong)))
      .orderBy(order: _*)
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    banded
      .withColumn("pri", h32(concat(col("doc_id").cast("string"), lit(":"),
        col(key).cast("string"), lit(":bcap"))))
      .withColumn("rn1", row_number().over(sub)).filter(col("rn1") <= cap)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= cap)
      .drop("pri", "rn1", "rn")
  }

  /** The bucket-key-salted cap priority, as SQL (shared by
    * [[sqlCapBuckets]] and the hand-inlined [[Prep.endToEndSql]] mirrors —
    * one definition so the engines can't drift).
    */
  private[ops] def sqlCapPri(keyCol: String): String =
    sqlH32(s"CAST(doc_id AS VARCHAR) || ':' || CAST($keyCol AS VARCHAR) || ':bcap'")

  /** DuckDB mirror of [[capBuckets]]: the semantically-equal single-window
    * cap over a `(doc_id, ..., key)` CTE named `bandsCte`. `cols` must
    * list doc_id plus the payload columns IN THE SPARK FRAME'S COLUMN
    * ORDER — they double as the determinism tie-break keys.
    */
  private[ops] def sqlCapBuckets(bandsCte: String, cols: String, cap: Int,
                                 key: String = "bkey"): String = {
    // NULLS FIRST on every tie-break key: Spark's ASC default ranks NULL
    // first while DuckDB's default ranks it last — a NULL payload at the
    // cap boundary would otherwise make the engines keep different rows,
    // exactly the malformed-duplicate-doc_id case this ordering defends
    val order = (Seq(sqlCapPri(key)) ++ cols.split(",").map(_.trim))
      .map(_ + " NULLS FIRST").mkString(", ")
    s"""(SELECT $cols, $key FROM (
       |    SELECT *, row_number() OVER (PARTITION BY $key
       |      ORDER BY $order) AS rn
       |    FROM $bandsCte) WHERE rn <= $cap)""".stripMargin
  }

  /** LSH candidate pairs: band the signature (rows=2), cap each band
    * bucket ([[capBuckets]] — a mass of exact duplicates otherwise goes
    * quadratic in one bucket), bucket-join on the band key, emit distinct
    * (id_a < id_b) pairs. Ends in an orderBy for oracle determinism —
    * compositions that consume the pairs mid-chain ([[dedupComponents]])
    * use [[lshCandidatePairsUnordered]] so no operator-embedded global
    * sort survives into a larger plan (the p8 single-sort gate).
    */
  def lshCandidatePairs(docs: DataFrame, k: Int = 8, n: Int = 4,
                        bucketCap: Int = 10): DataFrame =
    lshCandidatePairsUnordered(docs, k, n, bucketCap).orderBy("id_a", "id_b")

  /** LSH band rows (doc_id, bkey): the minhash signature split into k/2
    * two-slot bands, each hashed to one 128-bit band-bucket key. Shared by
    * the intra-corpus pair join ([[lshCandidatePairsUnordered]]) and the
    * incremental corpus-membership gate ([[incrementalGate]]) so the two
    * paths band identically — an increment checked against an index built
    * by the other path can never miss on key-construction drift.
    */
  private[ops] def minhashBandRows(docs: DataFrame, k: Int, n: Int): DataFrame = {
    val sigs = minhashSignatures(docs, k, n)
    val bandKeys = (0 until k / 2).map(b =>
      md5(concat(lit(b.toString), lit(":"),
        col(s"m${2 * b}").cast("string"), lit(","),
        col(s"m${2 * b + 1}").cast("string"))))
    sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("bkey"))
  }

  /** [[lshCandidatePairs]] without the final global sort, for composition. */
  def lshCandidatePairsUnordered(docs: DataFrame, k: Int = 8, n: Int = 4,
                                 bucketCap: Int = 10): DataFrame = {
    val banded = capBuckets(minhashBandRows(docs, k, n), bucketCap)
    // pairs WITHOUT a self-join: collect each capped bucket's members (<=
    // bucketCap by construction, so the list is bounded) and emit pairs in
    // a typed kernel. A self-join would recompute the whole signature
    // pipeline on BOTH legs (no exchange reuse under a broadcast plan) and
    // shuffle the banded frame twice; this computes signatures once and the
    // bucket agg rides the partitioning the cap window already produced.
    // Singleton buckets (the overwhelming majority at corpus scale) are
    // dropped by a codegen size filter BEFORE the object boundary.
    val spark = banded.sparkSession
    import spark.implicits._
    banded.groupBy(col("bkey")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val arr = ids.toArray
        java.util.Arrays.sort(arr)
        for {
          i <- arr.indices.iterator
          j <- (i + 1 until arr.length).iterator
          // a doc_id appearing twice in one bucket (duplicate input rows)
          // must not emit a self-pair — the removed self-join's
          // a.doc_id < b.doc_id excluded it structurally
          if arr(i) != arr(j)
        } yield (arr(i), arr(j))
      }
      .toDF("id_a", "id_b")
      .distinct()
  }

  /** The capped banded frame of a 64-bit signature held as two 32-bit
    * halves (columns `hi` and `lo` of `sig`, keyed by `doc_id`): four
    * 16-bit bands, keyed `h0:`/`h1:`/`l0:`/`l1:` plus the band value, each
    * bucket capped by [[capBuckets]]. Pigeonhole: any pair within Hamming
    * distance 3 shares at least one exact band, so recall up to 3 is exact
    * up to bucket-cap eviction; a pair at distance 4 is found only if it
    * shares a band. Output `(doc_id, hi, lo, bkey)` feeds
    * [[bandedHammingPairs]]. ONE band layout for text simhash and the
    * image, audio and video fingerprints; [[sqlHammingPairCtes]] mirrors it.
    */
  private[ops] def bandedFrame(sig: DataFrame, hi: String, lo: String,
                               bucketCap: Int): DataFrame = {
    val bandKeys = for ((p, c) <- Seq("h" -> hi, "l" -> lo); b <- 0 until 2)
      yield concat(lit(s"$p$b:"),
        shiftright(col(c), 16 * b).bitwiseAND(lit(65535L)).cast("string"))
    capBuckets(sig.select(col("doc_id"), col(hi).as("hi"), col(lo).as("lo"),
      explode(array(bandKeys: _*)).as("bkey")), bucketCap)
  }

  /** DuckDB mirror of [[bandedFrame]] + [[bandedHammingPairsUnordered]] as
    * a CTE block over `sig(doc_id, <hi>, <lo>)`: the same band keys
    * (`bands`), the cap (`capped`), and `hpairs(id_a, id_b, hamming)` —
    * distinct bucket-mates within `maxHamming`.
    */
  private[ops] def sqlHammingPairCtes(sig: String, hi: String, lo: String,
                                      maxHamming: Int, bucketCap: Int): String = {
    val bandKeys = for ((p, c) <- Seq("h" -> hi, "l" -> lo); b <- 0 until 2)
      yield s"'$p$b:' || (($c >> ${16 * b}) & 65535)"
    val hamming = "bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))"
    s"""bands AS (SELECT doc_id, $hi AS hi, $lo AS lo,
       |    unnest([${bandKeys.mkString(", ")}]) AS bkey FROM $sig),
       |capped AS ${sqlCapBuckets("bands", "doc_id, hi, lo", bucketCap)},
       |hpairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST($hamming AS INT) AS hamming
       |  FROM capped a JOIN capped b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE $hamming <= $maxHamming)""".stripMargin
  }

  /** The full pair query over [[sqlHammingPairCtes]]: `ctes` is a CTE
    * block (without WITH) that defines `sig`.
    */
  private[ops] def sqlHammingPairs(ctes: String, sig: String, hi: String, lo: String,
                                   maxHamming: Int, bucketCap: Int): String =
    s"""WITH $ctes,
       |${sqlHammingPairCtes(sig, hi, lo, maxHamming, bucketCap)}
       |SELECT id_a, id_b, hamming FROM hpairs ORDER BY id_a, id_b""".stripMargin

  /** Shared no-self-join band-pair kernel over a [[bandedFrame]]: capped
    * buckets collect into bounded (doc_id, hi, lo) lists, pairs + hamming
    * (Long.bitCount over both halves == bit_count(xor)) emit in a typed
    * kernel. Guards duplicate doc_ids within a bucket (no self-pairs,
    * matching the relational a.doc_id < b.doc_id the DuckDB mirrors use).
    */
  private[ops] def bandedHammingPairs(banded: DataFrame, maxHamming: Int): DataFrame =
    bandedHammingPairsUnordered(banded, maxHamming).orderBy("id_a", "id_b")

  /** [[bandedHammingPairs]] without the final global sort, for composition
    * ([[Media.imageComponents]]) — the [[lshCandidatePairsUnordered]] rule:
    * no operator-embedded orderBy survives into a larger plan.
    */
  private[ops] def bandedHammingPairsUnordered(banded: DataFrame,
                                               maxHamming: Int): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded.groupBy(col("bkey"))
      .agg(collect_list(struct(col("doc_id"), col("hi"), col("lo"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(col("ms")).as[Seq[(Long, Long, Long)]]
      .flatMap { ms =>
        val arr = ms.toArray.sortBy(_._1)
        for {
          i <- arr.indices.iterator
          j <- (i + 1 until arr.length).iterator
          if arr(i)._1 != arr(j)._1
        } yield (arr(i)._1, arr(j)._1,
          java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2) +
            java.lang.Long.bitCount(arr(i)._3 ^ arr(j)._3))
      }
      .toDF("id_a", "id_b", "hamming")
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The shingle -> signature -> band chain as a CTE block exposing
    * `bands(doc_id, bkey)` — the SQL mirror of [[minhashBandRows]], shared
    * by [[sqlLshPairCtes]] and [[incrementalGateSql]] (one definition).
    */
  private[ops] def sqlBandCtes(table: String, k: Int, n: Int): String = {
    val w = sqlWords("text")
    val sh = sqlShingles("w", n)
    val slotHash = sqlH32("h || '|' || s")
    s"""docs AS (SELECT doc_id, $w AS w FROM $table),
       |sh AS (SELECT doc_id, $sh AS shingles FROM docs),
       |sig AS (SELECT doc_id, list_transform(generate_series(0,${k - 1}),
       |    h -> list_min(list_transform(shingles, s -> $slotHash))) AS mh
       |  FROM sh WHERE len(shingles) > 0),
       |bands AS (SELECT doc_id, md5(b || ':' || mh[2*b+1] || ',' || mh[2*b+2]) AS bkey
       |  FROM sig, generate_series(0,${k / 2 - 1}) AS t(b))""".stripMargin
  }

  /** The full production LSH pair chain (docs -> shingles -> signatures ->
    * bands -> capped buckets -> distinct pairs) as a CTE block exposing
    * `lshp(id_a, id_b)` — ONE definition shared by [[lshCandidatePairsSql]],
    * the [[lshRecallSql]] audit and the d6/p8 components mirrors, so the
    * audited path and the production path can never drift (the
    * [[sqlDupSpanCtes]] discipline).
    */
  private[ops] def sqlLshPairCtes(table: String, k: Int, n: Int,
                                  bucketCap: Int): String = {
    s"""${sqlBandCtes(table, k, n)},
       |capped AS ${sqlCapBuckets("bands", "doc_id", bucketCap)},
       |lshp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  def lshCandidatePairsSql(table: String, k: Int = 8, n: Int = 4,
                           bucketCap: Int = 10): String =
    s"""WITH ${sqlLshPairCtes(table, k, n, bucketCap)}
       |SELECT id_a, id_b FROM lshp ORDER BY id_a, id_b""".stripMargin

  /** LSH recall audit — the measurement that turns [[capBuckets]]'s
    * documented recall trade into a number a pipeline can track: ground
    * truth is EXACT pairwise Jaccard inside a bounded, deterministic audit
    * set (the `auditN` docs with the smallest h32(doc_id ':aud') priority —
    * a hash-random sample independent of partition layout, the
    * [[Prep.stratifiedSample]] rule in fixed-size form), and every true
    * near-dup audit pair (jaccard >= `thresh`) is checked against the FULL
    * production [[lshCandidatePairs]] output at the same (k, n, bucketCap).
    * One row per true pair: (id_a, id_b, jac_micro, caught 0/1); recall is
    * sum(caught)/count(*) downstream.
    *
    * Scale shape: the audit set is a TakeOrdered top-k (never a global
    * sort) and its all-pairs truth stage is O(auditN^2) on <= auditN rows —
    * a constant the caller dials (10^4 audit docs = 10^8 cheap set
    * intersections, independent of corpus size). The corpus-scale LSH pair
    * frame is touched exactly once, by a LEFT SEMI join against the
    * BROADCAST truth pairs — the audit never joins the corpus the other
    * way, so the production frame is filtered map-side and only the <=
    * |truth| surviving rows reach the (tiny x tiny) caught/missed join.
    */
  def lshRecall(docs: DataFrame, k: Int = 8, n: Int = 4, bucketCap: Int = 10,
                thresh: Double = 0.5, auditN: Int = 256): DataFrame = {
    val audit = docs
      .select(col("doc_id"), col("text"),
        h32(concat(col("doc_id").cast("string"), lit(":aud"))).as("pri"))
      .orderBy(col("pri"), col("doc_id")).limit(auditN)
      .select(col("doc_id"), col("text"))
    // The TakeOrdered limit lands all auditN rows in ONE partition, which
    // would run the O(auditN^2) truth join below on a single task (measured:
    // a 1.2 s single-task stage at auditN=256). The audit set is a bounded
    // sample, but its all-pairs work is the expensive constant — spread it
    // across the cluster with a tiny deterministic hash repartition (256
    // rows through one exchange buys full parallelism on the pair stage).
    val sets = shingleSets(audit.repartition(col("doc_id")), n)
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sha"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("shb"))
    val truth = a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("i"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb"))
      // zero-shingle docs (shorter than n words) have no similarity to
      // measure; dropping them keeps the 0/0 division out of BOTH engines
      .filter(col("na") + col("nb") - col("i") > 0)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jac"))
      .filter(col("jac") >= thresh)
    val caught = lshCandidatePairsUnordered(docs, k, n, bucketCap)
      .join(broadcast(truth.select(col("id_a"), col("id_b"))),
        Seq("id_a", "id_b"), "left_semi")
      .select(col("id_a").as("ca"), col("id_b").as("cb"))
    truth
      .join(caught, col("id_a") === col("ca") && col("id_b") === col("cb"), "left")
      .select(col("id_a"), col("id_b"), micro(col("jac")).as("jac_micro"),
        col("ca").isNotNull.cast("int").as("caught"))
      .orderBy("id_a", "id_b")
  }

  /** DuckDB mirror of [[lshRecall]]: the SHARED production pair CTEs
    * ([[sqlLshPairCtes]]) plus the audit chain (hash-priority LIMIT, exact
    * all-pairs Jaccard, left join to the production pairs).
    */
  def lshRecallSql(table: String, k: Int = 8, n: Int = 4, bucketCap: Int = 10,
                   thresh: Double = 0.5, auditN: Int = 256): String = {
    val w = sqlWords("text")
    val sh = sqlShingles("w", n)
    val pri = sqlH32("CAST(doc_id AS VARCHAR) || ':aud'")
    s"""WITH ${sqlLshPairCtes(table, k, n, bucketCap)},
       |aud AS (SELECT doc_id, text FROM $table ORDER BY $pri, doc_id LIMIT $auditN),
       |aw AS (SELECT doc_id, $w AS w FROM aud),
       |ash AS (SELECT doc_id, list_distinct($sh) AS shingles FROM aw),
       |tr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS i,
       |    CAST(len(a.shingles) AS BIGINT) AS na,
       |    CAST(len(b.shingles) AS BIGINT) AS nb
       |  FROM ash a JOIN ash b ON a.doc_id < b.doc_id),
       |tt AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jac
       |  FROM tr WHERE na + nb - i > 0)
       |SELECT t.id_a, t.id_b, ${sqlMicro("t.jac")} AS jac_micro,
       |  CAST(CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS INT) AS caught
       |FROM tt t LEFT JOIN lshp l ON t.id_a = l.id_a AND t.id_b = l.id_b
       |WHERE t.jac >= $thresh
       |ORDER BY t.id_a, t.id_b""".stripMargin
  }

  /** 32-bit SimHash over word hashes, explode + hash-aggregate form.
    * Words come from native split/explode + a relational non-empty filter
    * (same semantics as the `words()` higher-order form, but fully codegen:
    * no interpreted lambda per row on this hot path).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), h32(col("w")).as("h"))
    val sums = (0 until 32).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"s$b"))
    val grouped = ex.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val sig = (0 until 32)
      .map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col("doc_id"), sig.as("simhash")).orderBy("doc_id")
  }

  def simhashSql(table: String): String = {
    val sums = (0 until 32)
      .map(b => s"sum(((h >> $b) & 1)*2 - 1) AS s$b").mkString(", ")
    val sig = (0 until 32)
      .map(b => s"(CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, unnest(${sqlWords("text")}) AS word FROM $table),
       |h AS (SELECT doc_id, ${sqlH32("word")} AS h FROM w),
       |s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM s ORDER BY doc_id""".stripMargin
  }

  /** 64-bit SimHash as two independent 32-bit halves (lo from h32(w), hi
    * from h32('x|' w) — a literal 1<<63 overflows BIGINT in both engines,
    * so the signature never lives in one column), computed in ONE pass
    * over the exploded words: 64 codegen'd sign-sums with map-side partial
    * aggregation.
    */
  private[ops] def simhash64(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), h32(col("w")).as("h"),
        h32(concat(lit("x|"), col("w"))).as("g"))
    val sums =
      (0 until 32).map(b =>
        sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"s$b")) ++
      (0 until 32).map(b =>
        sum(shiftright(col("g"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"t$b"))
    val grouped = ex.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    def sig(pfx: String) = (0 until 32)
      .map(b => when(col(s"$pfx$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col("doc_id"), sig("s").as("sim_lo"), sig("t").as("sim_hi"))
  }

  /** SimHash near-dup pairs, Manku-style: the 64-bit signature through
    * [[bandedFrame]] (four 16-bit bands, capped buckets — recall is exact
    * for the default maxHamming up to bucket-cap eviction; the per-bucket
    * salt makes all-bucket eviction the unlikely case rather than the
    * guaranteed one), bucket-join, verify with the summed bit_count over
    * both halves. A 32-bit hash with 8-bit bands would make the join
    * O(N²/1024) BY CONSTRUCTION (only 1,024 possible band keys); 16-bit
    * bands give 65,536 keys per band and the cap bounds whatever still
    * collides.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 2,
                   bucketCap: Int = 20): DataFrame =
    bandedHammingPairs(bandedFrame(simhash64(docs), "sim_hi", "sim_lo", bucketCap),
      maxHamming)

  def simhashPairsSql(table: String, maxHamming: Int = 2,
                      bucketCap: Int = 20): String = {
    val sums = ((0 until 32)
      .map(b => s"sum(((h >> $b) & 1)*2 - 1) AS s$b") ++
      (0 until 32).map(b => s"sum(((g >> $b) & 1)*2 - 1) AS t$b")).mkString(", ")
    def sig(pfx: String) = (0 until 32)
      .map(b => s"(CASE WHEN $pfx$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    sqlHammingPairs(
      s"""w AS (SELECT doc_id, unnest(${sqlWords("text")}) AS word FROM $table),
         |h AS (SELECT doc_id, ${sqlH32("word")} AS h, ${sqlH32("'x|' || word")} AS g FROM w),
         |s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST(${sig("s")} AS BIGINT) AS sim_lo,
         |    CAST(${sig("t")} AS BIGINT) AS sim_hi FROM s)""".stripMargin,
      "sig", "sim_hi", "sim_lo", maxHamming, bucketCap)
  }

  /** Connected components over the MinHash-LSH candidate-pair graph: the
    * step that turns near-dup PAIRS into dedup CLUSTERS (one canonical doc
    * per component). Min-label propagation: every doc starts as its own
    * component; each round takes the min component id over itself and its
    * neighbors; fixpoint when the global sum of labels stops decreasing
    * (labels only ever decrease, so equal sum == converged — an O(1)
    * convergence test, no row-level diff join).
    *
    * Scale posture: each round is one equi-join + hash agg on doc_id;
    * rounds needed = component diameter, which for near-dup clusters
    * (copies of the same content) is tiny and independent of corpus size.
    * Labels persist per round and unpersist the previous round, so lineage
    * stays bounded. maxIters is a loud-failure guard, not a silent cap.
    */
  def dedupComponents(docs: DataFrame, k: Int = 8, n: Int = 4, maxIters: Int = 20): DataFrame =
    componentsFrom(docs.select(col("doc_id")), lshCandidatePairsUnordered(docs, k, n), maxIters)

  /** Propagation core: nodes(doc_id) + undirected pairs(id_a, id_b) ->
    * (doc_id, component). Exposed for direct graph-shape tests.
    */
  private[ops] def componentsFrom(nodes: DataFrame, pairs: DataFrame, maxIters: Int): DataFrame = {
    // convergence statistic: sum of labels as DECIMAL(38,0) — labels only
    // ever decrease, so an unchanged sum == fixpoint. Decimal (not LONG) so
    // the O(1) test cannot overflow at 10^12-doc id ranges (ANSI mode would
    // throw on a LONG sum; non-ANSI could theoretically wrap to a false
    // early-converge).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    // materialized FIRST (eager localCheckpoint) so the (expensive)
    // upstream pair pipeline runs exactly once — touched/edges/labels
    // below all derive from the checkpointed RDD leaf. A plain persist()
    // is NOT enough here: the cached Union plan fails to substitute under
    // the derived edges/touched plans, silently re-running the pair
    // pipeline (measured: round 1 cost equalled the full pipeline).
    // localCheckpoint is also invisible to CacheManager's plan-keyed
    // lookup, so no cross-invocation sharing can leak in.
    // both directions come out of ONE explode pass (a self-union would
    // execute the pair pipeline once per branch unless exchange reuse
    // happens to fire)
    val undirected = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // r6: the fixpoint runs over EDGE-INCIDENT nodes only — every other
    // node is a singleton by construction and re-attaches at the end via
    // identity coalesce. On a near-dup graph the touched set is a small
    // fraction of the corpus, so every per-round join/agg (and the
    // convergence scan) shrinks from |corpus| to |touched| rows (guide
    // §2.3: shuffle fewer bytes — don't iterate over rows whose answer is
    // already known). Self-loops are folded into the edge table ONCE so
    // the per-round "min over self and neighbors" is a single join+agg —
    // no Union node inside the loop (unions over checkpointed leaves also
    // trip Spark's constraint-propagation rewrite). Duplicate self-loops
    // (one per incident edge) are deliberate: min-agg is insensitive to
    // row multiplicity, so no distinct shuffle is paid to dedupe them.
    val edges = undirected
      .union(undirected.select(col("src"), col("src").as("dst")))
      .persist()
    var prevSum: java.math.BigDecimal = null
    var labels: DataFrame = null
    var converged = false
    var iters = 0
    def prop(l: DataFrame): DataFrame =
      // round 1 over identity labels needs no join at all: the neighbor
      // label IS the neighbor id, so min-over-neighbors = min(dst)
      if (l == null) edges
        .groupBy(col("src"))
        .agg(min(col("dst")).as("component"))
        .withColumnRenamed("src", "doc_id")
      else edges
        .join(l.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src"))
        .agg(min(col("component")).as("component"))
        .withColumnRenamed("src", "doc_id")
    val hops = 2     // propagation hops per convergence cycle
    val jumpFrom = 3 // cycle from which the pointer-jump shortcut engages
    while (!converged) {
      iters += 1
      require(iters <= maxIters, s"componentsFrom did not converge in $maxIters rounds")
      // MULTIPLE propagation hops per convergence cycle: the per-cycle
      // fixed costs (job launch, materialization, the O(1) convergence
      // scan) are what dominate on the small touched frame, so halving
      // the cycle count beats minimizing per-cycle work; labels are
      // monotone non-increasing, so the sum test stays exact (unchanged
      // sum ⟺ no hop moved) and the only waste is ≤ hops-1 idle hops at
      // the fixpoint.
      val propagated = (1 until hops).foldLeft(prop(labels))((l, _) => prop(l))
      // pointer-jumping shortcut: follow each node's label to ITS label
      // (component values are always node ids, so the inner self-join is
      // total). Propagation alone needs diameter hops; adding the jump
      // squares the reach per cycle, so convergence is O(log diameter).
      // Near-dup graphs are unions of band-bucket CLIQUES and converge in
      // 1-2 cycles, so the extra self-join is pure overhead there — it
      // kicks in late, as insurance for genuinely high-diameter graphs.
      val merged =
        if (iters < jumpFrom) propagated
        else propagated.as("m")
          .join(propagated.select(col("doc_id").as("p_id"),
            col("component").as("p_lbl")).as("p"),
            col("m.component") === col("p_id"))
          .select(col("m.doc_id").as("doc_id"), col("p_lbl").as("component"))
      // each round's logical plan nests joins+agg on the previous round's
      // frame; persist bounds recomputation but not plan depth —
      // on high-diameter graphs the accumulated lineage makes analysis and
      // scheduling cost grow per round. localCheckpoint every few rounds
      // cuts the plan back to a leaf (the standard fixpoint-loop idiom).
      val next =
        if (iters % 3 == 0) merged.localCheckpoint()
        else merged.persist()
      val s = labelSum(next)
      if (labels != null) labels.unpersist()
      labels = next
      converged = s == prevSum
      prevSum = s
    }
    edges.unpersist()
    // re-attach the untouched singleton mass: identity components
    val out = nodes.select(col("doc_id"))
      .join(labels.withColumnRenamed("component", "lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component"))
    out.orderBy("doc_id")
  }

  /** DuckDB mirror of [[componentsFrom]] as a CTE block (the query needs
    * WITH RECURSIVE): `edges` holds both directions of the `pairs(id_a,
    * id_b)` CTE, `reach(node, lbl)` is seeded with every `idCol` of
    * `nodes` labelled by itself (UNION dedups, so the recursion terminates
    * at the transitive closure), and `comp(node, component)` is the min
    * reachable label per node.
    */
  private[ops] def sqlComponentCtes(idCol: String, nodes: String, pairs: String): String =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION ALL SELECT id_b, id_a FROM $pairs),
       |reach(node, lbl) AS (
       |  SELECT $idCol, $idCol FROM $nodes
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)""".stripMargin

  def dedupComponentsSql(table: String, k: Int = 8, n: Int = 4,
                         bucketCap: Int = 10): String =
    s"""WITH RECURSIVE ${sqlLshPairCtes(table, k, n, bucketCap)},
       |${sqlComponentCtes("doc_id", table, "lshp")}
       |SELECT node AS doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  /** Leakage-safe train/test split — the assignment a training run must
    * make BEFORE holding out an eval set: a deterministic hash split at
    * DOCUMENT granularity leaks (near-duplicates of a test doc land in
    * train — the memorized-eval failure Lee et al. measure), so the split
    * key is the [[dedupComponents]] COMPONENT label: every member of a
    * near-dup cluster rides the same hash draw and lands on the same side
    * by construction. testPermille sets the expected test share.
    *
    * Shape at 100 TB: ONE narrow codegen projection (md5-derived hash of
    * the component label, [[Prep.stratifiedSample]]'s gate idiom —
    * reproducible, partition-independent, resumable) on top of the d6
    * component table; no shuffle beyond what d6 already did. Output:
    * (doc_id, component, split).
    */
  def leakageSafeSplit(docs: DataFrame, k: Int = 8, n: Int = 4,
      testPermille: Int = 100): DataFrame =
    dedupComponents(docs, k, n)
      .withColumn("split",
        when(pmod(h32(concat(col("component").cast("string"), lit(":split"))),
          lit(1000L)) < testPermille, lit("test")).otherwise(lit("train")))
      .orderBy("doc_id")

  def leakageSafeSplitSql(table: String, k: Int = 8, n: Int = 4,
      testPermille: Int = 100): String =
    s"""WITH comps AS (${dedupComponentsSql(table, k, n)})
       |SELECT doc_id, component,
       |  CASE WHEN ${sqlH32("CAST(component AS VARCHAR) || ':split'")} % 1000 < $testPermille
       |    THEN 'test' ELSE 'train' END AS split
       |FROM comps ORDER BY doc_id""".stripMargin

  /** Quality-aware canonical per near-dup cluster — what a production
    * dedup keeps: not the minimum doc_id but the HIGHEST-QUALITY member of
    * each [[dedupComponents]] component (CCNet/RefinedWeb keep-best-copy),
    * with min-doc_id only as the final tie-break. Emits one row per
    * component: (component, n_members, best_doc, best_score_micro).
    *
    * Shape at 100 TB: component labels join the [[TextAnalysis]] quality
    * micro-score (one narrow native-expression pass), then winners fall
    * out of the agg+join idiom — NOT a window over the component key:
    * stage 1 collapses each component to (n_members, best_score) with
    * map-side partial agg (a giant boilerplate cluster collapses inside
    * its input partitions), stage 2 equi-joins the best score back and
    * min-reduces doc_id among score-tied members. Every shuffle keys on
    * component with a partial aggregate in front; AQE splits whatever
    * skew survives the partials.
    */
  def bestCanonical(docs: DataFrame, k: Int = 8, n: Int = 4): DataFrame =
    bestCanonicalOver(dedupComponents(docs, k, n), docs)

  /** The selection stage over explicit `(doc_id, component)` labels —
    * public so a pipeline that already materialized its component table
    * (the common case: components are computed once, canonicals re-picked
    * per policy) composes without re-running the LSH graph, and so the
    * quality-beats-id / tie-break semantics are testable without
    * depending on which docs the LSH graph happens to link.
    */
  def bestCanonicalOver(comps: DataFrame, docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
      TextAnalysis.qualityScoreMicroFromStats(
        TextAnalysis.statsCol(col("text"))).as("score_micro"))
    val j = comps.join(scored, "doc_id")
    val best = j.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), max(col("score_micro")).as("best_score_micro"))
      .withColumnRenamed("component", "comp")
    j.join(best, col("component") === col("comp")
        && col("score_micro") === col("best_score_micro"))
      .groupBy(col("comp"), col("n_members"), col("best_score_micro"))
      .agg(min(col("doc_id")).as("best_doc"))
      .select(col("comp").as("component"), col("n_members"),
        col("best_doc"), col("best_score_micro"))
      .orderBy("component")
  }

  /** DuckDB mirror: [[dedupComponentsSql]]'s recursive-CTE labels nested
    * as a derived table, joined to the shared [[TextAnalysis.sqlStatsRel]]
    * score, winners via the same two-stage best-score/min-id reduction.
    */
  def bestCanonicalSql(table: String, k: Int = 8, n: Int = 4): String =
    s"""WITH comps AS (${dedupComponentsSql(table, k, n)}),
       |scored AS (SELECT doc_id, ${TextAnalysis.sqlScoreMicroExpr} AS score_micro
       |  FROM ${TextAnalysis.sqlStatsRel(table)}),
       |j AS (SELECT c.doc_id, c.component, s.score_micro
       |  FROM comps c JOIN scored s USING (doc_id)),
       |best AS (SELECT component AS comp, CAST(count(*) AS BIGINT) AS n_members,
       |    max(score_micro) AS best_score_micro
       |  FROM j GROUP BY component)
       |SELECT b.comp AS component, b.n_members, min(j.doc_id) AS best_doc,
       |  b.best_score_micro
       |FROM j JOIN best b ON j.component = b.comp
       |  AND j.score_micro = b.best_score_micro
       |GROUP BY b.comp, b.n_members, b.best_score_micro
       |ORDER BY component""".stripMargin

  /** Benchmark decontamination: flag corpus docs sharing any word n-gram
    * with a PROBE set (eval benchmarks, held-out suites). The probe side is
    * tiny by construction, so its distinct shingles BROADCAST and the doc
    * side streams through a map-side hash join — at 100 TB the only shuffle
    * is the final per-doc hit count (map-side partial agg). Returns
    * (doc_id, n_hits) for contaminated docs; a pipeline drops or quarantines
    * them.
    */
  def contamination(docs: DataFrame, probes: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val docSh = shingleRows(docs, n, distinct = true)
    val probeSh = broadcast(
      shingleRows(probes, n, distinct = true).select(col("s")).distinct())
    docSh.join(probeSh, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  def contaminationSql(table: String, probePred: String, n: Int = 8): String = {
    val w = sqlWords("text")
    val sh = sqlShingles("w", n)
    s"""WITH d AS (SELECT doc_id, list_distinct($sh) AS shingles
       |  FROM (SELECT doc_id, $w AS w FROM $table)),
       |ds AS (SELECT doc_id, unnest(shingles) AS s FROM d),
       |ps AS (SELECT DISTINCT s FROM (
       |  SELECT unnest(shingles) AS s FROM d WHERE $probePred))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |FROM ds JOIN ps USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Decontamination for probe sets too large to broadcast: the bloom
    * semi-join. [[contamination]]'s broadcast of the distinct probe shingles
    * stops working when the probe suite grows past the broadcast limit
    * (100M distinct shingles ≈ 3 GB of strings); the exact join then has to
    * shuffle BOTH sides — and the corpus side is 10^13 shingle rows at
    * 100 TB, which makes that shuffle the whole job.
    *
    * This variant builds a bloom filter over the probe shingles as a
    * distributed partial aggregate (Spark's own `BloomFilterAggregate`, the
    * expression `InjectRuntimeFilter` plants under shuffle joins) and feeds
    * it to the `might_contain` pre-filter on the corpus shingles as a
    * SCALAR SUBQUERY — exactly the shape the optimizer rule itself plants:
    * the sketch (bounded by `numBits`, default 2^23 bits = 1 MB, regardless
    * of corpus or probe size) is computed once per query and broadcast as a
    * subquery result, never collected to the driver and never embedded as a
    * plan literal that every stage's task binary would re-ship. Both sides
    * key on `xxhash64(s)`, the optimizer rule's own symmetry. An empty
    * probe set needs no special case: the aggregate yields NULL and
    * `might_contain(NULL, x)` filters everything — no hits, same as the
    * exact form. A bloom has no false negatives, so the pre-filter only
    * discards shingles that cannot match; the surviving ~hits +
    * fpp·|corpus| rows go through the exact equi-join, making the OUTPUT
    * exactly [[contamination]]'s — the bloom changes the plan, never the
    * answer (the DuckDB oracle is the same SQL as d7's for that reason).
    */
  def contaminationBloom(docs: DataFrame, probes: DataFrame, n: Int = 6,
                         estProbeShingles: Long = 1000000L,
                         numBits: Long = 1L << 23): DataFrame = {
    val spark = docs.sparkSession
    val probeSh = shingleRows(probes, n, distinct = true).select(col("s")).distinct()
    shingleRows(docs, n, distinct = true).createOrReplaceTempView("graft_bloom_corpus_sh")
    probeSh.createOrReplaceTempView("graft_bloom_probe_sh")
    val candidates = spark.sql(
      s"""SELECT doc_id, s FROM graft_bloom_corpus_sh
         |WHERE graft_might_contain(
         |  (SELECT graft_bloom_agg(xxhash64(s), ${estProbeShingles}L, ${numBits}L)
         |   FROM graft_bloom_probe_sh),
         |  xxhash64(s))""".stripMargin)
    candidates.join(probeSh, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Oracle for [[contaminationBloom]] — deliberately the EXACT
    * decontamination SQL: the bloom is a plan-level pre-filter with no
    * false negatives followed by an exact verify join, so the result set is
    * identical to [[contamination]]'s at any fpp.
    */
  def contaminationBloomSql(table: String, probePred: String, n: Int = 6): String =
    contaminationSql(table, probePred, n)

  /** Incremental near-dup gate — the production shape of LSH dedup once a
    * corpus exists: a crawl INCREMENT is checked against the standing
    * corpus's band-bucket index instead of re-running pair generation over
    * corpus+increment (at 10^12 standing docs, re-deduping the world to
    * admit a day's crawl is the difference between a job sized by the
    * increment and a job sized by the corpus). Each new doc reports how
    * many of its k/2 LSH bands hit an existing corpus bucket and a 0/1
    * `hit` flag; a pipeline quarantines hits (likely near-dups of existing
    * content) and routes misses into [[lshCandidatePairs]] WITHIN the
    * increment for intra-batch dedup.
    *
    * Scale shape: the corpus side collapses to DISTINCT band keys — one
    * partial-agg shuffle the first time, and in production that distinct
    * frame IS the persistent index (write it once, re-read per increment;
    * appending the admitted increment's bands keeps it current). The join
    * needs NO bucket cap: after the distinct, the hottest boilerplate
    * bucket is ONE row, so join output is bounded by |increment| * k/2
    * band rows — linear in the increment, never quadratic. The hit count
    * needs no distinct-agg: a doc's band keys are distinct by construction
    * (the band index is hashed into the key). Banding is [[minhashBandRows]]
    * — the SAME construction the intra-corpus pair pass uses, so an index
    * built by one path is exact for the other. Short docs (< n words) have
    * no bands and surface with shared_bands = 0, preserving row count.
    *
    * Recall contract: a miss means no band collision, the standard LSH
    * guarantee at the (k, n) operating point — identical to what a full
    * re-dedup's candidate stage would have found for those pairs, because
    * the index is uncapped (capBuckets exists to bound PAIR joins; a
    * membership probe has no quadratic mode to bound).
    */
  def incrementalGate(corpus: DataFrame, newDocs: DataFrame,
                      k: Int = 8, n: Int = 4): DataFrame = {
    val corpusB = minhashBandRows(corpus, k, n).select(col("bkey")).distinct()
    val hits = minhashBandRows(newDocs, k, n)
      .join(corpusB, "bkey")
      .groupBy("doc_id").agg(count(lit(1)).as("shared_bands"))
    newDocs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("shared_bands"), lit(0L)).as("shared_bands"))
      .withColumn("hit", (col("shared_bands") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[incrementalGate]] over one table split by
    * `newPred` (a doc_id predicate, the [[contaminationSql]] convention):
    * increment = rows matching, standing corpus = the rest. Shares
    * [[sqlBandCtes]] with the pair-pass mirrors — one band definition.
    */
  def incrementalGateSql(table: String, newPred: String,
                         k: Int = 8, n: Int = 4): String =
    s"""WITH ${sqlBandCtes(table, k, n)},
       |corpus_b AS (SELECT DISTINCT bkey FROM bands WHERE NOT ($newPred)),
       |new_b AS (SELECT doc_id, bkey FROM bands WHERE $newPred),
       |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_bands
       |  FROM new_b JOIN corpus_b USING (bkey) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(h.shared_bands, CAST(0 AS BIGINT)) AS shared_bands,
       |  CAST(CASE WHEN COALESCE(h.shared_bands, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS hit
       |FROM (SELECT doc_id FROM $table WHERE $newPred) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Per-doc DISTINCT shingle set as one array column, computed map-side in
    * the typed kernel (no shuffle; used to rescore candidate pairs exactly).
    */
  private[ops] def shingleSets(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val w = if (t == null) Array.empty[String] else t.split(' ').filter(_.nonEmpty)
        val sh =
          if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toVector.distinct
          else Vector.empty[String]
        (id, sh)
      }
      .toDF("doc_id", "sh")
  }

  /** n-gram Jaccard: candidate pairs from a rare-shingle inverted index
    * (df <= dfMax prunes stop-shingles -> no quadratic hot buckets), then
    * EXACT rescoring per candidate via full shingle-set intersection.
    *
    * Scores are exact Jaccard over the full distinct-shingle sets. Recall
    * is bounded by the index: a pair is a candidate only if it shares at
    * least one rare (df <= dfMax) shingle, so pairs sharing ONLY boilerplate
    * shingles are not emitted — the documented trade that keeps hot buckets
    * linear at scale. The rescore stage touches only candidate docs
    * (semi-join), so its cost is O(candidates x doc length), never all-pairs.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 4, dfMax: Int = 50,
                   thresh: Double = 0.5): DataFrame =
    // exact rescore: shingle sets for candidate docs only
    rescoreCounts(docs, dfCappedCandidates(docs, n, dfMax), n)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i")).cast("double")).as("jac"))
      .filter(col("jac") >= thresh)
      .select(col("id_a"), col("id_b"), micro(col("jac")).as("jac_micro"))
      .orderBy("id_a", "id_b")

  /** Rare-shingle candidate pairs shared by [[jaccardPairs]] and
    * [[containmentPairs]]. The inverted index keys on the 16-byte md5 of
    * the shingle, projected BEFORE any shuffle — a word 4-gram averages
    * ~25-30 bytes and crosses the wire three times (df agg, df join, pair
    * join); the hash halves that traffic at corpus scale (collisions are
    * the usual 2^-64 content-dedup risk, and the rescore stage is exact
    * anyway). The df filter is agg+join, NOT a count window over the
    * shingle key: a boilerplate shingle present in most of the corpus
    * would land every occurrence in one window task. The aggregate
    * collapses hot shingles map-side (partial count); the join back drops
    * them entirely (only rare shingles survive the df filter), and AQE
    * splits whatever skew remains on the shuffle.
    */
  private def dfCappedCandidates(docs: DataFrame, n: Int, dfMax: Int): DataFrame = {
    val ex = shingleRows(docs, n, distinct = true)
      .select(col("doc_id"), call_function("graft_md5bin", col("s")).as("sh"))
    val dfs = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfMax)
      .select(col("sh"))
    val rare = ex.join(dfs, "sh").select(col("doc_id"), col("sh"))
    val a = rare.as("a")
    val b = rare.as("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Containment near-dup pairs — the ASYMMETRIC form of [[jaccardPairs]]
    * for quote/subset detection: containment(A->B) = |A∩B| / |A| finds a
    * short document embedded in a long one even when symmetric Jaccard is
    * tiny (the long doc's size swamps the union). One row per unordered
    * candidate pair with BOTH directions' scores; kept when either
    * direction clears the threshold. Same df-capped inverted index, same
    * exact candidate-bounded rescore — the asymmetry costs nothing extra.
    */
  def containmentPairs(docs: DataFrame, n: Int = 4, dfMax: Int = 50,
                       thresh: Double = 0.8): DataFrame =
    rescoreCounts(docs, dfCappedCandidates(docs, n, dfMax), n)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / col("na").cast("double")).as("cont_a"),
        (col("i").cast("double") / col("nb").cast("double")).as("cont_b"))
      .filter(col("cont_a") >= thresh || col("cont_b") >= thresh)
      .select(col("id_a"), col("id_b"),
        micro(col("cont_a")).as("cont_a_micro"),
        micro(col("cont_b")).as("cont_b_micro"))
      .orderBy("id_a", "id_b")

  /** Exact intersection/size counts for a candidate pair frame — the
    * shared rescore tail of [[jaccardPairs]] and [[containmentPairs]]:
    * shingle sets are built ONLY for docs that appear in a candidate pair
    * (semi-join), so the exact pass is sized by the candidates, never the
    * corpus.
    */
  private def rescoreCounts(docs: DataFrame, cand: DataFrame, n: Int): DataFrame = {
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val sets = shingleSets(docs, n).join(candIds, Seq("doc_id"), "left_semi")
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("i"),
        size(col("sha")).cast("long").as("na"), size(col("shb")).cast("long").as("nb"))
  }

  /** Shared candidate CTE chain (through `cand` + the `sh` sets) for the
    * [[jaccardPairsSql]] / [[containmentPairsSql]] mirrors — one
    * definition, like the Spark-side [[dfCappedCandidates]].
    */
  private def candCoreSql(table: String, n: Int, dfMax: Int): String = {
    val w = sqlWords("text")
    val sh = sqlShingles("w", n)
    s"""docs AS (SELECT doc_id, $w AS w FROM $table),
       |sh AS (SELECT doc_id, list_distinct($sh) AS shingles FROM docs),
       |ex AS (SELECT doc_id, md5(s) AS h FROM
       |  (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |df AS (SELECT h, count(*) AS df FROM ex GROUP BY 1),
       |rare AS (SELECT ex.doc_id, ex.h FROM ex JOIN df USING (h) WHERE df.df <= $dfMax),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id)""".stripMargin
  }

  def jaccardPairsSql(table: String, n: Int = 4, dfMax: Int = 50,
                      thresh: Double = 0.5): String =
    s"""WITH ${candCoreSql(table, n, dfMax)},
       |j AS (SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / CAST(len(sa.shingles) + len(sb.shingles)
       |             - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jac
       |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, ${sqlMicro("jac")} AS jac_micro FROM j
       |WHERE jac >= $thresh ORDER BY id_a, id_b""".stripMargin

  /** DuckDB mirror of [[containmentPairs]]. */
  def containmentPairsSql(table: String, n: Int = 4, dfMax: Int = 50,
                          thresh: Double = 0.8): String =
    s"""WITH ${candCoreSql(table, n, dfMax)},
       |c AS (SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / CAST(len(sa.shingles) AS DOUBLE) AS cont_a,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / CAST(len(sb.shingles) AS DOUBLE) AS cont_b
       |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
       |SELECT id_a, id_b, ${sqlMicro("cont_a")} AS cont_a_micro,
       |  ${sqlMicro("cont_b")} AS cont_b_micro
       |FROM c WHERE cont_a >= $thresh OR cont_b >= $thresh
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact duplicated-SPAN detection (the word-n-gram form of Lee et al.'s
    * suffix-array substring dedup): every position whose n-gram occurs
    * anywhere else in the corpus (another doc OR a repeat in the same doc)
    * is flagged, and flagged positions within `n` of each other merge into
    * maximal spans — the ranges a span-level dedup pass would excise.
    *
    * Scale shape: positional shingles project to (doc_id, pos, 16-byte
    * md5) BEFORE the shuffle (the text never leaves the map side); the
    * occurrence count is a partial-agg'd groupBy on the hash; the join
    * back is AQE-skew-safe; the island merge windows per doc_id, which is
    * bounded by document length — never a corpus-scale partition.
    */
  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val pos = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val w = if (t == null) Array.empty[String] else t.split(' ').filter(_.nonEmpty)
        if (w.length < n) Iterator.empty
        else (0 to w.length - n).iterator.map(p => (id, p, w.slice(p, p + n).mkString(" ")))
      }
      .toDF("doc_id", "pos", "s")
      .select(col("doc_id"), col("pos"), call_function("graft_md5bin", col("s")).as("sh"))
    val dup = pos.groupBy(col("sh")).agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val flagged = pos.join(dup, "sh").select(col("doc_id"), col("pos"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      // new island when the gap to the previous flagged position exceeds n
      // (null lag -> the when() is null -> otherwise(1): first island)
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wDoc) <= n, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + n).cast("int").as("span_end"),
        count(lit(1)).as("n_pos"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_pos"))
      .orderBy("doc_id", "span_start")
  }

  /** The shared dupSpans detector CTE chain (docs -> positional shingles
    * -> duplicated-shingle flags -> islands -> spans), ONE definition used
    * by both [[dupSpansSql]] and [[exciseSpansSql]] so the d9 detector and
    * the d10 surgery can never drift (the [[sqlCapPri]] lesson: a
    * hand-inlined copy of a shared rule is where cross-engine bugs breed).
    * Exposes `docs(doc_id, ws)` and `spans(doc_id, span_start, span_end,
    * n_pos)` to the caller's query tail.
    */
  private def sqlDupSpanCtes(table: String, n: Int): String = {
    val w = sqlWords("text")
    val sh = sqlShingles("ws", n)
    s"""WITH docs AS (SELECT doc_id, $w AS ws FROM $table),
       |sh AS (SELECT doc_id, CAST(unnest(range(len(sg))) AS INT) AS pos,
       |    unnest(sg) AS s
       |  FROM (SELECT doc_id, $sh AS sg FROM docs)),
       |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
       |f AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (s)),
       |brk AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
       |      THEN 0 ELSE 1 END AS b
       |  FROM f),
       |isl AS (SELECT doc_id, pos,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
       |  FROM brk),
       |spans AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       |    CAST(max(pos) + $n AS INT) AS span_end,
       |    CAST(count(*) AS BIGINT) AS n_pos
       |  FROM isl GROUP BY doc_id, island)""".stripMargin
  }

  def dupSpansSql(table: String, n: Int = 8): String =
    s"""${sqlDupSpanCtes(table, n)}
       |SELECT doc_id, span_start, span_end, n_pos FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  /** Duplicated-span EXCISION — the actionable half of the Lee-et-al.
    * pass that [[dupSpans]] only detects: every token inside a flagged
    * span is dropped, each doc is reassembled from its surviving tokens
    * in order (the [[lineDedup]] sort_array idiom, at token granularity),
    * and the removed-token mass is reported per doc so a pipeline can
    * audit how much text the surgery cost.
    *
    * Token space is [[dupSpans]]'s: non-empty single-space words. The
    * spans are maximal and disjoint by construction (islands merge when
    * closer than n), so each token matches at most one span and the
    * doc_id-equi range join never duplicates rows. Every input doc
    * appears in the output — a doc with no spans passes through with
    * n_removed = 0, a doc whose whole text is one span comes back with
    * text = '' (posexplode_outer keeps zero-token docs alive).
    *
    * Scale shape: the detector's cost profile is [[dupSpans]]'s
    * (positional 16-byte hashes, partial-agg'd occurrence counts); the
    * surgery adds one doc_id-equi join (spans per doc are few and
    * bounded by doc length — never a hot key) and one per-doc
    * reassembly agg, both linear. No lambda reaches the hot path: the
    * word filter is one HOF evaluated once per document (not per
    * token), everything downstream is codegen projections.
    */
  def exciseSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val spans = dupSpans(docs, n)
      .select(col("doc_id").as("s_id"), col("span_start"), col("span_end"))
    val toks = docs
      .select(col("doc_id"),
        filter(split(col("text"), " ", -1), w => w =!= "").as("ws"))
      .select(col("doc_id"), posexplode_outer(col("ws")).as(Seq("pos", "tok")))
    toks.join(spans,
        toks("doc_id") === spans("s_id") &&
          col("pos") >= col("span_start") && col("pos") < col("span_end"),
        "left_outer")
      .select(toks("doc_id"), col("pos"), col("tok"),
        col("s_id").isNotNull.as("cut"))
      .groupBy(col("doc_id"))
      .agg(
        // the zero-token sentinel row (posexplode_outer's null pos) must
        // not become a struct-of-nulls element — guard on pos
        sort_array(collect_list(
          when(!col("cut") && col("pos").isNotNull, struct(col("pos"), col("tok")))))
          .as("arr"),
        count(col("pos")).as("n_tokens"),
        sum(col("cut").cast("long")).as("n_removed"))
      .select(col("doc_id"), array_join(col("arr.tok"), " ").as("text"),
        col("n_tokens"), col("n_removed"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[exciseSpans]]: the dupSpans CTEs plus the same
    * string surgery (left range join on the span, string_agg of the
    * survivors, docs left-joined back so zero-token docs survive).
    */
  def exciseSpansSql(table: String, n: Int = 8): String = {
    s"""${sqlDupSpanCtes(table, n)},
       |tok AS (SELECT doc_id, CAST(unnest(range(len(ws))) AS INT) AS pos,
       |    unnest(ws) AS tok FROM docs),
       |cut AS (SELECT t.doc_id, t.pos, t.tok, s.doc_id IS NOT NULL AS cut
       |  FROM tok t LEFT JOIN spans s ON s.doc_id = t.doc_id
       |    AND t.pos >= s.span_start AND t.pos < s.span_end),
       |agg AS (SELECT doc_id,
       |    COALESCE(string_agg(CASE WHEN NOT cut THEN tok END, ' ' ORDER BY pos), '') AS text,
       |    CAST(count(pos) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
       |  FROM cut GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(a.text, '') AS text,
       |  COALESCE(a.n_tokens, 0) AS n_tokens, COALESCE(a.n_removed, 0) AS n_removed
       |FROM docs d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Cross-document LINE-level dedup (CCNet-style paragraph dedup): every
    * line that appears anywhere else in the corpus keeps only its first
    * occurrence — the classic boilerplate-stripping pass web pipelines run
    * after extraction (nav bars, footers, cookie banners repeat across a
    * host; their first occurrence survives, the rest are dropped and each
    * doc is reassembled from its surviving lines in order).
    *
    * "First" is the lexicographically minimal (url, pos) occurrence,
    * encoded as one sortable key so both engines agree bit-exactly.
    *
    * Scale shape — deliberately agg+join, NOT a window: the hottest
    * boilerplate line can appear in nearly every document, and a
    * row_number window over the line key would sort all 10^12 occurrences
    * of that line in ONE task with no mitigation. The aggregate computes
    * min(first-key) WITH map-side partial aggregation (the hot key
    * collapses to one row per input task), and the join back is an
    * equi-join AQE's skew-join handling splits automatically. Three linear
    * shuffles (line agg, line join, url reassembly), no quadratic stage.
    */
  def lineDedup(pages: DataFrame): DataFrame = {
    val lines = pages
      .select(col("url"), posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
      // sortable occurrence key: url is unique per page, pos < 10^9
      .withColumn("occ", concat(col("url"), lit("\u0001"),
        lpad(col("pos").cast("string"), 9, "0")))
    // agg/join on the 16-byte content hash, NOT the raw line: at corpus
    // scale a "line" is a whole paragraph, and shuffling the text twice
    // (agg + join) would dominate; md5 collisions are the usual 2^-64
    // content-dedup risk
    val hashed = lines.withColumn("lh", call_function("graft_md5bin", col("line")))
    val firsts = hashed
      .groupBy(col("lh")).agg(min(col("occ")).as("first_occ"))
    hashed.join(firsts, "lh")
      .withColumn("keep", col("occ") === col("first_occ"))
      .groupBy(col("url"))
      .agg(
        // nulls (dropped lines) are skipped by collect_list; sort_array
        // orders by the leading pos field; arr.line extraction and
        // array_join are codegen projections (no lambda in the plan)
        sort_array(collect_list(when(col("keep"), struct(col("pos"), col("line")))))
          .as("arr"),
        count(lit(1)).as("n_lines"),
        sum((!col("keep")).cast("long")).as("n_dropped"))
      .select(col("url"), array_join(col("arr.line"), "\n").as("text"),
        col("n_lines"), col("n_dropped"))
      .orderBy("url")
  }

  /** DuckDB mirror over the same hive-partitioned pages glob. */
  def lineDedupSql(pagesGlob: String): String =
    s"""WITH e AS (SELECT url, str_split(text, chr(10)) AS ls
       |    FROM read_parquet('$pagesGlob', hive_partitioning=1)),
       |l AS (SELECT url, unnest(ls) AS line, unnest(range(len(ls))) AS pos FROM e),
       |o AS (SELECT url, line, pos,
       |    url || chr(1) || lpad(CAST(pos AS VARCHAR), 9, '0') AS occ FROM l),
       |f AS (SELECT line, min(occ) AS first_occ FROM o GROUP BY line),
       |k AS (SELECT o.url, o.pos, o.line, o.occ = f.first_occ AS keep
       |    FROM o JOIN f USING (line))
       |SELECT url,
       |  COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS text,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM k GROUP BY url ORDER BY url""".stripMargin
}
