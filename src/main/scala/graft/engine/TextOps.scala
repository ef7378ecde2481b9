package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (BASELINE.json north star): token
  * counting, quality scoring, language-ID, document fingerprinting.
  *
  * Every derivation is a built-in codegen'd Catalyst expression (no
  * UDFs), so the whole per-document feature pass is one narrow
  * projection stage: no shuffle, scales linearly with input splits at
  * 100 TB. Regex patterns are restricted to constructs with identical
  * semantics in Java regex (Spark) and RE2 (DuckDB oracle): literal
  * alternation, character classes, `\s`, `\b`.
  */
object TextOps {

  /** Whitespace tokens of the lowercased, trimmed text; empty tokens
    * filtered so "" and all-blank text yield zero tokens in both
    * engines (Spark `split` keeps trailing empties; DuckDB's splitter
    * emits [""] for "").
    */
  def tokens(text: Column): Column =
    filter(split(trim(lower(text)), "\\s+"), t => t =!= "")

  /** Whitespace token count (the `wc -w` definition). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword proxy: count of maximal runs of word chars,
    * digits, or single punctuation — the regex tokenizer most BPE
    * pre-tokenizers (GPT-2 style) approximate. */
  def roughBpeCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of non-overlapping matches of a pattern. */
  private def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  // --- quality-score components (all ∈ [0,1] or simple counts) ---

  /** Punctuation chars / total chars (0 for empty text). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0))
      .otherwise(nMatches(text, "[^A-Za-z0-9\\s]").cast("double") / n)
  }

  /** Mean token length in chars (0 if no tokens). */
  def meanTokenLen(text: Column): Column = {
    val tk = tokens(text)
    when(size(tk) === 0, lit(0.0))
      .otherwise(
        aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double")
          / size(tk))
  }

  /** English stopword hits / token count (0 if no tokens) — the
    * classic Gopher/C4-style quality signal. */
  val stopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "that")

  def stopwordRatio(text: Column): Column = {
    val tk = tokens(text)
    val hits = size(filter(tk, t => t.isin(stopwordsEn: _*)))
    when(size(tk) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(tk))
  }

  /** Composite quality score — fixed linear blend of length (capped),
    * stopword presence, and punctuation sanity. The exact formula is
    * the contract; the oracle re-states it verbatim. All terms are
    * exact rational arithmetic on counts, so the double result is
    * bit-identical across engines. */
  def qualityScore(text: Column): Column = {
    val lenTerm = least(length(text).cast("double") / 500.0, lit(1.0))
    val swTerm = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctTerm = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    lenTerm * 0.4 + swTerm * 0.4 + punctTerm * 0.2
  }

  private[engine] val stopwordSetEn: Set[String] = stopwordsEn.toSet

  /** JVM-side twin of [[qualityScore]] for imperative per-partition
    * passes (the [[graft.engine.Dedup.shingleHashSets]] discipline) —
    * the Column form's higher-order functions are interpreted and
    * re-evaluate the tokenize per reference, which made the memoized
    * quality frame's build the dominant per-row cost of both
    * calibrated twins. Exactness, term by term, against the Column
    * form (QualityScoreSpec pins bit-equality over both fixture
    * corpora + crafted edge rows):
    *  - `length(text)` counts CODE POINTS (UTF8String.numChars) →
    *    `codePointCount`, not String.length;
    *  - tokens ride [[graft.engine.Dedup.tokensOf]], the same
    *    oracle-proven twin of the `tokens` Column the dedup family
    *    uses everywhere;
    *  - the punct class `[^A-Za-z0-9\s]` counts code points outside
    *    ASCII alphanumerics and Java-regex `\s` (= ` \t\n\x0B\f\r` —
    *    ASCII-only without UNICODE_CHARACTER_CLASS), one match per
    *    code point since a negated class consumes a full code point;
    *  - every double op replays the Column tree's shape and order
    *    (divide coerces both sides to double; `least` → `math.min`;
    *    final sum left-associated), so the IEEE result is
    *    bit-identical. Non-null input contract (the documents fixture
    *    has no null text; the Dataset encoder would surface one as an
    *    empty-string NPE loudly, not silently). */
  private[graft] def qualityScoreOf(text: String): Double = {
    val n = text.codePointCount(0, text.length)
    val lenTerm = math.min(n.toDouble / 500.0, 1.0)
    val tk = graft.engine.Dedup.tokensOf(text)
    var hits = 0
    var ti = 0
    while (ti < tk.length) {
      if (stopwordSetEn.contains(tk(ti))) hits += 1
      ti += 1
    }
    val sw = if (tk.length == 0) 0.0 else hits.toDouble / tk.length.toDouble
    val swTerm = math.min(sw * 5.0, 1.0)
    var punct = 0
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val isWord = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9')
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!isWord && !isWs) punct += 1
      i += Character.charCount(cp)
    }
    val pr = if (n == 0) 0.0 else punct.toDouble / n.toDouble
    val punctTerm = 1.0 - math.min(pr * 10.0, 1.0)
    lenTerm * 0.4 + swTerm * 0.4 + punctTerm * 0.2
  }

  // --- language ID ---

  /** Tiny per-language stopword dictionaries for the n-gram/stopword
    * voting heuristic. Tie-break: fixed language order (first wins),
    * then "und" (undetermined) when no dictionary hits at all. */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "es" -> Seq("el", "la", "los", "las", "es", "que", "para"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "pour"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "他"))

  /** Predicted language: argmax of per-language stopword hit counts
    * over the token list, ties to the earlier language in `langDicts`,
    * "und" when every count is zero. */
  def langId(text: Column): Column = {
    val tk = tokens(text)
    val counts: Seq[Column] = langDicts.map { case (_, words) =>
      size(filter(tk, t => t.isin(words: _*)))
    }
    // lang_i wins iff cnt_i > 0, cnt_i strictly beats every EARLIER lang's
    // count is NOT required — earlier-wins-ties means: cnt_i >= cnt_j for
    // all j>i and cnt_i > cnt_j for no earlier j attaining it, i.e.
    // cnt_i >= later counts and cnt_i > earlier counts.
    def isWinner(i: Int): Column = {
      val ci = counts(i)
      val cmp = counts.zipWithIndex.collect {
        case (cj, j) if j < i => ci > cj
        case (cj, j) if j > i => ci >= cj
      }
      cmp.foldLeft(ci > 0)(_ && _)
    }
    langDicts.zipWithIndex.reverse.foldLeft(lit("und")) {
      case (acc, ((lang, _), i)) => when(isWinner(i), lit(lang)).otherwise(acc)
    }
  }

  // --- fingerprinting ---

  /** Canonical form for exact-dup detection: lowercase, collapse all
    * whitespace runs to single spaces, trim. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Document fingerprint = md5 of the canonical form (md5 exists in
    * both Spark and DuckDB with identical output). */
  def fingerprint(text: Column): Column = md5(normalizedText(text))

  // ------------------------------------------------------------ queries

  /** Per-document text statistics: token counts + quality components.
    * One narrow codegen'd projection over the scan. */
  def qTextStats(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        roughBpeCount(col("text")).cast("long").as("n_bpeish"),
        length(col("text")).cast("long").as("len_chars"),
        meanTokenLen(col("text")).as("mean_tok_len"),
        punctRatio(col("text")).as("punct_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID prediction per document plus the labeled lang for
    * downstream eval; aggregated confusion counts. */
  def qLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(col("lang"), langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))
  }

  /** Fingerprint per document (md5 of canonical text). */
  def qFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    * fraction of bigram occurrences taken by the single most frequent
    * bigram, and the fraction of trigram occurrences whose trigram
    * appears more than once — the standard filters for
    * boilerplate/looping text that slips past length and punctuation
    * checks. Null when the document is too short to have that n-gram.
    *
    * One per-document `mapPartitions` pass (the same zero-shuffle,
    * no-HOF-inlining seam as [[Dedup.shingleHashSets]]): n-gram
    * counting is row-local, so nothing leaves its input split; the
    * fractions are exact-integer divisions, bit-identical to the
    * DuckDB oracle's. */
  def qRepetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, sfDir, "documents")
    Dedup.spread(d.select(col("doc_id"), col("text")), Seq("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tk = Dedup.tokensOf(text)
          val n = tk.length
          // (total occurrences, top count, occurrences of grams seen >= 2x)
          def gramStats(g: Int): (Long, Long, Long) =
            if (n < g) (0L, 0L, 0L)
            else {
              val m = scala.collection.mutable.HashMap.empty[String, Long]
              var i = 0
              while (i + g <= n) {
                val key = tk.slice(i, i + g).mkString(" ")
                m.update(key, m.getOrElse(key, 0L) + 1L)
                i += 1
              }
              ((n - g + 1).toLong, m.values.max, m.values.filter(_ >= 2L).sum)
            }
          val (bTotal, bTop, _) = gramStats(2)
          val (tTotal, _, tDup) = gramStats(3)
          (id, n.toLong,
            if (bTotal == 0L) None else Some(bTop.toDouble / bTotal),
            if (tTotal == 0L) None else Some(tDup.toDouble / tTotal))
        }
      }
      .toDF("doc_id", "n_tokens", "top_bigram_frac", "dup_trigram_frac")
      .orderBy(col("doc_id"))
  }

  /** The C4/Gopher-style pipeline step: keep only documents above a
    * quality bar, returning id + the score that justified keeping
    * them. Filter on a derived column — Catalyst pushes the cheap
    * length precondition into the scan while the full score runs
    * post-scan. */
  def qQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= 0.5)
      .orderBy(col("doc_id"))
  }

  /** Per-source curation: the top 20 documents of each source by
    * quality score (ties → lowest doc_id) — the quota/mixture step
    * that balances sources before training. One shuffle on `source`,
    * rank inside each partition; `WindowGroupLimit` keeps only 20
    * rows per key on the map side before the shuffle. */
  def qCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    d.select(col("doc_id"), col("source"),
        qualityScore(col("text")).as("quality"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 20)
      .orderBy(col("source"), col("rank"))
  }

  /** TF-IDF top terms: per (doc, term) frequency joined with per-term
    * document frequency; score = tf · N/df (linear idf — exact
    * rational arithmetic, so the double is bit-identical across
    * engines, unlike ln whose last ulp is libm-dependent); top-3
    * terms per doc by score desc, term asc. The per-term document
    * frequency is the FULL corpus vocabulary — billions of terms at
    * 100 TB — so it must never carry a broadcast hint: the join runs
    * on the (term-keyed) shuffle, and AQE still picks a broadcast at
    * small SF where the aggregate actually fits under the threshold.
    * Only the 1-row corpus count is hint-broadcast.
    *
    * The (doc, term, tf) working set feeds BOTH the df aggregate and
    * the scoring join; Spark does not share the aliased subtrees, so
    * without the session memo the tokenize+explode+agg ran once per
    * consumer (measured: 3 corpus scans). Memoized+persisted it runs
    * once — the same working-set pattern as the LSH signature sets.
    * (A window-over-term df would also dedupe the subtree but puts
    * every instance of a stopword in ONE window task — join skew is
    * AQE-splittable, window skew is not.) */
  /** The shared (doc_id, term, tf) working set — the inverted-index
    * postings frame [[qTfidfTopTerms]] and [[qBm25]] both consume.
    * Per-doc term counts are a PER-DOCUMENT value, so they compute in
    * one imperative per-partition pass with ZERO shuffle (the
    * [[graft.engine.Dedup.shingleHashSets]] discipline) instead of
    * the former explode + corpus-token groupBy(doc_id, term) exchange
    * (r21 — one full |tokens|-row shuffle and its hash agg gone; the
    * memo's consumers re-pay this build per bench sample, so the
    * build IS the measured cost). Tokens ride
    * [[graft.engine.Dedup.tokensOf]], the oracle-proven twin of the
    * `tokens` Column; counts are exact, so groupBy-equivalence is
    * structural. */
  private[engine] def tfFrame(spark: SparkSession,
      sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"tfidf-tf|$sfDir", eager = true,
      compactRows = Tables.memoizedCount(spark, sfDir, "documents"))({
      import spark.implicits._
      Dedup.spread(Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")), Seq("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, t) =>
          val tk = graft.engine.Dedup.tokensOf(t)
          val m = new java.util.HashMap[String, Long]()
          var i = 0
          while (i < tk.length) {
            m.merge(tk(i), 1L, (a, b) => a + b); i += 1
          }
          val it = m.entrySet().iterator()
          new Iterator[(Long, String, Long)] {
            def hasNext: Boolean = it.hasNext
            def next(): (Long, String, Long) = {
              val e = it.next(); (id, e.getKey, e.getValue)
            }
          }
        })
        .toDF("doc_id", "term", "tf")
    })

  def qTfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val tf = tfFrame(spark, sfDir)
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = d.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .join(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs") / col("df")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Okapi BM25 retrieval (k1 = 1.2, b = 0.75) over the document
    * corpus — the search-scoring operator a training-data pipeline
    * uses for retrieval-based decontamination and mixture targeting.
    * Queries are the corpus's own doc_id < 8 documents, each reduced
    * to its first 4 distinct tokens (by first position); each query
    * retrieves its top-5 docs (self excluded) by summed per-term
    * BM25 contributions.
    *
    * ONE deliberate engine-exactness substitution: the idf factor is
    * the RATIONAL (N − df + ½)/(df + ½) + 1 rather than its
    * logarithm — the [[qTfidfTopTerms]] linear-idf precedent (libm
    * ln differs in the last ulp across engines; the classic log
    * form is one `log(...)` literal away in production and changes
    * only the inter-term weighting, not the machinery). The tf
    * saturation term is the standard tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl)) — all rational IEEE arithmetic in a fixed
    * expression shape mirrored by the oracle, each per-term
    * contribution quantized to integer micro-units BEFORE the
    * order-sensitive sum (the q_correlation discipline), so scores
    * hash-check exactly.
    *
    * Scale shape: the 32-row query-term set is broadcast into the
    * shared (doc, term, tf) working set (the `tfidf-tf` memo — the
    * inverted-index postings scan), df restricts to query terms
    * BEFORE joining, doc lengths join on the doc-keyed shuffle, and
    * a per-(query, doc) agg + bounded top-5 window close it out —
    * postings-sized work, never corpus × queries. */
  def qBm25(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val tf = tfFrame(spark, sfDir)
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fp"), col("term"))
    val qterms = d.filter(col("doc_id") < 8)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("term")).agg(min(col("pos")).as("fp"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= 4)
      .select(col("doc_id").as("qid"), col("term"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val n = d.select(count(lit(1)).as("n_docs"))
    val tot = tf.select(sum(col("tf")).as("tot_tokens"))
    val idf = (col("n_docs") - col("df")).cast("double") + lit(0.5)
    val contrib =
      ((idf / (col("df").cast("double") + lit(0.5)) + lit(1.0))
        * (col("tf").cast("double") * lit(2.2))
        / (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75)
          * col("dl").cast("double")
          / (col("tot_tokens").cast("double")
            / col("n_docs").cast("double"))))) * lit(1e6)
    val matches = tf.join(broadcast(qterms), "term")
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .join(broadcast(n)).join(broadcast(tot))
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        round(contrib).cast("long").as("c"))
    val agg = matches.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c").cast("decimal(38,0)")).cast("long")
        .as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("doc_id"), col("rank"), col("score_micro"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Corpus term frequencies: explode tokens → count — the generator
    * (flatMap) + agg path. Top-100 by count desc, term asc. At scale
    * this is the canonical map-side-combine shuffle: |distinct terms|
    * per task, not |tokens|. */
  def qTermFreq(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(100)
  }

  /** Per-partition lossy-counting summary (Manku & Motwani, VLDB'02)
    * over a token iterator: bucket width `w` tokens; a counter is
    * (count, Δ = bucketIndex−1 at insert); at each bucket boundary,
    * counters with count + Δ ≤ bucketIndex are dropped. Returns the
    * surviving terms WITH their maintained counts. Guarantees: any
    * term with true partition count > N_p/w survives (a drop implies
    * trueCount ≤ count + Δ ≤ bucketIndex ≤ N_p/w), and a survivor's
    * count undercounts its true count by at most N_p/w (it missed at
    * most the occurrences before its last re-insert, bounded by its
    * Δ ≤ N_p/w) — the bound the distributed merge in
    * [[qHeavyHitters]] leans on; memory is O(w·log(N_p/w)) counters;
    * the boundary purge scans O(|counters|) once per w tokens —
    * amortized O(1) per token, unlike textbook Misra-Gries'
    * decrement-all. */
  private[graft] def lossySummary(it: Iterator[String],
      w: Int): Iterator[(String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    var bucket = 1L
    var inBucket = 0
    it.foreach { t =>
      counts.updateWith(t) {
        case Some((c, d)) => Some((c + 1, d))
        case None => Some((1L, bucket - 1))
      }
      inBucket += 1
      if (inBucket == w) {
        counts.filterInPlace { case (_, (c, d)) => c + d > bucket }
        bucket += 1
        inBucket = 0
      }
    }
    counts.iterator.map { case (t, (c, _)) => (t, c) }
  }

  /** Surviving terms only (see [[lossySummary]]). */
  private[graft] def lossyCandidates(it: Iterator[String],
      w: Int): Iterator[String] = lossySummary(it, w).map(_._1)

  /** Heavy hitters — terms with corpus frequency ≥ N/`supportDenom`,
    * with EXACT counts, via the sketch-candidates-then-exact-verify
    * shape (the same posture as the Bloom-prefiltered
    * decontamination: approximate structures narrow, exact operators
    * decide, so the result is deterministic and oracle-checkable).
    *
    * Pass 1 is narrow: per-partition lossy-counting summaries of
    * width w = 2·supportDenom ([[lossySummary]]), MERGED by a
    * distributed sum-and-filter rather than unioned raw — the raw
    * union grows with the partition count (Θ(partitions · w · log)
    * terms; at 100 TB's ~10⁶ splits that is a multi-GB driver
    * broadcast), while the merge is provably ≤ w terms at ANY scale:
    * each survivor's count undercounts its true partition count by
    * ≤ N_p/w, so a term with true global count ≥ N/supportDenom has
    * Σ counts ≥ N/supportDenom − N/w = N/w, and since the counts
    * total ≤ N at most w terms can clear that bar. Pass 2
    * broadcast-joins those ≤ w candidates against the token stream
    * BELOW the aggregation, so the shuffle carries only candidate
    * occurrences pre-combined per task — never the full vocabulary,
    * which at 100 TB is billions of distinct terms. N rides along IN
    * the summary pass (each partition appends a sentinel row with its
    * token count — "" can never be a real term, the tokenizer drops
    * empties), so the whole query is TWO corpus scans: summaries and
    * the exact verify; the merged summary table is session-memoized
    * (bounded: ≤ partitions × w·log terms) because both the
    * N lookup and the candidate filter read it. */
  def qHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val supportDenom = 500L
    val w = (2L * supportDenom).toInt
    val d = Tables(spark, sfDir, "documents")
    val toks = d.select(explode(tokens(col("text"))).as("term"))
    val merged = SessionMemo.frames(spark, s"hhsummary|$sfDir", eager = true)(
      toks.as[String]
        .mapPartitions { it =>
          var np = 0L
          val counted = it.map { t => np += 1; t }
          // lossySummary consumes `counted` fully before returning
          // (its result iterates the internal map, not the input),
          // so np is final by the time the sentinel row is appended
          lossySummary(counted, w) ++ Iterator(("", np))
        }
        .toDF("term", "c")
        .groupBy(col("term")).agg(sum(col("c")).as("cs")))
    val n = merged.filter(col("term") === "")
      .agg(coalesce(sum(col("cs")), lit(0L))).head().getLong(0)
    val threshold = math.max(1L, n / supportDenom)
    // merge bar: threshold − N/w (real-valued, conservative); summed
    // summary counts are map-side combined, so the shuffle carries
    // O(summary terms × partitions) rows, never raw tokens
    val mergeBar = math.max(1.0, threshold.toDouble - n.toDouble / w)
    val cand = merged
      .filter(col("term") =!= "" && col("cs") >= mergeBar)
      .select(col("term"))
    toks.join(broadcast(cand), Seq("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy(col("n").desc, col("term"))
  }

  /** Email-ish pattern for [[qRedact]] — deliberately simple classes
    * only, so Java regex (Spark codegen) and RE2 (DuckDB) agree. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Long digit runs (phone/account/id-shaped). */
  private val longNumRe = "[0-9]{6,}"

  /** PII-style scrubbing (the C4-pipeline redaction pass): emails →
    * `<EMAIL>` first, then 6+-digit runs → `<NUM>` (order matters —
    * the first pass consumes digits inside addresses), with match
    * counts kept as exact integers. A pure codegen'd projection, zero
    * shuffle at any corpus size; the redacted text is emitted as its
    * md5 (the repo's fingerprint convention — verifies the full
    * transform without dumping documents). Deterministic ⇒ the DuckDB
    * oracle recomputes the same two-pass replace with the 'g' flag. */
  def qRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(longNumRe), lit(0)))
          .cast("long").as("n_numbers"),
        md5(regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          longNumRe, "<NUM>")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping token-window chunking — the retrieval/context-window
    * shape (vs [[qPackSequences]], which packs disjoint offsets):
    * windows of W=64 tokens starting every S=48 (16-token overlap,
    * the RAG default of ~25%), last window short, empty docs emit
    * nothing. Starts stop at ntk−(W−S)−1: a later start's window
    * would sit entirely inside its predecessor (zero new tokens — a
    * duplicate retrieval candidate), so it is never emitted; every
    * emitted chunk contributes ≥ S−… ≥ 1 new tokens and the last
    * chunk still reaches the final token. chunk_id = start/S is
    * derivable on both engines, the chunk content is pinned by md5
    * of the space-joined tokens. Replication factor is W/S ≈ 1.33 —
    * one generator over a narrow scan, no shuffle beyond the oracle
    * sort, at any corpus size. */
  def qChunk(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 64
    val S = 48
    val d = Tables(spark, sfDir, "documents")
    d.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0),
          greatest(size(col("tk")) - (W - S) - 1, lit(0)),
          lit(S))).as("start"))
      .select(col("doc_id"),
        (col("start") / S).cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        least(lit(W), size(col("tk")) - col("start")).cast("long")
          .as("n_tok"),
        md5(concat_ws(" ", slice(col("tk"), col("start") + 1, lit(W))))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Winnowing fingerprints (the MOSS scheme): polynomial rolling
    * hash over every k=5-char gram, then the minimum of each w=4
    * window of consecutive gram hashes, distinct per document — the
    * standard local-similarity fingerprint (robust to edits, unlike
    * a whole-document digest).
    * Guarantee: any shared substring of length ≥ k+w-1 = 8 chars
    * yields at least one shared fingerprint. */
  def qWinnowFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    winnowFingerprints(Tables(spark, sfDir, "documents"))
      .orderBy(col("doc_id"), col("fp"))

  /** The fingerprint value is a pure per-document function, so it is
    * computed per document in one `mapPartitions` pass — the same
    * zero-shuffle seam as [[Dedup.shingleHashSets]], and for the same
    * reason: the former expression formulation exploded one row PER
    * CHARACTER (`explode(sequence(...))`) and shuffled them all on
    * doc_id for the window-min — a shuffle of ~|total corpus
    * characters| rows at 100 TB, for values that never needed to
    * leave their input split. The length filter is applied to the
    * INPUT (filters cannot push through a mapPartitions barrier). */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Dedup.spread(docs.filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("text")), Seq("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          winnowFpsOf(text).map(fp => (id, fp))
        }
      }
      .toDF("doc_id", "fp")
  }

  /** JVM twin of the winnowing contract (and the DuckDB oracle):
    * gram hash at position i = (Σⱼ codepoint(cᵢ₊ⱼ)·256^(4−j)) mod
    * 2³¹−1 over code points (Spark `ascii`/`substr` and DuckDB
    * `ord`/`substring` are both code-point-based), fingerprints =
    * distinct minima of every full 4-gram window. Max pre-mod value
    * is < 2⁴⁰ so the accumulator never overflows. */
  private[engine] def winnowFpsOf(text: String): Array[Long] = {
    val cp = text.codePoints().toArray
    val n = cp.length - 4 // number of 5-char grams
    val p = 2147483647L // 2³¹−1
    val kh = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = 0
      while (j < 5) { h = h * 256L + cp(i + j); j += 1 }
      kh(i) = h % p
      i += 1
    }
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var w = 3 // first full window ends at gram index 3 (pos >= 4)
    while (w < n) {
      var m = kh(w)
      var j = w - 3
      while (j < w) { if (kh(j) < m) m = kh(j); j += 1 }
      out += m
      w += 1
    }
    out.toArray
  }

  /** Fingerprints shared before a pair counts as near-dup, and the
    * document-frequency ceiling above which a fingerprint is too
    * common to be evidence — shared with the oracle. */
  private[graft] val winnowMinShared = 5
  private[graft] val winnowMaxDf = 50

  /** MOSS-style near-dup pairs over the winnowing fingerprints
    * (Schleimer et al., "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD'03 — the plagiarism-detection classic):
    * two documents pair when they share ≥ [[winnowMinShared]]
    * fingerprints, after dropping fingerprints that occur in more
    * than [[winnowMaxDf]] documents (MOSS's stop-fingerprint rule —
    * boilerplate selects itself out, exactly like stopwords). A
    * CHARACTER-level near-dup detector, complementary to the
    * token-shingle MinHash path ([[Dedup.qDedupMinhash]]): winnowing
    * guarantees any shared run ≥ w+k−1 chars leaves at least one
    * shared fingerprint, so it catches local overlap (a shared
    * paragraph) that whole-document Jaccard dilutes below its
    * threshold.
    *
    * Scale shape: fingerprints are the zero-shuffle mapPartitions
    * pass ([[winnowFingerprints]]); the df cap is one count keyed by
    * fingerprint, and CAPPING BEFORE PAIRING is what bounds the
    * self-join — join fan per fingerprint ≤ maxDf², so candidate
    * volume is Σ min(df, 50)² over distinct fingerprints, linear in
    * corpus size for any fixed cap (the uncapped inverted-index
    * Σ df² is the quadratic trap the MinHash band join exists to
    * avoid; the cap is the winnowing-side equivalent). */
  def qWinnowNearDup(spark: SparkSession, sfDir: String): DataFrame =
    winnowNearDup(Tables(spark, sfDir, "documents"))

  /** The dataflow behind [[qWinnowNearDup]], over any (doc_id, text)
    * frame. At sf0.01 the ≥5-shared bar covers 25/25 of the
    * MinHash doc-level near-dup pairs while also surfacing
    * local-overlap pairs (the median survivor shares exactly the
    * threshold) — the two detectors are complementary by design, not
    * redundant. */
  def winnowNearDup(d: DataFrame): DataFrame = {
    val fps = winnowFingerprints(d)
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= winnowMaxDf)
      .select(col("fp"))
    val kept = fps.join(rare, Seq("fp"))
    kept.select(col("fp"), col("doc_id").as("ida"))
      .join(kept.select(col("fp"), col("doc_id").as("idb")), Seq("fp"))
      .filter(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .orderBy(col("ida"), col("idb"))
  }

  /** Sequence packing: assign documents (in doc_id order, per shard)
    * to fixed-budget training sequences of 512 tokens — each doc's bin
    * is determined by the token offset where it starts, i.e.
    * contiguous greedy packing. Offsets are SOURCE-LOCAL (sequences
    * never straddle sources — what a real packing run wants). The
    * running sum rides [[Scale.shardedPrefixSumBy]] (r18): sources
    * are FEW AND HUGE at corpus scale, so a flat
    * `Window.partitionBy(source)` funnels each source's full slice
    * through ONE task AQE cannot split — instead each source is cut
    * into 16 balanced doc_id ranges ([[Scale.balancedShards]] on the
    * raw table: 2–3 column-pruned scans of doc_id only, monotone in
    * doc_id so the decomposition is order-preserving and the output
    * is row-identical to the flat window; the oracle arbitrates
    * unchanged). The running sum is integer arithmetic throughout,
    * and seq_id uses integer `div` — double `/` is exact only below
    * 2⁵³, a margin a 100 TB corpus' cumulative offsets erode. Docs
    * longer than the budget occupy ⌈n/512⌉ bins alone (offset math
    * handles them with no special case). */
  def qPackSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val shard = Scale.memoizedShards(spark, s"docid|$sfDir", 16, col("doc_id"))(
      Scale.balancedShards(d, col("doc_id"), 16))
    val base = d.select(col("doc_id"), col("source"),
      tokenCount(col("text")).cast("long").as("ntk"))
    Scale.shardedPrefixSumBy(base, Seq("source"), shard,
        Seq(col("doc_id")), col("ntk"), "end_off")
      .select(col("doc_id"), col("source"), col("ntk"),
        (col("end_off") - col("ntk")).as("start_off"),
        expr("(end_off - ntk) div 512").as("seq_id"))
      .orderBy(col("doc_id"))
  }

  /** Corpus report card: per-source document counts, token mass,
    * char mass, and the quality range — the summary every
    * mixture/quota decision starts from. One narrow scan + one tiny
    * agg (map-side combined). Quality min/max rather than mean:
    * min/max of doubles is aggregation-order-independent, so the
    * result is partitioning-proof and hash-checks bit-exactly (a
    * double mean would depend on summation order). */
  def qSourceStats(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(col("source"),
        tokenCount(col("text")).cast("long").as("ntk"),
        length(col("text")).cast("long").as("nch"),
        qualityScore(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntk")).as("total_tokens"),
        sum(col("nch")).as("total_chars"),
        min(col("q")).as("min_quality"),
        max(col("q")).as("max_quality"))
      .orderBy(col("source"))
  }

  /** Deterministic holdout split: train/val/test assignment by a hash
    * of the document KEY (not position, not RNG) — md5(doc_id) mod
    * 100 → 90/5/5. The standard reproducible split: membership is a
    * pure function of the key, so it survives reshuffles, reruns,
    * and incremental corpus growth; and being md5 it is reproducible
    * by any other system (the DuckDB oracle recomputes it exactly).
    * A narrow projection — no shuffle, no state. */
  def qHoldoutSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val bucket = Tables.md5Bucket(col("doc_id"))
    d.select(col("doc_id"), bucket.cast("long").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe holdout split — the cluster-aware refinement of
    * [[qHoldoutSplit]]: hashing each DOC into a split lets near-
    * duplicate documents straddle train/test, silently leaking
    * training text into evaluation (the decontamination failure the
    * dedup pipeline exists to prevent). Here the split hashes the
    * doc's GROUP — its near-dup cluster label when clustered
    * ([[Dedup.qDedupClusters]]), the doc itself otherwise — so a
    * cluster moves to train/val/test AS A UNIT: same md5 bucket
    * boundaries (90/5/5), same seedless determinism, zero straddles
    * by construction.
    *
    * Scale shape: cluster labels are duplicate-sized; one left join
    * hydrates them onto the corpus (broadcast when small, shuffled
    * equi-join at scale) and the bucket is a per-row md5 — nothing
    * else moves. */
  def qSplitLeakageSafe(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"))
    val cl = Dedup.qDedupClusters(spark, sfDir)
    val g = d.join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
    g.withColumn("bucket",
        Tables.md5Bucket(col("group_id")).cast("long"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** Token-count histogram: documents bucketed by 50-token-wide bins
    * — the length-distribution profile every training-data pipeline
    * runs before choosing sequence-length / packing parameters. One
    * narrow projection + one tiny agg. */
  def qTokenHist(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(floor(tokenCount(col("text")) / 50).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"))
      .select((col("bin") * 50).as("bin_lo"), col("n_docs"))
      .orderBy(col("bin_lo"))
  }

  /** Tokens-per-passage for [[qPassageDedup]]. */
  val passageLen = 10

  /** Passage-level exact dedup with document reassembly — the
    * C4-style "remove duplicated spans across the corpus" pass (C4
    * drops repeated three-sentence spans; this corpus has no sentence
    * boundaries, so the span unit is a fixed [[passageLen]]-token
    * chunk). Each document is cut into non-overlapping passages; a
    * passage instance survives iff it is the globally FIRST
    * occurrence of that passage text in (doc_id, position) order —
    * later copies, including repeats inside the same document, are
    * dropped. Survivors are stitched back per document and
    * fingerprinted, so the output stays narrow (the cleaned text
    * leaves the executors only as an md5).
    *
    * Scale shape: one explode (rows × ~n_tokens/P), one shuffle keyed
    * by passage text for the keep-first window — the same single
    * hash-shuffle as exact document dedup, P× fewer rows than a
    * token-level explode — then one groupBy(doc_id) to reassemble.
    * Hot passages ("the the the…") skew their window partition; AQE
    * skew handling applies, and P=10 chunks keep key cardinality high.
    * Zero-token documents vanish at the explode in both engines. */
  def qPassageDedup(spark: SparkSession, sfDir: String): DataFrame =
    passageDedup(Tables(spark, sfDir, "documents"))

  /** The dataflow behind [[qPassageDedup]], over any (doc_id, text)
    * frame — also driven by [[graft.tools.PassageScale]] on synthetic
    * corpora far beyond the SF fixtures. */
  def passageDedup(d: DataFrame): DataFrame = {
    val p = passageLen
    val t = d.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
    val cut = t.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), ((size(col("tk")) - 1) / p).cast("int")),
        i => array_join(slice(col("tk"), i * p + 1, lit(p)), " ")))
        .as(Seq("pos", "passage")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("passage")).orderBy(col("doc_id"), col("pos"))
    cut.withColumn("keep", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("passage"))))),
            s => s.getField("passage")),
          " ")).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Tokens per duplicated-substring window for [[qSubstringDedup]] —
    * the Lee et al. ≥50-token bar ("Deduplicating Training Data Makes
    * Language Models Better", ACL'22: substrings of 50+ tokens
    * repeated verbatim are memorization fuel and carry no second-copy
    * training signal). */
  val substrLen = 50

  /** EXACT substring-level dedup with document reassembly — the
    * suffix-array ExactSubstr operator re-expressed for a shuffle
    * engine. [[passageDedup]] removes repeated fixed-aligned CHUNKS;
    * this removes repeated ≥[[substrLen]]-token spans at ARBITRARY
    * token offsets: every sliding [[substrLen]]-token window of every
    * document is keyed globally, a window instance that is not the
    * first occurrence of its content in (doc_id, pos) order marks its
    * whole span for removal, and per-document span union (overlapping
    * duplicated windows merge — a duplicated 60-token run is 11
    * duplicated windows whose union is exactly the run) removes the
    * covered tokens before reassembly. A token survives iff no
    * non-first duplicated window covers it, so the kept text is the
    * corpus with every later copy of every ≥50-token repeated span
    * cut out — first occurrences stay intact, same keep-first
    * discipline as [[passageDedup]] and exact doc dedup.
    *
    * Equivalence note: the union of duplicated W-windows equals the
    * union of maximal duplicated runs of length ≥ W, so marking
    * windows reproduces span-level ExactSubstr removal without ever
    * materializing variable-length spans. For a run shared by
    * documents A < B, every window of the run orders A first, so the
    * keep side is consistent per run — never a half-kept copy.
    *
    * Scale shape: window hashing is one imperative mapPartitions pass
    * (the [[Dedup.shingleHashSets]] no-inlining seam — tokenize once
    * per document, emit (doc_id, pos, fnv1a) per window, ~one narrow
    * 20-byte row per corpus token, the same O(corpus tokens) work
    * profile as the suffix-array build it replaces); dup detection is
    * ONE shuffle keyed by the 64-bit window hash (row_number keeps
    * the global first; hot windows skew their partition — AQE skew
    * handling applies, as in [[passageDedup]]); removal positions
    * aggregate per document (rows bounded by DUPLICATED instances
    * only, not corpus size) and join back doc-keyed — the small side
    * is dup-bearing docs, broadcast-eligible under AQE; reassembly
    * re-tokenizes in a second mapPartitions walk (re-tokenizing costs
    * less than shuffling every token array through the join). The
    * cleaned text leaves the executors only as an md5, as in
    * [[passageDedup]]. 64-bit window-hash collisions: P ≈ n²/2⁶⁴ —
    * the same vanishing bound the whole dedup pipeline documents, so
    * the DuckDB string-window oracle hash-matches.
    *
    * Reference scope note: the reference (emr-flink-example) ships no
    * dedup surface at all; this operator is part of the LLM-pipeline
    * brief (SURVEY §2.9). */
  def qSubstringDedup(spark: SparkSession, sfDir: String): DataFrame =
    substringDedup(Tables(spark, sfDir, "documents"))

  /** The duplicated-window removal positions behind [[substringDedup]]
    * — per dup-bearing document, the sorted start positions of every
    * `w`-token window whose content occurred earlier in (doc_id, pos)
    * order. Factored out (r20) so the composed curation pipeline
    * ([[Curation.substringStage]]) can share the detection pass and
    * do its own reassembly (it needs the cleaned TEXT downstream, not
    * the md5 manifest). Input must be an already-spread (doc_id,
    * text) frame; output rows are bounded by DUPLICATED window
    * instances, not corpus size. */
  private[engine] def substringRemovals(docs: DataFrame,
      w: Int = substrLen): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wins = docs.as[(Long, String)].mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val tk = Dedup.tokensOf(text)
        (0 to tk.length - w).iterator
          .map(i => (id, i, Dedup.fnv1a(tk, i, w)))
      }
    }.toDF("doc_id", "pos", "h")
    val keepFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    wins
      .withColumn("rn", row_number().over(keepFirst))
      .filter(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("rems"))
  }

  /** The dataflow behind [[qSubstringDedup]], over any (doc_id, text)
    * frame — also driven by [[graft.tools.SubstrScale]] on synthetic
    * corpora far beyond the SF fixtures. */
  def substringDedup(d: DataFrame, w: Int = substrLen): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val docs = Tables.spread(d.select(col("doc_id"), col("text")),
      keys = Seq("doc_id"))
    val rem = substringRemovals(docs, w)
    docs.join(rem, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[Int]])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text, remOpt) =>
          val tk = Dedup.tokensOf(text)
          if (tk.isEmpty) None // zero-token docs vanish, as in passageDedup
          else {
            val removed = new Array[Boolean](tk.length)
            remOpt.foreach(_.foreach { p =>
              var j = p
              while (j < p + w && j < tk.length) { removed(j) = true; j += 1 }
            })
            val kept = new StringBuilder
            var nRemoved = 0L
            var j = 0
            while (j < tk.length) {
              if (removed(j)) nRemoved += 1
              else { if (kept.nonEmpty) kept.append(' '); kept.append(tk(j)) }
              j += 1
            }
            md.reset()
            val fp = md.digest(kept.result()
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              .map("%02x".format(_)).mkString
            Some((id, tk.length.toLong, nRemoved, fp))
          }
        }
      }.toDF("doc_id", "n_tokens", "n_removed", "clean_fp")
      .orderBy(col("doc_id"))
  }

  /** The pinned BPE merge table — 48 ranked merges over lowercase
    * base characters, ordered like a learned English table (frequent
    * digraphs first, then suffixes and closed-class words). Pinning
    * the table (instead of learning it per-corpus) is what production
    * token accounting does too: the tokenizer that will cut the
    * training sequences is FIXED before the pipeline runs, and every
    * engine that recounts tokens must reproduce it byte-for-byte —
    * so the table is data, not a fit.
    *
    * Invariant (checked by `TextOpsSpec`): every rule's inputs are
    * single base characters or the OUTPUT of a strictly earlier rule.
    * Classic BPE encoding re-picks the lowest-ranked applicable merge
    * after every single merge; under this invariant, applying each
    * rule exhaustively in rank order is equivalent (a merge can only
    * create pairs involving its output token, and every rule
    * consuming that output sits later in the table), which is what
    * both [[bpeEncode]] and the DuckDB oracle's iterated
    * delimiter-string `replace` compute. */
  private[graft] val bpeMerges: IndexedSeq[(String, String)] = IndexedSeq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "r" -> "e",
    "o" -> "n", "e" -> "r", "a" -> "t", "e" -> "n", "o" -> "u",
    "o" -> "r", "e" -> "s", "s" -> "t", "a" -> "r", "a" -> "l",
    "in" -> "g", "i" -> "t", "i" -> "s", "l" -> "e", "an" -> "d",
    "s" -> "e", "c" -> "h", "o" -> "f", "t" -> "o", "r" -> "o",
    "l" -> "l", "e" -> "d", "d" -> "e", "h" -> "i", "g" -> "h",
    "c" -> "o", "m" -> "e", "n" -> "o", "u" -> "s", "m" -> "a",
    "w" -> "h", "l" -> "i", "b" -> "e", "h" -> "a", "u" -> "r",
    "w" -> "i", "th" -> "at", "wi" -> "th", "f" -> "or", "a" -> "s",
    "w" -> "as", "i" -> "on", "t" -> "ion")

  /** BPE-encode one word against [[bpeMerges]]: start from single
    * characters, apply each merge rule in rank order with one
    * left-to-right pass (merging in place never creates an occurrence
    * of the CURRENT pair earlier than the scan point — the merged
    * token differs from both inputs — so one pass per rule reaches
    * that rule's fixpoint). Deterministic, allocation-light; words
    * are short, so the walk is O(len × rules) with tiny constants. */
  /** One left-to-right merge pass for rule (a, b) over a mutable
    * symbol buffer — the ONE definition of "apply a merge", shared by
    * the encoder ([[bpeEncode]]) and both trainer paths
    * ([[bpeTrain]]), so learned tables always replay exactly. */
  private def mergePass(syms: scala.collection.mutable.ArrayBuffer[String],
      a: String, b: String): Unit = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == a && syms(i + 1) == b) {
        syms(i) = a + b
        syms.remove(i + 1)
      } else i += 1
    }
  }

  /** Base symbols of a word: one per CODE POINT, not UTF-16 unit —
    * the repo-wide convention ([[winnowFpsOf]] documents it): Spark,
    * the JVM driver loop, and DuckDB's `(.)` regex all agree on code
    * points, while a char split would shear an astral character into
    * two lone surrogates (diverging from the oracle AND mangling
    * under UTF-8 round-trips in the distributed trainer). */
  private def codePointSyms(word: String)
      : scala.collection.mutable.ArrayBuffer[String] = {
    val syms = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var ci = 0
    while (ci < word.length) {
      val n = Character.charCount(word.codePointAt(ci))
      syms += word.substring(ci, ci + n)
      ci += n
    }
    syms
  }

  private[graft] def bpeEncode(word: String): IndexedSeq[String] = {
    val syms = codePointSyms(word)
    var mi = 0
    while (mi < bpeMerges.length) {
      val (a, b) = bpeMerges(mi)
      mergePass(syms, a, b)
      mi += 1
    }
    syms.toIndexedSeq
  }

  /** Merges learned by the trainer QUERIES — small enough that the
    * forced-distributed twin's per-round jobs stay cheap in Verify;
    * [[bpeTrain]] itself takes any count. */
  private[graft] val bpeTrainMerges = 16

  /** LEARN a BPE merge table from the corpus (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * ACL'16) — the training half of the BPE surface ([[bpeMerges]] is
    * the frozen artifact such a fit produces). Returns (rank, a, b,
    * pair_count): the `nMerges` highest-count adjacent symbol pairs,
    * merged greedily, ties broken (count desc, a asc, b asc) so the
    * fit is fully deterministic.
    *
    * Execution is the [[Dedup.labelComponents]] hybrid shape: the
    * CORPUS-sized work is one tokenize + groupBy(word) shuffle down
    * to the word-frequency dictionary — after that every round
    * touches only the vocabulary, which Zipf makes orders of
    * magnitude smaller than the corpus. When the dictionary fits
    * under `driverVocabLimit` rows it is collected and fitted with
    * the classic in-memory loop (the judgment call every production
    * BPE trainer makes — one job total); a dictionary too large even
    * for that runs the fit AS Spark rounds: per merge, one
    * flatMap-over-adjacent-pairs + map-side-combined sum + top-1
    * collect (24 bytes to the driver), then a vocabulary rewrite via
    * the shared [[mergePass]], lineage cut per round by a lazy
    * localCheckpoint that materializes inside the next round's
    * aggregate (the [[Dedup.connectedComponents]] discipline). Both
    * paths apply merges with the same pass, so they are
    * row-identical (asserted by `TextOpsSpec` and the forced-dist
    * query twin). */
  def bpeTrain(spark: SparkSession, sfDir: String,
      nMerges: Int = bpeTrainMerges,
      // measured crossover (BpeScale r17, 1000 merges over 100M
      // tokens): at a 10k-word dictionary the driver classic fit is
      // ~7x cheaper per merge than a Spark round (55 vs 405 ms); at a
      // 1M-word dictionary the DISTRIBUTED loop wins 2.8x (547 vs
      // 1520 ms/merge, identical tables) — the driver loop scales
      // linearly with the dictionary while the round overhead is
      // ~flat, crossing near ~400k rows, well before memory becomes
      // the binding constraint
      driverVocabLimit: Long = 400000L): DataFrame =
    bpeTrainOn(Tables(spark, sfDir, "documents"), nMerges, driverVocabLimit)

  /** [[bpeTrain]] over any (text) frame — the seam
    * [[graft.tools.BpeScale]] drives on synthetic corpora. */
  private[graft] def bpeTrainOn(d: DataFrame, nMerges: Int,
      driverVocabLimit: Long, onRound: Int => Unit = _ => (),
      wordBudget: Long = bpeTailBudget): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val vocab0 = d.select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) => (codePointSyms(w).toSeq, c) }
    val learned: Seq[(Long, String, String, Long)] =
      if (driverVocabLimit < 0L) bpeFitRounds(vocab0, nMerges,
        onRound = onRound, wordBudget = wordBudget)
      else {
        val v = vocab0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = v.count()
        val res =
          if (n <= driverVocabLimit) bpeFitDriver(v.collect(), nMerges)
          else bpeFitRounds(v, nMerges, onRound = onRound,
            wordBudget = wordBudget)
        v.unpersist()
        res
      }
    spark.createDataset(learned).toDF("rank", "a", "b", "pair_count")
      .orderBy(col("rank"))
  }

  /** The classic in-memory fit over a collected dictionary — count
    * every adjacent position (overlaps included, the Sennrich
    * `get_stats` convention), merge the winner everywhere with
    * [[mergePass]], repeat. INCREMENTAL since r18: a full dictionary
    * rescan per merge made an 8k-merge fit on a 1M-word dictionary a
    * multi-hour driver loop (r17 measured 1520 ms/merge). Instead the
    * pair counts, an inverted index pair→word-ids and an ordered
    * queue are maintained exactly: each merge touches only the words
    * that CONTAIN the winning pair, recomputing each affected word's
    * full pair multiset before/after the rewrite (exact by
    * construction — no in-place occurrence arithmetic to get subtly
    * wrong). Selection order (count desc, a asc, b asc) and the
    * rewrite ([[mergePass]]) are unchanged, so the learned table is
    * identical to the rescan loop's — `TextOpsSpec` re-derives it
    * with an independent rescan trainer on the fixture and the
    * randomized adversarial corpora. Cost per merge is
    * O(Σ affected-word lengths · log |pairs|), near-linear over a
    * whole fit where the rescan loop was quadratic. */
  private def bpeFitDriver(dict: Array[(Seq[String], Long)],
      nMerges: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val words = dict.map { case (s, c) =>
      (mutable.ArrayBuffer.from(s), c)
    }
    def pairsOf(syms: mutable.ArrayBuffer[String])
        : Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String,
        Ordering.String)
    val queue = mutable.TreeSet.empty[(Long, String, String)]
    def bump(k: (String, String), d: Long): Unit = {
      val old = counts.getOrElse(k, 0L)
      val nw = old + d
      if (old > 0) queue.remove((old, k._1, k._2))
      if (nw > 0) { counts(k) = nw; queue.add((nw, k._1, k._2)) }
      else { counts.remove(k); where.remove(k) }
    }
    words.iterator.zipWithIndex.foreach { case ((syms, c), wi) =>
      pairsOf(syms).foreach { k =>
        bump(k, c)
        where.getOrElseUpdate(k, mutable.Set.empty) += wi
      }
    }
    val out = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    while (r <= nMerges && queue.nonEmpty) {
      val (n, a, b) = queue.head
      out += ((r.toLong, a, b, n))
      val affected = where.get((a, b)).map(_.toArray)
        .getOrElse(Array.empty[Int])
      affected.foreach { wi =>
        val (syms, c) = words(wi)
        val before = pairsOf(syms).toArray
        mergePass(syms, a, b)
        val after = pairsOf(syms).toArray
        val delta = mutable.HashMap.empty[(String, String), Long]
        before.foreach(k => delta.update(k, delta.getOrElse(k, 0L) - c))
        after.foreach(k => delta.update(k, delta.getOrElse(k, 0L) + c))
        delta.foreach { case (k, d) => if (d != 0L) bump(k, d) }
        val beforeSet = before.toSet
        val afterSet = after.toSet
        beforeSet.diff(afterSet).foreach(k => where.get(k).foreach(_ -= wi))
        afterSet.diff(beforeSet).foreach(k =>
          where.getOrElseUpdate(k, mutable.Set.empty) += wi)
      }
      r += 1
    }
    out.toSeq
  }

  /** Candidates examined per batched round — bounds the per-round
    * driver collect at K 3-string rows and the batch size at K. */
  private[graft] val bpeBatchK = 256

  /** Tail-mode word budget (r19): a round may collect the words
    * containing its candidate pairs for the exact sub-dictionary
    * replay ([[bpeReplaySub]]) only when their number is provably
    * under this bound. CONSTANT by design — driver state for the
    * distributed fit stays O(budget) words regardless of corpus or
    * dictionary size; the bound is Σ candidate counts (every word
    * containing a candidate contributes ≥ 1 to some candidate's
    * count), checked against the count histogram before anything is
    * collected. 2²⁰ words ≈ 100–200 MB of transient per-round driver
    * state at realistic word lengths — same envelope as the
    * `driverVocabLimit` classic-fit structures, but freed at round
    * end. Sizing rationale: the gate is Σ counts of the candidate
    * window, so at a 100M-token corpus the 32k-merge tail (counts
    * ~10³) needs ~2²⁰ before any round qualifies; a 2¹⁸ first cut
    * never fired on exactly that fit. */
  private[graft] val bpeTailBudget = 1L << 20

  /** Tail-mode candidate-row cap — bounds the (a, b, n) rows collected
    * for a threshold window (the companion bound to [[bpeTailBudget]];
    * rows are 3 short strings, so 2²⁰ rows ≈ 60 MB transient). */
  private[graft] val bpeTailKMax = 1 << 20

  /** One pool row of the driver-side sequential replay: a live pair
    * key with its tracked count. `tainted` rows hold an UPPER BOUND
    * instead of an exact count — they can never be selected, only
    * ruled out (true counts only ever decrease, so a stale value
    * stays a valid bound). */
  private[graft] final class BpeEntry(val a: String, val b: String,
      var count: Long, var tainted: Boolean)

  /** Driver-side EXACT replay of the sequential trainer over one
    * round's statistics — the pure core of the batched distributed
    * fit, factored out so `TextOpsSpec` can unit-test it directly.
    * Returns the merges of this round IN SEQUENTIAL ORDER with their
    * exact selection-time counts; the caller applies them with
    * [[mergePass]] in that order, which reproduces the sequential
    * vocabulary bit-for-bit.
    *
    * Inputs, all measured against the round's starting vocabulary:
    * `cands` = the top-K pairs in the trainer's total order
    * (count desc, a asc, b asc); `leftT(i)` maps x → count of triples
    * (x, a_i, b_i) and `rightT(i)` maps y → count of (a_i, b_i, y)
    * (filtered: a key survives if its count exceeds `nEdge` or the
    * key is another candidate's symbol); `collided` = candidate
    * output strings that already exist as symbols in the pair table;
    * `nEdge` = the count of the last candidate when the window is
    * full (0 otherwise — everything is tracked).
    *
    * Soundness argument, piece by piece:
    *
    *  - Merging (a,b) with a ≠ b merges EVERY occurrence (two
    *    occurrences of a two-distinct-symbol pair cannot overlap), so
    *    destruction is exact arithmetic: pair (x, a) loses exactly
    *    triples(x, a, b) occurrences (its `a` consumed as a merged
    *    left half — the x side cannot be consumed because its
    *    follower is `a`, and no applied merge has `a` as its right
    *    half while `a` is untouched); pair (b, y) symmetrically loses
    *    triples(a, b, y). Created pairs are (x, a+b) with exactly
    *    triples(x, a, b) occurrences and (a+b, y) with
    *    triples(a, b, y) — the sole exceptions are the self-overlap
    *    shapes ((b, a), (x=b, ·), (·, y=a), (a+b, a+b)), where the
    *    quadruple (a, b, a, b) double-counts; those rows are TAINTED
    *    (kept at their value as an upper bound) instead of updated.
    *  - Triple counts never increase (a merge replaces two symbols
    *    with one and never deletes a symbol, so no new adjacency
    *    forms between surviving symbols). A pre-round triple map
    *    value can therefore only be an OVER-estimate, and subtracting
    *    a stale value could UNDERSHOOT — so stale uses taint instead
    *    of updating. Staleness is tracked PER KEY against the merges
    *    already applied this round: the left map (x, a, b) goes
    *    wholly stale when b was an applied LEFT half (its follower
    *    outside the triple is unknowable); key x goes stale when x
    *    was an applied RIGHT half, a created output, or the left half
    *    of an applied (x, a); the right map mirrors this. Everything
    *    else is provably unconsumed and the map stays exact, which is
    *    what lets chained merges over shared symbols keep batching.
    *  - Selection: the true global argmax is provably the selected
    *    row because (a) untracked original pairs started ≤ nEdge and
    *    only decrease — the strict `count > nEdge` guard covers them
    *    (the FIRST pick needs no guard: pre-round order alone makes
    *    it the argmax); (b) created pairs below the map filter
    *    started ≤ nEdge too; (c) every other live possibility is in
    *    the pool, exact rows by deterministic (count, a, b) order and
    *    tainted rows ruled out by strict bound comparison (a tainted
    *    row that ties the winner only passes if the winner also wins
    *    the tie-break).
    *  - STOP closes every unprovable continuation: the argmax is
    *    tainted, a tainted bound ties/beats it, the count guard
    *    fails, the merge is self-adjacent (a == b: greedy
    *    left-to-right run semantics make right-side deltas
    *    parity-dependent), its output collides with an existing or
    *    created symbol, or it is itself a created pair (its triple
    *    maps would be quadruples we never measured). The merge is
    *    still emitted — sequential had chosen it — and the NEXT round
    *    recounts from scratch. */
  private[graft] def bpeSimulateRound(
      cands: IndexedSeq[(String, String, Long)],
      leftT: Int => Map[String, Long], rightT: Int => Map[String, Long],
      collided: Set[String], nEdge: Long,
      remaining: Int): IndexedSeq[(String, String, Long)] = {
    import scala.collection.mutable
    val pool = mutable.LinkedHashMap.empty[(String, String), BpeEntry]
    cands.foreach { case (a, b, n) =>
      pool((a, b)) = new BpeEntry(a, b, n, false)
    }
    val candIdx = cands.iterator.zipWithIndex
      .map { case ((a, b, _), i) => (a, b) -> i }.toMap
    val lh = mutable.Set.empty[String]        // left inputs of applied
    val rh = mutable.Set.empty[String]        // right inputs of applied
    val created = mutable.Set.empty[String]   // outputs of applied
    val applied = mutable.ArrayBuffer.empty[(String, String)]
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = false
    while (!stop && out.size < remaining && pool.nonEmpty) {
      // argmax over the pool by (count desc, a asc, b asc)
      var best: BpeEntry = null
      pool.values.foreach { e =>
        if (best == null || e.count > best.count ||
          (e.count == best.count &&
            (e.a < best.a || (e.a == best.a && e.b < best.b)))) best = e
      }
      val first = out.isEmpty
      val tieSafe = pool.values.forall { e =>
        (e eq best) || !e.tainted || e.count < best.count ||
          (e.count == best.count &&
            (best.a < e.a || (best.a == e.a && best.b < e.b)))
      }
      if (best.tainted || !tieSafe ||
        (!first && best.count <= nEdge) || best.count <= 0L) stop = true
      else {
        out += ((best.a, best.b, best.count))
        val a = best.a; val b = best.b; val c = a + b
        val idx = candIdx.get((a, b))
        pool.remove((a, b))
        if (idx.isEmpty || a == b || collided(c) || created(c)) {
          // emitted, but nothing after it is provable this round:
          // its triple maps don't exist (created pair), are
          // parity-dependent (a == b), or its output folds into an
          // existing/earlier symbol's pair keys
          stop = true
        } else {
          // per-key staleness of this merge's PRE-ROUND triple maps
          // against the merges already applied this round (triples
          // only decrease, so a stale value over-subtracts — taint
          // instead): the left map (x, a, b) is wholly stale when
          // some applied l consumed b as a LEFT half with an
          // arbitrary follower (b == a_l); key x is stale when x was
          // consumable as a right half (x ∈ rh), is a created symbol,
          // or was the left half of an applied (x, a) merge
          // (b_l == a); the right map mirrors this
          val wholeL = lh(b)
          val wholeR = rh(a)
          val staleLx = applied.iterator
            .filter(_._2 == a).map(_._1).toSet
          val staleRy = applied.iterator
            .filter(_._1 == b).map(_._2).toSet
          def lStale(x: String): Boolean =
            wholeL || rh(x) || created(x) || staleLx(x)
          def rStale(y: String): Boolean =
            wholeR || lh(y) || created(y) || staleRy(y)
          val lT = leftT(idx.get)
          val rT = rightT(idx.get)
          // destruction deltas on live rows
          pool.values.foreach { e =>
            if (e.b == a && e.a == b) e.tainted = true // quad shape
            else if (e.b == a) {
              if (lStale(e.a)) e.tainted = true
              else e.count = math.max(0L, e.count - lT.getOrElse(e.a, 0L))
            } else if (e.a == b) {
              if (rStale(e.b)) e.tainted = true
              else e.count = math.max(0L, e.count - rT.getOrElse(e.b, 0L))
            }
          }
          // created rows: exact unless the map value is stale or the
          // shape self-overlaps; skip anything at or below the filter
          // edge (it can never be selected and nEdge already rules
          // the whole class out)
          lT.foreach { case (x, n) =>
            if (n > nEdge && !pool.contains((x, c))) {
              // x == b is the quad shape ([a,b,a,b]: that x is itself
              // consumed); x == a is safe (its follower is a, not b)
              pool((x, c)) = new BpeEntry(x, c, n, x == b || lStale(x))
            }
          }
          rT.foreach { case (y, n) =>
            if (n > nEdge && !pool.contains((c, y))) {
              // y == a is the quad shape ([a,b,a,b]: that y merges
              // with its follower); y == b is safe (preceded by b)
              pool((c, y)) = new BpeEntry(c, y, n, y == a || rStale(y))
            }
          }
          // the quad shape (c, c), bounded by either side's triples
          val ccUb = math.min(lT.getOrElse(b, Long.MaxValue),
            rT.getOrElse(a, Long.MaxValue))
          if (ccUb != Long.MaxValue && ccUb > nEdge &&
            !pool.contains((c, c)))
            pool((c, c)) = new BpeEntry(c, c, ccUb, true)
          lh += a; rh += b; created += c; applied += ((a, b))
        }
      }
    }
    out.toIndexedSeq
  }

  /** Split a round's merge rules into maximal prefix segments safe
    * for the lowest-rank-first rewrite ([[applySegment]]). Within a
    * segment, sequential full application (rule 1 fully, then rule 2,
    * …) is EQUIVALENT to repeatedly fully-applying the lowest-ranked
    * rule present, PROVIDED no earlier rule's INPUT equals a later
    * rule's OUTPUT (otherwise the later rule could re-materialize an
    * earlier rule's pair, which sequential would never revisit but
    * lowest-rank-first would) and no rule pair repeats (a re-learned
    * pair needs a fresh pass). Induction: let r_m be the lowest rule
    * present — rules before it are absent, both orders apply r_m
    * fully, and r_m's creations involve only its output, which by the
    * segment property is no earlier rule's input, so earlier rules
    * stay absent. Hazards require an output string colliding with a
    * symbol already referenced — rare, so segments are almost always
    * the whole batch. */
  private[graft] def batchSegments(rules: IndexedSeq[(String, String)])
      : IndexedSeq[IndexedSeq[(String, String)]] = {
    import scala.collection.mutable
    val segs = mutable.ArrayBuffer.empty[IndexedSeq[(String, String)]]
    val cur = mutable.ArrayBuffer.empty[(String, String)]
    val inputs = mutable.Set.empty[String]
    val keys = mutable.Set.empty[(String, String)]
    rules.foreach { r =>
      if (inputs(r._1 + r._2) || keys(r)) {
        segs += cur.toIndexedSeq; cur.clear(); inputs.clear(); keys.clear()
      }
      cur += r; inputs += r._1; inputs += r._2; keys += r
    }
    if (cur.nonEmpty) segs += cur.toIndexedSeq
    segs.toIndexedSeq
  }

  /** Apply one [[batchSegments]] segment to a symbol buffer by
    * repeatedly fully-applying (via the shared [[mergePass]]) the
    * lowest-ranked rule present — O((merges applied + 1) · len) per
    * word, INDEPENDENT of segment size, where the naive
    * rule-by-rule sweep costs O(\|segment\| · len) even when nothing
    * matches (ruinous once tail rounds emit thousands of merges).
    * `rank` maps each rule pair to its index in `rules`. */
  private[graft] def applySegment(
      syms: scala.collection.mutable.ArrayBuffer[String],
      rank: scala.collection.Map[(String, String), Int],
      rules: IndexedSeq[(String, String)]): Unit = {
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else mergePass(syms, rules(best)._1, rules(best)._2)
    }
  }

  /** TAIL-MODE round replay (r19): the exact sequential trainer run
    * driver-side over the SUB-DICTIONARY of words containing any
    * candidate pair — the generalization of [[bpeSimulateRound]]'s
    * depth-1 triple arithmetic to unlimited depth. Once every word
    * containing a candidate is in hand, the round needs no taint
    * machinery at all: uncollected words are FIXED POINTS of the
    * whole batch (they contain no candidate, so the first rule never
    * fires in them, and created symbols — hence all later rules —
    * exist only where earlier rules fired), so every count delta of
    * the round happens inside the collected words and the replay is
    * the literal [[bpeFitDriver]] incremental loop. Created-pair
    * argmaxes, a == b merges and output collisions all just… replay.
    *
    * What remains unprovable is bounded, not tainted:
    *  - UNTRACKED pairs (below the count-threshold window) started
    *    ≤ `nEdge` and, absent a collision, only decrease — the
    *    strict `count > nEdge` selection guard covers them (first
    *    pick exempt: the global pre-round order already made it the
    *    argmax).
    *  - A pair whose BOTH symbols predate the round and which is not
    *    a candidate may also live in uncollected words; its global
    *    count is cnt_sub + out with out = global_pre − sub_pre
    *    ≤ nEdge − sub_pre FIXED for the round (uncollected words
    *    never change). Such pairs carry that `extra` allowance and
    *    can only be ruled out (their exact count is unknowable, so
    *    selecting one stops the round — the [[bpeSimulateRound]]
    *    taint-tie semantics). A pair involving a symbol CREATED this
    *    round is exact (extra 0) unless the created string collides
    *    with a pre-round symbol — and `preSymbol` (the full pair
    *    table's distinct-symbol set, alphabet-bounded, collected
    *    once per tail round) decides exactly that, at any depth.
    *
    * `cands` must be EVERY pair with global count > nEdge (the
    * threshold-window contract — the caller derives the threshold
    * from the count histogram so tie plateaus are never split), in
    * (count desc, a asc, b asc) order; `sub` every word containing
    * any of them. The replay `require`s that each candidate's in-sub
    * count equals its global count — the collection contract made
    * checkable. Output: the round's merges in sequential order with
    * exact selection-time counts, ≤ `remaining`. */
  private[graft] def bpeReplaySub(
      sub: Array[(Seq[String], Long)],
      cands: IndexedSeq[(String, String, Long)],
      preSymbol: String => Boolean,
      nEdge: Long,
      remaining: Int): IndexedSeq[(String, String, Long)] = {
    import scala.collection.mutable
    val candSet = cands.iterator.map(c => (c._1, c._2)).toSet
    val words = sub.map { case (s, c) => (mutable.ArrayBuffer.from(s), c) }
    def pairsOf(syms: mutable.ArrayBuffer[String])
        : Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    words.iterator.zipWithIndex.foreach { case ((syms, c), wi) =>
      pairsOf(syms).foreach { k =>
        cnt.update(k, cnt.getOrElse(k, 0L) + c)
        where.getOrElseUpdate(k, mutable.Set.empty) += wi
      }
    }
    cands.foreach { case (a, b, n) =>
      require(cnt.getOrElse((a, b), 0L) == n,
        s"bpeReplaySub: sub-dictionary undercounts candidate ($a,$b): " +
          s"${cnt.getOrElse((a, b), 0L)} vs global $n — collection " +
          "contract broken")
    }
    // fixed outside-sub allowance per pair (see scaladoc); computed
    // at FIRST sight — round start for initial pairs, creation time
    // (sub_pre = 0) for pairs appearing mid-round — and never revised
    val extra = mutable.HashMap.empty[(String, String), Long]
    def extraInit(k: (String, String), subPre: Long): Long =
      if (candSet(k) || !preSymbol(k._1) || !preSymbol(k._2)) 0L
      else math.max(0L, nEdge - subPre)
    cnt.keysIterator.foreach(k => extra(k) = extraInit(k, cnt(k)))
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Ordering.String,
        Ordering.String)
    // exact pairs selectable by true count; bounded pairs tracked by
    // UPPER bound, queued only while the bound could matter (> nEdge
    // — a winner must beat nEdge anyway, and extra ≤ nEdge keeps
    // round-start bounded entries out)
    val exactQ = mutable.TreeSet.empty[(Long, String, String)]
    val boundQ = mutable.TreeSet.empty[(Long, String, String)]
    cnt.foreach { case (k, c) =>
      if (extra(k) == 0L) exactQ.add((c, k._1, k._2))
      else if (c + extra(k) > nEdge) boundQ.add((c + extra(k), k._1, k._2))
    }
    def bump(k: (String, String), d: Long): Unit = {
      val e = extra.getOrElseUpdate(k, extraInit(k, 0L))
      val old = cnt.getOrElse(k, 0L)
      val nw = old + d
      if (e == 0L) {
        if (old > 0) exactQ.remove((old, k._1, k._2))
        if (nw > 0) { cnt(k) = nw; exactQ.add((nw, k._1, k._2)) }
        else { cnt.remove(k); where.remove(k) }
      } else {
        if (old + e > nEdge) boundQ.remove((old + e, k._1, k._2))
        if (nw > 0) cnt(k) = nw
        else { cnt.remove(k); where.remove(k) }
        if (nw + e > nEdge) boundQ.add((nw + e, k._1, k._2))
      }
    }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = false
    while (!stop && out.size < remaining && exactQ.nonEmpty) {
      val (n, a, b) = exactQ.head
      val first = out.isEmpty
      val boundBlocks = boundQ.headOption.exists { case (u, ba, bb) =>
        u > n || (u == n && (ba < a || (ba == a && bb < b)))
      }
      if (!first && (n <= nEdge || boundBlocks)) stop = true
      else {
        out += ((a, b, n))
        val affected = where.get((a, b)).map(_.toArray)
          .getOrElse(Array.empty[Int])
        affected.foreach { wi =>
          val (syms, c) = words(wi)
          val before = pairsOf(syms).toArray
          mergePass(syms, a, b)
          val after = pairsOf(syms).toArray
          val delta = mutable.HashMap.empty[(String, String), Long]
          before.foreach(k => delta.update(k, delta.getOrElse(k, 0L) - c))
          after.foreach(k => delta.update(k, delta.getOrElse(k, 0L) + c))
          delta.foreach { case (k, d) => if (d != 0L) bump(k, d) }
          val beforeSet = before.toSet
          val afterSet = after.toSet
          beforeSet.diff(afterSet)
            .foreach(k => where.get(k).foreach(_ -= wi))
          afterSet.diff(beforeSet).foreach(k =>
            where.getOrElseUpdate(k, mutable.Set.empty) += wi)
        }
      }
    }
    out.toIndexedSeq
  }

  /** The distributed fit: the vocabulary itself stays a Dataset and
    * each ROUND learns a provably-sequential BATCH of merges (r18 —
    * previously one merge per round; at real vocabulary sizes the
    * ~0.5 s/round scheduling floor made a 32k-merge fit hours of
    * driver round-trips). Per round: ONE pair-count aggregate yields
    * the top-[[bpeBatchK]] candidates in the trainer's total order
    * plus a second bounded scan for their triple maps, and
    * [[bpeSimulateRound]] replays the sequential selection loop
    * driver-side with EXACT count updates (see its scaladoc for the
    * soundness argument), emitting merges until the next argmax is no
    * longer provable from the round's statistics. The whole batch is
    * applied in emission order inside a single vocabulary rewrite
    * via [[batchSegments]] + [[applySegment]] (equivalent to the
    * sequential rule-by-rule sweep, but O(matches), not O(batch),
    * per word), so the resulting vocabulary is bit-identical to the
    * sequential path's. Learned tables are therefore IDENTICAL to
    * [[bpeFitDriver]] on any corpus (asserted by `TextOpsSpec`'s
    * randomized adversarial property and the fixture twin, measured
    * at scale by [[graft.tools.BpeScale]]).
    *
    * TAIL MODE (r19): when the count histogram shows that every pair
    * above some threshold t has affordable support — Σ counts ≤
    * `wordBudget` bounds the words containing them, candidate rows ≤
    * `tailKMax` — the round switches to [[bpeReplaySub]]: collect
    * exactly those words and replay the classic trainer on them with
    * nEdge = t − 1. Threshold windows never split a tie plateau (the
    * r18 failure mode: flat tie-dense tail counts shrank the top-K
    * window's provable batches toward 1), and the replay has no
    * taint/collision/self-adjacency stops at all, so tail rounds emit
    * thousands of merges — and once every pair is affordable
    * (nEdge = 0) the round finishes the entire remaining fit. Driver
    * state stays O(budget) by CONSTANT bounds, independent of corpus
    * and dictionary size; the gate costs the head path nothing (the
    * histogram is only aggregated once the already-collected top-K
    * counts sum under the budget — in head rounds they never do). */
  private[graft] def bpeFitRounds(vocab0: Dataset[(Seq[String], Long)],
      nMerges: Int, batchK: Int = bpeBatchK,
      // per-round observer (batch size) — [[graft.tools.BpeScale]]
      // records round counts with it; a no-op in production paths
      onRound: Int => Unit = _ => (),
      wordBudget: Long = bpeTailBudget, tailKMax: Int = bpeTailKMax)
      : Seq[(Long, String, String, Long)] = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    var vocab = vocab0.localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var done = false
    // previous round's batch size — the PROBE-ON-STALL signal: once
    // the head simulation degenerates (tie-dense counts, taint
    // stops), rounds spend a vocab pass to measure the TRUE
    // sub-dictionary size instead of trusting the loose Σ-counts
    // bound (which over-counts words shared between candidates by
    // orders of magnitude exactly where the head path stalls)
    var lastBatch = Int.MaxValue
    // failed-probe backoff: when the measured sub-dictionary exceeds
    // the budget, skip re-probing for a while — the pair table
    // shifts by ~1 merge/round in that regime, so re-measuring every
    // round pays a vocab pass for an answer that cannot have changed
    var probeCooldown = 0
    while (out.size < nMerges && !done) {
      if (probeCooldown > 0) probeCooldown -= 1
      val pairs = vocab.flatMap { case (syms, c) =>
        (0 until syms.length - 1).iterator
          .map(i => (syms(i), syms(i + 1), c))
      }.toDF("a", "b", "cnt")
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // try/finally so a failed collect cannot leak the cache entry
      // for the rest of the session (r18 ADVICE)
      val (cands, collided, tailRound) = try {
        val cs = pairs.orderBy(desc("n"), col("a"), col("b"))
          .limit(batchK)
          .as[(String, String, Long)].collect().toIndexedSeq
        // tail gate, two entry lanes:
        //  - CHEAP: Σ top-K counts ≤ wordBudget proves (words
        //    containing a candidate ≤ Σ its counts) the sub-dict is
        //    affordable with no extra pass — head rounds never pay
        //    the histogram;
        //  - PROBE-ON-STALL: once the head simulation degenerates
        //    (lastBatch < 8), the Σ bound is typically loose by the
        //    word-overlap factor, so spend one vocab pass to COUNT
        //    the true sub-dictionary and collect it if it fits.
        val cheap = cs.nonEmpty &&
          cs.iterator.map(_._3).sum <= wordBudget
        val tail: Option[(IndexedSeq[(String, String, Long)],
            Set[String], Long)] =
          if (cs.isEmpty ||
            (!cheap && (lastBatch >= 8 || probeCooldown > 0))) None
          else {
            val hist = pairs.groupBy(col("n"))
              .agg(count(lit(1)).as("f"))
              .as[(Long, Long)].collect().sortBy(-_._1)
            val totalRows = hist.iterator.map(_._2).sum
            var rows = 0L; var wsum = 0L; var ti = 0
            var fits = true
            while (fits && ti < hist.length) {
              val (n, f) = hist(ti)
              // the row cap always binds; the Σ cap only on the
              // cheap lane (the probe lane measures instead). n/f
              // caps keep n·f inside Long.
              if (f > tailKMax || rows + f > tailKMax ||
                (cheap && (n > wordBudget || wsum + n * f > wordBudget)))
                fits = false
              else {
                rows += f
                if (cheap) wsum += n * f
                ti += 1
              }
            }
            val full = ti == hist.length
            if (ti > 0 && (full || rows >= math.min(batchK.toLong,
              totalRows))) {
              val t = hist(ti - 1)._1
              val candsT = pairs.filter(col("n") >= t)
                .as[(String, String, Long)].collect()
                .sortBy(c => (-c._3, c._1, c._2)).toIndexedSeq
              // distinct symbols of the FULL pair table — the exact
              // collision oracle for round-created strings at any
              // depth; bounded by the symbol alphabet, not the
              // dictionary
              val preSyms = pairs.select(col("a"))
                .union(pairs.select(col("b")))
                .distinct().as[String].collect().toSet
              // a FULL window excludes nothing — nEdge 0 lets the
              // replay run the fit to the end
              Some((candsT, preSyms, if (full) 0L else t - 1L))
            } else {
              // window never reached (e.g. one count level alone
              // exceeds tailKMax): in the stalled-head regime this
              // failure is as stable round-to-round as the counted-
              // probe failure — the pair table shifts by ~1 merge per
              // round — so back off the same way instead of re-paying
              // the full histogram aggregation every round (r19
              // ADVICE). Cheap-lane walks don't set it: the cheap
              // lane ignores the cooldown and head rounds move the
              // table by whole batches.
              if (!cheap) probeCooldown = 32
              None
            }
          }
        val concats = cs.map(c => c._1 + c._2)
        // which candidate outputs already live in the pair table?
        // (head mode only — tail rounds get collision answers from
        // the distinct-symbol set)
        val coll =
          if (cs.isEmpty || tail.nonEmpty) Set.empty[String]
          else pairs
            .filter(col("a").isInCollection(concats) ||
              col("b").isInCollection(concats))
            .select(col("a"), col("b")).as[(String, String)].collect()
            .iterator.flatMap(p => Iterator(p._1, p._2)).toSet
            .intersect(concats.toSet)
        (cs, coll, tail)
      } finally pairs.unpersist()
      if (cands.isEmpty) done = true
      else {
        // window edge: untracked pairs all started at or below this
        val nEdge = if (cands.length == batchK) cands.last._3 else 0L
        val batch: IndexedSeq[(String, String, Long)] = tailRound match {
          case Some((candsT, preSyms, nEdgeT)) =>
            val candPairs = candsT.iterator.map(c => (c._1, c._2)).toSet
            val candB = spark.sparkContext.broadcast(candPairs)
            val subDs = vocab.filter { case (syms, _) =>
              (0 until syms.length - 1).exists(i =>
                candB.value((syms(i), syms(i + 1))))
            }
            // the probe lane verified nothing yet — measure the true
            // sub-dictionary before collecting it
            val affordable = (cands.nonEmpty &&
              cands.iterator.map(_._3).sum <= wordBudget) ||
              subDs.count() <= wordBudget
            val res =
              if (affordable)
                bpeReplaySub(subDs.collect(), candsT, preSyms, nEdgeT,
                  nMerges - out.size)
              else {
                // probe failed: emit just the global argmax (the one
                // pick that needs no proof) — the stalled head path
                // would emit ~1 merge here too — and back off
                probeCooldown = 32
                IndexedSeq(cands.head)
              }
            candB.destroy()
            res
          case None =>
          if (cands.length == 1) cands
          else {
            // per-candidate triple maps: x → #(x, a_i, b_i) and
            // y → #(a_i, b_i, y), filtered to keys that can matter —
            // above the window edge (candidate created rows) or a
            // candidate symbol (destruction deltas)
            val candIdx = cands.iterator.zipWithIndex
              .map { case ((a, b, _), i) => (a, b) -> i }.toMap
            val candSyms = cands.iterator
              .flatMap(c => Iterator(c._1, c._2)).toSet.toSeq
            val trip = vocab.flatMap { case (syms, c) =>
              (0 until syms.length - 1).iterator.flatMap { i =>
                candIdx.get((syms(i), syms(i + 1))) match {
                  case None => Iterator.empty
                  case Some(ix) =>
                    val l = if (i > 0)
                      Iterator(((ix, 0, syms(i - 1)), c)) else Iterator.empty
                    val r = if (i + 2 < syms.length)
                      Iterator(((ix, 1, syms(i + 2)), c)) else Iterator.empty
                    l ++ r
                }
              }
            }.toDF("key", "cnt")
              .groupBy(col("key")).agg(sum(col("cnt")).as("t"))
              .filter(col("t") > nEdge ||
                col("key._3").isInCollection(candSyms))
              .select(col("key._1"), col("key._2"), col("key._3"),
                col("t"))
              .as[(Int, Int, String, Long)].collect()
            val lT = trip.iterator.filter(_._2 == 0)
              .map(r => (r._1, r._3) -> r._4).toMap
              .groupMap(_._1._1)(kv => (kv._1._2, kv._2))
              .view.mapValues(_.toMap).toMap
            val rT = trip.iterator.filter(_._2 == 1)
              .map(r => (r._1, r._3) -> r._4).toMap
              .groupMap(_._1._1)(kv => (kv._1._2, kv._2))
              .view.mapValues(_.toMap).toMap
            bpeSimulateRound(cands,
              i => lT.getOrElse(i, Map.empty),
              i => rT.getOrElse(i, Map.empty),
              collided, nEdge, nMerges - out.size)
          }
        }
        onRound(batch.length)
        lastBatch = batch.length
        batch.foreach { case (a, b, n) =>
          out += ((out.size + 1L, a, b, n))
        }
        // segmented lowest-rank-first rewrite — equivalent to the
        // sequential rule sweep (see [[batchSegments]]) but per-word
        // cost is O(matches), not O(batch): tail batches run to
        // thousands of rules
        val segs = batchSegments(batch.map(c => (c._1, c._2)))
        val segRanks = segs.map(_.iterator.zipWithIndex.toMap)
        vocab = vocab.map { case (syms, c) =>
          val buf = scala.collection.mutable.ArrayBuffer.from(syms)
          var si = 0
          while (si < segs.length) {
            applySegment(buf, segRanks(si), segs(si))
            si += 1
          }
          (buf.toSeq, c)
        }.localCheckpoint(false)
      }
    }
    out.toSeq
  }

  /** The learned-merge-table query — ORACLE-BACKED since r17: each
    * round's winner depends on all previous rewrites, which a single
    * recursive relation cannot aggregate over, but 16 UNROLLED CTE
    * stages can (per round: a pair-count aggregate, the deterministic
    * top-1, a replace-to-fixpoint rewrite — see SparkEntry's
    * duckBpeTrainOracle); the `TextOpsSpec` twin still re-derives the
    * full table with an independent classic trainer, and the
    * forced-distributed twin below pins path equality at every SF. */
  def qBpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrain(spark, sfDir)

  /** The same fit FORCED through the distributed round loop (vocab
    * limit 0) — the [[Dedup.qDedupClustersDist]] pattern: the branch
    * that runs when even the dictionary outgrows the driver is
    * exercised against real data at every SF, not just spec-tested. */
  def qBpeTrainDist(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrain(spark, sfDir, driverVocabLimit = -1L)

  /** Per-document BPE accounting: (doc_id, source, whitespace-token
    * count, BPE token count, space-joined BPE token stream). The
    * shared dataflow behind [[qBpeTokens]] and [[qPackBpe]].
    *
    * Scale shape: a pure mapPartitions projection — ZERO shuffles.
    * The encode cost is paid once per distinct word PER PARTITION via
    * a local memo (Zipf makes the per-partition vocabulary a small
    * multiple of the global one, and the memo is vocabulary-bounded,
    * not corpus-bounded); the alternative — global distinct-word
    * vocab + re-join by word — costs two corpus-token shuffles to
    * save re-encodes the memo already makes negligible, so the
    * narrow form wins at every scale. Zero-token docs are dropped,
    * matching the oracle's unnest (same convention as
    * [[passageDedup]]). */
  private def bpePerDoc(spark: SparkSession, sfDir: String): DataFrame =
    bpeAccounting(Tables.spread(
      Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("text")),
      keys = Seq("doc_id")))

  /** [[bpePerDoc]] over any (doc_id, source, text) frame — the seam
    * [[graft.tools.BpeScale]] drives on synthetic corpora far beyond
    * the SF fixtures. */
  private[graft] def bpeAccounting(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, (Int, String)]
        it.flatMap { case (id, src, text) =>
          val tk = Dedup.tokensOf(text)
          if (tk.isEmpty) None
          else {
            var nBpe = 0L
            val sb = new StringBuilder
            tk.foreach { w =>
              val (c, s) = memo.getOrElseUpdate(w, {
                val e = bpeEncode(w); (e.length, e.mkString(" "))
              })
              if (sb.nonEmpty) sb.append(' ')
              sb.append(s)
              nBpe += c
            }
            Some((id, src, tk.length.toLong, nBpe, sb.toString))
          }
        }
      }.toDF("doc_id", "source", "n_tokens", "n_bpe_tokens", "bpe_text")
  }

  /** Real-BPE token accounting (vs [[roughBpeCount]]'s regex proxy):
    * per document, the whitespace-token count, the BPE token count
    * under the pinned [[bpeMerges]] table, and the md5 of the full
    * BPE token stream — the fingerprint proves the SEQUENCE is right,
    * not just the count, and keeps the output narrow (the stream
    * leaves the executors only as a hash, the [[passageDedup]]
    * discipline). This is the token arithmetic that sequence packing
    * and token histograms should run on when training uses a subword
    * tokenizer: whitespace counts undercount by the subword split
    * factor, and the two diverge most exactly where packing cares
    * (long rare words). */
  def qBpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    bpePerDoc(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("n_bpe_tokens"),
        md5(col("bpe_text")).as("bpe_fp"))
      .orderBy(col("doc_id"))

  /** [[qPackSequences]] re-run on REAL tokenizer arithmetic: greedy
    * contiguous packing of BPE token counts into 512-token training
    * sequences, source-local offsets exactly as the whitespace twin
    * (same sharded running sum, same integer `div` discipline — see
    * [[qPackSequences]] for why both matter at corpus scale). The
    * balanced doc_id cuts derive from the RAW table (a doc_id-only
    * pruned scan), NOT the encoded frame, so the mapPartitions
    * encode never runs for shard derivation; the carry branch of the
    * sharded sum does re-encode its narrow projection — a bounded 2×
    * on an embarrassingly parallel map, traded for removing the
    * unsplittable per-source window task. */
  def qPackBpe(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val shard = Scale.memoizedShards(spark, s"docid|$sfDir", 16, col("doc_id"))(
      Scale.balancedShards(d, col("doc_id"), 16))
    val base = bpePerDoc(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_bpe_tokens").as("ntk"))
    Scale.shardedPrefixSumBy(base, Seq("source"), shard,
        Seq(col("doc_id")), col("ntk"), "end_off")
      .select(col("doc_id"), col("source"), col("ntk"),
        (col("end_off") - col("ntk")).as("start_off"),
        expr("(end_off - ntk) div 512").as("seq_id"))
      .orderBy(col("doc_id"))
  }

  /** Training-mix sampling: per-SOURCE keep rates applied through the
    * same md5(doc_id) bucketing as [[qHoldoutSplit]] — the "weight
    * your sources" step of assembling a training mix (upsample
    * curated sources, downsample crawl). Rates here derive from the
    * source's trailing digits ((n mod 4 + 1) × 20%, 50% when the name
    * has none) — a deterministic stand-in for the real rate table,
    * which production would supply as a literal map. The suffix match
    * is capped at two digits and the digitless case is guarded BEFORE
    * the cast: an unguarded `cast("")`/overflow under ANSI mode would
    * kill the query on the first source named outside the fixture's
    * `srcN` scheme. Membership is a pure function of (doc_id, source):
    * reproducible across engines, stable under reshuffles and corpus
    * growth, no RNG. A narrow two-column scan + filter — no shuffle,
    * no state, trivially 100 TB-safe. */
  def qTrainMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val bucket = Tables.md5Bucket(col("doc_id"))
    val sfx = regexp_extract(col("source"), "([0-9]{1,2})$", 1)
    val rate = when(sfx === "", lit(50))
      .otherwise((pmod(sfx.cast("int"), lit(4)) + 1) * 20)
    d.select(col("doc_id"), col("source"))
      .filter(bucket < rate)
      .orderBy(col("doc_id"))
  }

  /** Corpus-frequency commonness score — the hash-exact stand-in for
    * LM-perplexity filtering (CCNet scores docs with a KenLM; with no
    * model in the loop, mean corpus unigram frequency separates
    * common-language text from rare-token noise the same way, and
    * stays reproducible by any engine). score =
    * Σ_tokens corpusCount(token) / (n_tokens × totalTokens): integer
    * sums only, one final double division, so the oracle matches
    * bit-exactly — no transcendentals whose libm rounding could
    * diverge between engines.
    *
    * Scale shape: explode → one hash-agg for the term table → one
    * shuffle join of token instances against it (unhinted: the
    * vocabulary of a 100 TB corpus is itself huge, same reasoning as
    * the [[qTfidfTopTerms]] df join) → per-doc agg. The grand total
    * rides along as a broadcast 1-row cross join, never a collect.
    * The vocab-sized term table feeds both the total and the join —
    * memoized+persisted so its explode+agg runs once instead of once
    * per consumer (the instance side still scans the corpus for the
    * join itself: two scans total, down from three). */
  def qUnigramScore(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val toks = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = SessionMemo.frames(spark, s"unigram-tf|$sfDir", eager = true)(
      toks.groupBy(col("term")).agg(count(lit(1)).as("c")))
    val total = tf.agg(sum(col("c")).as("total"))
    toks.join(tf, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sum_c"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_c").cast("double") / (col("n_tokens") * col("total")))
          .as("score"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model quality score — the perplexity-proxy
    * filter CCNet/C4-style pipelines run with a KenLM model, here
    * with the corpus itself as the LM (self-scoring flags documents
    * whose local word transitions are atypical for the corpus —
    * boilerplate, shuffled text, lorem ipsum). Per bigram (w₁,w₂):
    * add-one-smoothed conditional p = (c₂+1)/(c₁+|V|), where c₂ is
    * the bigram count, c₁ the bigram-START count (Σ_w c₂(w₁,w)) and
    * |V| the corpus vocabulary; per doc: Σ pico-quantized p over its
    * bigrams plus the mean. No logarithm anywhere — the libm-ln
    * engine-divergence lesson from [[qBm25]]'s rational idf: each
    * per-bigram p is rounded to an INTEGER pico value before the
    * sum, so accumulation is exact integer arithmetic in any order,
    * and the one IEEE division at the end is reproducible.
    *
    * Scale shape: the bigram list per doc is a zero-shuffle
    * `transform` over the token array (never a posexplode self-join);
    * c₂ and c₁ are map-side-combined aggs over the exploded bigrams;
    * the prob table c₂⋈c₁ shuffles on w₁ (AQE splits the stopword-
    * head skew), and the corpus-sized probe is a (w₁,w₂)-keyed
    * equi-join — the finer key already spreads the head. |V| rides
    * a broadcast 1-row frame. */
  def qBigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(coalesce(col("text"), lit(""))).as("tk"))
    val bi = t.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (x, i) -> " +
          "named_struct('w1', x, 'w2', element_at(tk, CAST(i + 2 AS INT))))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = t.select(explode(col("tk")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val p = c2.join(c1, Seq("w1")).crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        round(lit(1e12) * (col("c2") + lit(1L)).cast("double")
          / (col("c1") + col("v")).cast("double")).cast("long").as("p_pico"))
    bi.join(p, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"), sum(col("p_pico")).as("sum_pico"))
      .select(col("doc_id"), col("n_bi"), col("sum_pico"),
        (col("sum_pico").cast("double") / col("n_bi").cast("double"))
          .as("avg_pico"))
      .orderBy(col("doc_id"))
  }

  /** Count-Min-Sketch point-query error bound, hash-checked — the
    * third sketch in the approximate family next to HLL
    * (`q_approx_err`) and GK percentiles (`q_approx_pct`), same
    * bound-query pattern: the sketch VALUE is implementation-defined
    * and never leaves the query; what IS portable is the CMS
    * guarantee — estimates never undercount, and overcount by at most
    * ε·N (here ε = 1/2000, δ = 1%) — asserted per term over the
    * exact top-30, so the oracle expects `true` rows and a sketch
    * regression breaks the hash. The sketch builds DISTRIBUTEDLY
    * (per-partition sketches, additive counter merge — order-
    * independent, so the estimate is partition-count-invariant) and
    * only the ~w·d counter array reaches the driver, the Bloom-
    * sketch pattern; the probe UDF stays a udf DELIBERATELY — unlike
    * the Bloom probes (swapped to the codegen'd
    * `BloomFilterMightContain` in r19, [[Scale.bloomMightContain]]),
    * Spark ships NO CountMinSketch Catalyst expression at all, and
    * this probe runs over a 30-row shortlist, not a corpus side. */
  def qCmsErr(spark: SparkSession, sfDir: String): DataFrame = {
    val eps = 1.0 / 2000
    val d = Tables(spark, sfDir, "documents")
    val toks = d.select(explode(tokens(col("text"))).as("term"))
    val cms = toks.stat.countMinSketch("term", eps, 0.99, 42)
    val n = cms.totalCount()
    val bound = math.ceil(eps * n).toLong
    val bc = spark.sparkContext.broadcast(cms)
    val est = udf((t: String) => bc.value.estimateCount(t))
    // the exact side is qUnigramScore's memoized term-frequency table
    // (same key): reusing it means a Verify run tokenizes the corpus
    // once for both queries instead of re-aggregating here
    val tf = SessionMemo.frames(spark, s"unigram-tf|$sfDir", eager = true)(
      toks.groupBy(col("term")).agg(count(lit(1)).as("c")))
    tf.select(col("term"), col("c").as("exact"))
      .orderBy(col("exact").desc, col("term")).limit(30)
      .select(col("term"), col("exact"),
        (est(col("term")) >= col("exact") &&
          est(col("term")) <= col("exact") + bound).as("within_bound"))
      .orderBy(col("term"))
  }

  /** The curated-subset proxy for [[qImportanceRatio]]: docs from
    * this source play the TARGET distribution. */
  val importanceTargetSource = "src0"

  /** DSIR-style importance weight (Xie et al., "Data Selection via
    * Importance Resampling"): score every corpus doc by how much its
    * token distribution looks like a small CURATED target set versus
    * the raw corpus — the standard pretraining data-selection signal.
    * The faithful exact-rational form (the [[qUnigramScore]]
    * convention — no per-feature log products, whose libm evaluation
    * an oracle can't reproduce bit-exactly): per doc,
    * w = (Σ c_target(t) / T_target) / (Σ c_raw(t) / T_raw) — mean
    * target frequency of the doc's tokens over mean raw frequency.
    * Integer sums throughout; exactly three IEEE divisions at the
    * end, each correctly rounded, so both engines print the same
    * double. Tokens unseen in the target contribute 0 (sums need no
    * smoothing, unlike the log form).
    *
    * Scale shape: ONE tokenize scan feeds both frequency tables
    * (raw = full hash-agg, target = filtered hash-agg — the filter
    * is a pushed source predicate); per-doc scoring is the instance
    * join against the raw table (UNHINTED: corpus vocabulary, the
    * `q_unigram_score` posture) with the target counts left-joined
    * (also unhinted — a curated set can still be vocabulary-huge);
    * the two 1-row totals ride broadcast cross joins. */
  def qImportanceRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val toks = SessionMemo.frames(spark, s"imp-toks|$sfDir", eager = true)(
      d.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("term")))
    val tfRaw = toks.groupBy(col("term")).agg(count(lit(1)).as("cr"))
    val tfTgt = toks.filter(col("source") === importanceTargetSource)
      .groupBy(col("term")).agg(count(lit(1)).as("ct"))
    val totals = tfRaw.agg(sum(col("cr")).as("tr"))
      .crossJoin(tfTgt.agg(sum(col("ct")).as("tt")))
    toks.join(tfRaw, Seq("term"))
      .join(tfTgt, Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cr")).as("sum_cr"),
        sum(coalesce(col("ct"), lit(0L))).as("sum_ct"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_tokens"),
        ((col("sum_ct").cast("double") / col("tt")) /
          (col("sum_cr").cast("double") / col("tr"))).as("w"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunk walk over one doc's tokens: cut AFTER
    * position i (1-based) when md5 of the 4-token window ending at i
    * ends in hex '0' (p = 1/16 → mean chunk ≈ 16 tokens). Windows
    * roll over the WHOLE doc, not per chunk — the standard CDC
    * formulation, so a boundary decision never depends on earlier
    * cuts. Returns (chunk_id from 0, start_tok 1-based, n_tokens,
    * md5 of the space-joined chunk). */
  private[graft] def cdcChunksOf(tk: Array[String])
      : Seq[(Long, Long, Long, String)] = {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, String)]
    var start = 0 // 0-based inclusive
    var cid = 0L
    def emit(endExcl: Int): Unit = {
      out += ((cid, start + 1L, (endExcl - start).toLong,
        md5hex(tk.slice(start, endExcl).mkString(" "))))
      cid += 1; start = endExcl
    }
    var i = 4 // 1-based window end
    while (i <= tk.length) {
      if (md5hex(tk.slice(i - 4, i).mkString(" ")).last == '0') emit(i)
      i += 1
    }
    if (start < tk.length) emit(tk.length)
    out.toSeq
  }

  /** Content-defined chunking — the rsync/LBFS boundary rule over
    * word tokens. Unlike the fixed-stride [[qChunk]], a boundary is a
    * function of local CONTENT: inserting tokens near the start of a
    * doc shifts every fixed window but only the chunks up to the
    * first boundary past the edit, so exact-chunk dedup
    * (`chunk_fp` groupBy) still matches the unshifted remainder —
    * the invariant storage-level corpus dedup relies on
    * (spec-pinned: [[TextOpsSpec]] edits a doc and demands the tail
    * chunks survive fingerprint-identical).
    *
    * Scale shape: ZERO shuffle — one `mapPartitions` walk per split
    * (the §7.4 HOF-inlining hazard rules out the Column form), ~one
    * md5 per token; the only exchange is the oracle dump's sort.
    * Downstream chunk-level dedup is then [[Dedup.qDedupExact]]'s
    * one 16-byte-fingerprint shuffle on `chunk_fp`. */
  def qCdcChunk(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    import spark.implicits._
    Dedup.spread(d.select(col("doc_id"), col("text")), Seq("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        cdcChunksOf(Dedup.tokensOf(text)).iterator.map {
          case (cid, start, n, fp) => (id, cid, start, n, fp)
        }
      })
      .toDF("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_fp")
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Deterministic exact-quota stratified sample: the first
    * [[stratifiedQuota]] documents per source, ordered by
    * md5(doc_id) — a seedless permutation any engine reproduces, vs
    * `TABLESAMPLE`/`rand()` whose output is engine- and
    * partitioning-dependent. The eval-set builder: every source is
    * represented by exactly min(|source|, quota) docs no matter how
    * skewed the corpus mix is (a global uniform sample of a 100 TB
    * crawl can miss a small curated source entirely).
    *
    * Scale shape: ONE shuffle on source. The rank-≤-quota filter
    * triggers `WindowGroupLimit` (plan-guarded), so each map task
    * pre-prunes to its local top-quota rows BEFORE the exchange —
    * the shuffle carries O(tasks × quota) rows, never the corpus. */
  val stratifiedQuota = 10

  def qSampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val w = Window.partitionBy(col("source")).orderBy(col("hx"), col("doc_id"))
    d.select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("hx"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= stratifiedQuota)
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy(col("doc_id"))
  }

  /** Per-source token budget for [[qTokenBudgetMix]] — sized so the
    * cut BINDS at every fixture SF (a budget above the smallest
    * source's total would make the operator a no-op). */
  val tokenBudget = 500L

  /** Source-diversity index (Gini–Simpson, 1 − Σ pᵢ²) per language
    * and overall — the curation dashboard's "is this slice dominated
    * by one source?" number (0 = a single source, →1 = evenly
    * spread). Deliberately NOT Shannon entropy: entropy needs per-
    * class log products whose libm evaluation an oracle can't
    * reproduce bit-exactly (the [[qImportanceRatio]] reasoning),
    * while Gini–Simpson is a rational statistic — exact integer
    * counts, one Σc² decimal sum, a single IEEE division per row.
    * Scale shape: one (lang, source) hash agg (map-side combined,
    * \|langs × sources\| rows), then a \|rows\|-sized rollup — the
    * corpus is scanned once. */
  def qDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val bySrc = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
    // c² multiplies in decimal — a long product wraps once a single
    // source holds > ~3e9 docs
    def c2sum: Column = sum(col("c").cast("decimal(19,0)")
      * col("c").cast("decimal(19,0)")).as("c2")
    val perLang = bySrc.groupBy(col("lang"))
      .agg(sum(col("c")).as("n"), c2sum, count(lit(1)).as("n_sources"))
    val overall = bySrc.groupBy(col("source"))
      .agg(sum(col("c")).as("c"))
      .agg(sum(col("c")).as("n"), c2sum, count(lit(1)).as("n_sources"))
      .select(lit("*").as("lang"), col("n"), col("c2"), col("n_sources"))
    perLang.select(col("lang"), col("n"), col("c2"), col("n_sources"))
      .unionByName(overall)
      .select(col("lang"), col("n").cast("long").as("n_docs"),
        col("n_sources"),
        (lit(1d) - col("c2").cast("double")
          / (col("n").cast("double") * col("n").cast("double")))
          .as("diversity"))
      .orderBy(col("lang"))
  }

  /** χ² divergence of each source's language distribution from the
    * corpus-wide language distribution — the distribution-drift
    * companion to [[qDiversity]] (Gini says how concentrated a
    * language's sources are; χ² says how far a source's language MIX
    * sits from the corpus mix — the per-snapshot data-mixture QA
    * number a curation pipeline alarms on). χ²(p‖q) =
    * Σ_l (p_l − q_l)²/q_l over ALL languages: languages a source
    * never emits still owe their q_l, folded in WITHOUT a dense
    * source×lang cross join via Σ_absent q_l = 1 − Σ_present q_l, so
    * χ² = 1 + Σ_present [(p_l − q_l)²/q_l − q_l] — present rows
    * only. Each present term is one fixed IEEE expression over exact
    * integer counts, quantized to pico-units BEFORE the
    * order-sensitive sum (the q_correlation discipline; the leading
    * 1 re-enters as the integer 10¹²), so `chi2_pico` hash-checks
    * exactly. One narrow scan → (source × lang) agg → broadcast
    * joins of the two marginal tables — scale-free beyond the scan
    * (the shuffle carries |sources|·|langs| rows). */
  def qChi2Divergence(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val sl = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val bySrc = sl.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val byLang = sl.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val n = d.select(count(lit(1)).as("n_docs"))
    val p = col("c").cast("double") / col("ns").cast("double")
    val q = col("nl").cast("double") / col("n_docs").cast("double")
    val term = (p - q) * (p - q) / q - q
    val scored = sl
      .join(broadcast(bySrc), "source")
      .join(broadcast(byLang), "lang")
      .join(broadcast(n))
      .select(col("source"), col("ns"),
        round(term * lit(1e12)).cast("long").as("t"))
    scored.groupBy(col("source"))
      .agg(max(col("ns")).cast("long").as("n_docs"),
        (sum(col("t").cast("decimal(38,0)")).cast("long")
          + lit(1000000000000L)).as("chi2_pico"))
      .orderBy(col("source"))
  }

  /** Systematic PPS (probability-proportional-to-size) sampling —
    * the deterministic weighted sampler next to the uniform
    * [[qTrainMix]]: docs line up in md5 order (the shared seedless
    * permutation), and a doc is selected iff its token span crosses
    * a multiple of the step `w` = 1000 tokens — so selection
    * probability ∝ token count with NO random number generator, and
    * every ~w-token stretch of the corpus contributes one document
    * (a doc longer than w absorbs several boundaries into its single
    * selection — the classic systematic-sampling variance win over
    * independent draws). Integer cumulative sums + integer `div` ⇒
    * hash-exact; NULL text coalesces to "" (0 tokens, never
    * selected) — `size` of a null array is −1 and would silently
    * shift every later cumulative position.
    *
    * The cumulative token count is the [[Relational.qSkyline]]
    * two-level prefix scan: the first md5 hex char shards the order
    * into 16 parallel local scans, the 16-row carry table rides a
    * bounded window, and the output emits (doc, its token count,
    * its cumulative end position) for every selected doc. */
  def qSamplePps(spark: SparkSession, sfDir: String): DataFrame = {
    val step = 1000L
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        tokenCount(coalesce(col("text"), lit(""))).cast("long").as("n_tok"),
        md5(col("doc_id").cast("string")).as("h"))
    Scale.shardedPrefixSum(d, substring(col("h"), 1, 1),
        Seq(col("h"), col("doc_id")), col("n_tok"), "cum")
      .filter(expr(s"cum div $step") > expr(s"(cum - n_tok) div $step"))
      .select(col("doc_id"), col("n_tok"), col("cum"))
      .orderBy(col("doc_id"))
  }

  /** Sample size for [[qPrioritySample]] — safely below the smallest
    * fixture's document count (500 at sf0.001) so the threshold row
    * (rank k+1) always exists. */
  val prioritySampleK = 100

  /** Priority sampling (Duffield–Lund–Thorup, JACM 54(6) 2007) — the
    * weighted fixed-size sampler whose estimator is provably optimal
    * among all k-sample schemes: each doc draws priority
    * q = w / u (w = token count, u ∈ (0,1] uniform), the k largest
    * priorities form the sample, and the (k+1)-th priority τ gives
    * each sampled doc the unbiased weight estimate ŵ = max(w, τ)
    * (Σ ŵ estimates the corpus token total from k rows — the "how
    * many tokens does this 100 TB source hold" question answered
    * from a fixed-size sample).
    *
    * Determinism discipline: u is md5-derived — u = (h+1)/2³², h the
    * first 8 md5 hex digits of doc_id — and the priority is computed
    * as the INTEGER `(w·2³²) div (h+1)` (one multiply + one integer
    * division, both bit-exact in Spark and DuckDB; w ≤ ~10⁴ keeps
    * the product ≤ ~10¹⁴, far inside long). The ≤1-part-in-w
    * truncation bias is the price of a hash-exact oracle; w is
    * floored at 1 so zero-token docs still hold a lottery ticket.
    *
    * Scale shape: the top-(k+1) is `orderBy(prio).limit(k+1)` —
    * Spark plans TakeOrderedAndProject, every partition keeps k+1
    * rows and the driver merges, so NOTHING corpus-sized shuffles.
    * The only window (row_number to split sample from threshold) and
    * the only join (broadcast of the 1-row τ) run on the (k+1)-row
    * set. */
  def qPrioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    val k = prioritySampleK
    val top = priorityScored(spark, sfDir)
      .orderBy(col("prio").desc, col("doc_id")).limit(k + 1)
    prioritySampleOf(top)
  }

  /** The (doc_id, n_tok, prio) scored frame shared by the one-shot
    * and incremental priority samplers. */
  private def priorityScored(spark: SparkSession, sfDir: String): DataFrame =
    priorityScoredOf(Tables(spark, sfDir, "documents"))

  /** Priority scoring over ANY (doc_id, text) frame — shared with
    * the streaming maintainer ([[StreamingOps.prioritySampleSink]]),
    * whose micro-batches must score EXACTLY like the batch pass or
    * the merged MV silently diverges from the full recompute. */
  private[graft] def priorityScoredOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        greatest(tokenCount(coalesce(col("text"), lit(""))).cast("long"),
          lit(1L)).as("n_tok"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") + lit(1L)).as("u32"))
      .withColumn("prio", expr("(n_tok * 4294967296) div u32"))
      .select(col("doc_id"), col("n_tok"), col("prio"))

  /** Sample + estimator tail over a top-(k+1) priority frame: rank,
    * split off τ (rank k+1), estimate ŵ = max(w, τ). The global
    * window and the 1-row τ broadcast both run on k+1 rows. */
  private[graft] def prioritySampleOf(top: DataFrame): DataFrame = {
    val k = prioritySampleK
    // KNOWN-BOUNDED global window: the input is the k+1-row priority
    // frame, never the corpus; its WindowExec WARN is expected
    val w = Window.orderBy(col("prio").desc, col("doc_id"))
    val ranked = top.withColumn("rn", row_number().over(w))
    val tau = ranked.filter(col("rn") === k + 1)
      .select(col("prio").as("tau"))
    ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(tau))
      .select(col("doc_id"), col("n_tok"), col("prio"), col("tau"),
        greatest(col("n_tok"), col("tau")).as("est_w"))
      .orderBy(col("doc_id"))
  }

  /** Incremental priority-sample maintenance — the MV-merge family
    * member for [[qPrioritySample]], exploiting the sketch's
    * MERGEABILITY: the top-(k+1) priority set is a monotone summary
    * (top-(k+1) of a union = top-(k+1) of the per-part top-(k+1)s),
    * so a 100 TB deployment stores k+1 rows per partition/day and
    * maintains the corpus-wide sample without ever rescanning
    * history. Here the stored MV is the md5-bucket<90 slice's
    * top-(k+1), the arriving batch is the ≥90 slice's, and the
    * merge re-ranks 2(k+1) rows — the oracle is the FULL-corpus
    * recompute, so equality re-proves the merge law every round. */
  def qPriorityIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val k = prioritySampleK
    val d = priorityScored(spark, sfDir)
    val bucket = Tables.md5Bucket(col("doc_id"))
    def top(df: DataFrame): DataFrame =
      df.orderBy(col("prio").desc, col("doc_id")).limit(k + 1)
    val stored = top(d.filter(bucket < 90)) // the MV, on disk in prod
    val arriving = top(d.filter(bucket >= 90))
    prioritySampleOf(
      top(stored.unionByName(arriving)))
  }

  /** Token-budget training mix — the token-denominated sibling of
    * the doc-count [[qTrainMix]]: training mixes are specified in
    * TOKENS, and a doc-count mix silently over-weights long-document
    * sources. Per source, docs are taken in md5 order (the shared
    * seedless permutation) while the RUNNING token total stays
    * within the budget; a doc that would overflow is dropped whole
    * (no truncation — partial documents are a tokenizer-level
    * concern, [[qPackSequences]]' job). Output carries the running
    * total so the budget adherence is itself hash-checked.
    *
    * Scale shape (the 100 TB form since r18): one narrow token-count
    * projection, then the per-source running sum runs as
    * [[Scale.shardedPrefixSumBy]] keyed (source, first md5 hex char)
    * — sources are few and huge, so a flat
    * `Window.partitionBy(source)` funnels each source's full corpus
    * slice through ONE task (AQE cannot split a window partition);
    * md5 is uniform, so the 16 fixed-width hex shards balance by
    * construction and the mega-source spans 16 parallel scans
    * (production widens to 2–3 hex chars = 256–4096 shards). The
    * shard key is order-preserving w.r.t. the (hx, doc_id) order —
    * the decomposition is row-exact and the oracle is unchanged;
    * `tools.MixScale` A/Bs the planted mega-source case. */
  def qTokenBudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val scored = d.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast("string")).as("hx"),
      tokenCount(col("text")).cast("long").as("ntk"))
    Scale.shardedPrefixSumBy(scored, Seq("source"),
        substring(col("hx"), 1, 1), Seq(col("hx"), col("doc_id")),
        col("ntk"), "cum")
      .filter(col("cum") <= tokenBudget)
      .select(col("doc_id"), col("source"), col("ntk"), col("cum"))
      .orderBy(col("doc_id"))
  }

  /** α-temperature language rebalancing (α = 1/2 — the XLM-R /
    * mT5-style multilingual mix): per-language token budgets
    * b_l = (√n_l / Σ√n)·B so low-resource languages get a LARGER
    * share than their natural token mass (α < 1 flattens the
    * distribution; α = 1 is proportional, α = 0 uniform), then the
    * deterministic greedy prefix in md5 order fills each budget —
    * [[qTokenBudgetMix]]'s selection discipline under derived
    * budgets instead of a constant. B = half the corpus tokens.
    * Everything is integer: s_l = ⌊√n_l⌋ (sqrt is correctly-rounded
    * IEEE, exact for perfect squares, and floor of it IS isqrt for
    * n < 2⁵²), shares via s_l·(B) div Σs — the one product that
    * bounds the op at ~2⁶³; a corpus past that prescales s and B by
    * a common shift (the [[graft.functions.FixLog2]] prenorm move).
    * A language whose budget exceeds its supply keeps every doc —
    * the b_l/n_l > 1 ratio is the epoch-repeat factor a trainer
    * applies downstream.
    *
    * Scale shape (the 100 TB form since r18): one scan into the
    * per-lang token agg; budgets are \|L\|-row arithmetic broadcast
    * back; the per-lang greedy prefix runs as
    * [[Scale.shardedPrefixSumBy]] on (lang, first md5 hex char) —
    * the [[qTokenBudgetMix]] decomposition: languages are few and
    * huge, a flat per-lang window is a one-task funnel, and the
    * uniform md5 shards split it 16 ways row-exactly (oracle
    * unchanged; `tools.MixScale` measures the planted mega-group
    * case). */
  def qTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("hx"),
        tokenCount(col("text")).cast("long").as("ntk"))
    val nl = d.groupBy(col("lang")).agg(sum(col("ntk")).as("n_l"))
    val sh = nl.select(col("lang"), col("n_l"),
      floor(sqrt(col("n_l").cast("double"))).cast("long").as("s_l"))
    val tot = sh.agg(sum(col("s_l")).as("s_tot"), sum(col("n_l")).as("n_tot"))
    val budgets = sh.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_l"), col("s_l"),
        expr("s_l * (n_tot div 2) div s_tot").as("b_l"))
    val joined = d.join(
      broadcast(budgets.select(col("lang"), col("b_l"))), Seq("lang"))
    Scale.shardedPrefixSumBy(joined, Seq("lang"),
        substring(col("hx"), 1, 1), Seq(col("hx"), col("doc_id")),
        col("ntk"), "cum")
      .filter(col("cum") <= col("b_l"))
      .select(col("doc_id"), col("lang"), col("ntk"), col("cum"), col("b_l"))
      .orderBy(col("doc_id"))
  }

  /** Per-source quality calibration: percent_rank of the
    * [[qualityScore]] WITHIN each source, keeping docs above the
    * bottom [[calibratedCut]] fraction of their own source — the
    * per-source thresholding CCNet applies to its LM scores. A single
    * global cutoff on the raw score would empty the weakest source
    * and keep all of the strongest; ranking within the stratum drops
    * the same fraction everywhere. percent_rank = (rank−1)/(n−1) is
    * exact rational arithmetic (one IEEE division), and ties on the
    * score share a rank, so the output is reproducible without a
    * tie-break column.
    *
    * Scale shape: one narrow scoring projection (the quality terms
    * are codegen'd count arithmetic, no UDF) + ONE shuffle on
    * source. Sources are few and large → per-source skew is real:
    * AQE's skew handling cannot split a window partition, so at
    * 100 TB the per-source rank would instead be computed as a
    * two-pass quantile cut (score histogram per source, then a
    * narrow filter) — documented here, exercised at fixture scale by
    * the exact window. */
  val calibratedCut = 0.2

  def qQualityCalibrated(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val w = Window.partitionBy(col("source")).orderBy(col("q"))
    d.select(col("doc_id"), col("source"),
        qualityScore(col("text")).as("q"))
      .withColumn("pct", percent_rank().over(w))
      .filter(col("pct") >= calibratedCut)
      .select(col("doc_id"), col("source"), col("q"), col("pct"))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB twin of [[qQualityCalibrated]] — the two-pass
    * histogram-quantile cut the flat form's scaladoc promised: same
    * KEPT SET, no per-source corpus-sized window task.
    *
    * Exactness argument. percent_rank uses competition rank, so
    * pct(row) = cntLess(q)/(n−1) with cntLess = #rows of the source
    * scoring strictly below q; `pct ≥ 0.2` is EXACTLY the integer
    * predicate `5·cntLess ≥ n−1` (the correctly-rounded IEEE division
    * can only disagree with the rational comparison within a half-ulp
    * of 0.2, which needs n−1 > ~4·10¹⁷ — unreachable; singleton
    * sources drop on both forms: pct = 0 < 0.2 vs the explicit n > 1
    * gate here). cntLess is monotone in q, so the kept set is an
    * upward-closed threshold {q ≥ t} — a FILTER, not a rank.
    *
    * Two passes, both skew-immune:
    *  1. per-(source, 4096-grid-bin) counts — one map-combined agg,
    *     ≤ \|sources\|·4096 rows to the driver (the
    *     [[Scale.balancedShards]] bounded-collect contract). The
    *     driver walk classifies every bin: bins whose cumulative
    *     start ≥ m := ⌈(n−1)/5⌉ are kept WHOLE, bins ending before m
    *     drop whole, and exactly ONE bin per source straddles m (a
    *     tie class is one value, so it lives in one bin).
    *  2. the straddling bin's ~n/4096-row slice alone gets the exact
    *     within-bin value rank (distinct-value counts + one tiny
    *     window) → the threshold VALUE t per source, collected
    *     (\|sources\| rows) and broadcast back into a single
    *     `bin > b ∨ (bin = b ∧ q ≥ t)` scan filter.
    * A mega-source costs 4096 parallel cells in pass 1 and an
    * n/4096-sized ranked slice in pass 2 (refine the grid like
    * balancedShards if even that slice is heavy) — vs ONE window task
    * holding the whole source in the flat form; `tools.MixScale`
    * measures the planted degenerate case. Output = the flat form's
    * rows minus the per-row pct diagnostic (whose exact per-row rank
    * is what the flat window pays for); the oracle restates the
    * integer-threshold semantics independently. */
  /** The shared (doc_id, source, q) quality-score working set both
    * calibrated-quality twins consume — memoized+eager because its
    * consumers re-evaluate it several times per query
    * ([[Scale.quantileCutKeep]] scans it four times: bounds, histogram,
    * straddling-bin slice, final filter; the sharded twin twice), and
    * qualityScore's interpreted HOF tokenization is the dominant
    * per-row cost. Spread BEFORE scoring: the fixture's single-row-
    * group scan otherwise tokenizes the whole corpus in ONE task
    * (no-op on a multi-split lake). */
  private def qualityFrame(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"qscore|$sfDir", eager = true,
      compactRows = Tables.memoizedCount(spark, sfDir, "documents"))({
      // one imperative per-partition pass (the shingleHashSets
      // discipline): the Column form's interpreted HOFs re-tokenized
      // per reference — measured as the dominant build cost of this
      // memo; qualityScoreOf is the bit-exact twin (QualityScoreSpec)
      import spark.implicits._
      Dedup.spread(Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("text")), Seq("doc_id"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (id, src, t) =>
          (id, src, qualityScoreOf(t)) })
        .toDF("doc_id", "source", "q")
    })

  def qQualityCalibratedCut(spark: SparkSession, sfDir: String): DataFrame = {
    val s = qualityFrame(spark, sfDir)
    Scale.quantileCutKeep(s, "source", "q",
        cutNum = 1, cutDen = 5) // = calibratedCut 0.2
      .select(col("doc_id"), col("source"), col("q"))
      .orderBy(col("doc_id"))
  }

  /** [[qQualityCalibrated]]'s FULL 100 TB twin (r19): the per-row
    * `pct` diagnostic included — the one output
    * [[qQualityCalibratedCut]] drops — with no per-source window
    * task. percent_rank uses competition rank, so every row of a
    * (source, q) tie class shares cntLess = #rows strictly below q;
    * the twin therefore ranks the DISTINCT-value frame: per-(source,
    * q) tie-class counts, a sharded prefix sum of those counts over
    * 16 balanced score ranges (shard key = the monotone ⌊q·10⁹⌋ —
    * order-preserving w.r.t. q, equal scores share a shard), then
    * cntLess = cum − ownCount and ONE join back by (source, q). The
    * pct value is the identical IEEE division cntLess/(n−1) the
    * builtin evaluates (n = 1 ⇒ 0.0, also the builtin's value), so
    * the output is row-identical to the flat window and the SAME
    * oracle arbitrates both — the [[Relational.qRfmSharded]]
    * convention. A mega-source costs \|distinct scores\|/16 per shard
    * cell instead of one corpus-sized window task; the join back is
    * a plain equi-join AQE can split. */
  def qQualityCalibratedSharded(spark: SparkSession,
      sfDir: String): DataFrame = {
    val s = qualityFrame(spark, sfDir)
    val grp = SessionMemo.frames(spark, s"qcalgrp|$sfDir", eager = true)(
      s.groupBy(col("source"), col("q")).agg(count(lit(1)).as("__cq")))
    val nPer = grp.groupBy(col("source"))
      .agg(sum(col("__cq")).as("__n"))
    val qv = (col("q") * 1e9).cast("long")
    val shard = Scale.memoizedShards(spark, s"qcal|$sfDir", 16, qv)(
      Scale.balancedShards(grp, qv, 16))
    val ranked = Scale.shardedPrefixSumBy(grp, Seq("source"), shard,
        Seq(col("q")), col("__cq"), "__cum")
      .join(broadcast(nPer), "source")
      .select(col("source"), col("q"),
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("__cum") - col("__cq")).cast("double") /
            (col("__n") - 1).cast("double")).as("pct"))
    s.join(ranked, Seq("source", "q"))
      .filter(col("pct") >= calibratedCut)
      .select(col("doc_id"), col("source"), col("q"), col("pct"))
      .orderBy(col("doc_id"))
  }

  /** Shannon entropy of each source's language mix (plus the corpus
    * row `*`) — the information-theoretic diversity number next to
    * [[qDiversity]]'s Gini–Simpson: Gini was chosen in r14 BECAUSE
    * `ln` is libm and hash-diverges; [[graft.functions.FixLog2]]
    * lifts that restriction, so the real H = Σ p·log2(1/p) ships
    * hash-exact. `h_q` is the integer Σ c·L(n, c) in 2⁻¹⁶-bit units
    * (HUGEINT-safe product, BIGINT out — the q_diversity convention);
    * `h_bits` divides once at the end (n·65536.0 is double-exact for
    * n < 2⁴⁶, then one correctly-rounded IEEE division).
    *
    * Scale shape: one corpus scan into the \|sources×langs\| agg;
    * everything after (union of the `*` mix, per-source totals
    * broadcast back, the 16-step log2 ladder, final agg) runs on
    * that mix-sized frame — at 100 TB the post-scan cost is
    * unchanged. */
  def qEntropyMix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val c = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val base = c.unionByName(
      c.groupBy(col("lang")).agg(sum(col("c")).cast("long").as("c"))
        .select(lit("*").as("source"), col("lang"), col("c")))
    val n = base.groupBy(col("source")).agg(sum(col("c")).cast("long").as("n"))
    val j = base.join(broadcast(n), Seq("source"))
    graft.functions.FixLog2.withFixLog2(j, col("n"), col("c"), "l_q")
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("c").cast("decimal(19,0)") * col("l_q").cast("decimal(19,0)"))
          .cast("long").as("h_q"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("h_q"),
        (col("h_q").cast("double")
          / (col("n_docs").cast("double") * lit(65536.0))).as("h_bits"))
      .orderBy(col("source"))
  }

  /** Mutual information I(lang; source) — the dependence member of
    * the information-theoretic family ([[qEntropyMix]] H per source,
    * [[qChi2Divergence]] χ² distance): how many bits knowing the
    * source tells you about the language, the data-mixture
    * "redundancy between axes" diagnostic (I = 0 ⇔ every source has
    * the corpus language mix; I = H(lang) ⇔ source determines
    * language). Emitted per source as that source's contribution
    * Σ_l c_ls·L(N·c_ls, c_l·c_s) in integer 2⁻¹⁶-bit·doc units —
    * the per-source rows SUM to the corpus MI — with `mi_bits`
    * dividing by N·65536 once at the end. The [[graft.functions
    * .FixLog2]] ladder is sign-correct for num < den (the shifted
    * quotient keeps ≥ 25 mantissa bits for any BIGINT pair), so
    * over-represented cells add and under-represented cells subtract
    * exactly as the real log₂ does; products N·c_ls and c_l·c_s
    * bound the op at N < 2³¹ cells-max — past that, prescale both
    * operands by a common shift (exactly cancels inside the log).
    * NULL langs are excluded upfront (a lang join would silently
    * drop them mid-query — the explicit filter keeps both engines'
    * cell sets identical by construction).
    *
    * Scale shape: one corpus scan into the \|sources×langs\| agg;
    * marginals and the total are broadcast back onto that mix-sized
    * frame — post-scan cost is independent of corpus volume, and
    * the counts are additive monoids (the [[graft.engine.Relational
    * .qAggIncremental]] maintenance story). */
  def qMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
      .filter(col("lang").isNotNull)
    val cls = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val cl = cls.groupBy(col("lang")).agg(sum(col("c")).cast("long").as("c_l"))
    val cs = cls.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("c_s"))
    val nt = cls.agg(sum(col("c")).cast("long").as("n_tot"))
    val j = cls.join(broadcast(cl), Seq("lang"))
      .join(broadcast(cs), Seq("source"))
      .crossJoin(broadcast(nt))
      // Loud guard at the documented N < 2^31 product bound: past it
      // Spark's LONG multiply would WRAP silently where the DuckDB
      // oracle's BIGINT multiply throws — fail symmetrically instead.
      .withColumn("n_tot",
        when(col("n_tot") < lit(1L << 31), col("n_tot"))
          .otherwise(raise_error(concat(
            lit("qMutualInfo: n_tot exceeds the 2^31 exactness bound "
              + "(prescale both log operands by a common shift): "),
            col("n_tot").cast("string")))))
    graft.functions.FixLog2
      .withFixLog2(j, col("n_tot") * col("c"), col("c_l") * col("c_s"), "l_q")
      .groupBy(col("source"))
      .agg(max(col("c_s")).as("n_docs"), max(col("n_tot")).as("n_tot"),
        count(lit(1)).as("n_cells"),
        sum(col("c").cast("decimal(19,0)") * col("l_q").cast("decimal(19,0)"))
          .cast("long").as("mi_q"))
      .select(col("source"), col("n_docs"), col("n_cells"), col("mi_q"),
        (col("mi_q").cast("double")
          / (col("n_tot").cast("double") * lit(65536.0))).as("mi_bits"))
      .orderBy(col("source"))
  }

  /** Trained multinomial Naive Bayes language classifier — the
    * supervised twin of the heuristic [[qLangId]], and the engine's
    * "train a model inside the pipeline" demonstrator (the fastText
    * quality/language classifier slot in a curation stack). Train on
    * even doc_ids (per-(lang, term) counts, add-one smoothing),
    * classify odd doc_ids by argmax_l [ log P(l) + Σ_t tf_t·log
    * P(t|l) ] — every log is [[graft.functions.FixLog2]] fixed-point
    * (2⁻¹⁶-bit units), every sum integer, so the full posterior
    * trajectory is hash-exact against the DuckDB re-derivation. The
    * argmax is the integer-packed convention ((−score)·256 + code,
    * min) with codes = alphabetical rank: ties break to the
    * alphabetically-first language identically in both engines.
    *
    * On THIS corpus the text is deliberately language-independent
    * word soup, so accuracy ≈ the majority-class prior — the spec
    * proves the learning path on a crafted lang-skewed fixture
    * (100% there) and pins the mechanics here.
    *
    * Scale shape: the model is vocab×\|L\|-sized (counts + the log2
    * ladder run on aggregates, never the corpus scan); scoring joins
    * the test token stream to the broadcast-sized prob table on term
    * and fans ×\|L\| before the doc-keyed agg — \|L\| is small and
    * fixed, so the fan is a constant factor on the token volume.
    * Long score sums hold to ~2⁴¹ tokens/doc·lang; a 100 TB corpus
    * with pathological doc lengths would lift them to decimal. */
  def qNbClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("lang").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val trainTok = train.select(col("lang"), explode(col("tk")).as("term"))
    val ctl = trainTok.groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("c"))
    val nl = ctl.groupBy(col("lang")).agg(sum(col("c")).cast("long").as("n_l"))
    val vv = trainTok.agg(countDistinct(col("term")).as("v"))
    val dl = train.groupBy(col("lang")).agg(count(lit(1)).as("d_l"))
    val dt = train.agg(count(lit(1)).as("d_tot"))
    val testTok = test
      .select(col("doc_id"), col("lang").as("lang_true"),
        explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("lang_true"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // prob table: every (test-vocab term, lang); absent pairs smooth
    // to c = 0. vocab-sized — the 16-step ladder runs here, not on
    // the token stream.
    val pp0 = testTok.select(col("term")).distinct()
      .crossJoin(broadcast(nl))
      .join(ctl, Seq("lang", "term"), "left")
      .select(col("term"), col("lang"), col("n_l"),
        coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(vv))
    val pp = graft.functions.FixLog2
      .withFixLog2(pp0, col("c") + lit(1L), col("n_l") + col("v"), "l_tl")
      .select(col("term"), col("lang"), col("l_tl"))
    val prior = graft.functions.FixLog2
      .withFixLog2(dl.crossJoin(broadcast(dt)),
        col("d_l"), col("d_tot"), "l_prior")
      .select(col("lang"), col("l_prior"))
    val lcodes = nl.select(col("lang"))
      // KNOWN-BOUNDED global window (|langs| rows); WARN expected
      .withColumn("code",
        row_number().over(Window.orderBy(col("lang"))).cast("long"))
    val scored = testTok.join(pp, Seq("term"))
      .groupBy(col("doc_id"), col("lang_true"), col("lang"))
      .agg(sum(col("tf") * col("l_tl")).as("s_terms"))
      .join(broadcast(prior), Seq("lang"))
      .join(broadcast(lcodes), Seq("lang"))
      .select(col("doc_id"), col("lang_true"),
        ((-(col("s_terms") + col("l_prior"))) * lit(256L) + col("code"))
          .as("pk"))
    scored.groupBy(col("doc_id"), col("lang_true"))
      .agg(min(col("pk")).as("mp"))
      .withColumn("code", col("mp") % lit(256L))
      .join(broadcast(lcodes.select(col("lang").as("pred"), col("code"))),
        Seq("code"))
      .select(col("doc_id"), col("lang_true").as("lang"), col("pred"),
        (-expr("(mp - code) div 256")).as("score_q"),
        (col("lang_true") === col("pred")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Per-document character-entropy screen — the gibberish / broken-
    * encoding / repetition detector next to the token-level quality
    * family ([[qQualityFilter]] thresholds, [[qRepetitionStats]]
    * n-gram repetition): natural prose sits near 4 bits of character
    * entropy, base64 blobs higher, stuck-key and template spam far
    * lower, so a low-entropy flag catches junk the word-level
    * filters miss. Exact fixed point throughout: n·H = n·L(n,1) −
    * Σ c·L(c,1) in 2⁻¹⁶-bit units off the [[graft.functions
    * .FixLog2]] ladder — one ladder per frame, never chained (the
    * q_benford planning lesson), joined by doc_id. Exact while
    * n·L(n,1) < 2⁶³, i.e. document length < ~2⁴¹ chars.
    *
    * Scale shape: the char explode is the corpus-char-sized shuffle
    * every substring/windowing op in this family already pays
    * ([[qSubstringDedup]]); both ladders then run on collapsed
    * frames (per-doc distinct chars ≤ alphabet; per-doc totals). */
  def qCharEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    // spread before the char explode: the corpus-char-sized fan plus
    // its partial agg otherwise run inside the fixture's ONE scan
    // task (single row group per file; no-op on a multi-split lake)
    val d = Dedup.spread(Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")), Seq("doc_id"))
    val counts = d
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val withLc = graft.functions.FixLog2
      .withFixLog2(counts, col("c"), lit(1L), "l_c")
    val sums = withLc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars_seen"),
        sum(col("c") * col("l_c")).as("s_clc"))
    graft.functions.FixLog2
      .withFixLog2(sums, col("n_chars_seen"), lit(1L), "l_n")
      .withColumn("ent_q16",
        expr("(n_chars_seen * l_n - s_clc) div n_chars_seen"))
      .select(col("doc_id"), col("n_chars_seen"), col("ent_q16"),
        (col("ent_q16") < lit(3L * 65536L)).as("low_entropy"))
      .orderBy(col("doc_id"))
  }

  /** PMI collocation mining — the corpus-phrase detector ("new york",
    * "machine learning") behind phrase-aware tokenizers and stop-
    * phrase lists: pointwise mutual information of adjacent token
    * pairs, PMI = log2(N·c_xy / (c_x·c_y)), computed EXACTLY as one
    * [[graft.functions.FixLog2]] ladder over the bigram vocabulary
    * (the [[qMutualInfo]] integer-log discipline at pair rather
    * than cell granularity). Support floor c_xy ≥ 3 kills the
    * hapax-pair noise PMI famously amplifies; ties are impossible
    * in the emitted top-100 because the ORDER BY closes over the
    * pair key. Long products bound the op at N < 2³¹ tokens — past
    * that the raise_error guard fires loudly (the [[qMutualInfo]]
    * convention) rather than wrapping where the oracle errors.
    *
    * Scale shape: one token explode + two vocab-sized aggs (bigram
    * and unigram counts, both map-side combined), two vocab⋈vocab
    * equi-joins for the marginals, broadcast 1-row N; the ladder
    * runs on the support-filtered bigram vocab only. The positivity
    * cut runs BELOW the ladder as its exact integer equivalent
    * (PMI > 0 ⟺ c_xy·N > c_x·c_y): a filter referencing the ladder
    * output would be alias-substituted through all ~50 Projects by
    * PushPredicateThroughNonJoin, expanding ~3¹⁶ — the q_benford
    * planning-blowup class in predicate-pushdown clothing (r16,
    * jstack-confirmed); the ladder tolerates no expression above it
    * that the optimizer may rewrite THROUGH it. */
  def qCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables(spark, sfDir, "documents")
      .select(tokens(col("text")).as("tk"))
    val uni = t.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val pairs = t.filter(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
    val bi = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 3)
    val nBi = pairs.agg(count(lit(1)).as("n_bi"))
    val base = bi
      .join(uni.select(col("w").as("w1"), col("cu").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(nBi))
      .withColumn("n_bi", when(col("n_bi") < (1L << 31), col("n_bi"))
        .otherwise(raise_error(lit(
          "q_collocations: N >= 2^31 tokens — prescale before the PMI products"))))
      .filter(col("c_xy") * col("n_bi") > col("c_x") * col("c_y"))
    graft.functions.FixLog2
      .withFixLog2(base, col("c_xy") * col("n_bi"),
        col("c_x") * col("c_y"), "pmi_q16")
      .select(col("w1"), col("w2"), col("c_xy"), col("pmi_q16"))
      .orderBy(col("pmi_q16").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Chao1 vocabulary-richness estimator (Chao 1984, bias-corrected
    * form) — the coverage question every corpus slice raises at
    * 100 TB: how much vocabulary has this source NOT shown yet? The
    * abundance-based estimate Ŝ = S_obs + f₁(f₁−1)/(2(f₂+1)) needs
    * only the singleton/doubleton counts of the term-frequency
    * distribution, and its milli-scaled form is pure BIGINT
    * cross-multiplication — no floating point, hash-exact. A source
    * whose f₁ dwarfs f₂ is mostly unseen (keep crawling); f₁ → 0
    * means the vocabulary is saturated (more data adds tokens, not
    * words).
    *
    * Scale shape: one token explode into the (source, term) agg
    * (map-combined, the term-frequency cost class), then a count-of-
    * counts agg on the vocab-sized frame; output is |sources|
    * rows. */
  def qChao1(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables(spark, sfDir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col("source"))
      .agg(count(lit(1)).as("s_obs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1_milli",
        expr("1000 * s_obs + (1000 * f1 * (f1 - 1)) div (2 * (f2 + 1))"))
      .orderBy(col("source"))
  }

  /** Hashing-trick vectorizer (Weinberger et al., ICML'09) — the
    * fixed-width featurizer behind linear quality classifiers at
    * corpus scale: every token hashes to one of 1024 buckets with a
    * ±1 sign bit, so the feature space is CLOSED (no vocabulary
    * build, no OOV path, merge-free across shards) and the signed
    * sum makes collisions cancel in expectation. Both hashes ride
    * the engine's one deterministic hash convention ([[Tables
    * .md5Bucket]]): bucket = first 4 md5 hex digits mod 1024, sign =
    * 5th digit parity — seedless and engine-reproducible, so the
    * sparse (doc, bucket, weight) rows hash-match DuckDB exactly.
    *
    * Scale shape: one token explode into a (doc, bucket) map-combined
    * agg — the term-frequency cost class; output is min(tokens,
    * 1024) rows per doc and the feature width never grows with the
    * corpus. */
  def qFeatureHash(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val h = md5(concat(lit("fh|"), col("w")))
    tok.select(col("doc_id"),
        pmod(conv(substring(h, 1, 4), 16, 10).cast("long"), lit(1024L))
          .as("bucket"),
        when(conv(substring(h, 5, 1), 16, 10).cast("long") % 2 === 0,
          lit(1L)).otherwise(lit(-1L)).as("s"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("s")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** Held-out bigram cross-entropy — the CCNet-style perplexity
    * filter, and the exact-log upgrade [[qBigramLm]]'s scaladoc
    * deferred (its probability-SUM score predates [[graft.functions
    * .FixLog2]]): train an add-1 bigram LM on the md5-80% split
    * ([[Tables.md5Bucket]], the one deterministic split convention),
    * then charge every held-out bigram its exact code length
    * −log2 p = L(c1+V, c2+1) in 2⁻¹⁶-bit units, with the standard
    * add-1 backoff chain for unseen events (pair unseen → 1/(c1+V);
    * context unseen → 1/V). Per-doc bits-per-bigram is THE
    * pretraining quality signal: wiki-like prose scores low,
    * boilerplate/gibberish high.
    *
    * Ladder discipline (the q_benford / q_collocations lessons): one
    * ladder per MODEL frame — pair costs on the trained-bigram
    * vocab, context costs on the context vocab, the default cost on
    * the 1-row V frame — and the corpus-sized held-out bigram stream
    * only ever JOINS those finished tables on plain attributes;
    * nothing above a ladder gets rewritten through it. Scale shape:
    * one train-side explode + two vocab aggs, one held-out explode,
    * two vocab equi-joins + a broadcast 1-row default, one per-doc
    * agg; costs ≤ 63·2¹⁶ so per-doc sums stay in BIGINT to ~2⁴⁰
    * bigrams per document. */
  def qBigramPpl(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), tokens(coalesce(col("text"), lit(""))).as("tk"))
    val isTrain = Tables.md5Bucket(col("doc_id")) < 80
    def bigrams(t: DataFrame): DataFrame = t
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(tk, 1, size(tk) - 1), (x, i) -> " +
          "named_struct('w1', x, 'w2', element_at(tk, CAST(i + 2 AS INT))))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val train = d.filter(isTrain)
    val biTr = bigrams(train)
    val c2 = biTr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = biTr.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = train.select(explode(col("tk")).as("tok"))
      .agg(countDistinct(col("tok")).cast("long").as("v"))
    val pairModel = graft.functions.FixLog2.withFixLog2(
        c2.join(c1, Seq("w1")).crossJoin(broadcast(v)),
        col("c1") + col("v"), col("c2") + lit(1L), "pair_cost")
      .select(col("w1"), col("w2"), col("pair_cost"))
    val ctxModel = graft.functions.FixLog2.withFixLog2(
        c1.crossJoin(broadcast(v)),
        col("c1") + col("v"), lit(1L), "ctx_cost")
      .select(col("w1"), col("ctx_cost"))
    val defModel = graft.functions.FixLog2
      .withFixLog2(v, col("v"), lit(1L), "def_cost")
      .select(col("def_cost"))
    bigrams(d.filter(!isTrain))
      .join(pairModel, Seq("w1", "w2"), "left")
      .join(ctxModel, Seq("w1"), "left")
      .crossJoin(broadcast(defModel))
      .withColumn("cost",
        coalesce(col("pair_cost"), col("ctx_cost"), col("def_cost")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"), sum(col("cost")).as("nll_q16"))
      .withColumn("xent_q16", expr("nll_q16 div n_bi"))
      .orderBy(col("doc_id"))
  }

  /** Flesch reading-ease screen in exact milli-units — the
    * readability member of the quality family: complexity prose
    * metrics gate grade-level mixes the way [[qQualityFilter]]
    * gates junk. Words = maximal [a-z]+ runs, sentences = maximal
    * [.!?]+ runs (floored at 1), syllables ≈ maximal vowel-group
    * runs — the classical hyphenation-free approximation; every
    * count is a codegen'd regexp_count over constructs with
    * identical Java/RE2 semantics, and the score
    * 206835 − (1015·W) div S − (84600·Y) div W stays in BIGINT, so
    * the whole screen is hash-exact with zero floating point.
    *
    * Scale shape: pure narrow projection — no shuffle at all; the
    * scan prunes to (doc_id, lang, text). */
  def qReadability(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        regexp_count(lower(col("text")), lit("[a-z]+"))
          .cast("long").as("words"),
        greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+"))
          .cast("long")).as("sents"),
        regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("long").as("syll"))
      .filter(col("words") >= 1)
      .withColumn("flesch_milli",
        expr("206835 - (1015 * words) div sents - (84600 * syll) div words"))
      .orderBy(col("doc_id"))
  }
}
