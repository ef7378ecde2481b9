package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — exact,
  * n-gram-Jaccard (exact, inverted-index), MinHash+LSH, and SimHash.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is a fingerprint groupBy — one shuffle keyed by a
  *    16-byte hash, map-side combined;
  *  - exact Jaccard pairs use a shingle inverted index (explode +
  *    self-equi-join on shingle) — never the O(n²) cross join; skewed
  *    ultra-common shingles are handled by AQE skew-join splitting;
  *  - MinHash+LSH replaces the inverted index with a bounded
  *    band-bucket join: k=64 hashes, 32 bands × 2 rows. For a true
  *    Jaccard J, P(candidate) = 1-(1-J²)³²; at the J ≥ 0.8 output
  *    threshold P(miss) ≤ (1-0.64)³² ≈ 5e-15, so after exact
  *    verification of candidates the output provably equals the exact
  *    inverted-index result (same oracle SQL) while the join touches
  *    only 32 rows per doc regardless of document length;
  *  - SimHash buckets on 16-bit signature chunks (pigeonhole: hamming
  *    ≤ 3 over 64 bits ⇒ at least one of 4 chunks identical), then
  *    verifies with bit_count(xor). Hash-dependent → rows-only check.
  */
object Dedup {

  /** Distinct word n-gram shingles (space-joined) from a MATERIALIZED
    * token-array column (see [[shingleHashSets]] for why tokens must
    * not be inlined into lambda positions); empty array when fewer
    * than n tokens. */
  def shinglesFromTokens(tk: Column, n: Int = 3): Column =
    when(size(tk) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", slice(tk, i + 1, lit(n))))))

  /** Convenience for tests / small inputs: shingles straight from the
    * text (pays the per-element re-tokenization — do not use in
    * corpus-scale plans). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextOps.tokens(text), n)

  /** See [[Tables.spread]] — conditional redistribution of an
    * under-parallel scan, with the parallelism probe memoized per
    * input file set. */
  private[engine] def spread(df: DataFrame,
      keys: Seq[String] = Nil): DataFrame = Tables.spread(df, keys = keys)

  /** FNV-1a 64-bit over the UTF-8 bytes of the tokens joined with a
    * NUL separator — the shingle identity used by the dedup pipeline.
    * Any 64-bit mix works; FNV keeps it dependency-free and portable. */
  private[engine] def fnv1a(tokens: Array[String], from: Int, n: Int): Long = {
    var h = 0xCBF29CE484222325L
    var t = from
    while (t < from + n) {
      val bytes = tokens(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xFFL); h *= 0x100000001B3L; i += 1
      }
      h ^= 0xFFL; h *= 0x100000001B3L // NUL-separator step
      t += 1
    }
    h
  }

  /** doc_id → distinct word-n-gram shingle hashes, computed in one
    * imperative per-partition pass (`mapPartitions`).
    *
    * Why not Column expressions: tokenize+shingle is interpreted
    * (higher-order functions have no codegen), and both
    * CollapseProject and PushDownPredicates freely inline the
    * tokenize expression into per-element lambda positions — observed
    * as a 100× re-tokenization blowup at sf0.1. This is exactly the
    * "genuine per-partition imperative logic" case (SURVEY §7.4): one
    * tight loop per document, no shuffle, encoder-bounded.
    *
    * Set ops on the hashes reproduce string-shingle Jaccard exactly
    * up to 64-bit collisions (P ≈ n²/2⁶⁴ — vanishing), which is why
    * the DuckDB string-shingle oracle still hash-matches. */
  def shingleHashSets(docs: DataFrame, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // project BEFORE the spread exchange and key it on doc_id alone:
    // a full-row key pins dead columns below the exchange (r21
    // verdict — ReadSchema widened to every column)
    spread(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          (id, shingleHashesOf(text, n))
        }
      }
      .toDF("doc_id", "sh")
  }

  /** JVM-side twin of [[TextOps.tokens]] / the oracle's
    * `regexp_split_to_array(trim(lower(text)), '\s+')`: lowercase,
    * trim, split on whitespace runs, drop empties. */
  private[engine] def tokensOf(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else text.toLowerCase(java.util.Locale.ROOT).trim
      .split("\\s+").filter(_.nonEmpty)

  private def shingleHashesOf(text: String, n: Int): Array[Long] = {
    val tk = tokensOf(text)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i + n <= tk.length) { out += fnv1a(tk, i, n); i += 1 }
    out.toArray
  }

  /** MinHash parameters: k affine re-hashes gᵢ(h) = ((h & 0x7FFFFFFF)·aᵢ
    * + bᵢ) mod p over the Mersenne prime p = 2³¹−1, seeded and
    * deterministic. Three deliberate choices: (a) NOT xxhash64(i, h) —
    * 64 inlined hash implementations in one whole-stage-codegen method
    * send Janino into minutes of compilation when done as Columns, and
    * the affine-mod form is a handful of bytecodes either way; (b) the
    * 31-bit mask keeps every product below 2⁶² so nothing overflows;
    * (c) the mod-p reduction is what makes the k functions independent —
    * an affine map WITHOUT the mod is monotone, so every row would
    * select the same min element (observed: 3 of 25 pairs missed). */
  private val minhashP = 0x7FFFFFFFL // 2³¹−1, Mersenne prime
  private def minhashCoeffs(k: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5EEDL)
    Array.fill(k)((1L + rnd.nextLong().abs % (minhashP - 1),
      rnd.nextLong().abs % minhashP))
  }

  /** doc_id → (distinct shingle hashes, k-wide MinHash signature), one
    * imperative per-partition pass. The signature is a PER-DOCUMENT
    * value — computing it here means zero shuffle (the former
    * explode-shingles → groupBy(doc_id).agg(64 × min) formulation
    * shuffled |corpus-shingles| rows just to regroup what was already
    * row-local). Documents with no shingles get an empty signature. */
  /** The MinHash signature of one shingle-hash set against the k
    * affine coefficients — the ONE definition of the signature,
    * shared by the batch pass below and the streaming near-dup
    * filter ([[StreamingOps.nearDupStream]]), so the two can never
    * bucket differently. */
  private[engine] def minhashSigOf(sh: Array[Long], k: Int,
      ab: Array[(Long, Long)]): Array[Long] =
    if (sh.isEmpty) Array.empty[Long]
    else {
      val s = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < sh.length) {
        val h31 = sh(j) & 0x7FFFFFFFL
        var i = 0
        while (i < k) {
          val v = (h31 * ab(i)._1 + ab(i)._2) % minhashP
          if (v < s(i)) s(i) = v
          i += 1
        }
        j += 1
      }
      s
    }

  private[engine] def minhashCoeffsFor(k: Int): Array[(Long, Long)] =
    minhashCoeffs(k)

  private[engine] def shingleHashesOfText(text: String,
      n: Int): Array[Long] = shingleHashesOf(text, n)

  def shingleSigSets(docs: DataFrame, n: Int = 3, k: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ab = minhashCoeffs(k)
    spread(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val sh = shingleHashesOf(text, n)
          (id, sh, minhashSigOf(sh, k, ab))
        }
      }
      .toDF("doc_id", "sh", "sig")
  }

  /** Iterative union-find with two-pass path compression (a recursive
    * `find` overflows the stack on long parent chains — up to
    * `driverEdgeLimit` links is far past the default JVM stack).
    * Returns vertex → component-min label. (DedupSpec deliberately
    * checks the clustering against an independent BFS closure, NOT
    * this helper — keep it that way.) */
  private[graft] def unionFind(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var x = x0 // second pass: compress the chain onto the root
      while (parent.getOrElse(x, x) != x) {
        val nxt = parent(x); parent(x) = r; x = nxt
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => (v, find(v)))
  }

  /** Kept for callers outside the engine; [[SessionMemo.clear]] is the
    * cold-measurement reset. */
  private[graft] def clearMemos(spark: SparkSession): Unit =
    SessionMemo.clear(spark)

  private def cachedSigSets(spark: SparkSession, sfDir: String,
      n: Int, k: Int): DataFrame =
    SessionMemo.frames(spark, s"sigs|$sfDir|$n|$k", eager = true) {
      val built = shingleSigSets(Tables(spark, sfDir, "documents"), n, k)
      // Compact the CACHED frame to a row-derived partition count (the
      // Tables.spreadTarget sizing rule): the tokenize+minhash build
      // wants full fan-out, but every consumer stage of the cache then
      // scans all 32 near-empty partitions — and the LSH working set
      // has ~5 consumer stages per query (band self-join sides, both
      // verify hydrations, the eager count), each paying per-task
      // setup for KBs of data. The repartition only fires when the
      // row-derived target is BELOW the core count, i.e. exactly when
      // the working set is small enough that the extra exchange is
      // trivial; at corpus scale target = parallelism and this is a
      // no-op, so the build's scan partitioning flows through.
      val p = spark.sparkContext.defaultParallelism
      val target = Tables.spreadTarget(p,
        Tables.memoizedCount(spark, sfDir, "documents"), 512)
      if (target < p) built.repartition(target) else built
    }

  // ------------------------------------------------------------ queries

  /** Exact dedup: one representative (min doc_id) per canonical-text
    * fingerprint + the duplicate count. Single hash shuffle on the
    * 16-byte fingerprint. */
  def qDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    d.select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Cross-source contamination matrix — the dataset-QA view behind
    * "which sources copy from each other": for every unordered source
    * pair, the number of DISTINCT word-3-gram shingles present in
    * both. NOT a self-join: after the (shingle, source) distinct (one
    * map-side-combined shuffle), each shingle's source set is
    * collected — bounded by |sources|, a few dozen, no matter how
    * many millions of documents share the shingle — and the unordered
    * pairs are generated INSIDE the row from the sorted set, so the
    * corpus is scanned once and the only remaining shuffle carries
    * ≤ |sources|² pair rows per task. (The equivalent shingle-keyed
    * self-join was measured to re-scan and re-explode the corpus on
    * both sides — AQE does not reuse the exchange across the aliased
    * subtrees.) */
  def qCrossSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // shingle IDENTITY here is the 64-bit FNV hash computed in the
    // same imperative per-partition pass the dedup pipeline uses —
    // NOT the interpreted per-element HOF shingle transform, which
    // profiled ~1.4× slower end-to-end; distinct hash counts equal
    // distinct string counts up to the vanishing 2⁻⁶⁴ collision
    // probability the string-shingle oracle already tolerates
    // everywhere else. One scan, zero joins (plan-guarded). This is
    // [[shingleHashSets]]' pass keyed by source instead of doc_id —
    // the hashing CONTRACT both share lives in [[shingleHashesOf]]
    // (tokenize, n-gram, FNV), so a contract change lands in one
    // place; only the thin key-column wrapper is duplicated.
    val sh = spread(Tables(spark, sfDir, "documents")
        .select(col("source"), col("text")))
      .as[(String, String)]
      .mapPartitions(_.map { case (src, text) =>
        (src, shingleHashesOf(text, 3))
      })
      .toDF("source", "sh")
      .select(col("source"), explode(col("sh")).as("shingle"))
      .distinct()
    val sets = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
    // unordered pairs from the sorted set: for element i, pair with
    // every later element — (a < b) by construction
    val pairs = sets.select(explode(flatten(transform(col("ss"),
      (a, i) => transform(slice(col("ss"), i + 2, size(col("ss"))),
        b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
    pairs.select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Exact near-dup pairs by word-3-gram Jaccard ≥ 0.8 via the shingle
    * inverted index: explode → self-join on shingle hash → per-pair
    * common count → join per-doc sizes → filter. At 100 TB the
    * common-shingle skew is AQE-split and the per-pair aggregation is
    * map-side combined. */
  def qJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // explode off the SAME persisted (id, hashes, sig) working set the
    // minhash queries memoize — `idx` feeds three subtrees (both join
    // sides + the per-doc sizes), and without the cache each one
    // re-ran the full tokenize+shingle mapPartitions pass. Sharing
    // means a COLD run of only this query also pays the k=64
    // signature pass it discards — the right trade here because the
    // verify/bench drivers always run the minhash queries in the same
    // session (one cache entry instead of two near-identical ones);
    // a deployment running only exact Jaccard would key its own
    // sh-only working set instead.
    val idx = cachedSigSets(spark, sfDir, n = 3, k = 64)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val sizes = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.withColumnRenamed("doc_id", "ida")
        .withColumnRenamed("n_sh", "na"), "ida")
      .join(sizes.withColumnRenamed("doc_id", "idb")
        .withColumnRenamed("n_sh", "nb"), "idb")
      .select(col("ida"), col("idb"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("ida"), col("idb"))
  }

  /** Prefix-filtered EXACT set-similarity join (AllPairs / PPJoin —
    * Bayardo et al. WWW'07, Xiao et al. WWW'08): the same J ≥ 0.8
    * pair set as [[qJaccardPairs]], produced from a 5× smaller index.
    * Under any fixed TOTAL order on shingles, two sets with
    * J(a,b) ≥ t must share an element within the first
    * |s| − ⌈t·|s|⌉ + 1 elements of each (disjoint prefixes bound the
    * overlap by ⌈t·min⌉ − 1 < the t·(|a|+|b|)/(1+t) a qualifying pair
    * needs) — so only each doc's PREFIX is indexed, and the order is
    * chosen rarest-first (ascending corpus df, shingle tiebreak) to
    * push prefix entries toward df = 1.
    *
    * Scale shape vs the full inverted index: the joinable index
    * shrinks to ~(1−t)·Σ|s| entries, and candidate volume drops from
    * Σ df² over ALL shingles to Σ df_p² over prefix occurrences of
    * the RAREST shingles — the difference that made exact similarity
    * join feasible at web scale (the spec measures both counts on the
    * fixture). Costs: one df agg, one per-doc rank window (skew-free:
    * partitions are docs), the prefix self-join, then the same
    * full-set verification tail as the minhash path. Completeness is
    * a theorem, not a probability — this is the exact-join
    * alternative when the ~5e−15 banding miss of [[qDedupMinhash]]
    * is not acceptable. */
  def qJaccardPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val withSh = cachedSigSets(spark, sfDir, n = 3, k = 64)
    // the memo key folds in the threshold (and the sig params ride in
    // the consumed cache key): a second caller at a different t must
    // not reuse this prefix frame (ADVICE r21)
    prefixFilterPairs(spark, withSh.select(col("doc_id"), col("sh")), 0.8,
        memoKey = Some(s"jacprefix|$sfDir|3|64|0.8"))
      .orderBy(col("ida"), col("idb"))
  }

  /** The AllPairs core over (doc_id, sh: array<long>) at threshold
    * `t`, factored for spec coverage: rarest-first prefix index →
    * candidate self-join → exact verification on the full sets.
    * `memoKey` persists the PREFIX frame: both aliased sides of the
    * candidate self-join consume it and Spark shares no exchange
    * across aliases, so without the persist the whole index pipeline
    * (shingle-cache scans, df agg, rank window) executed twice per
    * run (StageProbe r21: every upstream stage appeared as a pair). */
  private[graft] def prefixFilterPairs(spark: SparkSession,
      withSh: DataFrame, t: Double,
      memoKey: Option[String] = None): DataFrame = {
    // `sh` is distinct by construction, so |sh| = the set size n —
    // carried through the explode instead of a second window pass
    val idx = withSh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
    val dfTab = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // per-doc rarest-first rank: the row_number window over the
    // df-annotated index. (An in-row alternative — collect_list the
    // (df, shingle) structs per doc, sort_array + slice — was
    // A/B-measured SLOWER at sf0.1, 3.54 s vs 2.33 s solo: the
    // aggregation buffer's per-row array churn costs more than the
    // window's partition sort, unlike qCopurchase where the
    // collected sets are an order of magnitude smaller.)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix0 = idx.join(dfTab, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select(col("doc_id"), col("shingle"))
    val prefix = memoKey.map(k =>
      SessionMemo.frames(spark, k, eager = true)(prefix0)).getOrElse(prefix0)
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    verifyJaccardPairs(cands, withSh, t)
  }

  /** Idf-weighted cosine all-pairs similarity join at cos ≥ 0.8 —
    * the WEIGHTED member of the set-similarity family (Bayardo et
    * al., WWW'07 "Scaling Up All Pairs Similarity Search"):
    * documents as idf-weighted shingle vectors, so a match on a rare
    * shingle counts for more than a match on boilerplate — the
    * metric [[qJaccardPairs]] flattens. Weights are the exact
    * fixed-point log2 idf (w = L(N, df), [[graft.functions.FixLog2]])
    * and the whole pipeline is integer: norms² and dots are integer
    * sums, the threshold test is the exact rational
    * (5·dot)² ≥ 16·‖a‖²·‖b‖² in DECIMAL(38,0) (cos ≥ 4/5 squared,
    * no rounding anywhere — every operand is widened to decimal
    * BEFORE any multiply, so no LONG product can wrap; exact for
    * dot < 6.3·10¹⁸, i.e. the full long range, and
    * ‖a‖²·‖b‖² < 6.25·10³⁶), and only the reported `cos` column
    * touches doubles (three correctly-rounded IEEE ops).
    *
    * Candidate generation is the norm-suffix prefix filter — the
    * weighted analogue of [[prefixFilterPairs]]'s count bound: under
    * the global (df asc, shingle) order, index position i of doc x
    * iff 25·rem_i ≥ 16·‖x‖² where rem_i = Σ_{j≥i} w_j² (the suffix
    * norm²). Completeness is Cauchy–Schwarz: if the earliest shared
    * shingle of a true pair sat outside x's prefix, then
    * dot ≤ √rem·‖y‖ < (4/5)·‖x‖‖y‖ — contradiction; symmetrically
    * for y, so every cos ≥ 0.8 pair collides inside prefix×prefix.
    * Same scale shape as the Jaccard path: index ~(1−t²)-sized,
    * pair-sized exchanges after the candidate distinct; docs whose
    * every shingle is corpus-universal (df = N → w = 0) drop out of
    * the vector space entirely, which also keeps the stopword fan
    * out of the candidate join. */
  def qIdfCosinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val withSh = cachedSigSets(spark, sfDir, n = 3, k = 64)
    idfCosinePairs(withSh.select(col("doc_id"), col("sh")))
      .orderBy(col("ida"), col("idb"))
  }

  /** The weighted-AllPairs core over (doc_id, sh: array<long>) at
    * the fixed threshold 4/5, factored for spec coverage. */
  private[engine] def idfCosinePairs(withSh: DataFrame): DataFrame = {
    val idx = withSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dfTab = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val nDocs = idx.agg(countDistinct(col("doc_id")).as("n_docs"))
    val wTab = graft.functions.FixLog2.withFixLog2(
        dfTab.crossJoin(broadcast(nDocs)).filter(col("df") < col("n_docs")),
        col("n_docs"), col("df"), "w")
      .select(col("shingle"), col("df"), col("w"))
    val vec = idx.join(wTab, Seq("shingle"))
    val n2 = vec.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("n2"))
    val wWin = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = vec
      .withColumn("rem", sum(col("w") * col("w")).over(wWin))
      .join(n2, Seq("doc_id"))
      .filter(col("rem").cast("decimal(19,0)") * lit(25L)
        >= col("n2").cast("decimal(19,0)") * lit(16L))
      .select(col("doc_id"), col("shingle"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    val va = vec.select(col("doc_id").as("ida"), col("shingle"),
      col("w").as("wa"))
    val vb = vec.select(col("doc_id").as("idb"), col("shingle"),
      col("w").as("wb"))
    // pair-sized fan: candidates hydrate a's shingles, then the
    // (idb, shingle) equi-join keeps only the intersection rows
    val dots = cands.join(va, Seq("ida"))
      .join(vb, Seq("idb", "shingle"))
      .groupBy(col("ida"), col("idb"))
      .agg(sum(col("wa") * col("wb")).as("dot_q"))
    dots
      .join(n2.select(col("doc_id").as("ida"), col("n2").as("n2a")), "ida")
      .join(n2.select(col("doc_id").as("idb"), col("n2").as("n2b")), "idb")
      .filter((col("dot_q").cast("decimal(19,0)") * lit(5L))
          * (col("dot_q").cast("decimal(19,0)") * lit(5L))
        >= col("n2a").cast("decimal(19,0)")
          * (col("n2b").cast("decimal(19,0)") * lit(16L)))
      .select(col("ida"), col("idb"), col("dot_q"),
        (col("dot_q").cast("double")
          / sqrt(col("n2a").cast("double") * col("n2b").cast("double")))
          .as("cos"))
  }

  /** Directed set-containment join (quote / subset detection):
    * ordered pairs (ida, idb), ida ≠ idb, with
    * C(a→b) = |Sa ∩ Sb| / |Sa| ≥ 0.9 over the word-3-gram shingle
    * sets — the ASYMMETRIC cousin of [[qJaccardPrefix]]. Jaccard
    * misses exactly the pairs a curation pipeline most wants: a short
    * document quoted wholesale inside a much longer one has tiny
    * J(a,b) = |Sa∩Sb|/|Sa∪Sb| but containment ≈ 1 — the
    * quote-detection / subset-dedup signal (keep the superset, drop
    * the enclosed copy).
    *
    * Same prefix-filter theorem, one-sided: under any fixed total
    * order, if |Sa∩Sb| ≥ ⌈t·|Sa|⌉ and B misses ALL of A's first
    * |Sa| − ⌈t·|Sa|⌉ + 1 elements, the overlap is ≤ ⌈t·|Sa|⌉ − 1 —
    * contradiction. So only the CONTAINED side is prefix-indexed
    * (rarest-first, as [[prefixFilterPairs]]) while the container
    * side keeps its FULL inverted index — the asymmetry is the cost
    * of the asymmetric predicate (candidate fan Σ_a prefix·df instead
    * of Σ df_p², plus the size filter |Sb| ≥ ⌈t·|Sa|⌉, since the
    * overlap can never exceed |Sb|). Verification is one exact
    * intersect on the full sets, the [[verifyJaccardPairs]] shape
    * with the asymmetric denominator. */
  def qContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val withSh = cachedSigSets(spark, sfDir, n = 3, k = 64)
    containmentPairs(withSh.select(col("doc_id"), col("sh")), 0.9)
      .orderBy(col("ida"), col("idb"))
  }

  /** The containment core over (doc_id, sh: array<long>) at threshold
    * `t`: contained-side rarest-first prefix × full inverted index →
    * exact verification with the |Sa| denominator. */
  private[graft] def containmentPairs(withSh: DataFrame, t: Double)
      : DataFrame = {
    val idx = withSh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
    val dfTab = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    val prefix = idx.join(dfTab, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select(col("doc_id"), col("n"), col("shingle"))
    val cands = prefix.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") =!= col("b.doc_id")
          && col("b.n") >= ceil(lit(t) * col("a.n")))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    cands
      .join(withSh.select(col("doc_id").as("ida"), col("sh").as("sa")), "ida")
      .join(withSh.select(col("doc_id").as("idb"), col("sh").as("sb")), "idb")
      .select(col("ida"), col("idb"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa"))).as("containment"))
      .filter(col("containment") >= t)
  }

  /** Striped (position-interleaved) blocking chunks for the fuzzy
    * join: chunk j of an 18-char key string = its characters at
    * positions ≡ j (mod 3). Hamming distance ≤ 2 touches at most two
    * chunks, so a qualifying pair agrees on ≥1 chunk (the SimHash
    * pigeonhole) — and striping spreads the string's entropy across
    * EVERY chunk, where contiguous thirds would make the constant
    * "Customer#" prefix one all-colliding block (a measured n²
    * degeneracy on prefix-structured keys). */
  private def stripedChunks(name: Column): Column =
    array((0 until 3).map(j => struct(lit(j).as("j"),
      concat((0 until 18).collect { case p if p % 3 == j =>
        substring(name, p + 1, 1) }: _*).as("v"))): _*)

  /** Blocked fuzzy string join (record linkage / entity resolution):
    * a deterministically corrupted probe set of customer names —
    * every md5-bucket < 50 customer with ≤2 letter substitutions at
    * md5-derived prefix positions — re-linked to the clean customer
    * table by levenshtein ≤ 2, WITHOUT the quadratic
    * all-pairs-levenshtein scan. Blocking = [[stripedChunks]]
    * pigeonhole equi-join (candidates where any striped chunk
    * matches), verification = exact `levenshtein` on the candidate
    * set only, applied BELOW the pair-dedup exchange so only
    * verified matches ever shuffle.
    *
    * Contract: complete for the substitution class (equal length ⇒
    * levenshtein = Hamming ≤ 2 ⇒ pigeonhole guarantee) — exactly the
    * planted corruption model; alignment-shifting edits (indels)
    * need q-gram or deletion-neighborhood blocking, the documented
    * extension. The oracle rebuilds the same blocking (the LSH-
    * oracle convention), and the spec brute-forces planted recall =
    * 100% at fixture scale.
    *
    * Scale shape: candidate volume is Σ_{j,v} df_probe(j,v) ·
    * df_clean(j,v) — the blocking-key frequency product, linear in
    * corpus size when chunk entropy tracks key entropy (striping
    * guarantees every chunk carries the id digits' entropy; hot
    * chunk values are AQE skew-split). Production multi-field
    * blocking composes more key functions the same way. */
  def qFuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (probes, clean) = fuzzyCorpus(spark, sfDir)
    fuzzyLink(probes, clean).orderBy(col("probe_id"), col("match_id"))
  }

  /** The shared record-linkage fixture: (probes, clean) where probes
    * = every md5-bucket < 50 customer's name with ≤2 letter
    * substitutions at md5-derived prefix positions. Used by
    * [[qFuzzyJoin]] (levenshtein verify) and [[qFuzzyJw]]
    * (Jaro-Winkler re-score) — one corruption model, two metrics. */
  private def fuzzyCorpus(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val h = md5(concat(lit("fz|"), col("c_custkey").cast("string")))
    def hex4(start: Int): Column =
      conv(substring(h, start, 4), 16, 10).cast("int")
    val alpha = lit("abcdefghijklmnopqrstuvwxyz")
    val p1 = hex4(1) % 9
    val p2 = hex4(5) % 9
    val l1 = alpha.substr(hex4(9) % 26 + 1, lit(1))
    val l2 = alpha.substr(hex4(13) % 26 + 1, lit(1))
    // sequential substitution: p1 first, then p2 (later wins a tie)
    val dirty = concat(((0 until 9).map { i =>
      when(p2 === i, l2).when(p1 === i, l1)
        .otherwise(substring(col("c_name"), i + 1, 1))
    } :+ substring(col("c_name"), 10, 9)): _*)
    // spread BEFORE the md5-derived corruption projection (r22): the
    // bucket filter + dirty build evaluate md5 + base-16 conv ×5 +
    // a 9-way when-chain per row, and customer ships as one split —
    // StageProbe measured this as a 0.25 s SINGLE-task stage on
    // q_fuzzy_join's critical path (it is the broadcast build side).
    // Clean stays unspread here: its consumers spread it themselves
    // and a second exchange over the same files would be redundant.
    val probes = Tables.spread(cust, keys = Seq("c_custkey"))
      .filter(Tables.md5Bucket(col("c_custkey")) < 50)
      .select(col("c_custkey").as("probe_id"), dirty.as("probe_name"))
    val clean = cust.select(col("c_custkey").as("match_id"),
      col("c_name").as("clean_name"))
    (probes, clean)
  }

  /** Jaro-Winkler re-score of the blocked linkage candidates — the
    * metric production entity resolution actually ranks name matches
    * with (transposition-tolerant, prefix-boosted), over the SAME
    * [[stripedChunks]] candidate generation as [[qFuzzyJoin]]:
    * every candidate pair scores with the native codegen'd
    * [[graft.functions.JaroWinkler]] and survives at ≥ 0.9. The
    * contract is explicitly "JW over the blocked candidate set" —
    * JW has no edit bound, so no blocking scheme is complete for it
    * in general; what production does (and this query demonstrates)
    * is re-scoring a recall-measured blocking's candidates with the
    * better-calibrated metric. The oracle rebuilds the identical
    * blocking and DuckDB's built-in `jaro_winkler_similarity`
    * (bit-exact vs the native expression — variant pinned in the
    * Scaladoc of [[graft.functions.JaroWinkler]]), so the full
    * score column hash-checks. Same scale shape as [[fuzzyLink]]:
    * blocking-key df-product candidate fan, scored on the broadcast
    * join's stream side, collapsed by the ≥0.9 cut BELOW the
    * pair-dedup exchange. */
  def qFuzzyJw(spark: SparkSession, sfDir: String): DataFrame = {
    val (probes, clean) = fuzzyCorpus(spark, sfDir)
    val pk = probes.select(col("probe_id"), col("probe_name"),
      explode(stripedChunks(col("probe_name"))).as("ck"))
    val ck = Tables.spread(clean, keys = Seq("match_id"))
      .select(col("match_id"), col("clean_name"),
      explode(stripedChunks(col("clean_name"))).as("ck"))
    // NEGATIVE RESULT (r22, kept for the record): deduping the
    // candidate fan BEFORE the JW re-score — distinct over
    // (ids, names), then score once per pair — was paired-A/B'd at
    // 1.04× and its fan shuffle grew 23 MB → 55 MB (the names ride
    // every fan row instead of only the scored survivors), while the
    // JW stage's task time barely moved: the shared-chunk duplication
    // factor is too low to pay for the wider exchange. Score-then-
    // distinct stays... as a SOURCE-LOCAL predicate (r22b): unlike
    // the fuzzy levenshtein family (verify collapses the fan to
    // O(matches) before the pair-dedup exchange), jw ≥ 0.9 keeps
    // ~97% of the 2.2M-row candidate fan on this corpus, so the
    // `.distinct()` WAS the query's dominant cost — OpProbe: 7.2 s
    // partial-agg time (avgHashProbe 414), a 23 MB exchange, 2.2 s
    // final agg, all to drop the ~3% of pairs that matched on more
    // than one chunk. A pair is emitted ONLY on its MINIMUM matching
    // chunk index instead: for the row joined on chunk j, every
    // chunk j' < j of the two names must differ — a row-local
    // codegen'd string compare (the chunks are pure functions of the
    // two names already on the row). Exactly one fan row per
    // qualifying pair survives (the min-index row passes by
    // minimality, every other matching row sees its smaller matching
    // index and drops), and jw is a pure function of the name pair,
    // so the output rows are bit-identical to the distinct's.
    // the chunk-0/1 values ride as PRE-JOIN columns (one evaluation
    // per input row, 67k rows) — computing them inside the post-join
    // filter re-built the chunk arrays per CANDIDATE row (2.3M rows,
    // ~34× the work; first cut of this rewrite A/B'd at 1.7×)
    def chunkV(name: Column, j: Int): Column =
      concat((0 until 18).collect { case p if p % 3 == j =>
        substring(name, p + 1, 1) }: _*)
    val pk2 = pk.withColumn("p0", chunkV(col("probe_name"), 0))
      .withColumn("p1", chunkV(col("probe_name"), 1))
    val ck2 = ck.withColumn("c0", chunkV(col("clean_name"), 0))
      .withColumn("c1", chunkV(col("clean_name"), 1))
    val minMatch = col("ck.j") === 0 ||
      (col("ck.j") === 1 && col("p0") =!= col("c0")) ||
      (col("ck.j") === 2 && col("p0") =!= col("c0")
        && col("p1") =!= col("c1"))
    pk2.join(ck2, "ck")
      .filter(minMatch)
      .select(col("probe_id"), col("match_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.JaroWinkler(
            org.apache.spark.sql.GraftBridge.expression(col("probe_name")),
            org.apache.spark.sql.GraftBridge.expression(col("clean_name"))))
          .as("jw"))
      .filter(col("jw") >= 0.9)
      .orderBy(col("probe_id"), col("match_id"))
  }

  /** The generic blocked fuzzy-link core over
    * probes(probe_id, probe_name) × clean(match_id, clean_name):
    * striped-chunk pigeonhole equi-join + exact levenshtein ≤ 2,
    * verified BELOW the pair-dedup exchange. Factored from
    * [[qFuzzyJoin]] so `tools.FuzzyScale` can drive it at 1M rows.
    *
    * Shapes that matter (both measured at sf0.1): the clean side is
    * spread across cores before the join — a dimension parquet
    * arrives as one split, and the candidate fan (Σ blocking-key df
    * products) evaluates levenshtein on the STREAM side of the
    * broadcast block join (29 s single-task → 1.8 s); and the
    * levenshtein filter sits below the distinct, so the fan collapses
    * to O(matches) before any exchange (id-only dedup of the raw fan
    * + two name re-joins measured 10.6 s vs 2.8 s). */
  private[graft] def fuzzyLink(probes: DataFrame,
      clean: DataFrame): DataFrame = {
    val pk = probes.select(col("probe_id"), col("probe_name"),
      explode(stripedChunks(col("probe_name"))).as("ck"))
    val ck = Tables.spread(clean, keys = Seq("match_id"))
      .select(col("match_id"), col("clean_name"),
      explode(stripedChunks(col("clean_name"))).as("ck"))
    pk.join(ck, "ck")
      // threshold form (r21) via the native affix-stripping twin
      // (r22, [[graft.functions.LevThreshold]]): kept rows and their
      // distances are identical to the full levenshtein — exact
      // distance when <= tau, -1 above it (LevThresholdSpec pins
      // twin == builtin bit-exactly), and the filter keeps exactly
      // the old <= tau set. The strip matters here: candidate names
      // share long constant affixes, so the DP runs on the few
      // differing chars instead of the full 18
      .select(col("probe_id"), col("match_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.LevThreshold(
            org.apache.spark.sql.GraftBridge.expression(col("probe_name")),
            org.apache.spark.sql.GraftBridge.expression(col("clean_name")),
            2)).cast("long")
          .as("dist"))
      .filter(col("dist").between(0, 2))
      .distinct()
  }

  /** The ≤2-deletion neighborhood of a string, as 64-bit hashes —
    * the symmetric-delete blocking key set (FastSS, Bocek et al.
    * 2007 / SymSpell): D₂(s) = s plus every string obtained by
    * deleting 1 or 2 characters. THE theorem that makes this
    * blocking complete for FULL levenshtein ≤ 2 (indels included,
    * where [[stripedChunks]]' pigeonhole only covers substitutions):
    * in an optimal alignment of a and b with ≤ 2 edits, the matched
    * characters form a common subsequence c reachable from EITHER
    * side by deleting only its un-matched characters — at most
    * (substitutions + deletions) ≤ 2 from a and (substitutions +
    * insertions) ≤ 2 from b — so c ∈ D₂(a) ∩ D₂(b) and every
    * qualifying pair shares a key. Variants are hashed to longs
    * (8-byte join keys instead of ~17-char strings; collisions only
    * ADD candidates, which the levenshtein verify discards) and
    * deduped in-row — repeated characters (the zero-runs of id-
    * structured keys) collapse many deletions to one variant, so the
    * real fan on such corpora is well under the 1 + L + C(L,2)
    * bound (~172 at L = 18). Requires length(s) ≥ 2. */
  private[graft] def delNeighborhood(s: Column): Column = {
    val L = length(s)
    val d0 = array(xxhash64(s))
    val d1 = transform(sequence(lit(0), L - 1),
      i => xxhash64(concat(s.substr(lit(1), i), s.substr(i + 2, L))))
    val d2 = flatten(transform(sequence(lit(0), L - 2), i =>
      transform(sequence(i + 1, L - 1), j =>
        xxhash64(concat(s.substr(lit(1), i),
          s.substr(i + 2, j - i - 1), s.substr(j + 2, L))))))
    array_distinct(concat(d0, d1, d2))
  }

  /** Indel-robust blocked fuzzy link — the documented extension of
    * [[fuzzyLink]] (whose striped-chunk pigeonhole is complete only
    * for substitutions): [[delNeighborhood]] equi-join on shared
    * deletion variants, exact levenshtein ≤ 2 verification BELOW the
    * pair-dedup exchange (the measured fuzzyLink discipline). The
    * blocking is COMPLETE for levenshtein ≤ 2 — the output is
    * exactly the brute-force cross join's, which is why `q_fuzzy_
    * indel`'s oracle is the plain cross-join + levenshtein filter
    * (the strongest possible check: DuckDB independently computes
    * the full answer with no blocking to mirror).
    *
    * Scale shape: each side explodes into ≤ 1 + L + C(L,2) hashed
    * keys (in-row-deduped), the join fan is Σ_k df_probe(k) ·
    * df_clean(k) — variants retain all but 2 characters, so key
    * entropy tracks string entropy and the fan stays linear-ish in
    * the corpus ([[graft.tools.FuzzyScale]] measures it at 1M rows);
    * verification collapses the fan to O(matches) before any
    * exchange. */
  private[graft] def fuzzyLinkIndel(probes: DataFrame,
      clean: DataFrame): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    // deletion-variant fans via the JVM twin in one imperative pass
    // per side — the Column HOF form is interpreted per variant
    // (~172 nested lambda evaluations per 18-char row; see the twin
    // scaladoc at [[segmentKeysOf]])
    val pk = probes.select(col("probe_id"), col("probe_name"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, nm) =>
        delNeighborhoodOf(nm).iterator.map(k0 => (id, nm, k0)) })
      .toDF("probe_id", "probe_name", "dk")
    val ck = Tables.spread(clean, keys = Seq("match_id"))
      .select(col("match_id"), col("clean_name"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, nm) =>
        delNeighborhoodOf(nm).iterator.map(k0 => (id, nm, k0)) })
      .toDF("match_id", "clean_name", "dk")
    pk.join(ck, "dk")
      // threshold form — see fuzzyLink: identical kept rows/distances
      .select(col("probe_id"), col("match_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.LevThreshold(
            org.apache.spark.sql.GraftBridge.expression(col("probe_name")),
            org.apache.spark.sql.GraftBridge.expression(col("clean_name")),
            2)).cast("long")
          .as("dist"))
      .filter(col("dist").between(0, 2))
      .distinct()
  }

  /** Fuzzy join under an INDEL corruption model — the record-linkage
    * case [[qFuzzyJoin]]'s substitution-only blocking provably
    * cannot handle (an insertion/deletion shifts every downstream
    * character, so no striped chunk survives): every md5-bucket < 10
    * customer's name gets one md5-derived deletion then one
    * md5-derived letter insertion (net levenshtein ≤ 2 with an
    * alignment shift between them), and is re-linked to the clean
    * table by [[fuzzyLinkIndel]]. Mirrors `Kafka2S3Hive.scala:71-80`'s
    * posture of repairing dirty upstream keys before the join, at
    * the fidelity real entity resolution needs. */
  def qFuzzyIndel(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val h = md5(concat(lit("fzi|"), col("c_custkey").cast("string")))
    def hex4(start: Int): Column =
      conv(substring(h, start, 4), 16, 10).cast("int")
    val alpha = lit("abcdefghijklmnopqrstuvwxyz")
    val name = col("c_name")
    val pd = hex4(1) % 9
    val pi = hex4(5) % 9
    val li = alpha.substr(hex4(9) % 26 + 1, lit(1))
    val del = concat(name.substr(lit(1), pd),
      name.substr(pd + 2, length(name)))
    val dirty = concat(del.substr(lit(1), pi), li,
      del.substr(pi + 1, length(del)))
    // spread before the md5 projection — the fuzzyCorpus rationale
    val probes = Tables.spread(cust, keys = Seq("c_custkey"))
      .filter(Tables.md5Bucket(col("c_custkey")) < 10)
      .select(col("c_custkey").as("probe_id"), dirty.as("probe_name"))
    val clean = cust.select(col("c_custkey").as("match_id"),
      col("c_name").as("clean_name"))
    fuzzyLinkIndel(probes, clean)
      .orderBy(col("probe_id"), col("match_id"))
  }

  /** Segment blocking keys for the INDEXED (clean) side of the
    * partition-based fuzzy join ([[fuzzyLinkSegments]]): the string
    * split into τ+1 contiguous segments (first `len mod (τ+1)`
    * segments one char longer — the even split, reproduced exactly
    * by the probe side), each hashed with its (length, index)
    * context so only same-partitioning occurrences join. τ+1 keys
    * per row — CONSTANT fan, vs [[delNeighborhood]]'s O(L²) for
    * τ = 2 and O(L³) were it extended to τ = 3. */
  /** JVM twins of the fuzzy blocking-key Columns (r22):
    * [[segmentKeys]] / [[segmentProbeKeys]] / [[delNeighborhood]] are
    * 2-3-level nested higher-order functions — INTERPRETED per array
    * element (HOFs have no codegen), and the probe-side fan evaluates
    * ~196 nested lambda trees per row. StageProbe measured the
    * q_fuzzy_lev3 join stage at 37 s of summed task time at sf0.1,
    * dominated by this interpreted evaluation. The twins replay the
    * EXACT expression semantics on UTF8String (`substringSQL` =
    * `substr`, `numChars` = `length`, `concatWs` = `concat_ws`,
    * XXH64 seed 42 = `xxhash64`), so the emitted keys are
    * bit-identical; FuzzSpec pins twin == Column form over fixture
    * names and crafted short/empty/multi-byte strings, and the
    * Column forms stay as the reference implementation. */
  private def utf8KeyHash(u: org.apache.spark.unsafe.types.UTF8String)
      : Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)

  private def segKeyHash(lc: Int, i: Int,
      sub: org.apache.spark.unsafe.types.UTF8String): Long = {
    import org.apache.spark.unsafe.types.UTF8String
    utf8KeyHash(UTF8String.concatWs(UTF8String.fromString("|"),
      UTF8String.fromString(lc.toString), UTF8String.fromString(i.toString),
      sub))
  }

  private[graft] def segmentKeysOf(name: String, tau: Int): Array[Long] = {
    if (name == null) return Array.empty
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(name)
    val big = s.numChars()
    val k = tau + 1
    val r = big % k
    val q = (big - r) / k
    Array.tabulate(tau + 1) { i =>
      val start = i * q + math.min(i, r)
      val len = q + (if (i < r) 1 else 0)
      segKeyHash(big, i, s.substringSQL(start + 1, len))
    }
  }

  private[graft] def segmentProbeKeysOf(name: String,
      tau: Int): Array[Long] = {
    if (name == null) return Array.empty
    val s = org.apache.spark.unsafe.types.UTF8String.fromString(name)
    val lp = s.numChars()
    val k = tau + 1
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var lc = lp - tau
    while (lc <= lp + tau) {
      if (lc >= k) {
        val r = lc % k
        val q = (lc - r) / k
        var i = 0
        while (i <= tau) {
          val pb = i * q + math.min(i, r)
          val len = q + (if (i < r) 1 else 0)
          var d = -tau
          while (d <= tau) {
            val pa = pb + d
            if (pa >= 0 && pa <= lp - len)
              out += segKeyHash(lc, i, s.substringSQL(pa + 1, len))
            d += 1
          }
          i += 1
        }
      }
      lc += 1
    }
    out.toArray
  }

  private[graft] def delNeighborhoodOf(name: String): Array[Long] = {
    if (name == null) return Array.empty
    import org.apache.spark.unsafe.types.UTF8String
    val s = UTF8String.fromString(name)
    val big = s.numChars()
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    out += utf8KeyHash(s)
    var i = 0
    while (i < big) {
      out += utf8KeyHash(UTF8String.concat(
        s.substringSQL(1, i), s.substringSQL(i + 2, big)))
      i += 1
    }
    i = 0
    while (i <= big - 2) {
      var j = i + 1
      while (j <= big - 1) {
        out += utf8KeyHash(UTF8String.concat(s.substringSQL(1, i),
          s.substringSQL(i + 2, j - i - 1), s.substringSQL(j + 2, big)))
        j += 1
      }
      i += 1
    }
    out.toArray
  }

  private[graft] def segmentKeys(s: Column, tau: Int): Column = {
    val L = length(s)
    val kk = lit(tau + 1)
    val r = pmod(L, kk)
    val q = ((L - r) / kk).cast("int")
    transform(sequence(lit(0), lit(tau)), i => {
      val start = (i * q + least(i, r)).cast("int")
      val len = (q + when(i < r, lit(1)).otherwise(lit(0))).cast("int")
      xxhash64(concat_ws("|", L.cast("string"), i.cast("string"),
        s.substr(start + 1, len)))
    })
  }

  /** Probe-side candidate keys of [[fuzzyLinkSegments]]: for every
    * candidate clean length ℓc ∈ [ℓp−τ, ℓp+τ] (ℓc ≥ τ+1), every
    * segment index, and every alignment shift δ ∈ [−τ, τ], the
    * probe substring of the segment's length at the shifted start —
    * hashed under the same (ℓc, i) context. In-row-deduped; fan
    * bounded by (2τ+1)²·(τ+1) = 196 at τ = 3 (invalid starts
    * filtered), independent of string length. */
  private[graft] def segmentProbeKeys(s: Column, tau: Int): Column = {
    val lp = length(s)
    val kk = lit(tau + 1)
    array_distinct(flatten(flatten(
      transform(sequence(lp - tau, lp + tau), lc => {
        val r = pmod(lc, kk)
        val q = ((lc - r) / kk).cast("int")
        transform(sequence(lit(0), lit(tau)), i => {
          val pb = (i * q + least(i, r)).cast("int")
          val len = (q + when(i < r, lit(1)).otherwise(lit(0))).cast("int")
          filter(transform(sequence(lit(-tau), lit(tau)), d => {
            val pa = (pb + d).cast("int")
            when(lc >= kk && pa >= 0 && pa <= lp - len,
              xxhash64(concat_ws("|", lc.cast("string"), i.cast("string"),
                s.substr(pa + 1, len))))
              .otherwise(lit(null))
          }), x => x.isNotNull)
        })
      }))))
  }

  /** Partition-based (PassJoin-style, Li et al. ICDE'11) blocked
    * fuzzy link for levenshtein ≤ τ — the GENERAL-τ member of the
    * fuzzy family, shipped at τ = 3 where [[fuzzyLinkIndel]]'s
    * symmetric-delete fan turns cubic (D₃ is ~987 variants at
    * L = 18 vs [[segmentKeys]]' constant 4 + ~100 probe keys; the
    * q-gram COUNTING filter alternative is also complete but needs a
    * per-pair count aggregation over the full q-gram fan, a heavier
    * shuffle than this equi-join). THE completeness theorem: split
    * the clean string into τ+1 segments; an optimal alignment of a
    * qualifying pair spends ≤ τ edits, so some segment is edit-free
    * and appears EXACTLY in the probe, and its occurrence shifts by
    * at most the edits before it (≤ τ) — so the pair shares a
    * (length, index, shift) key and the exact levenshtein verify
    * (below the pair-dedup exchange, the measured [[fuzzyLink]]
    * discipline) recovers precisely the brute-force output. The
    * theorem needs length ≥ τ+1 on BOTH sides (a zero-length segment
    * blocks nothing), so strings ≤ τ route through a LENGTH-BUCKETED
    * brute-force side channel (r17, closing the silent recall hole
    * the r16 advisory flagged): a qualifying pair's lengths differ by
    * ≤ τ, so each short row explodes to its 2τ+1 candidate lengths
    * and equi-joins the other side on exact length — every
    * short-involving pair is a candidate BY CONSTRUCTION (for a ≤τ-
    * char string the whole length window is the correct candidate
    * set: no substring evidence can prune it), and the same exact
    * levenshtein verify arbitrates. Short rows are rare in any real
    * corpus, and the channel's fan is |short|·|length-window rows| —
    * the honest inherent cost, not a blocking failure. `DedupSpec`
    * ("fuzzyLinkSegments: equals the unblocked brute force on
    * mixed-length corpora") proves the combined output equals the
    * unblocked brute force including empty strings; `FuzzSpec`
    * covers the long-string theorem path.
    *
    * Scale shape: clean explodes ×(τ+1), probe ×≲100 in-row-deduped
    * 8-byte keys; the join fan is Σ_k df_probe(k)·df_clean(k) —
    * segment keys carry (length, index, content) entropy, so the fan
    * tracks name entropy like [[fuzzyLinkIndel]]'s but from a
    * constant per-row key budget; verification collapses to
    * O(matches) before any exchange. The length-routing filters scan
    * each input twice; both scans are narrow and predicate-pushed,
    * noise next to the join work. */
  private[graft] def fuzzyLinkSegments(probes: DataFrame,
      clean: DataFrame, tau: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val cleanS = Tables.spread(clean, keys = Seq("match_id"))
    val pLong = probes.filter(length(col("probe_name")) > tau)
    val cLong = cleanS.filter(length(col("clean_name")) > tau)
    // key fans via the JVM twins in ONE imperative pass per side —
    // the Column HOF forms are interpreted per element (see the twin
    // scaladoc; 37 s of summed task time in this join stage at sf0.1)
    val pk = pLong.select(col("probe_id"), col("probe_name"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, nm) =>
        segmentProbeKeysOf(nm, tau).iterator.map(k0 => (id, nm, k0)) })
      .toDF("probe_id", "probe_name", "sk")
    val ck = cLong.select(col("match_id"), col("clean_name"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, nm) =>
        segmentKeysOf(nm, tau).iterator.map(k0 => (id, nm, k0)) })
      .toDF("match_id", "clean_name", "sk")
    val main = pk.join(ck, "sk")
      .select(col("probe_id"), col("probe_name"),
        col("match_id"), col("clean_name"))
    // the short-string side channel: candidate = every row of the
    // other side whose length falls in [l−τ, l+τ] (length is the only
    // usable evidence below τ+1 chars); pShort pairs with ALL clean,
    // cShort only with LONG probes so short×short pairs count once
    val pShort = probes.filter(length(col("probe_name")) <= tau)
    val cShort = cleanS.filter(length(col("clean_name")) <= tau)
    def window(df: DataFrame, nameCol: String): DataFrame =
      df.withColumn("__lw", explode(sequence(
        greatest(length(col(nameCol)) - tau, lit(0)),
        length(col(nameCol)) + tau)))
    val side = window(pShort, "probe_name")
      .join(cleanS.withColumn("__lw", length(col("clean_name"))), "__lw")
      .select(col("probe_id"), col("probe_name"),
        col("match_id"), col("clean_name"))
      .unionByName(window(cShort, "clean_name")
        .join(pLong.withColumn("__lw", length(col("probe_name"))), "__lw")
        .select(col("probe_id"), col("probe_name"),
          col("match_id"), col("clean_name")))
    main.unionByName(side)
      // threshold form — see fuzzyLink: identical kept rows/distances
      .select(col("probe_id"), col("match_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.LevThreshold(
            org.apache.spark.sql.GraftBridge.expression(col("probe_name")),
            org.apache.spark.sql.GraftBridge.expression(col("clean_name")),
            tau)).cast("long")
          .as("dist"))
      .filter(col("dist").between(0, tau))
      .distinct()
  }

  /** Fuzzy join under a 3-EDIT corruption model — one md5-derived
    * deletion, then one insertion, then one substitution (net
    * levenshtein ≤ 3 with alignment shifts crossing all three), the
    * case both [[qFuzzyJoin]]'s substitution pigeonhole and
    * [[qFuzzyIndel]]'s ≤2-deletion neighborhoods provably cannot
    * block. Re-linked by [[fuzzyLinkSegments]] at τ = 3. The probe
    * set is md5-bucket < 5 (half [[qFuzzyIndel]]'s) — the oracle is
    * the brute-force cross join + levenshtein filter (the strongest
    * check: DuckDB computes the full answer with no blocking to
    * mirror), and the smaller probe side keeps that oracle's
    * quadratic honest-by-construction cost bounded. */
  def qFuzzyLev3(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val h = md5(concat(lit("fz3|"), col("c_custkey").cast("string")))
    def hex4(start: Int): Column =
      conv(substring(h, start, 4), 16, 10).cast("int")
    val alpha = lit("abcdefghijklmnopqrstuvwxyz")
    val name = col("c_name")
    val pd = hex4(1) % 9
    val pi = hex4(5) % 9
    val li = alpha.substr(hex4(9) % 26 + 1, lit(1))
    val ls = alpha.substr(hex4(13) % 26 + 1, lit(1))
    val ps = hex4(17) % 12
    val del = concat(name.substr(lit(1), pd),
      name.substr(pd + 2, length(name)))
    val ins = concat(del.substr(lit(1), pi), li,
      del.substr(pi + 1, length(del)))
    val dirty = concat(ins.substr(lit(1), ps), ls,
      ins.substr(ps + 2, length(ins)))
    // spread before the md5 projection — the fuzzyCorpus rationale
    val probes = Tables.spread(cust, keys = Seq("c_custkey"))
      .filter(Tables.md5Bucket(col("c_custkey")) < 5)
      .select(col("c_custkey").as("probe_id"), dirty.as("probe_name"))
    val clean = cust.select(col("c_custkey").as("match_id"),
      col("c_name").as("clean_name"))
    fuzzyLinkSegments(probes, clean, tau = 3)
      .orderBy(col("probe_id"), col("match_id"))
  }

  /** PageRank micro-unit scale: ranks are BIGINTs in units of 1e−12.
    * Integer arithmetic end-to-end (floor division, integer sums) is
    * what makes an ITERATIVE fixpoint hash-exact across engines and
    * partitionings — a double formulation drifts with aggregation
    * order — the move that oracle-backed this query first (r13) and the
    * whole k-means/BPE fixpoint family after it (r17's 1e-6
    * lattice). */
  private[graft] val pagerankScale = 1000000000000L
  private[graft] val pagerankIters = 3

  /** PageRank (damping 0.85, [[pagerankIters]] unrolled iterations)
    * over the verified near-dup graph — the iterative graph-analytics
    * representative next to the connected-components pass: CC says
    * which docs form a duplicate cluster, PageRank ranks how CENTRAL
    * each doc is inside the near-dup topology (the canonical-
    * representative choice a dedup keep-list can use instead of
    * min-id). Undirected: each verified pair contributes both
    * directed edges; every node has deg ≥ 1 by construction, so there
    * is no dangling mass. rank_0 = ⌊S/n⌋ micro-units,
    * rank_{t+1} = ⌊15·⌊S/n⌋/100⌋ + ⌊85·Σ_{u→v}⌊rank_t(u)/deg(u)⌋/100⌋
    * — all floor divisions on BIGINTs, reproduced verbatim by the
    * oracle's unrolled CTE chain.
    *
    * Scale shape: per iteration ONE shuffle keyed by dst for the
    * contribution sum plus the node-keyed rank join — O(edges)
    * rows/iteration, the standard distributed-PageRank cost; the
    * near-dup edge list is pairs-sized (≪ corpus), and the generic
    * contract is any (src, dst) edge frame. The edge set is built
    * once and session-persisted (deg + every iteration re-reads it);
    * the 1-row node count rides a broadcast cross join (the
    * `q_unigram_score` pattern), never a collect. */
  def qPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("ida"), col("idb"))
    val e0 = SessionMemo.frames(spark, s"pr-edges|$sfDir")(
      pairs.select(col("ida").as("src"), col("idb").as("dst"))
        .unionByName(pairs.select(col("idb").as("src"), col("ida").as("dst"))))
    // fan-out follows edge volume, not cluster width (the
    // Tables.spreadTarget rule): the near-dup edge list is pairs-sized
    // — at fixture scale a few hundred rows spread over 32 band-join
    // partitions made every iteration stage pay 32-task setup for
    // sub-kB splits; count on the PERSISTED frame is ~ms, and a
    // 1M-edge graph still fans to every core
    val e = e0.coalesce(math.max(1, Tables.spreadTarget(
      spark.sparkContext.defaultParallelism,
      SessionMemo.frames.rows(spark, s"pr-edges|$sfDir", e0), 512)))
    // deg and the node base are ITERATION-INVARIANT — persisted, or
    // every iteration re-plans their aggregates over e (measured: the
    // un-persisted form spent ~2× the query's own work re-running the
    // deg/count aggs and their exchanges three times each). deg rides
    // PRE-JOINED onto the edge list (also invariant), cutting each
    // iteration from two joins to one (r14: one fewer exchange/iter)
    val edeg = SessionMemo.frames(spark, s"pr-edeg|$sfDir")(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")),
        Seq("src")))
    // r0 = S div n, carried per node so each iteration's teleport term
    // needs no second count job
    // NOT eager (r22, paired-A/B'd at 1.13×): the extra count job
    // costs more than the sibling race it would prevent — the race's
    // loser here recomputes a node-sized frame from the already-
    // materialized edge cache, which is cheaper than an extra job
    // over the distinct+crossJoin build.
    val nodesBase = SessionMemo.frames(spark, s"pr-nodes|$sfDir")({
      val nodes = e.select(col("dst").as("node")).distinct()
      nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
        .select(col("node"), expr(s"$pagerankScale div n").as("r0"))
    })
    var r = nodesBase.select(col("node"), col("r0").as("r"))
    for (_ <- 1 to pagerankIters) {
      val contrib = edeg
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("r div deg").as("c"),
          lit(0L).as("r0"))
      // teleport term rides INTO the contribution agg as a zero-
      // contribution row per node instead of a post-agg left join
      // back onto nodesBase (r21): one exchange per iteration instead
      // of the agg shuffle + the join's broadcast. Exact equivalence:
      // every contrib dst ∈ nodesBase (nodes = distinct dst of e), so
      // the left join dropped nothing; each node appears in nodesBase
      // exactly once, so max(r0) = r0 (contrib rows carry 0 < r0) and
      // sum(c) = the join's coalesce(s, 0) (base rows carry c = 0).
      val withBase = contrib.unionByName(
        nodesBase.select(col("node"), lit(0L).as("c"), col("r0")))
      r = withBase.groupBy(col("node"))
        .agg(sum(col("c")).as("s"), max(col("r0")).as("r0"))
        .select(col("node"),
          (expr("15 * r0 div 100") + expr("85 * s div 100")).as("r"))
        // truncate lineage at every iteration (r22): the unrolled
        // loop otherwise nests each iteration's FULL plan (with the
        // edge/node caches' embedded build plans) inside the next —
        // the formatted plan reached 264 InMemoryTableScans and the
        // driver spent ~1.1 s of the query's 2.3 s wall outside any
        // stage, re-optimizing and re-submitting the growing tree
        // (StageProbe r22: stageWallSum 1.2 s vs wall 2.3 s, 29
        // jobs). localCheckpoint materializes the node-sized rank
        // frame (≪ edges) and restarts the plan from a flat scan —
        // the standard periodic-checkpoint move for iterative graph
        // loops; same rows, same math, the oracle re-proves it.
        // LAZY (r22b): the eager form ran one driver-blocking job
        // PER ITERATION just to materialize the checkpoint; the lazy
        // checkpoint truncates lineage identically but materializes
        // inside the next iteration's (or the final) job —
        // connectedComponents' rounds use the same convention.
        .localCheckpoint(false)
    }
    r.select(col("node").as("doc_id"), col("r").as("pr"))
      .orderBy(col("doc_id"))
  }

  /** Triangle counting over the verified near-dup graph — the graph-
    * analytics member next to connected components ([[qDedupClusters]]:
    * which docs cluster) and PageRank ([[qPagerank]]: which doc is
    * central): per-node triangle participation measures how DENSELY a
    * doc's neighborhood is interlinked (a clique of true duplicates
    * triangulates completely; a chain of borderline J ≈ 0.8 matches
    * has none) — the local-clustering signal that separates the two
    * before a keep-list collapses a cluster.
    *
    * Algorithm: the DEGREE-ordered wedge join ([[triangleCountsDeg]],
    * Suri–Vassilvitskii orientation): each edge re-points toward its
    * higher-(degree, id) endpoint, every triangle appears EXACTLY
    * once as the closed path wedge of its orientation — count
    * without a dedup pass. Integer counts ⇒ hash-exact, and the
    * count is orientation-invariant, so the id-oriented SQL oracle
    * is unchanged.
    *
    * Scale shape: a degree agg + two edge-sized orientation joins,
    * then two equi-joins over the pairs-sized edge list (≪ corpus —
    * the same frame PageRank persists). The wedge fan
    * Σ_m indeg(m)·outdeg(m) is O(|E|^1.5) under the degree order on
    * ANY graph — on the near-dup topology (disjoint dense clusters)
    * both orientations are Θ(triangles), but a skewed star-heavy
    * graph degrades the id order quadratically while the degree
    * order holds ([[graft.tools.GraphScale]] measures the split).
    * Hot mid-nodes in the wedge join are AQE skew-split. */
  def qTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = SessionMemo.frames(spark, s"pr-edges-canon|$sfDir", eager = true)(
      minhashPairs(spark, sfDir).select(col("ida"), col("idb")))
    // fan-out follows edge volume (the qPagerank coalesce rule): the
    // cached pairs frame keeps the verify join's full partitioning, so
    // all ~8 wedge-pipeline stages scanned 32 near-empty cache
    // partitions — ~60 ms of per-task setup each for KBs of edges
    // (StageProbe r21: 8 × 32-task stages, 14K input, ~0.2 s wall per
    // stage). count on the PERSISTED frame is ~ms; a corpus-scale edge
    // set still fans to every core.
    val e = e0.coalesce(math.max(1, Tables.spreadTarget(
      spark.sparkContext.defaultParallelism,
      SessionMemo.frames.rows(spark, s"pr-edges-canon|$sfDir", e0), 512)))
    triangleCountsDeg(e).orderBy(col("doc_id"))
  }

  /** BFS seed predicate (doc_id divisibility) and hop cap — sized so
    * the fixture populates every distance class 0..2 while the seed
    * set stays a strict subset of the graph. */
  private[graft] val bfsSeedMod = 5L
  private[graft] val bfsMaxHops = 3

  /** k-hop BFS distances over the verified near-dup graph — the
    * reachability member of the graph family ([[qDedupClusters]]
    * membership, [[qPagerank]] centrality, [[qTriangles]] density):
    * min-hop distance from a seed set (doc_id ≡ 0 mod [[bfsSeedMod]])
    * to every node within [[bfsMaxHops]] undirected hops — the
    * "contamination blast radius" query (seeds = known-bad docs, the
    * result = everything transitively near-duplicate within k steps).
    * Unreached nodes emit no row (standard BFS contract). FRONTIER
    * form, not Bellman–Ford relaxation of the full distance table:
    * each round joins only the newly-settled rows against the edge
    * list, anti-joins the visited set, and min-aggregates ties — a
    * node settles exactly once at its first (= minimal) hop count,
    * so the per-round cost is Σ deg(frontier), not |V|·deg. Every
    * round's frontier/visited persist (the loop-carried frames the
    * [[qPagerank]] persistence rule covers — without it each round
    * re-executes the whole union/anti-join prefix, doubling work per
    * hop). Integer distances ⇒ hash-exact against the oracle's
    * unrolled min-relaxation CTEs (equal by the uniform-weight
    * shortest-path argument: first-reached IS min-hop).
    *
    * Scale shape: per hop ONE edge-keyed equi-join carrying
    * O(Σ deg(frontier)) rows + a node-keyed min agg + an anti-join
    * against visited — the Pregel BFS cost; the near-dup edge frame
    * is pairs-sized and shared (same persist key) with PageRank. */
  def qBfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("ida"), col("idb"))
    val e = SessionMemo.frames(spark, s"pr-edges|$sfDir")(
      pairs.select(col("ida").as("src"), col("idb").as("dst"))
        .unionByName(pairs.select(col("idb").as("src"), col("ida").as("dst"))))
    val seeds = SessionMemo.frames(spark, s"bfs-seeds|$sfDir")(
      e.select(col("src").as("node")).distinct()
        .filter(col("node") % bfsSeedMod === 0)
        .withColumn("dist", lit(0L)))
    bfsFrom(e, seeds, bfsMaxHops, Some(s"bfs|$sfDir"))
      .select(col("node").as("doc_id"), col("dist"))
      .orderBy(col("doc_id"))
  }

  /** The frontier-BFS core [[qBfsHops]] applies to the near-dup
    * graph, factored generic over any directed (src, dst) edge frame
    * and (node, dist=0) seed frame — the fixture's near-dup clusters
    * are shallow cliques (nothing sits ≥ 2 hops from a seed at ANY
    * seed density), so the deep-frontier behavior is spec-covered on
    * a crafted chain graph, the [[graft.engine.Relational.dqChecks]]
    * convention. `memoKey` persists each round's settled frontier
    * (loop-carried frames — without it each hop re-executes the
    * whole union/anti-join prefix). */
  private[graft] def bfsFrom(e: DataFrame, seeds: DataFrame,
      maxHops: Int, memoKey: Option[String] = None): DataFrame = {
    var visited = seeds
    var frontier = seeds
    for (h <- 1 to maxHops) {
      val step = frontier.withColumnRenamed("node", "src")
        .join(e, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg((min(col("dist")) + 1).as("dist"))
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      val newly = memoKey match {
        case Some(k) => SessionMemo.frames(e.sparkSession, s"$k-v$h")(step)
        case None => step
      }
      visited = visited.unionByName(newly)
      frontier = newly
    }
    visited
  }

  /** Per-node triangle counts of a CANONICAL (ida < idb, distinct)
    * edge frame — the generic wedge-join core [[qTriangles]] applies
    * to the near-dup graph, factored for direct spec coverage on
    * crafted graphs. */
  private[graft] def triangleCounts(e: DataFrame): DataFrame =
    wedgeCount(e.select(col("ida").as("s"), col("idb").as("t")))

  /** The wedge-join triangle core over an ACYCLICALLY ORIENTED edge
    * frame (s → t): every triangle appears exactly once as the path
    * wedge s→m→t closed by s→t (acyclicity ⇒ the closure edge's
    * orientation is forced), so counting needs no dedup pass. Cost =
    * Σ_m indeg(m)·outdeg(m) over the orientation — the term the
    * orientation choice controls. */
  private def wedgeCount(d: DataFrame): DataFrame = {
    val tri = d.select(col("s").as("x"), col("t").as("y"))
      .join(d.select(col("s").as("y"), col("t").as("z")), Seq("y"))
      .join(d.select(col("s").as("x"), col("t").as("z")), Seq("x", "z"),
        "left_semi")
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"))
  }

  /** The DEGREE-ordered acyclic orientation (Suri–Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    * each canonical edge re-points from its lower (degree, id)
    * endpoint to the higher. Under it every node's OUT-neighbors all
    * have ≥ its degree, which caps the wedge term
    * Σ_m indeg(m)·outdeg(m) at O(m^1.5) on ANY graph — the raw id
    * orientation has no such bound (a mid-id hub with half its star
    * below and half above pays indeg·outdeg = (deg/2)², the measured
    * [[graft.tools.GraphScale]] skewed-star degradation). One
    * node-keyed degree agg + two edge⋈degree joins, all edge-list
    * sized. */
  private[graft] def degreeOriented(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("ida"), col("idb"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    e.join(deg.select(col("n").as("ida"), col("dg").as("da")), "ida")
      .join(deg.select(col("n").as("idb"), col("dg").as("db")), "idb")
      .select(
        when(col("da") < col("db")
            || (col("da") === col("db") && col("ida") < col("idb")),
          struct(col("ida").as("s"), col("idb").as("t")))
          .otherwise(struct(col("idb").as("s"), col("ida").as("t")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
  }

  /** [[triangleCounts]] under the degree-ordered orientation — counts
    * are orientation-invariant (each triangle is one closed wedge in
    * any acyclic orientation), so this is hash-identical to the
    * id-oriented twin and keeps the same SQL oracle; what changes is
    * the worst-case wedge fan. */
  private[graft] def triangleCountsDeg(e: DataFrame): DataFrame =
    wedgeCount(degreeOriented(e))

  /** Per-document n-gram novelty — the dedup-triage / decontamination
    * ranking view: for each doc, its distinct word-3-gram count, how
    * many of those shingles appear in NO other document (corpus
    * df = 1), and the novelty ratio unique/total. High-novelty docs
    * are safe unique content; low-novelty docs are template/boilerplate
    * candidates the pair-level dedup queries then resolve exactly.
    * Integer counts + one final IEEE division, so the oracle matches
    * bit-exactly (the [[qJaccardPairs]] arithmetic convention).
    *
    * Scale shape: shingle sets ride the same persisted zero-shuffle
    * `mapPartitions` working set as the minhash family; then ONE
    * hash-agg builds the shingle df table and ONE shuffle join scores
    * instances against it — deliberately UNHINTED, like the
    * `q_unigram_score` vocab join: a 100 TB corpus's shingle table is
    * itself huge, and pinning it broadcast would OOM the driver (AQE
    * may still choose broadcast where it actually fits). */
  def qNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = cachedSigSets(spark, sfDir, n = 3, k = 64)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val df = idx.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    idx.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_sh"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_sh")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** MinHash+LSH near-dup pairs, exact-verified: 64 per-shingle
    * re-hashes, per-doc signature = columnwise min, 32 bands of 2 →
    * candidate pairs from band-bucket self-join → exact Jaccard
    * verification against the full shingle-hash arrays → J ≥ 0.8.
    * Output equals qJaccardPairs (banding misses a J≥0.8 pair with
    * P ≈ 5e-15, see object doc; hash collisions P ≈ n²/2⁶⁴) while
    * scaling as O(docs × 32) join rows instead of the inverted
    * index's Σ df². */
  def qDedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir).orderBy(col("ida"), col("idb"))

  /** Per-band LSH bucket keys over a k-wide `sig` array column: band
    * b's key is (b, xxhash64 of the 2-row signature slice) — the ONE
    * banding definition, shared by the batch pair join and the
    * streaming near-dup filter so both bucket identically. */
  private[engine] def bandKeyCols(bands: Int,
      sig: Column = col("sig")): Seq[Column] =
    (0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(element_at(sig, 2 * b + 1),
          element_at(sig, 2 * b + 2)).as("sig")))

  /** MinHash estimate-error audit — the fourth member of the sketch-
    * audit family (HLL `q_approx_err`, GK `q_approx_pct`, CMS
    * `q_cms_err`, same pattern): the signature VALUE is
    * implementation-defined and never leaves the query; what IS
    * portable is the estimator's concentration — E[match/k] = J and
    * per-pair P(|match/k − J| > 23/64) ≤ 2e^(−2·64·(23/64)²) ≈ 6·10⁻⁸
    * by Hoeffding, so `within_bound` is TRUE on every emitted row
    * and a broken signature (bad coefficients, a monotone re-hash,
    * a slice/band off-by-one) flips booleans and breaks the hash.
    * The bound check is exact integer cross-multiplication:
    * |match·uni − 64·inter| ≤ 23·uni. Runs over the VERIFIED pair
    * set, so it audits precisely the signatures the dedup pipeline
    * acted on; inter/uni come off the same shingle-hash sets the
    * verifier used. */
  def qMinhashErr(spark: SparkSession, sfDir: String): DataFrame = {
    val withSh = cachedSigSets(spark, sfDir, n = 3, k = 64)
    minhashPairs(spark, sfDir).select(col("ida"), col("idb"))
      .join(withSh.select(col("doc_id").as("ida"), col("sh").as("sa"),
        col("sig").as("siga")), "ida")
      .join(withSh.select(col("doc_id").as("idb"), col("sh").as("sb"),
        col("sig").as("sigb")), "idb")
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("sab"),
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("match64"))
      .select(col("ida"), col("idb"), col("inter"),
        (col("sab") - col("inter")).as("uni"), col("match64"))
      .select(col("ida"), col("idb"), col("inter"), col("uni"),
        (abs(col("match64") * col("uni") - lit(64L) * col("inter")) <=
          lit(23L) * col("uni")).as("within_bound"))
      .orderBy(col("ida"), col("idb"))
  }

  /** The verified near-dup pair set (unordered) — shared by
    * [[qDedupMinhash]] and the clustering pass [[qDedupClusters]]. */
  private[engine] def minhashPairsKey(sfDir: String): String =
    s"minhash-pairs|$sfDir|3|64|0.8"

  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    // One tokenize pass produces shingle sets AND signatures (zero
    // shuffle — see shingleSigSets). Truncating the shingle space to
    // 2³¹ inside the signature adds ~|universe|²/2³² collisions —
    // irrelevant, since candidates are exact-verified below. Persisted
    // via the session memo because three downstream stages consume it
    // (band explode + both sides of the verification join) and three
    // queries share it; MEMORY_AND_DISK spills cleanly, and at corpus
    // scale the (id, hashes, sig) projection is the standard LSH
    // working set — far smaller than re-tokenizing the raw text.
    //
    // The VERIFIED pair set is memoized too (r22): eight query paths
    // consume it (minhash, clusters ×3, incremental — which builds it
    // TWICE, pagerank, triangles, golden/keep), and each one re-ran
    // the band self-join + exact-Jaccard verify from the sigsets
    // cache (StageProbe r22: the 2.3 s-task band-join exchange and
    // four sigset-cache scans appear per consumer). Pairs are
    // duplicate-sized (≪ corpus — the standard dedup working set);
    // the memo key pins the signature/threshold params, and the
    // cached layout compacts to the row-derived target (documents
    // over-estimates the pair count; the guard only ever compacts
    // below the core count).
    SessionMemo.frames(spark, minhashPairsKey(sfDir),
      eager = true,
      compactRows = Tables.memoizedCount(spark, sfDir, "documents"))(
      minhashPairsOf(cachedSigSets(spark, sfDir, n = 3, k = 64)))

  /** [[minhashPairs]]' core over a prepared (doc_id, sh, sig) frame
    * ([[shingleSigSets]] output, persisted by the caller — three
    * stages consume it) — the seam the batch curation pipeline
    * ([[Curation.nearDupStage]]) composes over arbitrary document
    * frames. */
  private[graft] def minhashPairsOf(withSh: DataFrame): DataFrame = {
    val bands = 32 // × 2 rows
    // bands: hash the 2-row slice of the signature into one bucket key
    // per band; docs with no shingles can never reach J ≥ 0.8 → skip
    val buckets = withSh.filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        explode(array(bandKeyCols(bands): _*)).as("bk"))
    val cands = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .distinct()
    verifyJaccardPairs(cands, withSh, 0.8)
  }

  /** Exact Jaccard verification of candidate (ida, idb) pairs against
    * the full (doc_id, sh) shingle-hash sets — the shared tail of
    * every candidate-generation pair path ([[minhashPairs]],
    * [[prefixFilterPairs]]): join both sides' sets back, intersect
    * once (two-step select so `array_intersect` evaluates once), keep
    * J ≥ `t`. */
  private def verifyJaccardPairs(cands: DataFrame, withSh: DataFrame,
      t: Double): DataFrame =
    cands
      .join(withSh.select(col("doc_id").as("ida"), col("sh").as("sa")), "ida")
      .join(withSh.select(col("doc_id").as("idb"), col("sh").as("sb")), "idb")
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .select(col("ida"), col("idb"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= t)

  /** One large-star round over a canonically-oriented (src > dst)
    * distinct edge set: every node u connects each STRICTLY LARGER
    * neighbor to m(u) = min(Γ(u) ∪ {u}). Output is canonical again
    * (emitted edges (v, m) have v > u ≥ m). m(u) rides in as a WINDOW
    * min over the symmetrized edges — one exchange instead of the
    * groupBy + re-shuffled self-join formulation (each star round's
    * cost is exchange-count × fixed stage latency at fixture scale,
    * and pure shuffle volume at corpus scale — both argue for the
    * window). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val w = Window.partitionBy(col("src"))
    // NO distinct here (r12): the consumer is [[smallStar]]'s
    // window-min, which duplicates cannot perturb, and the round's
    // canonical edge set is re-established by smallStar's final
    // distinct anyway — dropping the dedup exchange saves one of the
    // round's shuffles for at most 2|E| duplicated rows riding into
    // the next window (bounded: each symmetrized row emits ≤ 1).
    sym.withColumn("m", least(min(col("dst")).over(w), col("src")))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star round: every node u connects its smaller
    * neighbors Γ⁻(u) — and itself — to m(u) = min(Γ⁻(u)). Input and
    * output both canonical (src > dst); the v = m self-edge is
    * dropped. Window-min like [[largeStar]]; the per-src (u, m) row
    * rides along as a second exploded struct per edge (duplicates
    * collapse in the distinct that every round ends with anyway). */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src"))
    e.withColumn("m", min(col("dst")).over(w))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("x"))
      .select(col("x.src").as("src"), col("x.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Distributed connected components via alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the O(log n)
    * replacement for min-label propagation, whose round count is
    * bounded by component DIAMETER (a chain-shaped template-drift
    * cluster of length 10⁶ needs 10⁶ propagation rounds but only
    * ~log₂ 10⁶ ≈ 20 star rounds).
    *
    * Mechanics: each round is one large-star (hook every larger
    * neighbor to the local minimum) then one small-star (contract
    * smaller neighbors onto it). Both are a window-min over the
    * current edge set — O(|E|) shuffle per round, no driver state.
    * A fixed point is exactly a STAR FOREST rooted at each
    * component's min id, and that is tested DIRECTLY, one aggregate
    * job per round: canonical edges are a star forest iff no node is
    * the src of two edges and no node is both a src and a dst —
    * checkable from per-id (src-degree, dst-degree) sums, no
    * edge-set comparison with the previous round. Testing the
    * fixpoint property instead of set-equality saves the one FULL
    * extra round (plus exact anti-join) the old detection spent
    * discovering that the last round changed nothing. The checkpoint
    * is lazy, so materialization rides inside the test's aggregate
    * job; `localCheckpoint` per round keeps the plan from growing.
    *
    * The loop is do-while — round first, test after — because both
    * star operators are IDEMPOTENT on a canonical star forest (each
    * leaf re-hooks to its root, the root's window-min is itself), so
    * an already-converged input pays one no-op round instead of a
    * dedicated entry-test job, and every non-converged input (the
    * common case) saves that job outright. Total fixture jobs per
    * call: one per round (round shuffles + test aggregate fused by
    * the lazy checkpoint) — nothing else; at fixture edge counts the
    * loop's cost IS its job count, at corpus scale the O(|E|)
    * shuffles dominate either way. Unconverged after `maxIter`
    * throws — partial labels silently under-dedup. Measured
    * ([[graft.tools.CCScale]]): chains — the worst case, where
    * min-label needs diameter rounds — converge in 13 alternating
    * rounds at 100k hops and 16 at 1M (textbook log n), labels
    * exact.
    *
    * Why the root of a converged star is its component's minimum: a
    * star forest's components ARE its stars, the canonical
    * orientation (src > dst) puts every leaf above the root, so the
    * root is the least id in the star.
    *
    * Input: any (ida, idb) pair DataFrame (self-loops/duplicates
    * fine). Returns (labels: id → component-min label for every
    * endpoint, rounds used). */
  private[graft] def connectedComponents(pairs: DataFrame,
      maxIter: Int = 64): (DataFrame, Int) = {
    // ONE canonical frame, self-loops KEPT: both the edge set (loops
    // filtered) and the vertex set (src ∪ dst — the loop row is what
    // keeps a self-loop-only vertex present) derive from this single
    // lazily-checkpointed scan, so `pairs` is read exactly once and
    // there is no separate eager vertex-materialization job. The
    // checkpoint materializes inside round 1's test aggregate and
    // truncates lineage, so callers may unpersist `pairs` as soon as
    // this returns.
    val canon = pairs
      .select(greatest(col("ida"), col("idb")).as("src"),
        least(col("ida"), col("idb")).as("dst"))
      .distinct()
      .localCheckpoint(false)
    // star-forest test: per id, (times-a-src, times-a-dst) — a
    // violation is a doubly-parented node (ns > 1) or a node that is
    // both parent and child (ns > 0 ∧ nd > 0). One union + one
    // map-side-combined aggregate; the isEmpty short-circuits on the
    // first violating partition.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("src").as("id"), lit(1L).as("s"), lit(0L).as("d"))
        .union(e.select(col("dst").as("id"), lit(0L).as("s"),
          lit(1L).as("d")))
        .groupBy(col("id"))
        .agg(sum(col("s")).as("ns"), sum(col("d")).as("nd"))
        .filter(col("ns") > 1 || (col("ns") > 0 && col("nd") > 0))
        .isEmpty
    var edges = canon.filter(col("src") =!= col("dst"))
    var rounds = 0
    var done = false
    while (!done && rounds < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint(false)
      rounds += 1
      done = isStarForest(edges)
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxIter " +
        "large/small-star rounds — raise maxIter")
    val vertices = canon.select(col("src").as("id"))
      .union(canon.select(col("dst").as("id"))).distinct()
    val labels = vertices
      .join(edges.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("dst"), col("id")).as("label"))
    (labels, rounds)
  }

  /** Near-dup CLUSTERS: connected components over the verified
    * MinHash pair graph, every member labeled with its component's
    * min doc_id — the canonical "keep one per duplicate cluster"
    * step after pairwise detection (pairs alone under-dedup when
    * A~B, B~C but A≁C).
    *
    * Hybrid execution, thresholded like a broadcast join: the heavy
    * distributed work is the pair DETECTION; the resulting edge list
    * is orders of magnitude smaller than the corpus. When it fits
    * comfortably on the driver (≤ `driverEdgeLimit`, 1M edges ≈
    * 16 MB) a single collect + union-find labels it exactly — one
    * job instead of a convergence loop, the same judgment call
    * Spark itself makes when it broadcasts a small join side.
    * Larger graphs run distributed alternating large-star/small-star
    * ([[connectedComponents]]) — O(log n) rounds regardless of
    * component shape, one O(|E|) shuffle per round. */
  def qDedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersImpl(spark, sfDir, driverEdgeLimit = 1000000L)

  /** The same clustering FORCED through the distributed
    * large-star/small-star path (driver threshold 0) — registered as
    * its own query so the branch that actually runs at corpus scale
    * is hash-checked against the recursive-CTE oracle at every SF,
    * not just spec-tested on synthetic graphs. */
  def qDedupClustersDist(spark: SparkSession, sfDir: String): DataFrame =
    clustersImpl(spark, sfDir, driverEdgeLimit = -1L)

  /** Hybrid component labeler over an (ida, idb) edge DataFrame — the
    * ONE dispatch point for "edges → (id, label)" used by both the
    * minhash clustering and the semdedup keep-list: persist + count
    * the edge list, driver union-find when it fits under
    * `driverEdgeLimit` (one job instead of a convergence loop, the
    * same judgment call as a broadcast join), alternating-star rounds
    * otherwise. Unpersisting before the result is consumed is safe on
    * both branches: the union-find result is driver-local, and
    * [[connectedComponents]]' convergence tests materialize its
    * lineage-truncating checkpoints before it returns. */
  private[engine] def labelComponents(pairs: DataFrame,
      driverEdgeLimit: Long,
      knownCountUpper: Option[Long] = None): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Forced-distributed (negative limit): there is no branch decision
    // to make, so no persist+count job either — connectedComponents'
    // canonical checkpoint is the single consumer of `pairs` and scans
    // it exactly once.
    if (driverEdgeLimit < 0L) return connectedComponents(pairs)._1
    // Caller-supplied UPPER BOUND on the edge count (r22: the memo's
    // eager-count side channel makes it free for the minhash pair
    // consumers): when the bound already clears the driver-branch
    // decision, the persist + count job pair is pure overhead — ONE
    // collect job reads the (memo-cached) edges directly. The bound
    // only picks the hybrid branch; labels are exact either way.
    knownCountUpper.filter(_ <= driverEdgeLimit).foreach { _ =>
      val es = pairs.as[(Long, Long)].collect()
      return spark.createDataset(unionFind(es).toSeq).toDF("id", "label")
    }
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = p.count()
    val labeled: DataFrame =
      if (nEdges <= driverEdgeLimit) {
        val es = p.as[(Long, Long)].collect()
        spark.createDataset(unionFind(es).toSeq).toDF("id", "label")
      } else connectedComponents(p)._1
    // A spreadTarget-style repartition of the edge set by nEdges was
    // A/B-measured here and rejected: AQE already coalesces the star
    // rounds' tiny window/distinct shuffles, so the extra exchange
    // bought nothing (2.4 → 2.7 s at sf0.1) — the loop's cost is its
    // per-round JOB count (star test + checkpoint), not stage width.
    p.unpersist()
    labeled
  }

  private def clustersImpl(spark: SparkSession, sfDir: String,
      driverEdgeLimit: Long): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("ida"), col("idb"))
    labelComponents(pairs, driverEdgeLimit,
      knownCountUpper = if (driverEdgeLimit < 0L) None
        else Some(SessionMemo.frames.rows(spark, minhashPairsKey(sfDir),
          pairs)))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental connected-components maintenance — the missing
    * dedup member of the MV-merge family (rollup/join/top-k/checksum/
    * sample each have one; clusters now do too): stored LABELS + a
    * new batch of edges → merged labels WITHOUT rescanning the
    * historical pair graph.
    *
    * The algebra: a component's (id → label) rows ARE edges — the
    * label forest {(id, label(id))} is a spanning star of each stored
    * component, so components(labelForest ∪ Δedges) =
    * components(oldEdges ∪ Δedges): the forest preserves exactly the
    * old connectivity over the old vertex set (roots ride along as
    * self-loops, which [[connectedComponents]] keeps as vertices),
    * and the min-id label of a merged component is unchanged because
    * every old vertex id — in particular each old minimum — is still
    * present. The merge input is \|old labels\| + \|Δ\| rows:
    * duplicate-sized, never corpus-sized, and O(log n) star rounds on
    * top (the same [[labelComponents]] hybrid dispatch as the full
    * pass). Re-applying a replayed Δ is an algebraic no-op —
    * connectivity union is idempotent — which is what makes the
    * streaming maintainer ([[StreamingOps.applyClustersBatch]])
    * replay-safe without bookkeeping.
    *
    * The fixture split follows the [[TextOps.qPriorityIncremental]]
    * convention: edges whose ida md5-bucket < 90 are the stored
    * history (labeled once, standing in for the on-disk MV), the ≥ 90
    * tail is the arriving batch; the ORACLE is the full recompute
    * ([[qDedupClusters]]' recursive min-label closure), so equality
    * re-proves the merge law at every SF. */
  def qDedupClustersIncremental(spark: SparkSession,
      sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("ida"), col("idb"))
    // free upper bounds from the pair memo's eager-count channel: the
    // stored slice is <= all pairs; the merged input is <= label rows
    // (vertices <= 2|pairs|) + arriving (<= |pairs|) — coarse, but the
    // bound only picks the hybrid branch (exact labels either way)
    val nPairs = SessionMemo.frames.rows(spark, minhashPairsKey(sfDir), pairs)
    val bucket = Tables.md5Bucket(col("ida"))
    val stored = labelComponents(pairs.filter(bucket < 90), 1000000L,
        knownCountUpper = Some(nPairs))
      .select(col("id").as("ida"), col("label").as("idb"))
    val arriving = pairs.filter(bucket >= 90)
    labelComponents(stored.unionByName(arriving), 1000000L,
        knownCountUpper = Some(3L * nPairs))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** The keep-list after clustering: every document except
    * non-representative near-dup cluster members (the cluster's min
    * doc_id is the kept representative). A left-anti join of the
    * corpus against the drop set — the final materialization step of
    * the dedup pipeline. */
  def qDedupKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val drop = qDedupClusters(spark, sfDir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    d.select(col("doc_id"), col("lang"), col("source"))
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Golden-record survivorship — the canonicalization step closing
    * the entity-resolution pipeline (block → match → cluster →
    * SURVIVE): per near-dup cluster, the merged master record a data
    * steward would keep. Rules, all deterministic: the survivor is
    * the most complete member (max `n_chars`, ties → min doc_id, via
    * the integer-packed argmax of [[Relational.qSkewReport]] —
    * neither engine's native arg_max pins its tie-break); membership
    * count and distinct-source/distinct-lang counts ride along as
    * the conflict signal (a cluster spanning sources is a
    * cross-source duplicate, spanning langs a likely FALSE match for
    * review). Singleton documents are already golden and are not
    * re-emitted — the frame summarizes duplicate GROUPS.
    *
    * Scale shape: the cluster labels are duplicate-sized (not
    * corpus-sized); one doc-keyed equi-join hydrates the survivorship
    * attributes and one hash agg per cluster finishes — nothing new
    * shuffles at corpus scale beyond the clustering itself. */
  def qGoldenRecord(spark: SparkSession, sfDir: String): DataFrame = {
    val pack = 10000000000L // > any doc_id; c·pack − id is injective
    val d = Tables(spark, sfDir, "documents")
    qDedupClusters(spark, sfDir)
      .join(d.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(col("n_chars")).as("survivor_chars"),
        max(col("n_chars") * pack - col("doc_id")).as("pk"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("cluster_id"), col("n_members"),
        (col("survivor_chars") * pack - col("pk")).as("survivor_doc"),
        col("survivor_chars"), col("n_sources"), col("n_langs"))
      .orderBy(col("cluster_id"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ANY
    * word-3-gram with a benchmark set (here: doc_id < 10 stands in
    * for the eval set; production loads the real benchmarks). The
    * standard pre-training hygiene pass. Shape: the benchmark
    * shingle set is tiny → broadcast left-semi join against the
    * corpus shingle index — one narrow pass over the corpus,
    * no O(n²) anything. */
  def qContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    // benchmark side tokenizes ONLY the benchmark docs: a filter on
    // doc_id cannot push through the mapPartitions barrier, so it
    // must be applied to the input, not the shingle output — else
    // the full corpus is tokenized twice
    val bench = shingleHashSets(d.filter(col("doc_id") < 10))
      .select(explode(col("sh")).as("shingle")).distinct()
    shingleHashSets(d.filter(col("doc_id") >= 10))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination with a Bloom-filter pre-pass —
    * identical output to [[qContamination]] (it shares that oracle),
    * different scale shape. The exact path must move every corpus
    * shingle into the semi-join; here a Bloom filter of the benchmark
    * shingle hashes (built DISTRIBUTEDLY by `stat.bloomFilter` — the
    * sketch aggregates per-partition and merges, only the ~1 MB bit
    * array ever reaches the driver) is broadcast and applied as a
    * filter BEFORE the join, so the join input shrinks to
    * O(true matches + fpp × corpus shingles). The exact semi-join on
    * the survivors then removes the Bloom false positives — the
    * approximation never reaches the output. This is the shape that
    * wins when the benchmark suite is too large to broadcast exactly:
    * the corpus-side shuffle carries ~fpp of the corpus instead of
    * all of it — so the verify join here is deliberately UNHINTED
    * (AQE may still broadcast it when it happens to fit; pinning a
    * hint would contradict the too-big-to-broadcast premise). The
    * benchmark shingle set participates three times (count for
    * sketch sizing, sketch build, verify join), so it is
    * memoize-persisted like the minhash working set rather than
    * recomputed per use. (The probe itself is Spark's codegen'd
    * `BloomFilterMightContain` expression via
    * [[Scale.bloomMightContain]] — r19, replacing a scala-lambda udf
    * that paid per-row ser/deser on the corpus-sized probe side.) */
  def qContaminationBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val bench = SessionMemo.frames(spark, s"benchShingles|$sfDir", eager = true)(
      shingleHashSets(d.filter(col("doc_id") < 10))
        .select(explode(col("sh")).as("shingle")).distinct())
    // size the sketch from the actual set (the count also materializes
    // the persisted bench side) — a hard-coded capacity would let fpp
    // degrade toward 1 on a larger benchmark suite, pruning nothing
    val nBench = bench.count()
    val bf = bench.stat.bloomFilter("shingle",
      expectedNumItems = math.max(nBench, 1000L), fpp = 0.001)
    shingleHashSets(d.filter(col("doc_id") >= 10))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .filter(Scale.bloomMightContain(bf, col("shingle")))
      .join(bench, Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup — the production posture every
    * whole-corpus dedup above eventually runs in: a NEW batch (here
    * the `source = src0` slice — in production the day's crawl)
    * arrives against an immutable HISTORY (every other source), and
    * only batch documents whose canonical fingerprint
    * ([[TextOps.fingerprint]]) is unseen in history survive, deduped
    * within the batch to the min doc_id. The scale shape inverts
    * [[qContaminationBloom]]'s: history is the huge side (the
    * accumulated corpus), the batch is small, so the Bloom sketch is
    * built over the BATCH fingerprints (distributed build, only the
    * ~MB bit array reaches the driver), broadcast, and applied to
    * history BEFORE the join — history shrinks to
    * O(true dupes + fpp·|history|) rows instead of shuffling every
    * historical fingerprint into the anti-join, and the exact
    * anti-join on the survivors removes the false positives so the
    * approximation never reaches the output. (The probe is the
    * codegen'd [[Scale.bloomMightContain]] — string fingerprints go
    * through `xxhash64` on BOTH the build and probe sides, and the
    * collision-rate extra false positives land in the same
    * anti-join-absorbed bucket as the sketch's own fpp.) */
  def qDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents")
    val batchSource = "src0"
    // the batch participates three times (sketch sizing, sketch
    // build, anti-join) — memoized like the other shared working sets
    val batch = SessionMemo.frames(spark, s"incrBatch|$sfDir", eager = true)(
      d.filter(col("source") === batchSource)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")))
    val history = d.filter(col("source") =!= batchSource)
      .select(TextOps.fingerprint(col("text")).as("fp"))
    incrementalKeep(batch, history)
  }

  /** The incremental-dedup core over prepared frames — `batch` is
    * (doc_id, fp) (persisted by the caller: it feeds sketch sizing,
    * the sketch build and the anti-join), `history` is (fp). Split
    * from the query so the spec can drive it with planted duplicate
    * structure the no-exact-dupe fixture corpus lacks. */
  private[graft] def incrementalKeep(batch: DataFrame,
      history: DataFrame): DataFrame = {
    val nBatch = batch.count()
    // build over xxhash64(fp): the codegen'd probe expression is
    // long-typed (see [[Scale.bloomMightContain]])
    val bf = batch.select(xxhash64(col("fp")).as("fph"))
      .stat.bloomFilter("fph",
        expectedNumItems = math.max(nBatch, 1000L), fpp = 0.001)
    val seen = history
      .filter(Scale.bloomMightContain(bf, xxhash64(col("fp"))))
      .distinct()
    batch.join(seen, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_batch_copies"))
      .orderBy(col("keep_id"))
  }

  /** SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures).
    * Signature bit b = sign of Σ_tokens (bit b of md5(token)'s leading
    * 8 bytes ? +1 : −1). Candidates via 4×16-bit chunk equality
    * (pigeonhole guarantees recall for hamming ≤ 3), verified with
    * bit_count(xor). md5 is computable in both engines, so the oracle
    * rebuilds the identical signatures → hash-checked. */
  def qSimhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, sfDir, "documents")
    // 64-bit SimHash as 4 × 16-bit chunks from the leading 8 bytes of
    // each token's MD5 (frequency-weighted: every occurrence votes).
    // MD5 instead of xxhash64 because both engines compute the SAME
    // md5 — the DuckDB oracle rebuilds identical signatures from
    // substrings of md5(token), making the whole approximate operator
    // hash-checkable. One narrow mapPartitions pass per document — no
    // explode-tokens shuffle (same reasoning as [[shingleSigSets]]).
    // Docs with zero tokens carry no signature (mirrors the exploded
    // formulation where they produce no rows).
    val sigs = spread(d.select(col("doc_id"), col("text")), Seq("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val tk = tokensOf(text)
          if (tk.isEmpty) None
          else {
            val votes = new Array[Int](64)
            tk.foreach { t =>
              md.reset()
              val dig = md.digest(
                t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var k = 0
              while (k < 4) {
                val v = ((dig(2 * k) & 0xFF) << 8) | (dig(2 * k + 1) & 0xFF)
                var i = 0
                while (i < 16) {
                  if (((v >> i) & 1) == 1) votes(16 * k + i) += 1
                  else votes(16 * k + i) -= 1
                  i += 1
                }
                k += 1
              }
            }
            val c = new Array[Int](4)
            var b = 0
            while (b < 64) {
              if (votes(b) > 0) c(b / 16) |= 1 << (b % 16)
              b += 1
            }
            Some((id, c(0), c(1), c(2), c(3)))
          }
        }
      }
      .toDF("doc_id", "c0", "c1", "c2", "c3")
    // pigeonhole banding: hamming ≤ 3 over 64 bits ⇒ ≥ 1 of the 4
    // chunks is identical — bucket-join on (chunk idx, chunk value)
    val chunks = sigs.select(col("doc_id"), col("c0"), col("c1"),
      col("c2"), col("c3"),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
        .as(Seq("ck", "cv")))
    val ham = (0 until 4).map(k =>
        bit_count(col(s"a.c$k").bitwiseXOR(col(s"b.c$k"))))
      .reduce(_ + _).cast("long")
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("ida"), col("idb"))
  }
}
