package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed batch-curation pipeline — the end-to-end job a real
  * 100 TB training-data run chains, built ENTIRELY from the
  * individually-oracle-proven engine stages so composition (schema
  * drift between stages, double-persists, dropped columns) is the
  * only new surface:
  *
  *   canonicalize → same-page dedup → exact dedup → near dedup →
  *   benchmark decontamination → substring span removal →
  *   per-source quality cut → token-budget mix → sequence packing
  *
  * Each stage is a pure DataFrame → DataFrame function over the
  * documents schema (doc_id, source, lang, text, …; extra columns
  * ride through), so [[graft.jobs.CurationJob]] can checkpoint each
  * stage to parquet (the restartable posture a multi-day 100 TB run
  * needs) while `JobsSpec` asserts the staged run row-equals the
  * direct in-memory composition — the composition-bug gate.
  *
  * Scale shape: every stage is the already-audited form — the URL
  * canonicalizer is a zero-shuffle projection, both dedups are
  * key-hash shuffles (LSH-banded for near-dup), decontamination is
  * the Bloom-prefiltered semi-join, span removal one window-hash
  * shuffle + a doc-keyed text rejoin, the quality cut is
  * [[Scale.quantileCutKeep]]'s bounded two-pass histogram, the mix
  * and the packer ride [[Scale.shardedPrefixSumBy]]. No new shuffle
  * shapes are introduced by composing them.
  */
object Curation {

  /** Stage 1 — URL canonicalization + same-page dedup: keep the
    * min-doc_id copy of every canonical URL ([[UrlOps.qUrlDedup]]'s
    * keep rule). Frames without a `url` column derive a synthetic
    * one carrying every canonicalization hazard (mixed case,
    * userinfo, www, ports, doubled slashes, tracking params,
    * fragments) but with the FULL doc_id as the page path — unlike
    * [[UrlOps.syntheticUrl]], whose mod-10 path plants same-page
    * collisions BY DESIGN for the dedup oracles, a curation run over
    * a corpus with no real URLs must not invent duplicates (the
    * first cut used the oracle derivation and silently dropped 99.6%
    * of sf0.1 at this stage). Rows whose URL canonicalizes to NULL
    * (schemeless garbage) bypass the dedup rather than collapsing
    * into one all-null group. Adds the `canonical` column — the
    * provenance key downstream rollups group on. */
  def urlStage(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val fallbackUrl = concat(
      when(id % 2 === 0, lit("HTTPS")).otherwise(lit("Http")),
      lit("://"),
      when(id % 5 === 0, lit("u:p@")).otherwise(lit("")),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".COM"),
      when(id % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/Docs//"), id.cast("string"),
      when(id % 7 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=feed&z=9&a=1"),
      when(id % 9 === 0, lit("#Sec2")).otherwise(lit("")))
    val hasUrl = d.columns.contains("url")
    // Loud fallback (r19 verdict): synthesizing provenance keys is a
    // fixture-shaped convenience — a real corpus without URLs gets
    // hazard-synthetic canonical keys, and same-page dedup is then a
    // guaranteed no-op. Say so where the operator runs instead of
    // letting the caller discover it in the stage counts.
    if (!hasUrl) System.err.println(
      "[curation] input has no `url` column — synthesizing " +
        "collision-free provenance URLs from doc_id (same-page dedup " +
        "will drop nothing; provide real URLs for provenance-aware " +
        "curation)")
    val u = if (hasUrl) col("url") else fallbackUrl
    val canon = d.withColumn("canonical", UrlOps.canonicalizeUrl(u))
    val dedupable = canon.filter(col("canonical").isNotNull)
    val keep = dedupable.groupBy(col("canonical"))
      .agg(min(col("doc_id")).as("doc_id"))
    dedupable.join(keep, Seq("canonical", "doc_id"), "left_semi")
      .unionByName(canon.filter(col("canonical").isNull))
  }

  /** Stage 2 — exact dedup: keep the min-doc_id copy per canonical
    * text fingerprint ([[Dedup.qDedupExact]]'s keep rule; one hash
    * shuffle on the 16-byte fingerprint). */
  def exactStage(d: DataFrame): DataFrame = {
    val fp = d.withColumn("__fp", TextOps.fingerprint(col("text")))
    val keep = fp.groupBy(col("__fp")).agg(min(col("doc_id")).as("doc_id"))
    fp.join(keep, Seq("__fp", "doc_id"), "left_semi").drop("__fp")
  }

  /** Stage 3 — near-dup dedup: MinHash/LSH candidate pairs, exact
    * Jaccard ≥ 0.8 verify, connected components, keep each cluster's
    * min-doc_id representative ([[Dedup.qDedupClusters]]' labeling
    * over this frame's pairs). `tag` keys the signature working-set
    * memo (band explode + both verify sides consume it) — pass a
    * run-unique string. */
  def nearDupStage(d: DataFrame, tag: String): DataFrame = {
    val spark = d.sparkSession
    val withSh = SessionMemo.frames(spark, s"curation-sigs|$tag", eager = true)(
      Dedup.shingleSigSets(d))
    val pairs = Dedup.minhashPairsOf(withSh)
      .select(col("ida"), col("idb"))
    val drops = Dedup.labelComponents(pairs, driverEdgeLimit = 1000000L)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    d.join(drops, Seq("doc_id"), "left_anti")
  }

  /** Stage 4 — benchmark decontamination: drop every document that
    * shares ANY 3-token shingle with the evaluation-benchmark corpus
    * ([[Dedup.qContaminationBloom]]'s exact semantics and scale
    * shape: the benchmark shingle set is Bloom-sketched — only the
    * ~MB bit array reaches the driver — the corpus probe is the
    * codegen'd `might_contain` BEFORE any shuffle, and the exact
    * semi-join on the survivors removes the sketch's false positives,
    * so the approximation never reaches the kept set). A real
    * training-data run decontaminates before packing — a benchmark
    * passage memorized from the training set invalidates the eval —
    * and it belongs between near-dup and quality: dedup first shrinks
    * the shingling work, and the cut must see original text (the
    * substring stage rewrites it). `tag` keys the benchmark
    * working-set memo (sizing count + sketch build + verify join all
    * consume it) — pass a run-unique string. */
  def deconStage(d: DataFrame, bench: DataFrame, tag: String): DataFrame = {
    val spark = d.sparkSession
    // A real eval-suite parquet may carry only `text` — the benchmark
    // side's doc_id is never used (its shingles union into one set),
    // but [[Dedup.shingleHashSets]] selects it, so synthesize one when
    // absent rather than failing on an unresolved column (r20 ADVICE).
    val benchIdd =
      if (bench.columns.contains("doc_id")) bench
      else bench.withColumn("doc_id", monotonically_increasing_id())
    val benchSh = SessionMemo.frames(spark, s"curation-bench|$tag", eager = true)(
      Dedup.shingleHashSets(benchIdd)
        .select(explode(col("sh")).as("shingle")).distinct())
    val nBench = benchSh.count()
    val bf = benchSh.stat.bloomFilter("shingle",
      expectedNumItems = math.max(nBench, 1000L), fpp = 0.001)
    val contaminated = Dedup.shingleHashSets(d)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .filter(Scale.bloomMightContain(bf, col("shingle")))
      .join(benchSh, Seq("shingle"), "left_semi")
      .select(col("doc_id")).distinct()
    d.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Stage 5 — exact-substring span removal
    * ([[TextOps.substringDedup]]'s ExactSubstr semantics inside the
    * composed pipeline): every later copy of a ≥50-token span
    * repeated anywhere in the corpus is cut out of the document
    * TEXT before quality scoring — Lee et al.'s memorization-fuel
    * bar, run after whole-doc dedup because near-dups below the 0.8
    * Jaccard bar can still share long verbatim runs. Detection is
    * the shared [[TextOps.substringRemovals]] pass (one shuffle on
    * the 64-bit window hash); reassembly rebuilds the kept text from
    * the surviving tokens, so the output `text` is the tokenized
    * form (lowercased, single-spaced) — exactly the string whose md5
    * the standalone operator's oracle pins. Documents whose every
    * token sits inside removed spans vanish (nothing left to train
    * on). One corpus-text shuffle to marry cleaned text back to the
    * metadata columns; the removal side is dup-bearing docs only,
    * broadcast-eligible under AQE. */
  def substringStage(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val docs = Tables.spread(d.select(col("doc_id"), col("text")),
      keys = Seq("doc_id"))
    val rems = TextOps.substringRemovals(docs)
    val cleaned = docs.join(rems, Seq("doc_id"), "left")
      .as[(Long, String, Option[Seq[Int]])]
      .mapPartitions { it =>
        it.flatMap { case (id, text, remOpt) =>
          val tk = Dedup.tokensOf(text)
          val removed = new Array[Boolean](tk.length)
          remOpt.foreach(_.foreach { p =>
            var j = p
            val e = math.min(p + TextOps.substrLen, tk.length)
            while (j < e) { removed(j) = true; j += 1 }
          })
          val kept = new StringBuilder
          var j = 0
          while (j < tk.length) {
            if (!removed(j)) {
              if (kept.nonEmpty) kept.append(' ')
              kept.append(tk(j))
            }
            j += 1
          }
          if (kept.isEmpty) None else Some((id, kept.result()))
        }
      }.toDF("doc_id", "__ctext")
    d.drop("text").join(cleaned, Seq("doc_id"))
      .withColumnRenamed("__ctext", "text")
  }

  /** Stage 6 — per-source quality calibration: keep docs above the
    * bottom [[TextOps.calibratedCut]] fraction of their own source's
    * quality distribution, via the scale-safe two-pass histogram cut
    * ([[TextOps.qQualityCalibratedCut]]'s exact-threshold
    * semantics — identical kept set to the percent_rank window). */
  def qualityStage(d: DataFrame): DataFrame =
    Scale.quantileCutKeep(
        d.withColumn("__q", TextOps.qualityScore(col("text"))),
        "source", "__q", cutNum = 1, cutDen = 5)
      .drop("__q")

  /** Stage 7 — token-budget mix: per source, docs in md5 order while
    * the running token total stays within `budgetPerSource`
    * ([[TextOps.qTokenBudgetMix]]'s selection discipline — sharded
    * prefix sum on (source, first md5 hex char)). Keeps `__ntk` for
    * the packer (the token arithmetic is paid once). */
  def mixStage(d: DataFrame, budgetPerSource: Long): DataFrame =
    Scale.shardedPrefixSumBy(
        d.withColumn("__hx", md5(col("doc_id").cast("string")))
          .withColumn("__ntk", TextOps.tokenCount(col("text")).cast("long")),
        Seq("source"), substring(col("__hx"), 1, 1),
        Seq(col("__hx"), col("doc_id")), col("__ntk"), "__cum")
      .filter(col("__cum") <= budgetPerSource)
      .drop("__hx", "__cum")

  /** Stage 8 — sequence packing: contiguous greedy assignment of the
    * surviving docs (doc_id order, source-local) into 512-token
    * training sequences ([[TextOps.qPackSequences]]' offset
    * arithmetic over this frame). The output is the training
    * manifest (doc_id, source, ntk, start_off, seq_id) — text is
    * already on disk behind doc_id, so the manifest stays narrow. */
  def packStage(d: DataFrame): DataFrame = {
    val ntk = if (d.columns.contains("__ntk")) col("__ntk")
      else TextOps.tokenCount(col("text")).cast("long")
    val base = d.select(col("doc_id"), col("source"), ntk.as("ntk"))
    val shard = Scale.balancedShards(base, col("doc_id"), 16)
    Scale.shardedPrefixSumBy(base, Seq("source"), shard,
        Seq(col("doc_id")), col("ntk"), "end_off")
      .select(col("doc_id"), col("source"), col("ntk"),
        (col("end_off") - col("ntk")).as("start_off"),
        expr("(end_off - ntk) div 512").as("seq_id"))
  }

  /** The whole pipeline composed in memory — the equality anchor for
    * the staged job (`JobsSpec`): bugs that only composition can
    * introduce show up as a row diff between this and the
    * parquet-checkpointed run. `bench` enables the decontamination
    * stage (None skips it — not every run has an eval suite to guard
    * against); `substrDedup` gates the span-removal stage (on by
    * default — the Lee et al. posture for training corpora). */
  def pipeline(d: DataFrame, tag: String, budgetPerSource: Long,
      bench: Option[DataFrame] = None,
      substrDedup: Boolean = true): DataFrame = {
    val deduped = nearDupStage(exactStage(urlStage(d)), tag)
    val deconed = bench.fold(deduped)(b => deconStage(deduped, b, tag))
    val cleaned = if (substrDedup) substringStage(deconed) else deconed
    packStage(mixStage(qualityStage(cleaned), budgetPerSource))
  }
}
