package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over the `embeddings` table
  * (vec_id: long, embedding: array<float> dim-64, label: int).
  *
  * Numeric contract: every dot product is computed over the
  * float→double-cast elements with strict left-to-right summation
  * (the codegen [[graft.functions.DotProduct]] expression — the
  * semantics of `aggregate` over `zip_with`), which is bit-identical
  * to DuckDB's `list_inner_product(a::DOUBLE[], b::DOUBLE[])` — so
  * cosine scores hash-match the oracle exactly, no rounding tricks
  * needed.
  *
  * Scale design: brute-force top-k broadcasts the (tiny) query set
  * against the full corpus — linear scan, no shuffle of the corpus,
  * the right baseline even at 100 TB when |queries| is small. The
  * ANN paths are the sublinear story when |queries| ~ |corpus|, and
  * their index GRANULARITY is derived from the corpus size rather
  * than fixed: LSH buckets by [[lshBits]](n)-wide random-hyperplane
  * signatures (expected bucket population ≈ 16 at any n, Hamming-1
  * multi-probe for recall), IVF quantizes into [[ivfCells]](n) = ⌈√n⌉
  * cells — so per-query probe cost tracks √n / log n instead of a
  * fixed corpus fraction. Both structures live in the ONE fused
  * index frame ([[annIndex]]: vector + per-table signatures + cell
  * id, built in a single corpus scan, ~1.15× corpus storage); probe
  * views explode it lazily, and per-query ranking is the bounded
  * distinct top-k aggregate ([[topkRank]]), not a window sort.
  * [[qAnnRecall]] measures what "approximate" costs in recall@3
  * against exact ground truth.
  */
object Similarity {

  /** array<float> → array<double>, elementwise (exact). A direct
    * array CAST, not `transform(_, _.cast("double"))`: the
    * higher-order-function formulation does not participate in
    * whole-stage codegen, and CollapseProject merges it into the SAME
    * projection as downstream consumers — one HOF in the corpus
    * select silently de-codegens every signature/cell/dot expression
    * stacked above it (measured r10: the fused ANN index build ran
    * interpreted, ~400 µs/row, "Found 0 WholeStageCodegen subtrees").
    * Cast is codegen'd and float→double is exact either way. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Corpus loader: embeddings as double vectors, redistributed across
    * all cores when the scan is under-parallel (the testdata parquet
    * is a single row group — without this every dot-product stage
    * runs as one task; on a multi-split lake the condition is false
    * and no shuffle happens). The parallelism probe is memoized per
    * input file set ([[Tables.spread]]), not re-planned per call.
    * The frame itself joins the session working sets ("cache the hot
    * table"): every similarity operator starts from this exact scan +
    * cast + spread, and a cold `q_ann_recall` was paying it THREE
    * times (LSH index, IVF index, exact truth) before the memo. */
  private def corpus(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"corpus|$sfDir")(
      corpusPlan(spark, sfDir))

  /** The un-persisted corpus scan plan — shared by the [[corpus]]
    * cache and the [[annIndex]] build (which persists its OWN frame;
    * routing it through the corpus cache would stack a second
    * vector-bearing materialization under every cold index build). */
  private def corpusPlan(spark: SparkSession, sfDir: String): DataFrame =
    // fan-out floored at [[vecRowsPerTask]] rows/task: per-row vector
    // work is a few µs, so near-empty tasks cost more than they
    // compute (Tables.spreadTarget documents the measurement)
    Tables.spread(Tables(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")),
      rows = corpusCount(spark, sfDir), minRowsPerTask = vecRowsPerTask,
      keys = Seq("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Minimum embedding rows per task before another partition pays
    * for itself — per-row cost here is ~100 dot products of
    * [[embDim]] doubles (≈ tens of µs), so a task under a few
    * hundred rows is dominated by its fixed launch + setup cost. */
  private[graft] val vecRowsPerTask = 512

  /** Sequential-sum dot product of two double arrays, via the native
    * codegen'd [[graft.functions.DotProduct]] expression (bit-identical
    * to the higher-order-function formulation, ~an order of magnitude
    * faster on wide scans — HOFs are interpreted). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** The built-in higher-order-function formulation — kept as the
    * semantic reference (specs assert bit-equality with [[dot]]). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  // ------------------------------------------------------------ queries

  /** Brute-force cosine top-k: for each query vector (vec_id < 10),
    * the 5 nearest corpus vectors (self excluded), ranked by score
    * desc then vec_id. The query side is broadcast; the corpus is
    * scanned once with no shuffle before the per-query top-k. */
  def qCosineTopK(spark: SparkSession, sfDir: String): DataFrame =
    exactTopK(corpus(spark, sfDir),
      queryVecs(spark, sfDir, maxQid = 10), k = 5)
      .select(col("qid"), col("nid"), col("rank"), col("score"))
      .orderBy(col("qid"), col("rank"))

  /** MMR trade-off λ (relevance weight) and its diversity complement
    * μ — BOTH literal so the engine and the oracle evaluate
    * `λ·sim(q,d) − μ·max sim(d,S)` with bit-identical constants
    * (deriving μ = 1−λ in IEEE gives 0.30000000000000004). */
  val mmrLambda = 0.7
  val mmrMu = 0.3
  val mmrShortlist = 32
  val mmrK = 8

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98) — the diversity-aware top-k every retrieval-augmented
    * pipeline puts between ANN shortlist and context window: greedily
    * pick the candidate maximizing λ·sim(q,d) − μ·max_{s∈S} sim(d,s),
    * so near-duplicate passages don't crowd out coverage. Per query
    * (vec_id < 4): exact-cosine shortlist of [[mmrShortlist]], then
    * [[mmrK]] greedy selections (ties → lowest nid; the first pick is
    * plain score order).
    *
    * Scale shape: everything corpus-sized is distributed — the
    * shortlist is [[exactTopK]]'s broadcast-probe + bounded top-k
    * aggregate, shortlist vectors come back through a broadcast
    * equi-join on the pruned scan, and the |q|·m² pairwise sims are
    * a self-join of the m-row shortlist frame. Only the greedy
    * selection itself runs on the driver, over |q|·m score rows +
    * |q|·m² sims (4 KB-class, the bounded-collect inventory) — MMR
    * is sequentially dependent by definition, and m is FIXED at 32
    * regardless of corpus size. */
  def qMmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = corpus(spark, sfDir)
    val sl = exactTopK(e, queryVecs(spark, sfDir, maxQid = 4),
      k = mmrShortlist)
    val slv = e.join(broadcast(sl), col("vec_id") === col("nid"))
      .select(col("qid"), col("nid"), col("score"), col("v"))
    val a = slv.select(col("qid"), col("nid").as("na"), col("v").as("va"))
    val b = slv.select(col("qid").as("qb"), col("nid").as("nb"),
      col("v").as("vb"))
    val pairs = a.join(b, col("qid") === col("qb") && col("na") =!= col("nb"))
      .select(col("qid"), col("na"), col("nb"),
        cosine(col("va"), col("vb")).as("sim"))
    val cands = sl.select(col("qid"), col("nid"), col("score"))
      .as[(Long, Long, Double)].collect()
    val sims = pairs.as[(Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2, r._3), r._4)).toMap
    val out = cands.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      val ordered = cs.map(c => (c._2, c._3)).sortBy(c => (-c._2, c._1))
      val remaining = scala.collection.mutable.ListBuffer(ordered: _*)
      val selected = scala.collection.mutable.ListBuffer.empty[Long]
      (1 to mmrK).map { rank =>
        val (nid, score) =
          if (selected.isEmpty) remaining.head
          else remaining.minBy { case (n, s) =>
            val mx = selected.map(sel => sims((qid, n, sel))).max
            (-(mmrLambda * s - mmrMu * mx), n)
          }
        remaining.filterInPlace(_._1 != nid)
        selected += nid
        (qid, rank, nid, score)
      }
    }
    out.toSeq.toDF("qid", "rank", "nid", "score")
      .orderBy(col("qid"), col("rank"))
  }

  /** Hard-negative mining for contrastive/retrieval training
    * (anchors vec_id < 16): per anchor, the top-5 MOST similar
    * corpus vectors that are NOT the anchor's positives — where
    * "positive" is the anchor's TRANSITIVE near-dup cluster
    * (components over the exact cos ≥ [[nearDupCosFloor]] pair
    * graph), not just the raw threshold: a doc at cos 0.39 to the
    * anchor but 0.9 to the anchor's 0.45-neighbor is a leaked
    * positive a threshold filter would happily emit as a "negative",
    * poisoning the contrastive loss. What survives is exactly the
    * hard-negative band — maximally similar, verified non-duplicate.
    *
    * Scale shape: scoring is the same broadcast-probe scan as
    * [[qCosineTopK]]; cluster labels are near-dup-sized and join
    * once on each side of the (qid, nid) stream; the top-5 rides the
    * bounded top-k aggregate. At 100 TB the label frame comes from
    * the standing dedup pipeline instead of being recomputed. */
  def qHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = corpus(spark, sfDir)
    val qs = queryVecs(spark, sfDir, maxQid = 16)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val labels = Dedup.labelComponents(
      qEmbedNearDup(spark, sfDir).select(col("ida"), col("idb")),
      driverEdgeLimit = 1000000L)
    val scored = e.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qv"), col("v")).as("score"))
    val negs = scored
      .join(broadcast(labels.select(col("id").as("qid"),
        col("label").as("qlab"))), Seq("qid"), "left")
      .join(broadcast(labels.select(col("id").as("nid"),
        col("label").as("nlab"))), Seq("nid"), "left")
      .filter(col("qlab").isNull || col("nlab").isNull
        || col("qlab") =!= col("nlab"))
      .select(col("qid"), col("nid"), col("score"))
    topkRank(negs, 5)
      .select(col("qid"), col("nid"), col("rank"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact cosine top-k per query, self excluded, ranked score-desc
    * then nid — the brute-force kernel behind [[qCosineTopK]] and the
    * recall audit's ground truth. `q` is the (vec_id, v) query batch
    * ([[queryVecs]]). */
  private def exactTopK(e: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val qs = q.select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qv"), col("v")).as("score"))
    // the |queries|·n scored stream ranks through the same bounded
    // top-k aggregate as the ANN tails ([[topkRank]]) — the former
    // window formulation shuffled and sorted the WHOLE scored stream
    // (at 100 TB: |q|·n rows through one exchange) where the partial
    // buffers ship ≤ k pairs per query per map task
    topkRank(scored, k)
  }

  /** Driver-resident ANN query batch: the query vectors
    * (vec_id < maxQid) collected ONCE per (session, corpus, window)
    * and re-planned as a local relation. In production the query
    * batch is an INPUT the client holds, not a corpus scan — and
    * plan-wise this is what keeps every query-side broadcast build a
    * task-free local serialization: deriving the batch from the
    * corpus/index frame made the async broadcast job RACE the probe
    * join into materializing the same cold cache, running the full
    * index build twice in overlapping jobs (measured, r10). 25 KB at
    * 50×64 doubles — same lifecycle discipline as the other driver
    * memos. */
  private[engine] val queryVecMemo =
    new SessionMemo.Values[String, Seq[(Long, Seq[Double])]](cap = 8)
  private def queryVecs(spark: SparkSession, sfDir: String,
      maxQid: Long): DataFrame = {
    // Keyed by the RESOLVED file set (as Tables.spread keys its
    // probe), not the directory string: collected rows are a hard
    // snapshot — unlike the DataFrame memos they never re-read files
    // on recompute, so a swapped-out parquet under the same sfDir
    // must MISS here or query batches silently diverge from the
    // corpus the other operators scan.
    val files = corpusPlan(spark, sfDir).inputFiles.sorted.mkString("\n")
    val rows = queryVecMemo(spark, s"$files|$maxQid") {
      corpusPlan(spark, sfDir).filter(col("vec_id") < maxQid)
        .collect().toSeq.map(x => (x.getLong(0), x.getSeq[Double](1)))
    }
    import spark.implicits._
    rows.toDF("vec_id", "v")
  }

  /** Recall@3 audit of the three ANN paths against exact brute-force
    * ground truth, per query — the metric a real retrieval system
    * tracks continuously (without it "approximate" is an unmeasured
    * claim). Ground truth is one exact scan for the 50-query set
    * (broadcast queries, linear in the corpus — the audit is run on
    * samples at scale); each ANN list then left-joins against it and
    * recall = |hits|/3. All four inputs are deterministic, so the
    * DuckDB oracle composes the same CTEs and the recall numbers
    * hash-check exactly. */
  /** The recall audit's window: queries = vec_id < 50 (the ANN
    * queries' shared query-set contract) at recall@3 — named so the
    * truth-list memo key can encode them. */
  private[graft] val recallMaxQid = 50L
  private val recallK = 3

  def qAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // the exact truth list joins the session working sets like the
    // ranked ANN lists do — it is a pure function of the corpus AND
    // the (maxQid, k) audit window, so both parameters ride in the
    // memo key: a future caller with a different window must miss,
    // not be served a stale list
    val truth = SessionMemo.frames(spark,
      s"truthlist|$sfDir|q$recallMaxQid|k$recallK")(
      exactTopK(annCorpus(spark, sfDir),
        queryVecs(spark, sfDir, recallMaxQid), k = recallK)
        .select(col("qid"), col("nid")))
    // ONE tagged union of the three ranked lists (the UNSORTED
    // memoized frames — a sorted consumer would drag a global-sort
    // exchange into each branch), ONE broadcast left join against the
    // truth list, and conditional sums per index. The earlier shape —
    // three separate flag joins — paid three broadcast
    // materializations and three join stages for the same ≤ 450 flag
    // rows; broadcast stays EXPLICIT because the memoized lists carry
    // no stats before materialization and the planner's initial pick
    // is a sort-merge join that would shuffle the truth side.
    def tag(m: DataFrame, ix: String): DataFrame =
      m.select(col("qid"), col("nid"), lit(ix).as("ix"))
    val flags = tag(lshList(spark, sfDir), "l")
      .union(tag(ivfList(spark, sfDir), "i"))
      .union(tag(fusedList(spark, sfDir), "f"))
    def hits(ix: String): Column =
      sum(when(col("ix") === ix, 1L).otherwise(0L)) / recallK.toDouble
    truth
      .join(broadcast(flags), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(hits("l").as("recall_lsh"), hits("i").as("recall_ivf"),
        hits("f").as("recall_fused"))
      .orderBy(col("qid"))
  }

  /** Exact all-pairs cosine ≥ 0.4 (embedding near-dup detection) via
    * a BLOCKED self-join — the standard distributed exact-all-pairs
    * shape. Exact semantics is inherently O(n²) COMPARISONS, but the
    * plan must never be a broadcast-nested-loop (one side fully on
    * every executor) or a driver-planned cartesian: each vector is
    * assigned a block b = vec_id mod B, the left side replicates to
    * block-pairs (b, j≥b) and the right to (i≤b, b), and the join is
    * a plain EQUI-join on the pair key — B(B+1)/2 independent tasks,
    * each comparing two bounded blocks. Shuffle volume is O(n·B)
    * rows; per-task memory is O(n/B) vectors, so B is the knob that
    * bounds executor memory at any corpus size. Norms are computed
    * once per vector BEFORE replication (n sqrt's, not n²).
    *
    * Every unordered pair {x,y} meets exactly once: blocks (bx<by)
    * meet only under key (bx,by) with x left / y right; the diagonal
    * (b,b) meets twice, disambiguated by the vec_id inequality. */
  /** Block count for the all-pairs self-join: the larger of the
    * parallelism floor (smallest B with B(B+1)/2 ≥ cores — full
    * parallelism at minimal replication) and the MEMORY floor
    * (each task holds two blocks of ≈ n/B vectors, so
    * 2·n·bytesPerVec/B must fit the per-task budget). The memory
    * floor is what makes the bound cluster-shape-independent: a
    * 10⁹-vector corpus on 16 cores still gets B ≈ 16k blocks so no
    * task ever materializes more than `taskBudgetBytes` of vectors,
    * while a small corpus on 1000 cores keeps the parallelism floor.
    * Result rows are B-independent either way. */
  private[graft] def blockCount(parallelism: Int, n: Long,
      bytesPerVec: Long, taskBudgetBytes: Long): Int = {
    val parB = math.ceil((math.sqrt(8.0 * parallelism + 1) - 1) / 2).toInt
    val memB = math.ceil(2.0 * n * bytesPerVec / taskBudgetBytes).toInt
    math.max(2, math.max(parB, memB))
  }

  /** Per-task vector-memory budget for [[qEmbedNearDup]] (64 MiB —
    * comfortably inside a default executor core's share). */
  private[graft] val nearDupTaskBudgetBytes: Long = 64L * 1024 * 1024

  /** Memoized embeddings-corpus cardinality — IVF cell count, LSH
    * signature width, SemDeDup cell count and the all-pairs block
    * count are all sized from n; without the memo each invocation
    * (every bench rep, every verify pass) paid a full-scan count job
    * before doing any work. */
  private def corpusCount(spark: SparkSession, sfDir: String): Long =
    Tables.memoizedCount(spark, sfDir, "embeddings")

  def qEmbedNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = corpus(spark, sfDir)
    val p = spark.sparkContext.defaultParallelism
    // bytes per replicated vector row: dim doubles + array header +
    // id/norm/block columns (rounded up; the bound only needs an
    // over-estimate)
    val nBlocks = blockCount(p, corpusCount(spark, sfDir),
      bytesPerVec = embDim * 8L + 64, taskBudgetBytes = nearDupTaskBudgetBytes)
    val blocked = e.select(col("vec_id"), col("v"),
      l2norm(col("v")).as("nrm"),
      pmod(col("vec_id"), lit(nBlocks.toLong)).cast("int").as("blk"))
    val left = blocked.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("i"),
      explode(sequence(col("blk"), lit(nBlocks - 1))).as("j"))
    val right = blocked.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"),
      explode(sequence(lit(0), col("blk"))).as("i"), col("blk").as("j"))
    left.join(right, Seq("i", "j"))
      .filter(col("i") < col("j") || col("id_a") < col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("ida"),
        greatest(col("id_a"), col("id_b")).as("idb"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= nearDupCosFloor)
      .orderBy(col("ida"), col("idb"))
  }

  /** Cosine floor shared by the exact all-pairs near-dup and its
    * ANN-candidate twin — one knob, so the spec's recall comparison
    * and the two oracles always speak about the same pair set. */
  private[graft] val nearDupCosFloor = 0.4

  /** Embedding near-dup via the LSH index — the CANDIDATE-GENERATION
    * path that replaces the exact all-pairs self-join at corpus
    * scale: a pair is a candidate iff its signatures land within
    * Hamming distance 2 in SOME table of the fused index (the exact
    * bucket plus [[lshNearDupFan]]'s one- and two-bit flips, fanned
    * over ONE join side; bit-flip collision is symmetric, so the
    * ida < idb orientation still meets every pair once — the ≤2 fan
    * is the near-dup-only recall lever: retrieval keeps the cheaper
    * ≤1 [[lshProbeFan]], but a dedup pass that silently drops ~15%
    * of true near-dup pairs, r12's measured 0.852 recall at sf0.1,
    * is below what production dedup accepts). Every candidate is
    * verified with the exact cosine before the [[nearDupCosFloor]]
    * cut, so precision is 1 by construction and the only
    * approximation is recall (pairs no table co-buckets within two
    * flips are never scored; measured against [[qEmbedNearDup]]'s
    * exact pair set in `SimilaritySpec`). This is the
    * embedding-space analog of the MinHash band join over text
    * shingles ([[Dedup]]): candidate volume is
    * O(n · tables · bits² · bucket) — ~16-row expected buckets at
    * ANY corpus size ([[lshBits]]), so O(n log² n) total — versus
    * the exact path's O(n²) comparisons, and the join is a plain
    * equi-join on the bucket key: no cartesian, no nested loop, no
    * per-block vector replication. The bucket join carries IDS ONLY
    * (tbl, sig, vec_id — 24-byte rows; the r12 formulation shipped
    * both full vectors through it, ~136 replicas of every vector at
    * 1M with the fan): collisions repeating across tables/probes
    * dedup in ONE pair-sized exchange, and the vectors join back
    * exactly once per side to score — the same
    * candidates-then-verify shape as [[Dedup]]'s MinHash band join
    * and this oracle's own CTE chain. */
  def qEmbedNearDupAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val n = corpusCount(spark, sfDir)
    val bits = lshBits(n)
    // spread the fan source (r22): the index cache keeps the
    // vecRowsPerTask=512 build layout (4 partitions at sf0.1), but
    // THIS consumer fans 1+bits+C(bits,2) probe signatures per
    // (vec, table) row — ~0.9 ms/vector of hash+serialize, so the fan
    // map stage ran 4-wide at ~450 ms/task with 28 cores idle
    // (StageProbe r22: 0.49 s of the query's 1.17 s stage wall). The
    // floor is per-(vec, table) ROW here (8× the vector count), so a
    // task carries ≥ ~1 s of fan work before another partition pays
    // for itself; at corpus scale the cache already has ≥ cores
    // partitions and spread is a no-op. Both the x and y sides read
    // this one exchange (ReuseExchange).
    val b = Tables.spread(annIndex(spark, sfDir).select(col("vec_id"),
        posexplode(col("sigs")).as(Seq("tbl", "sig"))),
      rows = n * lshTables, minRowsPerTask = 1024,
      keys = Seq("vec_id", "tbl"))
    val x = b.select(col("tbl"), col("sig"), col("vec_id").as("ida"))
    val y = b.select(col("tbl"), col("vec_id").as("idb"),
      explode(lshNearDupFan(bits)).as("sig"))
    val cand = x.join(y, Seq("tbl", "sig"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"))
      .distinct()
    val e = annCorpus(spark, sfDir)
    cand
      .join(e.select(col("vec_id").as("ida"), col("v").as("va")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("v").as("vb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= nearDupCosFloor)
      .orderBy(col("ida"), col("idb"))
  }

  /** Deterministic pseudo-random hyperplane for plane j over `dim`
    * dimensions: xxhash64(j, d) folded into [−1, 1]. Evaluated
    * driver-side ONCE and embedded as an array literal, so each
    * projection is a single codegen'd native dot product instead of
    * an interpreted per-element lambda — reproducible across runs and
    * cluster sizes (pure function of (j, d)). */
  private[graft] def planeVals(j: Int, dim: Int): IndexedSeq[Double] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    (0 until dim).map { d =>
      val h = XxHash64(Seq(Literal(j), Literal(d)), 42L).eval(null)
        .asInstanceOf[Long]
      (((h % 2001L) + 2001L) % 2001L - 1000L).toDouble / 1000.0
    }
  }

  private def plane(j: Int, dim: Int): Column = typedLit(planeVals(j, dim))

  /** Signed random-projection signature of `bits` hyperplanes
    * [firstPlane, firstPlane+bits) for `dim`-dimensional vectors.
    * Dual codegen paths, interchangeable bit-for-bit. The DEFAULT is
    * the constant-method-size [[graft.functions.HyperplaneSig]] loop
    * at EVERY width — not just wide signatures: the unrolled
    * literal-plane OR-reduce was measured (r10, bits = 7 × 8 tables,
    * 2k rows) at ~10× the loop expression's cost even at fixture
    * widths, because inlining 56 dot-product loops into one
    * whole-stage method overruns the JVM's JIT method limits and the
    * generated code runs in the bytecode interpreter (the same
    * failure mode as the n = 1M / bits = 16 build: 278 s literal vs
    * seconds). The literal formulation is retained under `forceLit`
    * as the plan-readable verification twin ([[qAnnLshLit]] — the
    * `q_ann_ivf_lit` pattern), so both codegen paths stay
    * oracle-checked every round. */
  def lshSignature(v: Column, bits: Int, dim: Int,
      firstPlane: Int = 0, forceLit: Boolean = false): Column =
    if (forceLit)
      (0 until bits).map { j =>
        when(dot(v, plane(firstPlane + j, dim)) >= 0,
          shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    else
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.HyperplaneSig(
          org.apache.spark.sql.GraftBridge.expression(v),
          (0 until bits).map(j => planeVals(firstPlane + j, dim))))

  /** ANN top-k via MULTI-PROBE random-hyperplane LSH, [[lshTables]] ×
    * [[lshBits]](n) bits: the corpus is bucketed by (table,
    * signature); each query probes its own bucket plus every bucket
    * at Hamming distance 1 in every table (Lv et al., "Multi-Probe
    * LSH", VLDB'07 — the standard recall lever that does NOT grow the
    * index), candidates are unioned (distinct) and exact cosine ranks
    * them (top-3 per query, queries = vec_id < 50). Candidate volume
    * per query is O(tables · (bits+1) · targetBucket) — logarithmic
    * in n via the bit width, not a corpus fraction. Approximate
    * w.r.t. true nearest neighbors but fully DETERMINISTIC given the
    * literal hyperplanes — the oracle SQL embeds the same plane
    * values and reproduces signatures, probe fans, and ranks exactly
    * ([[qAnnRecall]] then MEASURES the recall instead of implying
    * it). The plan shape is the point: a shuffle keyed by signature
    * instead of an O(n²) scan per query. */
  /** ANN top-k via IVF (inverted-file) coarse quantization, the other
    * standard scale path next to LSH: every corpus vector is assigned
    * to its best inner-product centroid cell, queries probe their
    * `nprobe` = 2 best cells, and exact cosine ranks the union. The
    * quantizer is seeded deterministically with the first
    * K = [[ivfCells]](n) = ⌈√n⌉ corpus vectors (production would
    * k-means a sample offline — the cell-assignment/probe dataflow is
    * identical), so cell population tracks √n instead of growing
    * linearly with the corpus — the same scaling law as
    * [[semdedupCells]]. Centroids are tiny → driver-resident; the
    * corpus-side argmax is a zero-shuffle per-row projection (an
    * unrolled literal struct-array at small k, the constant-size
    * loop-codegen [[graft.functions.TopCells]] expression beyond
    * [[literalArgminMaxK]] — the same dual-path discipline as
    * [[nearestCell]]), and candidate generation is an equi-join on
    * cell id — never an O(n²) scan. Inner-product assignment keeps
    * every score a sequential double dot product, so the oracle
    * reproduces cells, probes, and ranks bit-exactly at any k. */
  /** Driver-side memo for the IVF coarse quantizer — the centroid
    * collect is a Spark job per call otherwise (every probe, every
    * Bench rep); it is a pure function of the corpus, so one fetch
    * per (session, sfDir) suffices. */
  private[engine] val ivfCentMemo =
    new SessionMemo.Values[String, Array[(Long, IndexedSeq[Double])]](cap = 8)

  /** IVF cell count for an n-vector corpus: ⌈√n⌉, floor 16, UNCAPPED —
    * probing nprobe cells then costs O(nprobe·n/√n) = O(nprobe·√n)
    * candidates per query instead of a fixed fraction of the corpus
    * (a constant k means cell size n/k grows linearly with n and the
    * "index" decays into an 8× constant-factor scan). At n = 10⁹ this
    * is ~32k centroids — a 16 MB driver/broadcast footprint, the
    * scale at which production would k-means an offline sample with
    * this exact assignment dataflow. */
  private[graft] def ivfCells(n: Long): Int =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Map a [[graft.functions.TopCells]] centroid INDEX to its cell id
    * (= the centroid row's vec_id). */
  private def cellIdOf(ids: IndexedSeq[Long], idx: Column): Column =
    element_at(typedLit(ids), idx + 1)

  /** Corpus-side IVF cell assignment against driver-resident
    * centroids — inner-product argmax, ties to the lowest cid. Small
    * k codegens as an unrolled literal struct-array (lexicographic
    * max on (ip, −cid)); past [[literalArgminMaxK]] — or under
    * `forceExpr` — it routes through the loop-codegen
    * [[graft.functions.TopCells]], whose generated method size is
    * independent of k. Both paths: strict sequential double dots,
    * interchangeable row-for-row. */
  private[graft] def ivfCellCol(cent: IndexedSeq[(Long, IndexedSeq[Double])],
      forceExpr: Boolean = false, forceLit: Boolean = false,
      v: Column = col("v")): Column =
    if (forceLit || (!forceExpr && cent.length <= literalArgminMaxK))
      -array_max(array(cent.map { case (cid, cv) =>
        struct(dot(v, typedLit(cv)).as("ip"), lit(-cid).as("ncid"))
      }: _*)).getField("ncid")
    else
      cellIdOf(cent.map(_._1),
        element_at(org.apache.spark.sql.GraftBridge.column(
          graft.functions.TopCells(
            org.apache.spark.sql.GraftBridge.expression(v),
            cent.map(_._2.toSeq), 1)), 1))

  /** Query-side IVF probe: the `nprobe` best cells by inner product,
    * best first — same dual literal/loop-expression paths as
    * [[ivfCellCol]]. */
  private[graft] def ivfProbeCol(cent: IndexedSeq[(Long, IndexedSeq[Double])],
      nprobe: Int, forceExpr: Boolean = false,
      forceLit: Boolean = false, v: Column = col("v")): Column =
    if (forceLit || (!forceExpr && cent.length <= literalArgminMaxK))
      transform(
        slice(reverse(sort_array(array(cent.map { case (cid, cv) =>
          struct(dot(v, typedLit(cv)).as("ip"), lit(-cid).as("ncid"))
        }: _*))), 1, nprobe),
        s => -s.getField("ncid"))
    else
      transform(org.apache.spark.sql.GraftBridge.column(
        graft.functions.TopCells(
          org.apache.spark.sql.GraftBridge.expression(v),
          cent.map(_._2.toSeq), nprobe)),
        idx => cellIdOf(cent.map(_._1), idx))

  /** The constant-coordinate reduction that lets the INNER-PRODUCT
    * argmax machinery ([[ivfCellCol]]/[[ivfProbeCol]]/`TopCells`)
    * compute a SQUARED-DISTANCE argmin unchanged: with x' = [x, 1]
    * and c' = [c, −|c|²/2], x'·c' = x·c − |c|²/2, and
    * argmin_c |x−c|² = argmax_c (x·c − |c|²/2) since the |x|² term is
    * shared. Both tie rules (IP argmax → lowest cid, L2 argmin →
    * lowest cid) coincide under the reduction. Cell ids are the
    * centroid INDEXES (Lloyd centroids are synthetic means, not
    * corpus rows, so there is no vec_id to borrow). */
  private[graft] def augmentCentroids(cent: IndexedSeq[IndexedSeq[Double]])
      : IndexedSeq[(Long, IndexedSeq[Double])] =
    cent.zipWithIndex.map { case (cv, i) =>
      (i.toLong, cv :+ (-0.5 * cv.map(x => x * x).sum))
    }

  /** The vector side of [[augmentCentroids]]'s reduction. */
  private[graft] def augmentVec(v: Column): Column =
    concat(v, array(lit(1.0)))

  /** The deterministic first-⌈√n⌉-vectors coarse quantizer, memoized
    * per (session, sfDir). */
  private def ivfCentroids(spark: SparkSession, sfDir: String,
      e: DataFrame, k: Int): IndexedSeq[(Long, IndexedSeq[Double])] = {
    ivfCentMemo(spark, sfDir) {
      e.filter(col("vec_id") < k)
        .select(col("vec_id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
        .sortBy(_._1)
    }.toIndexedSeq
  }

  def qAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    ivfList(spark, sfDir).orderBy(col("qid"), col("rank"))

  /** The memoized UNSORTED IVF ranked list — see [[lshList]]. */
  private def ivfList(spark: SparkSession, sfDir: String): DataFrame =
    annIvfImpl(spark, sfDir, fixedK = None)

  /** The IVF retrieval at a FIXED 16-cell quantizer — the
    * configuration where the unrolled literal argmax is the
    * auto-selected codegen path (k ≤ [[literalArgminMaxK]]), which
    * the n-derived cell counts skip at every fixture SF (⌈√n⌉ > 16).
    * Registered so the literal branch stays hash-checked IN ITS OWN
    * DOMAIN every round (small k — forcing it at ⌈√n⌉ would compile
    * thousands of inlined literals to verify a configuration
    * production can never select). Bypasses the session memos —
    * sharing the default query's cached ⌈√n⌉-cell index would serve
    * the wrong quantizer's results. */
  def qAnnIvfLit(spark: SparkSession, sfDir: String): DataFrame =
    annIvfImpl(spark, sfDir, fixedK = Some(literalArgminMaxK))
      .orderBy(col("qid"), col("rank"))

  private def annIvfImpl(spark: SparkSession, sfDir: String,
      fixedK: Option[Int]): DataFrame = {
    val forceLit = fixedK.isDefined
    val e = annCorpus(spark, sfDir)
    val k = ivfCells(corpusCount(spark, sfDir))
    // The coarse quantizer is driver-resident, as in any real IVF
    // index (k centroids ≪ corpus; production k-means them offline).
    // Collecting them lets cell assignment be a PER-ROW codegen'd
    // argmax — the corpus never shuffles and no window is involved,
    // vs. the join+window formulation which exchanges |corpus|×k rows
    // twice. Ties break to the lowest cid on both codegen paths.
    // The fixed-k twin takes a PREFIX of the memoized quantizer
    // (centroids are the first-k corpus vectors sorted by vec_id and
    // ivfCells floors at 16, so first-16 is always a prefix) — the
    // memo stays keyed by corpus alone.
    val cent = fixedK.fold(ivfCentroids(spark, sfDir, e, k))(fk =>
      ivfCentroids(spark, sfDir, e, k).take(fk))
    // the default path reads cell ids off the fused index (one corpus
    // pass builds LSH signatures AND cells — annIndex); the forced-
    // literal twin assigns inline, un-memoized, at its own k
    val assigned =
      if (forceLit) e.select(col("vec_id"), col("v"),
        ivfCellCol(cent, forceLit = true).as("cid"))
      else annIndex(spark, sfDir)
    annIvfRank(spark, sfDir, e, assigned, cent, forceLit = forceLit,
      memoSuffix = if (forceLit) None else Some(s"|$sfDir"))
  }

  /** IVF with the coarse quantizer LLOYD-FITTED by the shared k-means
    * machinery ([[kmeansCentroidsCached]], 3 iterations, k = ⌈√n⌉) —
    * the production quantizer next to [[qAnnIvf]]'s deterministic
    * first-k seeding. First-k keeps the relational oracle (centroids
    * are corpus rows DuckDB can select); its price, measured by
    * [[graft.tools.AnnScale]], is quantizer skew — the max cell ran
    * 4.26·√n at 1M vectors because the first ⌈√n⌉ vectors are an
    * arbitrary, unfitted codebook. Fitting the same cell count with
    * Lloyd balances the cells (the per-query probe cost constant)
    * while the ENTIRE retrieval dataflow — assignment expression,
    * probe fan, candidate equi-join, cosine re-rank — is shared code:
    * the [[augmentCentroids]] reduction routes the L2 argmin through
    * the same `TopCells` inner-product machinery.
    *
    * ORACLE-BACKED since r17 (previously rows-only): the quantizer is
    * the INTEGER Lloyd ([[kmeansCentroidsQuantFrom]], the
    * q_embed_cluster lattice), so cells and probes are exact-integer
    * argmins a DuckDB CTE chain replays; the augmented inner-product
    * scores are integers plus a half-integer bias — still exact
    * doubles — and the cosine re-rank was always on raw vectors
    * (list_inner_product-exact). [[SimilaritySpec]] still re-derives
    * the full ranked list driver-side and asserts exact equality. */
  def qAnnIvfKm(spark: SparkSession, sfDir: String): DataFrame = {
    val e = annCorpus(spark, sfDir)
    val k = ivfCells(corpusCount(spark, sfDir))
    val cent = augmentCentroids(
      kmeansCentroidsQuantCached(spark, sfDir, k, iters = 3))
    // assignment space = the quantized lattice (the fit's space);
    // SCORING space stays the raw double vectors, so the assigned
    // frame carries raw v and derives the lattice vector inline (a
    // HOF — interpreted, but this is the one-time memoized index
    // build; at real scale the lattice copy is written at ingest)
    val vecQ = augmentVec(transform(col("v"),
      x => round(x * kmeansQuantUnit)))
    // the Lloyd quantizer's cells differ from the fused index's
    // first-k cells, so this path memoizes its OWN assignment frame
    val assigned = SessionMemo.frames(spark, s"ivfassignedkm|$sfDir")(
      e.select(col("vec_id"), col("v"),
        ivfCellCol(cent, v = vecQ).as("cid")))
    annIvfRank(spark, sfDir, e, assigned, cent, forceLit = false,
      memoSuffix = Some(s"km|$sfDir"), vec = vecQ)
      .orderBy(col("qid"), col("rank"))
  }

  /** The shared IVF retrieval tail: probe each query's 2 best cells
    * against the cell-assigned `assigned` frame (the fused index, or
    * an inline assignment for the verification twins), exact-cosine
    * re-rank the candidate union to top-3. `vec` is the
    * ASSIGNMENT-SPACE vector (raw for inner-product cells,
    * [[augmentVec]]'d for L2 cells); scoring always uses the raw
    * vectors. `memoSuffix = None` runs un-memoized (the forced-
    * literal verification twin). */
  private def annIvfRank(spark: SparkSession, sfDir: String, e: DataFrame,
      assigned: DataFrame,
      cent: IndexedSeq[(Long, IndexedSeq[Double])], forceLit: Boolean,
      memoSuffix: Option[String], vec: Column = col("v")): DataFrame = {
    val nprobe = 2
    val probes = queryVecs(spark, sfDir, maxQid = 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(ivfProbeCol(cent, nprobe, forceLit = forceLit, v = vec))
          .as("cid"))
    // each corpus vector lives in exactly one cell → (qid, nid)
    // unique; the distinct top-k's dedup is a no-op here, the
    // bounded buffers and single exchange are the point
    val cand = broadcast(probes)
      .join(assigned.select(col("vec_id"), col("v"), col("cid")), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qv"), col("v")).as("score"))
    // the ranked list joins the session working sets: the RRF fusion
    // and the recall audit each consume it, and Spark re-executes
    // aliased subtrees per consumer — without the memo one
    // qAnnRecall ran the probe+rank pipeline twice per index
    val ranked = topkRank(cand)
    memoSuffix.fold(ranked)(sfx =>
      SessionMemo.frames(spark, s"ivflist$sfx")(ranked))
  }

  /** The fused one-pass ANN index: every corpus vector with its
    * [[lshTables]] bucket signatures AND its IVF cell id, computed in
    * a SINGLE corpus scan and persisted UNEXPLODED — one row per
    * vector. This is the layout change that makes the index cheap at
    * scale: the former LSH bucket table persisted the POST-explode
    * rows, re-materializing every 512-byte vector `tables` times (8×
    * corpus storage per index build), and a second cell-assignment
    * frame duplicated the vectors once more — ~9× corpus storage
    * across the ANN working set. The fused frame is ~1.15× corpus
    * (vector + 8 signature words + cell id), both probe paths derive
    * their views LAZILY (the bucket explode and the cell projection
    * are pipelined maps, never persisted), and probe scans read n
    * rows instead of 8n. */
  private def annIndex(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"annindex|$sfDir") {
      val (cent, bits) = annIndexParams(spark, sfDir)
      corpusPlan(spark, sfDir).select(indexProjection(cent, bits): _*)
    }

  /** The fused index's FROZEN parameters for a corpus: the coarse
    * quantizer centroids and the n-derived signature width. Frozen is
    * the point — an incremental maintainer
    * ([[StreamingOps.annIndexAppend]]) must stamp new vectors with
    * the SAME planes/centroids the batch build used, or the appended
    * rows land in a different bucket space; growth re-derives both
    * only at the periodic batch REBUILD (where [[lshBits]]/
    * [[ivfCells]] re-read the new corpus size), exactly like any
    * production IVF/LSH index. */
  private[graft] def annIndexParams(spark: SparkSession, sfDir: String)
      : (IndexedSeq[(Long, IndexedSeq[Double])], Int) = {
    val n = corpusCount(spark, sfDir)
    (ivfCentroids(spark, sfDir, corpusPlan(spark, sfDir), ivfCells(n)),
      lshBits(n))
  }

  /** The fused-index ROW as a projection — (vec_id, v, per-table
    * signatures, IVF cell) from a (vec_id, v) frame. The one
    * definition of "index a vector", shared by the batch build
    * ([[annIndex]]) and the streaming appender
    * ([[StreamingOps.annIndexAppend]]), so the two can never drift:
    * a pure, stateless, codegen'd projection of the input row given
    * frozen (centroids, bits). */
  private[graft] def indexProjection(
      cent: IndexedSeq[(Long, IndexedSeq[Double])], bits: Int)
      : Seq[Column] =
    Seq(col("vec_id"), col("v"),
      annSigs(bits, forceLit = false).as("sigs"),
      ivfCellCol(cent).as("cid"))

  /** The ANN stack's vector source: the fused index IS the vector
    * store (as in any production IVF/LSH index — cells carry their
    * vectors), so every ANN-internal consumer — query sets, exact
    * truth, cell re-assignment — reads the ONE persisted index frame
    * instead of stacking a second corpus-wide cache under the cold
    * path. The brute-force and clustering operators keep their own
    * [[corpus]] cache: their workloads never need signatures and
    * should not pay the index build. */
  private def annCorpus(spark: SparkSession, sfDir: String): DataFrame =
    annIndex(spark, sfDir).select(col("vec_id"), col("v"))

  /** The per-table signature array for one corpus vector — table t
    * draws planes [t·[[lshPlaneStride]], t·stride + bits). */
  private def annSigs(bits: Int, forceLit: Boolean): Column =
    array((0 until lshTables).map { t =>
      lshSignature(col("v"), bits, embDim,
        firstPlane = t * lshPlaneStride, forceLit = forceLit)
    }: _*)

  /** LSH signature width for an n-vector corpus: the smallest b with
    * 2^b · targetBucket ≥ n, so expected bucket population stays
    * ≈ `targetBucket` at ANY corpus size (a fixed width means bucket
    * size grows linearly with n and the index decays into a
    * constant-factor scan). Computed as the integer bit length of
    * ⌊(n−1)/targetBucket⌋ — `length(bin(x))` in the DuckDB oracle, no
    * floating log whose rounding could diverge at exact powers of
    * two. Floor 4 (a 16-bucket table is the smallest useful index);
    * the only ceiling is the 63-bit signature word, unreachable below
    * n = 16·2⁶³. */
  private[graft] def lshBits(n: Long, targetBucket: Int = 16): Int = {
    val x = math.max(0L, (n - 1) / targetBucket)
    math.min(63, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(x)))
  }

  /** Hyperplane-index stride between LSH tables: table t draws planes
    * [t·64, t·64 + bits). A FIXED stride (not `bits`) keeps each
    * plane's identity independent of the corpus size, so the oracle
    * can pre-embed the plane literals once and signatures stay
    * comparable across SFs; 64 bounds bits per table at the signature
    * word anyway. Not a granularity knob — widths scale via
    * [[lshBits]]. */
  private[graft] val lshPlaneStride = 64

  /** LSH table count — the RECALL knob that does not grow per-bucket
    * cost: each table is an independent draw of [[lshBits]](n) planes
    * (the 64-plane stride guarantees disjoint plane sets), so a
    * neighbor missed by one table's split is caught by another, and
    * the per-neighbor miss probability decays geometrically in the
    * table count while candidate volume grows only linearly
    * (tables · (bits+1) · targetBucket per query — 0.350% of a
    * 1M-vector corpus at 8 tables, measured by
    * [[graft.tools.AnnScale]]). 4→8 lifted measured recall@3 at sf0.1
    * from 0.58 to 0.853 (fused 0.907 — BASELINE.md records both). */
  private[graft] val lshTables = 8

  /** Multi-probe fan over a bucket signature: the exact bucket plus
    * each single-bit flip — bits+1 probe signatures per (query,
    * table), built driver-side from the n-derived width (Lv et al.,
    * "Multi-Probe LSH", VLDB'07). Shared by the retrieval path and
    * the scale harness so the measured probe fraction is the shipped
    * fan. `sig` is the signature column to fan over; the default
    * reads a column literally named `sig` (the bucketed-index layout
    * both callers produce) — pass the column explicitly from any
    * frame that names it differently. */
  private[graft] def lshProbeFan(bits: Int, sig: Column = col("sig")): Column =
    array((0 to bits).map { j =>
      if (j == 0) sig
      else sig.bitwiseXOR(lit(1L << (j - 1)))
    }: _*)

  /** The near-dup candidate fan: the exact bucket plus every one-
    * AND two-bit flip — 1 + bits + C(bits,2) probe signatures, so a
    * pair collides iff some table puts it within Hamming distance 2.
    * Near-dup-only (retrieval keeps the ≤1 [[lshProbeFan]]): a
    * missed neighbor costs retrieval one of k results, but costs a
    * dedup pass a duplicate KEPT — r12's ≤1 fan measured 0.852
    * recall at sf0.1, and the ≤2 fan is the standard multi-probe
    * step-out (Lv et al.) that buys the tail without growing the
    * index. The fan rides the id-only side of the bucket join
    * (~24-byte rows), so the widened replication is pairs-cheap —
    * the vectors never see it. */
  private[graft] def lshNearDupFan(bits: Int, sig: Column = col("sig")): Column = {
    val singles = (0 until bits).map(j => sig.bitwiseXOR(lit(1L << j)))
    val doubles = for { j <- 1 until bits; k <- 0 until j }
      yield sig.bitwiseXOR(lit((1L << j) | (1L << k)))
    array((sig +: (singles ++ doubles)): _*)
  }

  def qAnnLsh(spark: SparkSession, sfDir: String): DataFrame =
    lshList(spark, sfDir).orderBy(col("qid"), col("rank"))

  /** The memoized UNSORTED LSH ranked list — internal consumers (the
    * RRF fusion, the recall audit) take this frame so the public
    * query's global sort is not re-planned into every branch. */
  private def lshList(spark: SparkSession, sfDir: String): DataFrame =
    annLshImpl(spark, sfDir, forceLit = false)

  /** The same LSH retrieval FORCED through the unrolled literal-plane
    * signature — the plan-readable branch the shipped index no longer
    * takes at any width (the loop expression won the measurement at
    * every scale, see [[lshSignature]]) — registered so the literal
    * formulation stays hash-checked against the same oracle every
    * round (the `q_ann_ivf_lit` pattern). Bypasses the session
    * memos — sharing the default query's cached index would silently
    * serve the loop path's results. */
  def qAnnLshLit(spark: SparkSession, sfDir: String): DataFrame =
    annLshImpl(spark, sfDir, forceLit = true)
      .orderBy(col("qid"), col("rank"))

  private def annLshImpl(spark: SparkSession, sfDir: String,
      forceLit: Boolean): DataFrame = {
    val bits = lshBits(corpusCount(spark, sfDir))
    val e = annCorpus(spark, sfDir)
    // the bucketed view explodes the fused index's signature column
    // LAZILY — the persisted frame stays one narrow row per vector
    // ([[annIndex]]); the old layout persisted the post-explode rows
    // with their vectors, 8× corpus storage per index build. The
    // forced-literal verification twin computes its signatures
    // inline, un-memoized.
    val sigSource =
      if (forceLit) e.select(col("vec_id"), col("v"),
        annSigs(bits, forceLit = true).as("sigs"))
      else annIndex(spark, sfDir)
    val bucketed = sigSource.select(col("vec_id"), col("v"),
      posexplode(col("sigs")).as(Seq("tbl", "sig")))
    // the query side computes its signatures DIRECTLY from the
    // driver-resident query batch ([[queryVecs]]) — deriving it from
    // the corpus/index frame made the async broadcast build race the
    // probe join into materializing the same cold cache
    val q = queryVecs(spark, sfDir, maxQid = 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        posexplode(annSigs(bits, forceLit)).as(Seq("tbl", "sig")))
      .select(col("qid"), col("qv"), col("tbl"),
        explode(lshProbeFan(bits)).as("sig"))
    // score in the probe-join stage (the pair's cosine is a
    // deterministic function of the pair, so duplicates across
    // tables/probes carry bit-identical doubles), then rank with the
    // bounded distinct top-k aggregator — the duplicates collapse
    // inside the ≤3-element partial buffers ([[topkRank]]), so the
    // old two-exchange dedup-then-window tail becomes one exchange.
    // The probe side is tables·(bits+1)·|queries| rows — broadcast
    // EXPLICITLY: the persisted index carries no stats before
    // materialization, so the planner's initial pick is a sort-merge
    // join that would shuffle the full exploded index (at 10⁹
    // vectors, 8·n rows) for a few thousand probe rows
    val cand = bucketed.join(broadcast(q), Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("qv"), col("v")).as("score"))
    // ranked list memoized like the IVF one — see annIvfRank; sorting
    // is the PUBLIC query's concern ([[qAnnLsh]])
    val ranked = topkRank(cand)
    if (forceLit) ranked
    else SessionMemo.frames(spark, s"lshlist|$sfDir")(ranked)
  }

  /** Shared similarity ranking tail: per-query top-k of the scored
    * candidate stream via the bounded DISTINCT top-k aggregator
    * ([[graft.functions.TopKAgg]]) — ONE exchange whose partial
    * buffers carry at most k (score, nid) pairs per query per map
    * task, replacing the former dedup shuffle plus full window sort
    * (two exchanges moving the whole candidate volume). Exact
    * duplicates (the same neighbor surfacing from several LSH
    * tables/probes with bit-identical scores) collapse inside the
    * buffers (a no-op for the exact paths, whose pairs are unique),
    * and the aggregator's (score DESC, nid ASC) total order is the
    * window formulation's ordering — results are identical
    * row-for-row, partitioning-independent, and the rank is the
    * post-sort array position. One udaf instance per k: the Column
    * wrapper is reusable across plans, and registering it lazily
    * per-width keeps the Encoder machinery out of class init. */
  private val topKAggs = scala.collection.concurrent.TrieMap
    .empty[Int, org.apache.spark.sql.expressions.UserDefinedFunction]
  private def topkRank(cand: DataFrame, k: Int = 3): DataFrame = {
    val agg = topKAggs.getOrElseUpdate(k,
      udaf(new graft.functions.TopKAgg(k, distinct = true)))
    cand.groupBy(col("qid"))
      .agg(agg(col("score"), col("nid")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("qid"), col("p._2").as("nid"),
        (col("i") + 1).cast("long").as("rank"),
        col("p._1").as("score"))
      .select(col("qid"), col("nid"), col("rank"), col("score"))
  }

  /** Reciprocal-rank fusion of the two ANN indexes — the standard
    * serving-side merge when multiple retrieval structures answer the
    * same query: score(q,n) = Σ_lists 1/(60 + rank), re-ranked, top 3
    * per query. RRF needs only ranks (no score calibration across
    * index types), and with ≤ 2 addends the double sum is
    * order-independent, so the fused scores hash-check against an
    * oracle that composes the two ANN oracles as CTEs. Cost is the
    * two index probes (each already sublinear) plus a candidate-sized
    * agg — no new corpus scan shape. */
  def qAnnFused(spark: SparkSession, sfDir: String): DataFrame =
    fusedList(spark, sfDir).orderBy(col("qid"), col("rank"))

  /** The memoized UNSORTED fused list — like the two single-index
    * lists it joins the session working sets (the recall audit
    * re-consumes it, and before the memo every audit run re-ran the
    * RRF agg+window on top of the memoized inputs). */
  private def fusedList(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"fusedlist|$sfDir") {
      val lsh = lshList(spark, sfDir)
        .select(col("qid"), col("nid"), col("rank"))
      val ivf = ivfList(spark, sfDir)
        .select(col("qid"), col("nid"), col("rank"))
      val scored = lsh.union(ivf)
        .groupBy(col("qid"), col("nid"))
        .agg(sum(lit(1.0) / (col("rank") + lit(60))).as("rrf"))
      // rank through the shared bounded top-k tail ([[topkRank]]) —
      // its (score DESC, nid ASC) total order IS the former window's
      // (rrf DESC, nid) ordering, so rows are identical while the
      // window's partition-sort exchange disappears; (qid, nid) is
      // unique post-agg so the aggregator's distinct is a no-op
      topkRank(scored.select(col("qid"), col("nid"),
          col("rrf").as("score")))
        .select(col("qid"), col("nid"), col("rank"),
          col("score").as("rrf"))
    }

  /** Embedding-table vector width (FIXTURES.md §B). Referenced by the
    * SparkEntry oracle generators (the per-dimension unnest range). */
  private[graft] val embDim = 64

  /** Max centroid count for the unrolled literal-projection argmin.
    * Each literal centroid inlines `dim` double constants plus a dot
    * product into the generated projection method, so COMPILE time
    * grows with k·dim and every k-means iteration (new literals) is a
    * fresh Janino compile; past a few dozen centroids the method also
    * overruns the JVM's 64 KB limit and codegen silently falls back
    * to interpretation. Beyond the cap the assignment switches to
    * [[graft.functions.NearestCentroid]] — one reference-object
    * matrix, constant method size at any k, and IDENTICAL generated
    * source across iterations (centroids ride in `references`), so
    * the codegen cache compiles it once. Measured at sf0.1 (k=45,
    * 5-rep medians): semdedup 5.4 s literal vs 3.3 s expression; at
    * k=8 the two tie — 16 keeps small-k plans literal-readable and
    * routes everything that iterates or grows to the cached loop. */
  private[graft] val literalArgminMaxK = 16

  /** Squared-distance argmin assignment against driver-resident
    * centroids: per cell, −2·x·c + |c|² (the shared |x|² term cancels
    * under argmin), ties to the lowest cid. The corpus never shuffles
    * for assignment — same shape as the IVF cell argmax. Small k
    * codegens as an unrolled literal-array projection (lexicographic
    * struct min); large k (or `forceExpr`) routes through the
    * broadcast-centroid expression, which computes the bit-same d2
    * (strict sequential dot, driver-side sequential |c|²) so the two
    * paths are interchangeable row-for-row — for NON-NULL vectors
    * (all corpora here): on a null ELEMENT the expression nulls out
    * (drop-malformed) while the literal array_min still emits a cell
    * id from null-d2 structs; [[NearestCentroidSpec]] pins the
    * divergence. */
  private[graft] def nearestCell(cent: IndexedSeq[IndexedSeq[Double]],
      forceExpr: Boolean = false, v: Column = col("v")): Column =
    if (!forceExpr && cent.length <= literalArgminMaxK)
      array_min(array(cent.zipWithIndex.map { case (cv, cid) =>
        val c2 = cv.map(x => x * x).sum
        struct((dot(v, typedLit(cv)) * -2.0 + lit(c2)).as("d2"),
          lit(cid).as("cid"))
      }: _*)).getField("cid")
    else
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.NearestCentroid(
          org.apache.spark.sql.GraftBridge.expression(v),
          cent.map(_.toSeq)))

  /** Deterministic Lloyd k-means over the embedding corpus — the
    * SemDeDup/clustered-curation stage 1 (cluster first, then
    * dedup/curate within cells). Seeded with the k lowest vec_ids
    * (production would k-means++ an offline sample; the per-iteration
    * dataflow is what matters). Each iteration is one narrow
    * assignment projection plus ONE tiny aggregation — k×(dim+1)
    * partial sums per partition, map-side combined, so the shuffle
    * carries O(partitions × k × dim) doubles regardless of corpus
    * size; only the k aggregated rows reach the driver. Empty cells
    * retain their previous centroid.
    *
    * Determinism: the per-dimension sums run as `decimal(30,15)` —
    * exact, ORDER-INDEPENDENT addition — so the centroids (and every
    * downstream cell assignment) are identical across partitionings
    * and cluster shapes, matching the repo's hash-determinism bar
    * (double partial-aggregate merge order is scheduler-dependent;
    * the one-time 1e-15 cast rounding is far below any assignment
    * boundary and is the same on every run). Driver memory is
    * k×(dim+1) aggregated values per iteration — 16 MB at k = 32k,
    * broadcast-sized by construction. */
  def kmeansCentroids(spark: SparkSession, sfDir: String, k: Int,
      iters: Int): IndexedSeq[IndexedSeq[Double]] =
    kmeansCentroidsCached(spark, sfDir, k, iters, corpus(spark, sfDir),
      corpusCount(spark, sfDir))

  /** Lloyd FIT input: a deterministic hash-spaced sample of
    * ~[[kmeansFitPerCentroid]]·k vectors when the corpus is larger —
    * the standard offline-fit posture (quantizer codebooks are fit on
    * tens-to-hundreds of points per centroid; more adds cost, not
    * balance — 64 vs 128 per centroid measured identical planted
    * recall at 1M, 128 the better max-cell, so 128 ships).
    * Assignment always runs the FULL corpus — only the iterative fit
    * reads the sample, which turns the fit's per-iteration cost from
    * O(n·k) into O(k²·128): at 1M vectors and k = 1000 the fit reads
    * 128k rows instead of 1M per iteration (measured: IVF-KM
    * fit+assign 41.7 s → 13.5 s, max cell 1.16·√n → 1.20·√n,
    * planted recall 1.00 → 0.96 — the boundary-pair price of a
    * codebook fit on a sample, constant across sample sizes).
    * The sample is a pure function of (corpus ids, k): keep every
    * vector whose id-hash lands on the stride, so it is reproducible
    * across runs, partitionings and cluster sizes, and below the
    * threshold (every fixture SF: n ≤ 64·⌈√n⌉ ⟺ n ≤ 4096) the
    * sample IS the corpus — fixture results are unchanged and the
    * driver-side spec re-derivations stay exact. */
  private[graft] val kmeansFitPerCentroid = 128L
  private[graft] def kmeansFitSample(e: DataFrame, k: Int,
      n: Long): DataFrame = {
    val target = kmeansFitPerCentroid * k
    if (n <= target) e
    else e.filter(pmod(xxhash64(col("vec_id")), lit(n / target)) === 0)
  }

  /** Driver-side memo for the Lloyd fixpoint over a FIXTURE corpus —
    * the centroids are a deterministic pure function of
    * (corpus, k, iters), and every production deployment fits them
    * once offline and serves many assignments (the exact posture the
    * IVF quantizer memo already takes). One fit per
    * (session, sfDir, k, iters); values are k×dim doubles — tiny.
    * Shared with the quantized fit ([[kmeansCentroidsQuantCached]]). */
  private[engine] val kmeansCentMemo =
    new SessionMemo.Values[String, IndexedSeq[IndexedSeq[Double]]](cap = 8)
  private def kmeansCentroidsCached(spark: SparkSession, sfDir: String,
      k: Int, iters: Int, e: DataFrame,
      n: Long): IndexedSeq[IndexedSeq[Double]] =
    kmeansCentMemo(spark, s"$sfDir|$k|$iters")(
      kmeansCentroidsFrom(kmeansFitSample(e, k, n), k, iters))

  /** Kept for callers outside the engine; [[SessionMemo.clear]] is the
    * cold-measurement reset. */
  private[graft] def clearMemos(spark: SparkSession): Unit =
    SessionMemo.clear(spark)

  /** [[kmeansCentroids]] over an arbitrary (vec_id, v) corpus — the
    * seam the scale harness ([[graft.tools.SemScale]]) drives with
    * synthetic corpora far beyond the SF fixtures. */
  private[graft] def kmeansCentroidsFrom(e: DataFrame, k: Int,
      iters: Int): IndexedSeq[IndexedSeq[Double]] = {
    // seeds = the k LOWEST vec_ids (TakeOrdered — k rows to the
    // driver), not `vec_id < k`: id spaces with gaps (post-dedup
    // corpora) would otherwise under-seed
    var cent: IndexedSeq[IndexedSeq[Double]] = e
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    require(cent.length == k, s"corpus has fewer than $k seed vectors")
    for (_ <- 1 to iters) {
      val aggs = count(lit(1)).as("n") +:
        (0 until embDim).map(i =>
          sum(element_at(col("v"), i + 1).cast("decimal(30,15)")).as(s"s$i"))
      val rows = e.select(col("v"), nearestCell(cent).as("cid"))
        .groupBy(col("cid")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      cent = cent.indices.map { cid =>
        rows.get(cid) match {
          case Some(r) =>
            val n = r.getLong(1)
            (0 until embDim).map(i =>
              r.getDecimal(2 + i).doubleValue() / n)
          case None => cent(cid)
        }
      }
    }
    cent
  }

  // ──────────────────────────────────────────────────────────────
  // Integer-exact Lloyd (the ORACLE-BACKED k-means path)
  // ──────────────────────────────────────────────────────────────

  /** Quantization unit for the integer-exact Lloyd path: vectors live
    * on a 1e−6 lattice (|v| < 0.6 on this corpus ⇒ |vq| < 6·10⁵), so
    * every distance, dot product and per-cell sum is an EXACT integer
    * comfortably below 2⁵³ — representable without error in the
    * engine's double arithmetic AND DuckDB's, which is what lets the
    * k-means fixpoint be hash-checked against an unrolled-CTE oracle
    * (the q_pagerank integerization precedent; the decimal-mean path
    * [[kmeansCentroidsFrom]] remains only as the spec-side SSE
    * reference — every shipped fixpoint query fits on this lattice
    * since r17). round(x·1e6) is identical in both
    * engines (HALF_UP away from zero — the [[qLabelCentroids]]
    * precedent). */
  private[graft] val kmeansQuantUnit = 1e6

  /** Quantized corpus: vec_id + round(v·1e6) as INTEGER-VALUED double
    * arrays. Session-persisted for the same reason [[corpus]] is,
    * plus one more: the elementwise `transform` is a higher-order
    * function, which de-codegens every expression CollapseProject
    * merges it under ([[asDouble]] scaladoc) — materializing the
    * quantized arrays once keeps the hot assignment/dot scans above
    * it fully codegen'd. At 100 TB the lattice copy would be written
    * at ingest instead. */
  private def corpusQ(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"corpusq|$sfDir")(
      corpusPlan(spark, sfDir).select(col("vec_id"),
        transform(col("v"), x => round(x * kmeansQuantUnit)).as("v")))

  /** Deterministic Lloyd over a QUANTIZED corpus — every step integer:
    * assignment is the exact-integer squared-distance argmin (ties to
    * the lowest cid, [[nearestCell]] — all values < 2⁵³ so its double
    * arithmetic is exact), and the centroid update rounds the exact
    * rational mean onto the lattice as (2s+n)/(2n) in TRUNCATING
    * integer division (Scala `/` ≡ DuckDB `//`, both truncate toward
    * zero): for s ≥ 0 that is round-half-up of s/n; for NEGATIVE
    * per-dim sums (fixture embeddings span ±0.5) truncation is NOT
    * nearest-rounding — it biases toward zero, up to ~1.5 lattice
    * units above the true mean. The bias is harmless because all
    * three derivations (this loop, the DuckDB CTE oracle, the spec
    * re-derivation) share the formula VERBATIM, and ~1e−6 of the
    * value scale is far below any real cluster boundary — but the
    * formula is "truncating division", not a rounding guarantee. It
    * is what makes the 3-iteration fixpoint an exact relational
    * recurrence a DuckDB CTE chain can replay verbatim. Same
    * it is what makes the 3-iteration fixpoint an exact relational
    * recurrence a DuckDB CTE chain can replay verbatim. Same
    * dataflow as [[kmeansCentroidsFrom]]: one narrow assignment
    * projection + one k×(dim+1) map-combined LONG agg per iteration,
    * empty cells keep their centroid. */
  private[graft] def kmeansCentroidsQuantFrom(e: DataFrame, k: Int,
      iters: Int): IndexedSeq[IndexedSeq[Double]] = {
    var cent: IndexedSeq[IndexedSeq[Double]] = e
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    require(cent.length == k, s"corpus has fewer than $k seed vectors")
    for (_ <- 1 to iters) {
      val aggs = count(lit(1)).as("n") +:
        (0 until embDim).map(i =>
          sum(element_at(col("v"), i + 1).cast("long")).as(s"s$i"))
      val rows = e.select(col("v"), nearestCell(cent).as("cid"))
        .groupBy(col("cid")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      cent = cent.indices.map { cid =>
        rows.get(cid) match {
          case Some(r) =>
            val n = r.getLong(1)
            (0 until embDim).map(i =>
              ((2L * r.getLong(2 + i) + n) / (2L * n)).toDouble)
          case None => cent(cid)
        }
      }
    }
    cent
  }

  /** Loud guard for the QUANT-path oracle regime: the DuckDB CTE
    * twins fit on the FULL corpus while the engine fits on
    * [[kmeansFitSample]]; they agree exactly when the hash-spaced
    * sample IS the corpus — n ≤ [[kmeansFitPerCentroid]]·k, or the
    * modulus n/(128k) truncating to 1, i.e. n < 2·128·k. That holds
    * at every SF fixture for every caller; a future larger fixture
    * must fail HERE with a message, not as an opaque hash mismatch
    * downstream (the r17 advisory). */
  private def requireQuantOracleRegime(n: Long, k: Int, who: String): Unit =
    require(n < 2L * kmeansFitPerCentroid * k,
      s"$who: corpus n=$n is outside the sample-IS-corpus oracle " +
        s"regime (need n < ${2L * kmeansFitPerCentroid * k} for k=$k); " +
        "the hash-spaced fit sample would diverge from the full-corpus " +
        "DuckDB CTE fit — make the query rows-only or extend the oracle")

  /** [[kmeansCentroidsQuantFrom]] over the session-memoized quantized
    * corpus, fit on [[kmeansFitSample]] like the decimal path. Oracle
    * regime note: below n < 2·128·k the hash-spaced sample IS the
    * corpus (the modulus n/(128k) truncates to 1), which holds at
    * every SF fixture for both callers (k = 8 and k = ⌈√n⌉); past it
    * the xxhash-spaced fit has no SQL twin and the queries would need
    * to go rows-only again — [[requireQuantOracleRegime]] ENFORCES
    * the regime so a violation fails loudly instead of hash-diffing. */
  private def kmeansCentroidsQuantCached(spark: SparkSession,
      sfDir: String, k: Int, iters: Int): IndexedSeq[IndexedSeq[Double]] = {
    kmeansCentMemo(spark, s"quant|$sfDir|$k|$iters") {
      val e = corpusQ(spark, sfDir)
      val n = corpusCount(spark, sfDir)
      requireQuantOracleRegime(n, k, "kmeansCentroidsQuantCached")
      kmeansCentroidsQuantFrom(kmeansFitSample(e, k, n), k, iters)
    }
  }

  /** SemDeDup end-to-end: the semantic-dedup keep-list. k-means cells
    * bound the candidate space, exact cosine verifies within-cell
    * pairs, connected components collapses transitive
    * near-dup groups, and the group's min vec_id survives. Cross-cell
    * near-dups are sacrificed BY DESIGN — that recall-for-scale trade
    * is the SemDeDup algorithm itself (arXiv:2303.09540's published
    * dataflow: cluster, then dedup only within clusters), which is
    * why no O(n²) stage exists here: the quadratic is per-cell,
    * bounded by the cell size.
    *
    * Cell count is UNCAPPED — ≈√n cells ([[semdedupCells]]), the
    * balance point where assignment O(n·k·dim) and within-cell
    * verification Σ|cell|² ≈ n²/k are both O(n^1.5): at 10⁹ docs
    * that is ~32k cells of ~32k docs, with the centroid matrix a
    * 16 MB broadcast and the assignment routed through the
    * loop-codegen [[graft.functions.NearestCentroid]] expression
    * (the unrolled literal projection stops codegenning past
    * [[literalArgminMaxK]] cells). The edge list reuses the dedup
    * pipeline's hybrid labeler: driver union-find when it fits
    * (near-dup edges are sparse), alternating-star rounds otherwise.
    *
    * ORACLE-BACKED since r17 (previously rows-only): the whole
    * pipeline runs on the 1e−6 integer lattice — the integer Lloyd
    * ([[kmeansCentroidsQuantFrom]]) and an integer cosine test
    * (cos ≥ tNum/tDen ⟺ dq ≥ 0 ∧ tDen²·dq² ≥ tNum²·|a|²·|b|², no
    * sqrt, no division — dq² up to ~10²⁷ rides decimal(38,0) ≡
    * HUGEINT), so a DuckDB CTE chain (unrolled Lloyd + a recursive
    * min-label closure) replays it hash-exactly. [[SimilaritySpec]]
    * still re-derives the keep-list independently on the driver. */
  def qSemdedupKeep(spark: SparkSession, sfDir: String): DataFrame = {
    // the near-dup bar for THIS corpus (same as qEmbedNearDup's: the
    // synthetic embeddings plant duplicates at cos ≈ 0.4+; real text
    // embeddings would put the SemDeDup knob at ~0.95). The fixture
    // path routes the Lloyd fixpoint through the session memo — the
    // cells are fit once per corpus, as in production
    val e = corpusQ(spark, sfDir)
    val k = semdedupCells(corpusCount(spark, sfDir))
    semdedupKeepWithCentroids(e, tNum = 2, tDen = 5,
      kmeansCentroidsQuantCached(spark, sfDir, k, iters = 3))
  }

  /** The keep-list given already-fit centroids — lets a caller that
    * needs the centroids for its own measurements (SemScale's
    * cell-size audit) fit them exactly once. `e` must be a QUANTIZED
    * corpus (integer-valued vectors, [[corpusQ]]); the near-dup bar
    * is the rational tNum/tDen ∈ (0, 1]. Zero vectors are out of
    * domain (the integer test degenerates to 0 ≥ 0; none exist in
    * any corpus here). */
  private[graft] def semdedupKeepWithCentroids(e: DataFrame,
      tNum: Int, tDen: Int,
      cent: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    // squared norms computed ONCE per vector before the self-join
    // (n dots, not n² — the same argument qEmbedNearDup documents);
    // the per-pair test is then one dot product plus integer
    // comparisons. The assignment scan (k×dim dots per row) feeds
    // BOTH join sides — without the persist it runs twice, since
    // Spark does not share the aliased subtrees; labelComponents is
    // eager (it persists + counts the pair list), so the bracket is
    // safe to release immediately after.
    val assigned = e.select(col("vec_id"), col("v"),
      nearestCell(cent).as("cid"), dot(col("v"), col("v")).as("n2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lhs = assigned.select(col("cid"), col("vec_id").as("ida"),
      col("v").as("va"), col("n2").as("na2"))
    val rhs = assigned.select(col("cid"), col("vec_id").as("idb"),
      col("v").as("vb"), col("n2").as("nb2"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val pairs = lhs.join(rhs, Seq("cid"))
      .filter(col("ida") < col("idb"))
      .withColumn("dq", dot(col("va"), col("vb")))
      // cos ≥ tNum/tDen on the lattice, exactly: every quantity in the
      // squared comparison is an exact integer (dq ≤ ~2.3e13 ⇒ dq² ≤
      // ~5.3e26 < 10³⁸), so the boundary pair is decided identically
      // in both engines — no IEEE sqrt or division anywhere
      .filter(col("dq") >= 0 &&
        d38(col("dq")) * d38(col("dq")) * lit(tDen * tDen)
          >= d38(col("na2")) * d38(col("nb2")) * lit(tNum * tNum))
      .select(col("ida"), col("idb"))
    val labeled = Dedup.labelComponents(pairs, driverEdgeLimit = 1000000L)
    assigned.unpersist()
    val drop = labeled.filter(col("id") =!= col("label"))
      .select(col("id").as("vec_id"))
    e.select(col("vec_id"))
      .join(drop, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** SemDeDup cell count for an n-doc corpus: ⌈√n⌉, floor 8,
    * UNCAPPED. √n is the total-work balance point — assignment costs
    * O(n·k·dim) dots and within-cell exact verification costs
    * Σ|cell|² ≈ n²/k comparisons, so k = √n makes both O(n^1.5·…);
    * any cap reintroduces a linear-in-n cell size and an unbounded
    * per-cell quadratic. Driver/broadcast footprint is k·dim·8 bytes
    * (≈16 MB at n = 10⁹) — the scale at which one would move the
    * centroid fixpoint to an offline sample anyway, with this same
    * assignment dataflow. */
  private[graft] def semdedupCells(n: Long): Int =
    math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Fixed-centroid k-means cell assignment: centroids are the first
    * 8 corpus vectors VERBATIM (the IVF-quantizer seeding trick, no
    * Lloyd iterations), so the squared-distance argmin — the exact
    * expression every k-means/SemDeDup stage reuses — gets a DuckDB
    * oracle row: d2 = −2·list_inner_product(v,c) + |c|², ties to the
    * lowest cid, all on bit-identical sequential double sums. */
  def qKmeansAssign(spark: SparkSession, sfDir: String): DataFrame =
    kmeansAssignImpl(spark, sfDir, forceExpr = false)

  /** The same assignment FORCED through the broadcast-centroid
    * [[graft.functions.NearestCentroid]] expression (the large-k
    * codegen path) — registered as its own query so the branch that
    * runs at uncapped cell counts is hash-checked against the same
    * oracle every round, not just spec-tested. */
  def qKmeansAssignExpr(spark: SparkSession, sfDir: String): DataFrame =
    kmeansAssignImpl(spark, sfDir, forceExpr = true)

  private def kmeansAssignImpl(spark: SparkSession, sfDir: String,
      forceExpr: Boolean): DataFrame = {
    val e = corpus(spark, sfDir)
    val cent: IndexedSeq[IndexedSeq[Double]] = e.filter(col("vec_id") < 8)
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    e.select(col("vec_id"),
        nearestCell(cent, forceExpr).cast("long").as("cid"))
      .orderBy(col("vec_id"))
  }

  /** Projected dimensionality and the plane-id base for
    * [[qEmbedProject]] — the base keeps the projection's plane
    * identities disjoint from every LSH table's stride range
    * (tables use [t·64, t·64+bits), t < 8), so the two draws are
    * independent in the [[planeVals]] hash family. Shared with the
    * oracle generator. */
  private[graft] val projDim = 16
  private[graft] val projPlaneBase = 100000

  /** Johnson–Lindenstrauss random projection: 64 → [[projDim]]
    * dimensions via [[projDim]] deterministic pseudo-random
    * hyperplanes (the [[planeVals]] family the LSH index already
    * draws from — entries uniform in [−1, 1], variance 1/3, so the
    * √(3/k) scale makes the map an isometry in expectation:
    * E[|Px|²] = |x|²). The standard cheap pre-filter for similarity
    * pipelines — 4× less memory/bandwidth per vector before exact
    * re-scoring in full dimension, the dim-reduction analog of
    * [[qEmbedQuantize]]'s precision cut. A pure zero-shuffle
    * codegen'd projection (each output coordinate is one native
    * [[dot]] against a literal plane); components emit as scalar
    * columns p0..p15, the [[qLabelCentroids]] flattening convention.
    * `SimilaritySpec` pins the measured isometry ratio and the
    * near-dup-pair separation on the fixture (deterministic planes —
    * the numbers are fixed properties, not samples). Honesty note:
    * at k=16 the JL distortion ε ≈ √(ln n / k) is LARGE — the
    * projection separates true near-dup pairs distributionally
    * (fixture: mean projected cos 0.37 vs −0.00 background), not
    * per-pair; production picks k from the JL bound for its target
    * ε and re-scores survivors in full dimension, which is why this
    * is a PRE-filter, never the verdict. */
  def qEmbedProject(spark: SparkSession, sfDir: String): DataFrame = {
    val e = corpus(spark, sfDir)
    val s = math.sqrt(3.0 / projDim)
    val cols = (0 until projDim).map { i =>
      (dot(col("v"), typedLit(planeVals(projPlaneBase + i, embDim))) * lit(s))
        .as(s"p$i")
    }
    e.select((col("vec_id") +: cols): _*).orderBy(col("vec_id"))
  }

  /** Per-vector symmetric int8 quantization — the standard 4×
    * memory/bandwidth cut for embedding storage and ANN serving:
    * scale = max|vᵢ|/127, qᵢ = ⌊vᵢ/scale + 0.5⌋ ∈ [−127, 127]
    * (half-up via `floor`, which Java and DuckDB evaluate
    * identically — `round` would differ on HALF_EVEN engines).
    * Reconstruction error is ≤ scale/2 per element BY CONSTRUCTION
    * ([[SimilaritySpec]] asserts the bound). A narrow zero-shuffle
    * projection; the emitted summary (exact integer sum/min/max of
    * the quantized vector + the double scale) hash-checks against a
    * DuckDB list_transform oracle. All-zero vectors quantize to
    * scale 0 with zero codes (guarded — no 0/0). The per-element
    * transform/aggregate HOFs are interpreted — fine for a summary
    * query; a production quantizer emitting the int8 ARRAY on the
    * hot path would get a fused codegen Expression, the same upgrade
    * [[dot]] applied to the HOF dot product. */
  def qEmbedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = corpus(spark, sfDir)
    val withM = e.select(col("vec_id"), col("v"),
      array_max(transform(col("v"), x => abs(x))).as("m"))
    val q = when(col("m") === 0.0,
        transform(col("v"), _ => lit(0L)))
      .otherwise(transform(col("v"),
        x => floor(x * 127.0 / col("m") + 0.5).cast("long")))
    withM.select(col("vec_id"),
        (col("m") / 127.0).as("scale"),
        aggregate(q, lit(0L), (acc, x) => acc + x).as("qsum"),
        array_min(q).cast("int").as("qmin"),
        array_max(q).cast("int").as("qmax"))
      .orderBy(col("vec_id"))
  }

  /** Per-label embedding centroids (first 8 dimensions) — the
    * embedding-analytics groupBy, and the ORACLE for the decimal
    * vector-mean arithmetic the k-means iterations use (their
    * fixpoint predated its r17 oracle; this single-pass mean is SQL-expressible,
    * so the exact same sum-as-decimal(30,15)-then-divide machinery
    * hash-checks against DuckDB here). One map-side-combined shuffle
    * of |labels|×(8+1) decimal sums — scale-free. */
  def qLabelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.spread(Tables(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding")),
        rows = corpusCount(spark, sfDir), minRowsPerTask = vecRowsPerTask,
        keys = Seq("vec_id"))
      .select(col("label"), asDouble(col("embedding")).as("v"))
    val dims = 8
    // integer-quantized accumulation (the qCorrelation discipline):
    // a per-value double→DECIMAL(30,15) cast of these ~1e−2 floats
    // needs 16-17 significant digits, where Spark's shortest-repr
    // rounding and DuckDB's binary-value rounding can disagree in
    // the last ULP (full-precision audit, r14) — round(v·1e9) is
    // identical in both engines, the nano-quantized sums are exact
    // integers, and the two closing IEEE ops are fixed
    val aggs = count(lit(1)).as("n") +:
      (0 until dims).map(i =>
        (sum(round(element_at(col("v"), i + 1) * 1e9).cast("long")
          .cast("decimal(38,0)")).cast("double")
          / count(lit(1)) / 1e9).as(s"m$i"))
    e.groupBy(col("label")).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("label"))
  }

  /** Final k-means cluster assignment (k=8, 3 Lloyd iterations) —
    * ORACLE-BACKED since r17 (previously rows-only): the fit runs on
    * the 1e−6 integer lattice ([[kmeansCentroidsQuantFrom]]), whose
    * recurrence — exact integer argmin, truncating-division centroid
    * rounding — is precisely replayable as three unrolled DuckDB CTE
    * iterations (the q_pagerank integerization move applied to the
    * k-means family). [[SimilaritySpec]] additionally re-derives the
    * whole fixpoint on the driver in integer arithmetic and asserts
    * exact equality; the decimal-mean fit stays at
    * [[kmeansCentroids]] for the IVF quantizers. */
  def qEmbedCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val cent = kmeansCentroidsQuantCached(spark, sfDir, k = 8, iters = 3)
    corpusQ(spark, sfDir)
      .select(col("vec_id"), nearestCell(cent).cast("long").as("cluster"))
      .orderBy(col("vec_id"))
  }

  // ──────────────────────────────────────────────────────────────
  // Product quantization (IVF-PQ)
  // ──────────────────────────────────────────────────────────────

  /** PQ geometry (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): the 64-dim vector splits into
    * m = [[pqSubspaces]] contiguous subspaces of [[pqSubDim]] dims;
    * each sub-vector quantizes to its nearest of [[pqCodebookSize]]
    * per-subspace codewords, so a vector is m small codes — 8 ints
    * (bytes on disk after parquet dictionary+RLE) standing in for 64
    * doubles, the ~50× serving-memory cut that lets a 100 TB
    * embedding corpus keep its WHOLE index resident where the int8
    * path ([[qEmbedQuantize]]) only buys 4×. ks = 16 keeps every
    * per-subspace argmin on the unrolled-literal codegen path
    * (≤ [[literalArgminMaxK]]) and the codebook tiny (m·ks·subdim =
    * 1024 doubles); production would take ks = 256 (1 exact byte per
    * code) via the same [[graft.functions.NearestCentroid]] loop
    * expression the encode path already exercises. */
  private[graft] val pqSubspaces = 8
  private[graft] val pqCodebookSize = 16
  private[graft] val pqSubDim = embDim / pqSubspaces

  /** 1-based contiguous sub-vector of subspace `j`. */
  private def subSlice(v: Column, j: Int): Column =
    slice(v, j * pqSubDim + 1, pqSubDim)

  /** Fused Lloyd fit of ALL m subspace codebooks — ONE distributed
    * job per iteration, not m: each sample row explodes into its m
    * (subspace, sub-vector, assigned-code) structs and a single
    * map-side-combined agg carries m·ks·(subdim+1) decimal sums,
    * driver-merged exactly like [[kmeansCentroidsFrom]] (same
    * decimal(30,15) order-independent accumulation, same
    * empty-cell-keeps-centroid rule, seeds = the ks lowest vec_ids'
    * sub-slices). The explode is over the FIT SAMPLE only
    * ([[kmeansFitSample]] — ≤ 128·ks rows), never the corpus. */
  private[graft] def pqCodebooksFrom(sample: DataFrame, iters: Int,
      ks: Int = pqCodebookSize)
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val seeds = sample.orderBy(col("vec_id")).limit(ks)
      .collect().map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    require(seeds.length == ks,
      s"corpus has fewer than $ks seed vectors")
    var books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until pqSubspaces).map(j =>
        seeds.map(_.slice(j * pqSubDim, (j + 1) * pqSubDim)))
    for (_ <- 1 to iters) {
      // forceExpr: the m fused literal argmins (m·ks unrolled dots +
      // the decimal agg) inline into ONE generate-consume method that
      // overruns the JVM's 64 KB bytecode limit — Janino refuses and
      // the stage silently degrades to interpreted (r15 bench log).
      // The loop expression is bit-identical and constant-size.
      val subs = explode(array((0 until pqSubspaces).map { j =>
        struct(lit(j).as("j"), subSlice(col("v"), j).as("sv"),
          nearestCell(books(j), forceExpr = true,
            v = subSlice(col("v"), j)).as("cid"))
      }: _*)).as("s")
      val aggs = count(lit(1)).as("n") +:
        (0 until pqSubDim).map(i =>
          sum(element_at(col("s.sv"), i + 1).cast("decimal(30,15)"))
            .as(s"s$i"))
      val rows = sample.select(subs)
        .groupBy(col("s.j"), col("s.cid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      books = books.indices.map { j =>
        books(j).indices.map { cid =>
          rows.get((j, cid)) match {
            case Some(r) =>
              val n = r.getLong(2)
              (0 until pqSubDim).map(i =>
                r.getDecimal(3 + i).doubleValue() / n)
            case None => books(j)(cid)
          }
        }
      }
    }
    books
  }

  /** [[pqCodebooksFrom]] on the 1e−6 integer lattice — the
    * ORACLE-BACKED fit (r17, the [[kmeansCentroidsQuantFrom]] move
    * applied per subspace): `sample` carries QUANTIZED vectors, the
    * per-subspace assignment is the exact-integer argmin, sums are
    * LONGs and the codeword update re-rounds the rational mean as
    * (2s+n)/(2n) in truncating division — so each of the 3 fused
    * iterations is replayable as DuckDB CTEs over the per-subspace
    * (j, cid) state table. Same dataflow as the decimal twin: one
    * distributed job per iteration, m·ks·(subdim+1) LONG sums,
    * empty codes keep their codeword. */
  private[graft] def pqCodebooksQuantFrom(sample: DataFrame, iters: Int,
      ks: Int = pqCodebookSize)
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val seeds = sample.orderBy(col("vec_id")).limit(ks)
      .collect().map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    require(seeds.length == ks,
      s"corpus has fewer than $ks seed vectors")
    var books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until pqSubspaces).map(j =>
        seeds.map(_.slice(j * pqSubDim, (j + 1) * pqSubDim)))
    for (_ <- 1 to iters) {
      val subs = explode(array((0 until pqSubspaces).map { j =>
        struct(lit(j).as("j"), subSlice(col("v"), j).as("sv"),
          nearestCell(books(j), forceExpr = true,
            v = subSlice(col("v"), j)).as("cid"))
      }: _*)).as("s")
      val aggs = count(lit(1)).as("n") +:
        (0 until pqSubDim).map(i =>
          sum(element_at(col("s.sv"), i + 1).cast("long")).as(s"s$i"))
      val rows = sample.select(subs)
        .groupBy(col("s.j"), col("s.cid"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      books = books.indices.map { j =>
        books(j).indices.map { cid =>
          rows.get((j, cid)) match {
            case Some(r) =>
              val n = r.getLong(2)
              (0 until pqSubDim).map(i =>
                ((2L * r.getLong(3 + i) + n) / (2L * n)).toDouble)
            case None => books(j)(cid)
          }
        }
      }
    }
    books
  }

  /** Driver-side memo for the fitted codebooks — fit once per
    * (session, corpus), serve many encodes/probes, the
    * [[kmeansCentMemo]] lifecycle. Values are m·ks·subdim doubles
    * (8 KB). Fits on the QUANTIZED corpus since r17 (the
    * oracle-backed lattice). */
  private[engine] val pqBooksMemo = new SessionMemo.Values[
    String, IndexedSeq[IndexedSeq[IndexedSeq[Double]]]](cap = 8)
  private[graft] def pqCodebooks(spark: SparkSession, sfDir: String)
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    pqBooksMemo(spark, sfDir) {
      val n = corpusCount(spark, sfDir)
      requireQuantOracleRegime(n, pqCodebookSize, "pqCodebooks")
      pqCodebooksQuantFrom(
        kmeansFitSample(corpusQ(spark, sfDir), pqCodebookSize, n), iters = 3)
    }
  }

  /** The m-code PQ encoding of a vector — m independent per-subspace
    * L2 argmins against driver-resident codewords, ties to the
    * lowest code (the [[nearestCell]] contract in every subspace).
    * A pure zero-shuffle projection; `forceExpr` routes each argmin
    * through the loop-codegen [[graft.functions.NearestCentroid]]
    * (the corpus-encode path — constant generated-method size, one
    * Janino compile across subspaces since codewords ride in
    * `references`). */
  private[graft] def pqCodesCol(
      books: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      forceExpr: Boolean = false, v: Column = col("v")): Column =
    array((0 until pqSubspaces).map { j =>
      nearestCell(books(j), forceExpr, v = subSlice(v, j)).cast("int")
    }: _*)

  /** Per-candidate ADC sum Σ_j lut[j][codes[j]] — routed through the
    * codegen'd [[graft.functions.AdcLookupSum]] (the hot loop of the
    * PQ probe runs once per (query, candidate) over the probed
    * posting lists; the interpreted HOF twin allocates a zipped
    * array per row). `hof = true` selects the HOF formulation —
    * kept callable so `AdcLookupSumSpec` pins bit-equality of the
    * two paths every round. */
  private[graft] def adcCol(codes: Column, lut: Column,
      hof: Boolean = false): Column =
    if (hof)
      // try_element_at: an out-of-range code nulls the sum (matching
      // the native expression) instead of throwing under ANSI
      aggregate(zip_with(lut, codes, (l, c) => try_element_at(l, c + 1)),
        lit(0d), _ + _)
    else org.apache.spark.sql.GraftBridge.column(
      graft.functions.AdcLookupSum(
        org.apache.spark.sql.GraftBridge.expression(codes),
        org.apache.spark.sql.GraftBridge.expression(lut)))

  /** The PQ-compressed posting list: (vec_id, IVF cell, m codes) —
    * NO vectors. This is the frame a 100 TB deployment actually
    * serves from: the full-precision vectors stay in cold storage
    * for the final re-rank join only, and the per-row payload drops
    * from 512 B to ~24 B (≥ 8× measured at the parquet layer by
    * [[graft.tools.AnnScale]]). Rides the fused index's one corpus
    * scan; memoized like the index itself. */
  private def pqIndex(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.frames(spark, s"pqindex|$sfDir") {
      val books = pqCodebooks(spark, sfDir)
      // encode in the codebooks' space — the quantized lattice —
      // derived inline from the fused index's raw vectors (a HOF;
      // one-time memoized build, the qAnnIvfKm convention)
      annIndex(spark, sfDir).select(col("vec_id"), col("cid"),
        pqCodesCol(books, forceExpr = true,
          v = transform(col("v"), x => round(x * kmeansQuantUnit)))
          .as("codes"))
    }

  /** Exact-re-rank shortlist size: candidates surviving the ADC
    * pass, per query. ~10× the served k = 3 absorbs ADC's
    * quantization error — measured recall@3 at sf0.001: shortlist
    * 16 → 0.467, 32 → 0.560 vs the SAME 2-cell probe's exact-vector
    * ceiling 0.567 (q_ann_ivf) — PQ recovers the full IVF probe's
    * recall while the corpus-sized stage reads codes, not vectors.
    * Recall floor pinned by `SimilaritySpec`. */
  private[graft] val pqShortlist = 32

  /** IVF-PQ retrieval — the asymmetric-distance probe (Jégou et
    * al. §IV): per query, (1) the standard 2-cell IVF probe prunes
    * the corpus; (2) the per-query LUT — distance from the query's
    * j-th sub-vector to every j-th-subspace codeword, m·ks doubles
    * computed driver-side — turns each candidate's approximate
    * squared L2 into m array lookups + a sum over its CODES (the
    * vectors are never read); (3) the [[pqShortlist]] best ADC
    * candidates re-rank by exact cosine against the full vectors,
    * joined back by id. The corpus-sized work touches only ~24-byte
    * code rows; full vectors appear once, behind a
    * shortlist-bounded broadcast join — the memory/bandwidth shape
    * that distinguishes IVF-PQ from IVF.
    *
    * ORACLE-BACKED since r17 (previously rows-only): codebooks fit on
    * the 1e−6 integer lattice ([[pqCodebooksQuantFrom]]), queries
    * quantize onto the same lattice for the LUT, so every ADC partial
    * (and its 8-term sum) is an EXACT integer below 2⁵³ — the whole
    * probe replays as DuckDB CTEs, and the final scores were always
    * raw-vector-exact cosines. `SimilaritySpec` pins recall vs the
    * exact brute-force truth, [[graft.tools.AnnScale]] the
    * compression ratio and planted recall at 1M vectors. */
  def qAnnPq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = annCorpus(spark, sfDir)
    val cent = ivfCentroids(spark, sfDir, e,
      ivfCells(corpusCount(spark, sfDir)))
    val books = pqCodebooks(spark, sfDir)
    val q = queryVecs(spark, sfDir, recallMaxQid)
    val luts = q.collect().toSeq.map { r =>
      val qid = r.getLong(0)
      // engine-identical HALF_UP quantization (= Spark round(x·1e6) in
      // the encode path = DuckDB round) — LUT entries become exact
      // integers, so the ADC order is engine-independent
      val qv = r.getSeq[Double](1).map(x =>
        BigDecimal(x * kmeansQuantUnit)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
      (qid, (0 until pqSubspaces).map { j =>
        books(j).map { cw =>
          var s = 0.0
          var i = 0
          while (i < pqSubDim) {
            val d = qv(j * pqSubDim + i) - cw(i); s += d * d; i += 1
          }
          s
        }.toSeq
      }.toSeq)
    }
    val lutDf = luts.toDF("qid", "lut")
    val probes = q.select(col("vec_id").as("qid"),
        explode(ivfProbeCol(cent, nprobe = 2)).as("cid"))
      .join(lutDf, "qid")
    val cand = broadcast(probes)
      .join(pqIndex(spark, sfDir), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        adcCol(col("codes"), col("lut")).as("adc"))
    // ADC is a distance: negate into the shared max-top-k tail
    // (score DESC, nid ASC ⟺ adc ASC, nid ASC — deterministic)
    val short = topkRank(cand.select(col("qid"), col("nid"),
        (-col("adc")).as("score")), k = pqShortlist)
      .select(col("qid"), col("nid"))
    val reranked = broadcast(
        short.join(q.select(col("vec_id").as("qid"), col("v").as("qv")),
          "qid"))
      .join(e.select(col("vec_id").as("nid"), col("v")), "nid")
      .select(col("qid"), col("nid"),
        cosine(col("qv"), col("v")).as("score"))
    topkRank(reranked).orderBy(col("qid"), col("rank"))
  }

  /** Fixed-codebook PQ encode — the ORACLE-CHECKED twin of the
    * fitted path (the `q_kmeans_assign` pattern): codewords = the
    * first [[pqCodebookSize]] corpus vectors' sub-slices (rows DuckDB
    * can select), so the m per-subspace argmins are relational and
    * the full code matrix hash-checks every round — both codegen
    * paths against one oracle. */
  def qPqAssign(spark: SparkSession, sfDir: String): DataFrame =
    pqAssignImpl(spark, sfDir, forceExpr = false)

  /** The same encode FORCED through the loop-codegen
    * [[graft.functions.NearestCentroid]] expression (the corpus-
    * encode path [[pqIndex]] runs) — hash-checked in its own right. */
  def qPqAssignExpr(spark: SparkSession, sfDir: String): DataFrame =
    pqAssignImpl(spark, sfDir, forceExpr = true)

  private def pqAssignImpl(spark: SparkSession, sfDir: String,
      forceExpr: Boolean): DataFrame = {
    val e = corpus(spark, sfDir)
    val cw = e.filter(col("vec_id") < pqCodebookSize)
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    val books = (0 until pqSubspaces).map(j =>
      cw.map(_.slice(j * pqSubDim, (j + 1) * pqSubDim)))
    val cols = (0 until pqSubspaces).map(j =>
      nearestCell(books(j), forceExpr, v = subSlice(col("v"), j))
        .cast("int").as(s"c$j"))
    e.select((col("vec_id") +: cols): _*).orderBy(col("vec_id"))
  }
}
