package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Baseline: brute-force cosine top-k — exact, O(|Q| x |N|), the oracle for
  * recall. Scale paths: hyperplane-LSH bucketed search (no training), and
  * one IVF/PQ kernel family trained by `Clustering`'s deterministic Lloyd
  * loop — IVF (coarse cells), PQ (per-subspace codes scored by integer
  * ADC), and their IVF-PQ / IVFADC compositions. Each cuts the candidate
  * set or the per-candidate cost, trading recall for a scan reduction that
  * grows with corpus size.
  *
  * Plan shape shared by the rankers: per-vector norms are computed ONCE
  * before pairing (never per pair), the tiny query side is broadcast, and
  * only ids travel through dedup shuffles — embeddings are re-attached
  * after. */
object Similarity {

  private type Plan = org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** Session memo for the PORTABLE kNN edge substrate (optimization
    * round 2, VERDICT #4): gr3 (PageRank, k=1) and gr4 (triangle census,
    * k=3) each re-derived the Σ bucket² candidate join + exact-cosine
    * rerank over the same corpus at the same (bits, dims). The memo
    * stores the ranked top-[[edgeCacheK]] frame ONCE per (corpus, bits,
    * dims); any k ≤ [[edgeCacheK]] is a filter of it (`rankTopK`'s
    * (cos desc, nid asc) order makes the top-1 of a top-3 THE top-1 by
    * construction). Staleness-guarded and bounded via [[SessionMemo]];
    * k > [[edgeCacheK]] computes directly (no memo). */
  private val edgeCache =
    new SessionMemo[(Plan, Int, Int), DataFrame](Seq(_))
  private val edgeCacheK = 3

  /** Session memo for the IVFADC RESIDUAL frame (optimization round 2,
    * VERDICT #1): the exact-dyadic residual checkpoint is the corpus-side
    * substrate every sim12 invocation re-materialized — and because a
    * localCheckpoint mints a fresh plan per call, the PQ Lloyd memo
    * (`Clustering.assignCache`) keyed on it could never hit across calls
    * either. Memoizing the checkpoint restores both:
    * one residual materialization per (corpus, cells, iters) per session,
    * and stable downstream assign/centroid memo keys. At 100 TB this IS
    * the persisted residual frame a real IVFADC deployment encodes from
    * (the scaladoc note on [[portableIvfAdcTopK]]). */
  private val residCache =
    new SessionMemo[(Plan, Int, Int), DataFrame](Seq(_))

  /** Session memo for the PORTABLE sign-LSH signature frame
    * (optimization round 2): `portableSigCol` is an interpreted
    * aggregate HOF — bits×dims (384 at the defaults) element_at + round
    * + weight evaluations per row — and every consumer (d18's near-dup
    * pairs, r4/r7's LSH top-1, the gr3/gr4 edge substrate) evaluated it
    * on BOTH sides of a self-join, per query. One (vec_id, sig)
    * checkpoint per (corpus, bits, dims) per session; a few bytes per
    * vector. */
  private val sigFrameCache =
    new SessionMemo[(Plan, Int, Int), DataFrame](Seq(_))

  private[graft] def portableSigs(embeddings: DataFrame, bits: Int,
      dims: Int): DataFrame = {
    def compute = embeddings
      .select(col("vec_id"), portableSigCol(bits, dims).as("sig"))
    sigFrameCache.getOrBuildElse(
      (embeddings.queryExecution.analyzed.canonicalized, bits, dims),
      embeddings) {
      MemoLedger.timed("portable_sigs")(compute.localCheckpoint())
    }(compute)
  }

  /** Session memo for the BLOCKED kNN graph, keyed by (canonicalized
    * corpus plan, k, bits, tables, dims): sim7/gr2 share one build. */
  private val blockedCache =
    new SessionMemo[(Plan, Int, Int, Int, Int), DataFrame](Seq(_))

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", Vectors.normFast(col("embedding")))

  /** Per-query top-k via the native TopK aggregate (ObjectHashAggregate,
    * map-side partial): each task ships at most k (cos, nid) pairs per
    * qid, so the |pairs|-row sort a `row_number` window pays never
    * happens — at 4M pairs (sf0.1 kNN graph) this halves the rank stage.
    * Tie order (cos desc, nid asc) matches the window form exactly.
    * NaN cosines (a zero-norm vector makes 0/0) are EXCLUDED before
    * ranking: a degenerate vector has no meaningful nearest neighbor, and
    * leaving NaN in would rank it first under a window's NULLS-LAST sort
    * but last under the aggregate's ordering — filtering makes the
    * semantics explicit and identical for both formulations. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("cos",
        Vectors.cosineFast(col("q_emb"), col("n_emb"), col("q_nrm"),
          col("n_nrm")))
      .where(!isnan(col("cos")))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(col("cos"), col("nid"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("rn0", "e")))
      .select(col("qid"), (col("rn0") + 1).cast("int").as("rn"),
        col("e.id").as("nid"), col("e.value").as("cos"))

  /** Exact-cosine top-k over candidate (qid, nid) pairs: both sides'
    * embeddings and precomputed norms re-attach to the candidate set
    * (never to the full pair space), then [[rankTopK]] ranks. */
  private def cosineRerank(cand: DataFrame, embeddings: DataFrame,
      k: Int): DataFrame = {
    val base = withNorm(embeddings)
    rankTopK(cand
      .join(base.select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")), "qid")
      .join(base.select(col("vec_id").as("nid"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm")), "nid"), k)
  }

  /** Exact brute-force cosine top-k for queries `vec_id < numQueries`.
    * Degenerate (zero-norm) vectors produce NaN cosines and are EXCLUDED
    * from ranking — a query that is itself zero, or whose every
    * neighbor is zero, returns fewer than k rows (possibly none) rather
    * than arbitrarily-ranked NaN neighbors. Spec-pinned in
    * PipelineSpec; the same rule applies to every ranker below
    * (`knnGraph`, `knnGraphBlocked`, `lshTopK`, `portableIvfTopK`). */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
    bruteForceTopKWhere(embeddings, col("vec_id") < numQueries, k)

  /** [[bruteForceTopK]] for an EXPLICIT query-id set: only the named
    * vectors rank as queries (everything still ranks as a neighbor), so
    * a single large or non-contiguous query id costs |ids| × |N|, not
    * max(id) × |N|. */
  def bruteForceTopKIds(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame =
    bruteForceTopKWhere(embeddings,
      col("vec_id").isin(queryIds.map(x => x: Any): _*), k)

  private def bruteForceTopKWhere(embeddings: DataFrame,
      queryPred: Column, k: Int): DataFrame = {
    val base = withNorm(embeddings)
    val q = base.where(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val pairs = base
      .select(col("vec_id").as("nid"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
      .join(broadcast(q), col("qid") =!= col("nid"))
    rankTopK(pairs, k).select(col("qid"), col("rn"), col("nid"))
  }

  /** Contrastive hard-negative mining: for each query vector, the top-k
    * most-similar vectors whose LABEL DIFFERS from the query's — the pairs
    * a contrastive trainer wants as negatives precisely because they are
    * hard (high cosine, wrong class). Exact by construction (same
    * brute-force scan shape as `bruteForceTopK`, label predicate applied
    * at pairing time, so the top-k is over the true negative set rather
    * than a post-filtered top-k'). Ties and NaN handling follow
    * `rankTopK`. At scale the same LSH blocking as `knnGraphBlocked`
    * applies — this exact form is the oracle anchor. */
  def hardNegatives(embeddings: DataFrame, numQueries: Int,
      k: Int): DataFrame = {
    val base = withNorm(embeddings)
    val q = base.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("label").as("q_lbl"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val pairs = base
      .select(col("vec_id").as("nid"), col("label").as("n_lbl"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      .join(broadcast(q),
        col("qid") =!= col("nid") && col("q_lbl") =!= col("n_lbl"))
    rankTopK(pairs, k).select(col("qid"), col("rn"), col("nid"))
  }

  /** kNN majority-vote classification: label each query (`vec_id <
    * numQueries`) by the most frequent label among its k nearest
    * neighbors in the REST of the corpus (`vec_id >= numQueries` — a
    * clean train/eval split, no self-matches possible). Vote ties break
    * toward the smaller label; neighbor-rank ties follow `rankTopK`.
    * The vote stage runs over |Q|*k rows (tiny), so the per-query winner
    * window costs nothing; the scan is the same broadcast-queries
    * brute-force pass as `bruteForceTopK` and blocks the same way at
    * scale. */
  def knnClassify(embeddings: DataFrame, numQueries: Int,
      k: Int): DataFrame = {
    val base = withNorm(embeddings)
    val q = base.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val n = base.where(col("vec_id") >= numQueries)
      .select(col("vec_id").as("nid"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
    val top = rankTopK(n.crossJoin(broadcast(q)), k)
    val labels = embeddings.select(col("vec_id").as("nid"), col("label"))
    val votes = top.join(labels, "nid")
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("wr", row_number().over(w))
      .where(col("wr") === 1)
      .select(col("qid"), col("label").cast("int").as("pred_label"),
        col("votes"))
  }

  /** Per-DIMENSION embedding health stats: mean and variance of every
    * component across the corpus — the check that catches dead
    * dimensions (variance ≈ 0), collapsed encoders (most dims dead), and
    * mis-scaled batches (means far from 0) before a similarity index is
    * built on garbage. Values are quantized to 1e-6 resolution
    * (`round(x·10⁶)` as BIGINT) so the sums are EXACT integers — no
    * float-summation-order sensitivity, hash-identical on any engine;
    * mean/variance then derive from the integer sums in a fixed
    * expression order and round to 6dp. Variance uses the E[x²]−E[x]²
    * form on the quantized values.
    *
    * Scale: one posexplode (dims × N rows) into a groupBy(dim) whose
    * map-side partials reduce every partition to ≤ dims rows — the
    * shuffle carries dims × partitions tiny rows regardless of corpus
    * size. */
  def dimStats(embeddings: DataFrame): DataFrame = {
    val q = embeddings
      .select(posexplode(col("embedding")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("int").as("dim"),
        round(col("x").cast("double") * 1e6).cast("long").as("qx"))
    q.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("qx")).as("s"),
        sum(col("qx") * col("qx")).as("ss"))
      .select(col("dim"), col("n"),
        round(col("s").cast("double") / col("n") / 1e6, 6).as("mean"),
        round(col("ss").cast("double") / col("n") / 1e12
          - pow(col("s").cast("double") / col("n") / 1e6, 2), 6)
          .as("variance"))
  }

  /** Mean pairwise cosine of the WHOLE corpus in ONE pass — the
    * isotropy/anisotropy diagnostic (a healthy embedding space sits near
    * 0; a collapsed "cone" near 1) computed WITHOUT the n² pair space:
    * for unit vectors, Σ_{a≠b} cos(a,b) = ‖Σ v̂‖² − Σ‖v̂‖², so one
    * narrow scan + a dims-row reduction replaces the quadratic join the
    * naive estimator wants. This is the fourth member of the
    * embedding-health family ([[dimStats]] dead dims,
    * [[topPrincipalComponent]] rogue direction, [[int8QuantStats]]
    * storage error) and the cheapest: at 100 TB it is exactly one
    * shuffle of 64 partial rows per task.
    *
    * Portability follows the twin rule: normalized components quantize
    * to 1e-6 ints (HALF_UP on identical doubles), so BOTH row-spanning
    * sums (the per-dim sum vector and the diagonal) are exact integers —
    * decimal(38) against overflow at corpus scale — and the single
    * float op is the final ratio, rounded 6dp. Zero-norm vectors are
    * excluded (no direction, no cosine). */
  /** D31 — EMBEDDING-space train/eval contamination: every training
    * vector whose cosine to an eval-holdout vector reaches `threshold`,
    * completing the contamination family across all three modalities
    * (text shingles d9/d28, perceptual media d25, embeddings here) —
    * the probe a semantic paraphrase of a benchmark item trips when no
    * shingle or pixel matches. Output (vec_id, bench_id, cos@6dp); the
    * flag compares the ROUNDED cosine (both engines round identically,
    * so the boundary is hash-stable).
    *
    * Scale: the d25 bipartite discipline — the eval side is BROADCAST
    * (small by definition) and training vectors stream through one
    * codegen cosine pass (`Vectors.cosineFast` native expressions), so
    * cost is O(n·|bench|) with no shuffle. At web scale with a large
    * eval union, compose with the IVF index (probe each bench vector's
    * nprobe cells and run this check inside them — the documented sim4
    * composition); the operator itself stays exact. Zero-norm vectors
    * cosine to NaN and never flag (the ranker NaN contract). */
  /** The flat probe's broadcast cap — ONE constant shared by the batch
    * splitCheck default and the streaming sink's setup check (the
    * gateRatio/GATE lesson: two independent literals drift). 65536 is
    * the DSIR broadcast-table discipline: ~16 MB of 64-dim floats. */
  val MaxBenchBroadcastRows: Long = 65536L

  def embeddingContaminationSplitCheck(embeddings: DataFrame,
      benchMaxId: Long, threshold: Double = 0.4,
      maxBenchRows: Long = MaxBenchBroadcastRows): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val bench = base.where(col("vec_id") < benchMaxId)
    // the probe broadcasts the bench side — "small by definition" is now
    // a STRUCTURAL bound, not a contract remark (the jsSink discipline):
    // a holdout past the cap must go through the indexed probe
    // ([[embeddingContaminationIndexed]]), whose per-query work is
    // nprobe cells instead of the whole corpus
    requireBenchUnderCap(bench, maxBenchRows)
    // memoized like the d28 quote flags: TEN-plus consumers share this
    // frame in a release session (d31/d32 reports, audit3/audit6 health,
    // e14's drop, e17/e18/e19/e20 compositions, audit4/audit5 funnels,
    // r7), and at scale the flags are computed once per corpus release.
    // The frame is contamination-mass-proportional — config-scale storage.
    Memo.substrate(("embedding_flags", benchMaxId, threshold), embeddings) {
      embeddingContaminationProbe(
        base.where(col("vec_id") >= benchMaxId), bench, threshold)
    }
  }

  /** Bounded over-cap check: counts AT MOST cap+1 rows (a limit-count,
    * never a full holdout scan — the question "is it over the cap" is
    * itself bounded), shared by the batch splitCheck and the streaming
    * sink setup.
    *
    * MEMOIZED per (canonicalized holdout plan, cap) — the check runs at
    * DataFrame-CONSTRUCTION time, and the flagship compositions
    * (e14/e17/audit4/their funnels and sf1 identities) construct the
    * probe repeatedly over the same holdout frame in one session; without
    * the memo each construction pays a limit-count Spark job that also
    * lands inside Bench's timed region. Only PASSING checks memoize (a
    * failure throws before the put), and pass results are immutable for
    * a given plan: the canonicalized plan pins the exact source, and a
    * grown holdout is a different plan. `Memo.clearAll()` drops the
    * memo. */
  private[graft] def requireBenchUnderCap(bench: DataFrame,
      maxBenchRows: Long): Unit = {
    // the key carries the sorted input-file list alongside the
    // canonicalized plan: two reads of the same parquet DIRECTORY
    // canonicalize equal even after files were appended (file indexes
    // compare by root path, not listing), so a plan-only key would let
    // a grown file-backed holdout ride a stale pass and skip the guard
    // — the one failure mode this cap exists to block. inputFiles is a
    // driver-side listing (no Spark job), empty for in-memory frames
    // (whose data lives IN the plan, so growth changes the plan).
    val files = bench.inputFiles
    val analyzed = bench.queryExecution.analyzed
    // Memoize ONLY when growth provably changes the key: file-scan
    // sources (the listing is in the key) and data-in-plan leaves
    // (LocalRelation/OneRowRelation — the rows ARE the plan). Any other
    // leaf (JDBC, an external table, a custom V2 source) can grow
    // without perturbing either the canonicalized plan or inputFiles,
    // so a grown holdout over one would ride a stale pass and skip the
    // over-cap guard — those sources re-run the bounded check every
    // construction (it is a limit-count, never a full scan).
    val memoizable = files.nonEmpty || analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        => true
      case l => l.maxRows.isDefined // e.g. OneRowRelation / pinned limit
    }
    val key = (analyzed.canonicalized, maxBenchRows,
      java.util.Arrays.hashCode(
        files.sorted.asInstanceOf[Array[AnyRef]]))
    if (memoizable &&
        capCheckCache.synchronized(capCheckCache.containsKey(key))) return
    // single-flight per key: two threads constructing the same probe
    // concurrently share one limit-count job instead of both paying it
    val keyLock = capCheckInFlight.computeIfAbsent(key, _ => new Object)
    keyLock.synchronized {
      if (memoizable &&
          capCheckCache.synchronized(capCheckCache.containsKey(key)))
        return
      val probeN = math.min(maxBenchRows + 1, Int.MaxValue.toLong).toInt
      val benchN = bench.limit(probeN).count()
      require(benchN <= maxBenchRows,
        s"eval holdout has >= $benchN vectors > broadcast cap " +
          s"$maxBenchRows — probe it through " +
          "embeddingContaminationIndexed (IVF cells) instead of the " +
          "all-pairs broadcast scan")
      if (memoizable) capCheckCache.synchronized {
        capCheckCache.put(key, java.lang.Boolean.TRUE)
      }
    }
    capCheckInFlight.remove(key)
  }

  private type CapKey =
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, Int)

  // LRU-bounded: keys retain LogicalPlans (and, for LocalRelation
  // holdouts, their row data) for the session — a long session cycling
  // many distinct holdouts must not accumulate them without limit, and
  // evicting ONLY the eldest (access-ordered) keeps the hot flagship
  // keys resident instead of the old clear-everything reset
  private val capCheckCache =
    new java.util.LinkedHashMap[CapKey, java.lang.Boolean](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CapKey, java.lang.Boolean]): Boolean =
        size() > 64
    }

  Memo.register(new Memo.Registered {
    def clear(): Unit = capCheckCache.synchronized(capCheckCache.clear())
    def size: Int = capCheckCache.synchronized(capCheckCache.size)
  })

  private val capCheckInFlight =
    new java.util.concurrent.ConcurrentHashMap[CapKey, Object]()

  /** The probe core of [[embeddingContaminationSplitCheck]] and the
    * ONLINE leg (`Streams.embeddingContaminationSink`): bipartite cosine
    * of `train` (vec_id, embedding) rows against the BROADCAST
    * `bench` frame. STATELESS given the bench frame — cosine reads only
    * the two rows — so the streamed union over micro-batches equals the
    * batch operator on the arrived vectors for any arrival order. */
  private[graft] def embeddingContaminationProbe(train: DataFrame,
      bench: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must sit in (0, 1]")
    def withN(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      graft.functions.Vectors.normFast(col("embedding")).as("nrm"))
    val b = withN(bench).select(col("vec_id").as("bench_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    withN(train)
      .crossJoin(broadcast(b))
      .select(col("vec_id"), col("bench_id"),
        round(graft.functions.Vectors.cosineFast(col("embedding"),
          col("b_emb"), col("nrm"), col("b_nrm")), 6).as("cos"))
      // explicit NaN guard: Spark ORDERS NaN above every double, so a
      // bare >= would flag every zero-norm pair as contaminated
      .where(!isnan(col("cos")) && col("cos") >= threshold)
  }

  /** D32 — the EMBEDDING burn report: d31's flags rolled up per eval
    * item (bench_id, n_train, max_cos, first_train) — which benchmark
    * vectors are semantically compromised, by how many training
    * vectors, how closely, and since which id. Completes the
    * probe→burn symmetry across the contamination family (d25→d26
    * media, d28→d29 text, d31→here). Flag-bounded rollup, one
    * map-side-combinable groupBy over the probe output. */
  def embeddingBurnReport(embeddings: DataFrame, benchMaxId: Long,
      threshold: Double = 0.4): DataFrame =
    embeddingContaminationSplitCheck(embeddings, benchMaxId, threshold)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_train"),
        max(col("cos")).as("max_cos"),
        min(col("vec_id")).as("first_train"))

  /** D31z — the INDEXED embedding-contamination probe, the web-scale
    * form d31's scaladoc promised: instead of every (train, bench)
    * cosine, each eval vector probes its `nprobe` nearest IVF cells and
    * the d31 check runs against those cells' members only — per-query
    * work drops from |corpus| cosines to the probed lists, the sim9
    * search shape applied to decontamination. The coarse quantizer is
    * the oracle-able Lloyd loop ([[Clustering.kmeansAssign]]'s
    * smallest-vec_id init, (d, cid) argmin, round-6 snapping), trained
    * on the TRAINING side only (an index is an artifact of the corpus,
    * never of the eval set).
    *
    * Recall contract: output ⊆ the flat d31 flags by construction, and
    * EQUALS them when nprobe = cells (probing every cell is the full
    * scan — the parity spec); below that, a contaminated vector in an
    * unprobed cell is missed — the standard IVF recall trade, gated in
    * PipelineSpec like sim2-5's. Output (vec_id, bench_id, cos), d31's
    * schema. */
  def embeddingContaminationIvf(embeddings: DataFrame, benchMaxId: Long,
      threshold: Double = 0.4, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2): DataFrame = {
    val train = embeddings.where(col("vec_id") >= benchMaxId)
    embeddingContaminationFromIndex(
      Clustering.kmeansAssign(train, cells, iters)
        .select(col("vec_id").as("nid"), col("cluster").as("cid")),
      Clustering.kmeansCentroids(train, cells, iters),
      embeddings, benchMaxId, threshold, nprobe)
  }

  /** The d31z knob-resolution rule, shared by the auto probe and its
    * equality spec: cells from [[Clustering.scaledK]]'s
    * target-population discipline (cell COUNT grows with the training
    * corpus, cell SIZE stays ~targetCellSize, so each probed list stays
    * bounded no matter how large the corpus — and with it the
    * defensive pair-distinct's candidate fan-out,
    * |holdout| · nprobe · targetCellSize); nprobe = ceil(sqrt(cells)),
    * the standard IVF recall/cost operating point (probe work per eval
    * vector grows as the square root of the cell count, recall decays
    * slowly past it). At verify scale (hundreds of training vectors,
    * targetCellSize 512) this resolves to cells = 1 = nprobe — the
    * exhaustive scan, which is exactly right: approximating a corpus
    * that fits one cell would trade recall for nothing. */
  private[graft] def contaminationKnobs(train: DataFrame,
      targetCellSize: Int = 512): (Int, Int) = {
    val cells = Clustering.scaledK(train, targetCellSize)
    (cells, math.max(1, math.ceil(math.sqrt(cells.toDouble)).toInt))
  }

  /** [[embeddingContaminationIvf]] with cells and nprobe RESOLVED from
    * the training-corpus size ([[contaminationKnobs]]) — the deployed
    * form of the web-scale probe. The fixed-knob form's defaults
    * (cells = 8, nprobe = 2) are verify-scale; a 100 TB corpus wants
    * cell count to track corpus growth the way `semdedupPairsAuto` and
    * `knnGraphBlockedAuto` already resolve their blocking knobs, so no
    * caller has to re-derive the discipline per corpus. Equality
    * contract (spec-pinned): == the fixed-knob probe at the resolved
    * (cells, nprobe). */
  def embeddingContaminationIvfAuto(embeddings: DataFrame,
      benchMaxId: Long, threshold: Double = 0.4,
      targetCellSize: Int = 512, iters: Int = 2): DataFrame = {
    val (cells, nprobe) = contaminationKnobs(
      embeddings.where(col("vec_id") >= benchMaxId), targetCellSize)
    embeddingContaminationIvf(embeddings, benchMaxId, threshold, cells,
      iters, nprobe)
  }

  /** [[embeddingContaminationIvf]] against the DURABLE index artifact
    * (`writeIvfIndex`'s assign/centroids) instead of a live training
    * pass — result-identical when the artifact was written over the
    * same training side (parity spec, the `portableIvfTopKIndexed`
    * pattern). This is the deployment form: the corpus index already
    * exists for search; decontamination reuses it and adds only the
    * |holdout| × nprobe probed-cell scans. */
  def embeddingContaminationIndexed(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      embeddings: DataFrame, benchMaxId: Long, threshold: Double = 0.4,
      nprobe: Int = 2): DataFrame =
    embeddingContaminationFromIndex(
      spark.read.parquet(s"$indexDir/assign")
        .select(col("vec_id").as("nid"), col("cid")),
      spark.read.parquet(s"$indexDir/centroids"),
      embeddings, benchMaxId, threshold, nprobe)

  /** [[embeddingContaminationIndexed]] gated by the index-freshness
    * policy — the wiring that makes a DRIFTED index unable to silently
    * under-flag: [[ivfRetrainPolicy]] runs first (one tiny staleness
    * rollup over the assign table), and if the appended generations
    * drifted past `stalenessThreshold` the probe REFUSES (hard
    * `require`) instead of returning flags. Refusal, not a warning
    * row: a stale quantizer mis-ranks cells for exactly the traffic
    * that drifted, the probe misses flags it cannot know it missed,
    * and a missing flag ships eval contamination into the training
    * set — the one failure mode a decontamination gate must not have.
    * The search path ([[portableIvfTopKIndexed]]) degrades to lower
    * recall under drift, which is survivable; the DECONTAMINATION path
    * is a gate, so it fails closed. On refusal the remediation is the
    * policy's own contract: retrain ([[writeIvfIndex]] over the
    * unioned corpus) and re-run. */
  def embeddingContaminationIndexedFresh(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      embeddings: DataFrame, benchMaxId: Long, threshold: Double = 0.4,
      nprobe: Int = 2, stalenessThreshold: Double = 1.5): DataFrame = {
    val p = ivfRetrainPolicy(spark, indexDir, stalenessThreshold).head()
    require(!p.getBoolean(2),
      s"IVF index at $indexDir is stale (staleness = ${p.getDouble(0)}" +
        s" >= $stalenessThreshold): a drifted quantizer under-flags —" +
        " retrain (writeIvfIndex over the unioned corpus) before" +
        " decontaminating")
    embeddingContaminationIndexed(spark, indexDir, embeddings,
      benchMaxId, threshold, nprobe)
  }

  /** Shared core of the two indexed probes: eval vectors rank cells
    * against the supplied centroids (squared-L2, (d, cid) argmin — the
    * `ivfCandidatesFrom` contract), fan out to the probed cells'
    * assigned members, and the candidates rerank through the exact d31
    * cosine flag. Members below `benchMaxId` are excluded defensively
    * (an index built over the full store must not flag bench-vs-bench
    * pairs). */
  private def embeddingContaminationFromIndex(assign: DataFrame,
      cents: DataFrame, embeddings: DataFrame, benchMaxId: Long,
      threshold: Double, nprobe: Int): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must sit in (0, 1]")
    val bench = embeddings.where(col("vec_id") < benchMaxId)
      .select(col("vec_id").as("qid"), col("embedding"))
    // distinct on the candidate PAIR: within one index generation a
    // member has exactly one assign row, but a multi-generation store
    // (appendIvfIndex replaying or re-assigning a refreshed vector in a
    // later gen) can carry two rows for one vec_id — without the dedup
    // the pair would flag twice and break the ==-flat parity contract
    val cand = ivfCandidatesFromFrame(assign, cents, bench, nprobe)
      .where(col("nid") >= benchMaxId)
      .select(col("qid"), col("nid")).distinct()
    val base = withNorm(embeddings)
    cand
      .join(base.select(col("vec_id").as("qid"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm")), "qid")
      .join(base.select(col("vec_id").as("nid"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm")), "nid")
      .select(col("nid").as("vec_id"), col("qid").as("bench_id"),
        round(Vectors.cosineFast(col("n_emb"), col("b_emb"),
          col("n_nrm"), col("b_nrm")), 6).as("cos"))
      // the d31 NaN guard: zero-norm pairs must not flag. No distinct
      // needed: a member is assigned to exactly one cell, so a
      // (train, bench) pair surfaces at most once
      .where(!isnan(col("cos")) && col("cos") >= threshold)
  }

  def meanCosine(embeddings: DataFrame): DataFrame = {
    val vq = withNorm(embeddings).where(col("nrm") > 0)
      .select(col("nrm"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("i0"),
        round(col("x").cast("double") / col("nrm") * 1e6)
          .cast("long").as("qd"))
    val per = vq.groupBy(col("i0"))
      .agg(sum(col("qd")).as("sd"),
        sum((col("qd") * col("qd")).cast("decimal(38,0)")).as("dd"),
        count(lit(1)).as("cnt"))
    per
      .select(col("i0"),
        (col("sd").cast("decimal(38,0)") * col("sd")).as("s2"),
        col("dd"), col("cnt"))
      // n = the VECTOR count, read off the i0 = 0 group (every surviving
      // vector has a first component) — NOT max(per-dim count), which a
      // ragged embedding column would overstate; still one pass, no join
      .agg(sum(col("s2")).as("crossv"), sum(col("dd")).as("diag"),
        sum(when(col("i0") === 0, col("cnt"))).as("n"))
      .select(col("n"),
        // a 0- or 1-vector corpus has no pairs: explicit null, not a
        // silent divide-by-zero
        when(col("n") > 1,
          round((col("crossv") - col("diag")).cast("double") /
            (col("n") * (col("n") - lit(1L))).cast("double") / 1e12, 6))
          .as("mean_cos"))
  }

  /** ENGINE-PORTABLE top principal component via power iteration — the
    * third member of the embedding-health family: [[dimStats]] catches
    * dead/collapsed DIMENSIONS, this catches a collapsed DIRECTION
    * (anisotropy): `ev_ratio` is the fraction of total centered variance
    * explained by the dominant eigenvector of the covariance, the
    * "rogue dimension" statistic of embedding-geometry analyses (an
    * encoder whose vectors crowd a line scores near 1; a healthy
    * isotropic one near 1/dims).
    *
    * Portability follows the twin rule: every SUM THAT SPANS ROWS is
    * exact int64 arithmetic, so no engine can disagree on it; the only
    * float ops (normalize, final ratio) run on identical integer inputs
    * in both engines and are rounded to 6dp. Concretely, per iteration
    * with v quantized to 1e-6 ints and centered data y likewise:
    * dot = Σ_j y_j·v_j (exact), dq = round(dot/1e9) (~1e-3-quantized
    * projection), w_j = Σ_rows dq·y_j (exact; |w| ≤ N·9.2e10, safe to
    * N ~ 1e8 rows — beyond that, shard the sum or widen dq's scale),
    * v' = round(w/‖w‖, 6). Start v₀ = (0.125,…) (exact in binary),
    * `iters` fixed rounds — deterministic by construction, no RNG, no
    * convergence test. The 1e-3 projection quantization means this is
    * the exact PC of a deterministically perturbed operator; the spec
    * pins cosine ≈ 1 against an unquantized reference.
    *
    * Scale shape: the mean and each iteration are one narrow pass plus a
    * 64-key groupBy (map-side partials collapse every partition to ≤ dims
    * rows); the per-round driver state is 64 longs — the same bounded
    * collect posture as the Lloyd centroids. The centered integer frame
    * is localCheckpoint'ed once; `iters`+2 jobs total.
    *
    * Output: one row per 1-based dim — (i, pc, ev_ratio), pc the 6dp
    * unit eigenvector component, ev_ratio constant across rows. */
  def topPrincipalComponent(embeddings: DataFrame,
      iters: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    val dims = embeddings.select(size(col("embedding"))).head.getInt(0)
    def rnd6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // per-dim integer mean: mu_j = round(Σ x_int / N)  (x_int = x·1e6).
    // ONE ungrouped agg row of `dims` (sum, count) pairs instead of the
    // old posexplode + 64-key groupBy (optimization round, guide §2.3
    // "aggregate before you shuffle" taken to its limit): the explode
    // materialized n·dims rows into a hash-agg shuffle; the column form
    // is pure map-side partial aggregation — the only exchange left is
    // the dims-wide single row. Same integer sums, same HALF_UP driver
    // division — bit-identical (oracle-gated). get() is the 0-based
    // null-on-out-of-range probe (ANSI element_at would throw), so a
    // ragged dim still contributes exactly its present rows via the
    // per-dim count, like the exploded group did.
    def xiAt(j: Int) =
      round(get(col("embedding"), lit(j)).cast("double") * 1e6)
        .cast("long")
    // n_j counts ELEMENT PRESENCE (size > j), not non-null values —
    // exactly what the pre-optimization posexplode + count(lit(1))
    // counted: a null element still occupies position j and belongs in
    // the mean's denominator (ADVICE round-18; spec-pinned on a
    // null-element corpus). Also cheaper than count(xiAt(j)): size() is
    // O(1) where the get+round+cast chain re-evaluated per dim per row.
    val mu: Array[Long] = {
      val aggs = (0 until dims).flatMap(j =>
        Seq(sum(xiAt(j)).as(s"s$j"),
          count(when(size(col("embedding")) > j, 1)).as(s"n$j")))
      val row = embeddings.agg(aggs.head, aggs.tail: _*).head
      val a = new Array[Long](dims)
      // HALF_UP (away from zero), matching SQL ROUND — math.round would
      // pull a negative x.5 tie toward +inf and diverge from the oracle
      (0 until dims).foreach { j =>
        val cnt = row.getLong(2 * j + 1)
        if (cnt > 0 && !row.isNullAt(2 * j))
          a(j) = BigDecimal(row.getLong(2 * j).toDouble / cnt)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      a
    }
    val muLit = array(mu.map(lit): _*)
    val y = embeddings
      .select(col("vec_id"),
        expr("transform(embedding, x -> " +
          "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))").as("xq"))
      .withColumn("y", zip_with(col("xq"), muLit, (a, b) => a - b))
      .select(col("vec_id"), col("y"))
      .localCheckpoint() // quantize + center once; barrier vs re-inline
    def dqCol(vInt: Array[Long]) = {
      val vLit = array(vInt.map(lit): _*)
      round(aggregate(zip_with(col("y"), vLit, (a, b) => a * b),
        lit(0L), (acc, t) => acc + t).cast("double") / 1e9, 0)
        .cast("long").as("dq")
    }
    var v = Array.fill(dims)(0.125)
    var vInt = v.map(d => math.round(d * 1e6))
    for (_ <- 1 to iters) {
      // w_j = Σ_rows dq·y_j as ONE ungrouped agg row (the mu shape
      // above): replaces the old per-round posexplode of n·dims rows +
      // 64-key groupBy shuffle with pure map-side partials — per round,
      // the only exchange is the dims-wide single row. Identical int64
      // sums (oracle-gated).
      val w = new Array[Long](dims)
      val waggs = (0 until dims).map(j =>
        sum(col("dq") * get(col("y"), lit(j))).as(s"w$j"))
      val row = y.select(dqCol(vInt), col("y"))
        .agg(waggs.head, waggs.tail: _*).head
      (0 until dims).foreach(j =>
        if (!row.isNullAt(j)) w(j) = row.getLong(j))
      val norm = math.sqrt(w.map(x => x.toDouble * x.toDouble).sum)
      // all-identical embeddings center to y = 0, so w = 0 and the
      // normalize would emit NaN (and rnd6 would then throw on it) —
      // a degenerate but valid corpus: report the zero direction
      v = if (norm == 0.0) Array.fill(dims)(0.0)
          else w.map(x => rnd6(x / norm))
      vInt = v.map(d => math.round(d * 1e6))
    }
    // explained-variance ratio from the FINAL direction: num = Σ dq²
    // (projection² at 1e-3 scale), den = Σ ‖y/1e3‖² — both exact int64
    val fin = y.select(dqCol(vInt),
        aggregate(transform(col("y"), a => {
          val q = round(a.cast("double") / 1e3, 0).cast("long")
          q * q
        }), lit(0L), (acc, t) => acc + t).as("yy"))
      .agg(sum(col("dq") * col("dq")).as("num"), sum(col("yy")).as("den"))
      .head
    // den = 0 iff every centered vector is 0 (same degenerate corpus as
    // the norm guard above): no variance to explain -> ratio 0, not NaN
    val ev =
      if (fin.getLong(1) == 0L) 0.0
      else rnd6(fin.getLong(0).toDouble / fin.getLong(1).toDouble)
    import spark.implicits._
    v.zipWithIndex.map { case (p, i) => (i + 1, p, ev) }
      .toSeq.toDF("i", "pc", "ev_ratio")
  }

  /** Matryoshka-style truncation fidelity: for each query (`vec_id <
    * numQueries`), the exact full-dimension top-1 neighbor next to the
    * top-1 computed on only the first `prefixDims` components
    * (truncated, implicitly re-normalized — cosine is scale-invariant,
    * so no explicit renorm is needed). `agree` marks queries whose
    * nearest neighbor survives truncation — the measurement that decides
    * whether a prefix-dim index is a safe cheap first stage for ANN
    * (retrieve wide on the prefix, re-rank exact on the full vector),
    * the two-stage plan that cuts a 100 TB vector scan by dims/prefix.
    *
    * Both rankings are the same broadcast-queries brute-force pass as
    * [[bruteForceTopK]] (the truncated one over arrays `prefixDims`
    * long, so its dot products cost prefix/dims of the full pass); ties
    * and NaN exclusion follow [[rankTopK]], and the inner join drops
    * queries degenerate in either space (zero full vector or zero
    * prefix). */
  def matryoshkaTop1(embeddings: DataFrame, numQueries: Int,
      prefixDims: Int): DataFrame = {
    require(prefixDims >= 1, "need at least one prefix dimension")
    val full = bruteForceTopK(embeddings, numQueries, 1)
      .select(col("qid"), col("nid").as("nid_full"))
    val trunc = bruteForceTopK(
      embeddings.withColumn("embedding",
        slice(col("embedding"), 1, prefixDims)),
      numQueries, 1)
      .select(col("qid"), col("nid").as("nid_trunc"))
    full.join(trunc, "qid")
      .select(col("qid"), col("nid_full"), col("nid_trunc"),
        (col("nid_full") === col("nid_trunc")).as("agree"))
  }

  /** Exact k-nearest-neighbor GRAPH: the top-k neighbor list for EVERY
    * corpus vector, not just a query set — the substrate SemDeDup-style
    * semantic pruning and dataset-cartography curation build on. Quadratic
    * by definition (|N|^2 cosine evaluations), so this form is the oracle
    * and the small-corpus path; at scale use `knnGraphBlocked`, which only
    * scores pairs that share an LSH bucket. Zero-norm vectors are excluded
    * from the graph (NaN-cosine rule — see `bruteForceTopK`): they have
    * no meaningful nearest neighbor, so they contribute no `qid` rows. */
  def knnGraph(embeddings: DataFrame, k: Int = 1): DataFrame = {
    val base = withNorm(embeddings)
    val q = base.select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val pairs = base
      .select(col("vec_id").as("nid"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
      .join(broadcast(q), col("qid") =!= col("nid"))
    // memoized: the exact graph is the shared substrate of sim6 (the
    // graph itself) and gr1/gr5 (PageRank over it) — the O(N^2) cosine
    // pass runs once per session per (corpus, k)
    Memo.substrate(("knn_graph", k), embeddings) {
      rankTopK(pairs, k).select(col("qid"), col("rn"), col("nid"))
    }
  }

  /** The blocked family's "knob grows with the corpus" rule as code —
    * sibling of `Clustering.scaledK`, and exactly the deployed-scaling
    * protocol the ScaleCurve measurement used (bits += log2 R held
    * blocked kNN at 1.66x/doubling and the portable near-dup at
    * 1.26x/doubling while PINNED bits went quadratic at the sf1 bench
    * point): bits = ceil(log2(n / targetBucketSize)), so expected bucket
    * occupancy stays ~targetBucketSize and the Σ bucket² candidate space
    * stays linear in the corpus. Floored at `floor` (too few planes
    * makes one mega-bucket), capped at 62 (sign bits packed in a long).
    * One narrow COUNT per corpus per session — the downstream memos key
    * on the resolved bits. */
  def scaledBits(embeddings: DataFrame, targetBucketSize: Int = 64,
      floor: Int = 4): Int = {
    require(targetBucketSize >= 1 && floor >= 1,
      "targetBucketSize and floor must be >= 1")
    val n = embeddings.select(col("vec_id")).count()
    val need = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
        math.log(2.0)).toInt
    math.min(62, math.max(floor, need))
  }

  /** `knnGraphBlocked` at corpus-scaled bits — see [[scaledBits]]. */
  def knnGraphBlockedAuto(embeddings: DataFrame, k: Int = 1,
      tables: Int = 16, dims: Int = 64,
      targetBucketSize: Int = 64): DataFrame =
    knnGraphBlocked(embeddings, k,
      scaledBits(embeddings, targetBucketSize), tables, dims)

  /** `portableNearDupPairs` at corpus-scaled bits — see [[scaledBits]]. */
  def portableNearDupPairsAuto(embeddings: DataFrame, dims: Int = 64,
      threshold: Double = 0.4, targetBucketSize: Int = 64): DataFrame =
    portableNearDupPairs(embeddings,
      scaledBits(embeddings, targetBucketSize), dims, threshold)

  /** LSH-blocked kNN graph — the 100 TB form of `knnGraph`: vectors are
    * bucketed by `tables` hyperplane signatures and cosine is evaluated
    * only within buckets, so the pair count drops from |N|^2 to
    * sum(bucket^2) while the bucket self-join is an ordinary shuffle join
    * on (table, signature) — no broadcast of the corpus anywhere. Both
    * directions of a shared bucket emit, so the graph stays asymmetric-kNN
    * like the exact form. Vectors sharing no bucket with anyone (possible
    * for outliers at high `bits`) simply have no row — at scale that is
    * the desired behavior, since an isolated vector has no near neighbor
    * worth recording. Recall vs the exact graph is gated in PipelineSpec.
    * The result is session-memoized (see `blockedCache`): sim7 and gr2
    * consume the same blocked graph from one bucket-join + cosine pass. */
  def knnGraphBlocked(embeddings: DataFrame, k: Int = 1, bits: Int = 4,
      tables: Int = 16, dims: Int = 64): DataFrame =
    blockedCache.getOrBuild((embeddings.queryExecution.analyzed.canonicalized,
      k, bits, tables, dims), embeddings) {
      knnGraphBlockedCompute(embeddings, k, bits, tables, dims)
        .localCheckpoint()
    }

  private def knnGraphBlockedCompute(embeddings: DataFrame, k: Int,
      bits: Int, tables: Int, dims: Int): DataFrame = {
    val sigs = embeddings
      .select(col("vec_id"),
        posexplode(Vectors.sigsFast(col("embedding"), dims, bits, tables))
          .as(Seq("tbl", "sig")))
      .localCheckpoint() // one signature pass feeds both join sides
    val candIds = sigs.toDF("qid", "tbl", "sig")
      .join(sigs.toDF("nid", "tbl2", "sig2"),
        col("tbl") === col("tbl2") && col("sig") === col("sig2") &&
          col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    cosineRerank(candIds, embeddings, k)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
  }

  /** Hyperplane-LSH ANN: candidates share a bucket with the query in any of
    * `tables` hash tables; exact cosine ranks candidates. */
  def lshTopK(embeddings: DataFrame, numQueries: Int, k: Int,
      bits: Int = 5, tables: Int = 12, dims: Int = 64): DataFrame = {
    // localCheckpoint: the signature frame feeds both the query side and
    // the corpus side of the bucket join — materialize the hyperplane UDF
    // once instead of twice
    val sigs = embeddings
      .select(col("vec_id"),
        posexplode(Vectors.sigsFast(col("embedding"), dims, bits, tables))
          .as(Seq("tbl", "sig")))
      .localCheckpoint()
    val q = sigs.where(col("vec_id") < numQueries).toDF("qid", "tbl", "sig")
    val candIds = sigs.toDF("nid", "tbl", "sig")
      .join(broadcast(q), Seq("tbl", "sig"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid")).distinct()
    cosineRerank(candIds, embeddings, k)
      .select(col("qid"), col("rn"), col("nid"), col("cos"))
  }

  /** ENGINE-PORTABLE hyperplane-LSH top-1 — the oracle-checkable twin of
    * [[lshTopK]], giving the rows-only ANN family a cross-engine-verified
    * consumer. Two deliberate choices make every stage reproducible in any
    * SQL engine (the DuckDB oracle rebuilds it bit-for-bit):
    *
    *  1. Hyperplanes are pure integer arithmetic, not hashed floats:
    *     component (p, i) has weight `portableWeight(p*dims + i + 1)` —
    *     the shared QUADRATIC integer mix (see [[portableWeight]], the
    *     single source of truth for the formula), a pseudo-random integer
    *     in [-500001, 500001] identical wherever 64-bit integer mod
    *     exists.
    *  2. The sign dot-product runs on 1e-6-QUANTIZED integer components
    *     (`round(x*1e6)` as long, the `dimStats` trick), so the per-plane
    *     dot is an exact integer sum — no float summation-order noise can
    *     flip a sign bit near zero, on any engine or partitioning.
    *
    * Signature = `bits` sign bits packed into a long; candidates share the
    * query's bucket in the single table; exact cosine (shared `rankTopK`
    * path, NaN-excluded, cos desc / nid asc ties) picks top-1. A query
    * whose bucket holds no other vector emits no row — same at-most-one
    * contract as the oracle's rn=1 filter.
    *
    * Scale: identical shape to `lshTopK` — one narrow signature scan
    * (bits×dims integer multiply-adds per row, no UDF boundary), a
    * broadcast of |Q| query signatures, bucket-join, rerank over bucket
    * occupancy only. */
  /** The QUADRATIC integer weight shared by every portable signature:
    * w(y) = ((1013·(y mod M)² + 2654435761·(y mod M)) mod M) − (M−1)/2,
    * a pseudo-random integer in [−500001, 500001] computable wherever
    * 64-bit integer arithmetic exists (max intermediate ≈ 3.7e15, far
    * inside BIGINT on every engine — no overflow-wrapping semantics
    * needed, which is what rules out splitmix-style mixers). Quadratic,
    * not linear (Knuth-multiplicative), deliberately: a linear walk makes
    * consecutive indices differ by a CONSTANT step mod M, so the sign
    * vectors of adjacent planes/bits are rotations of one fixed pattern —
    * measured on the test corpus that correlation collapsed a 60-bit
    * simhash to thousands of hamming-0 pairs; the quadratic's
    * varying difference (2ay + a + b) restores independence (23 pairs,
    * matching the murmur-hashed d4). */
  private[ops] def portableWeight(y: Column): Column = {
    val M = 1000003L  // prime modulus
    val HALF = 500001L
    val ym = y % M
    ((lit(1013L) * ym * ym + lit(2654435761L) * ym) % M) - HALF
  }

  /** The engine-portable sign-LSH signature (see [[portableLshTop1]] doc
    * for the integer-arithmetic determinism argument) — shared by the
    * portable top-1 qrels path and [[portableNearDupPairs]]. */
  private[ops] def portableSigCol(bits: Int, dims: Int): Column =
    (0 until bits).map { p =>
      val dot = aggregate(
        sequence(lit(0), lit(dims - 1)),
        lit(0L),
        (acc, i) => acc +
          round(element_at(col("embedding"), i + 1).cast("double") * 1e6)
            .cast("long") *
          portableWeight(lit(p.toLong * dims) + i + 1))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def portableLshTop1(embeddings: DataFrame, queryIds: Seq[Long],
      bits: Int = 6, dims: Int = 64): DataFrame = {
    val sigs = portableSigs(embeddings, bits, dims)
    val q = sigs
      .where(col("vec_id").isin(queryIds.map(x => x: Any): _*))
      .toDF("qid", "sig")
    val cand = sigs.toDF("nid", "sig")
      .join(broadcast(q), Seq("sig"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    cosineRerank(cand, embeddings, 1).select(col("qid"), col("nid"))
  }

  /** ENGINE-PORTABLE blocked kNN edges — each vector's exact-cosine top-1
    * within its [[portableSigCol]] bucket: the reproducible twin of
    * `knnGraphBlocked`'s edge substrate (`sim7`/`gr2`). Vectors alone in
    * their bucket contribute no edge, exactly like any blocked graph.
    * Feeding these edges to `Graph.pageRank` gives a fully hash-gated
    * blocked-graph PageRank (`gr3`), closing the loop on the gr-family:
    * gr1 anchors the exact graph, gr2 the recall-tuned multi-table
    * blocking, gr3 the cross-engine-verified blocking.
    *
    * Scale: Σ bucket² candidate pairs, one signature scan, rerank via the
    * shared map-side-partial TopKAgg — the `knnGraphBlocked` shape with a
    * single table. */
  def portableKnnEdges(embeddings: DataFrame, bits: Int = 6,
      dims: Int = 64, k: Int = 1): DataFrame = {
    // gr3/gr4 share one substrate: serve any k <= edgeCacheK by
    // filtering the memoized ranked top-edgeCacheK frame (see edgeCache)
    def direct = portableKnnEdgesRanked(embeddings, bits, dims, k)
    if (k > edgeCacheK) direct.select(col("qid"), col("nid"))
    else edgeCache.getOrBuildElse(
      (embeddings.queryExecution.analyzed.canonicalized, bits, dims),
      embeddings) {
      MemoLedger.timed("portable_knn_edges") {
        // checkpoint: enters gr3/gr4 plans as a 3-line scan instead
        // of an InMemoryRelation body per consumer leg
        portableKnnEdgesRanked(embeddings, bits, dims, edgeCacheK)
          .localCheckpoint()
      }
    }(direct).where(col("rn") <= k).select(col("qid"), col("nid"))
  }

  /** The ranked (qid, rn, nid) form of [[portableKnnEdges]] — the frame
    * the edge memo stores. */
  private def portableKnnEdgesRanked(embeddings: DataFrame, bits: Int,
      dims: Int, k: Int): DataFrame = {
    val sigs = portableSigs(embeddings, bits, dims)
    val cand = sigs.toDF("qid", "sig")
      .join(sigs.toDF("nid", "sig2"),
        col("sig") === col("sig2") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"))
    cosineRerank(cand, embeddings, k)
  }

  /** ENGINE-PORTABLE embedding near-duplicate pairs — the oracle-checkable
    * twin of the LSH-blocked near-dup scan (`Dedup.embeddingNearDups`,
    * `d5`): candidate pairs share a [[portableSigCol]] bucket (a < b
    * canonical order), exact cosine rounds to 6dp, pairs at or above
    * `threshold` survive. Because blocking AND rerank reproduce in any
    * engine, the whole approximate near-dup path is hash-gated, not
    * rows-only. Recall is the standard sign-LSH trade (a near-dup pair
    * split across buckets is missed — by design, exactly like d5).
    *
    * Scale: Σ bucket² pair space, never n²; signatures are one narrow
    * codegen scan; embeddings re-attach to the bounded candidate set. */
  def portableNearDupPairs(embeddings: DataFrame, bits: Int = 6,
      dims: Int = 64, threshold: Double = 0.4): DataFrame = {
    val sigs = portableSigs(embeddings, bits, dims)
    val cand = sigs.toDF("vid_a", "sig")
      .join(sigs.toDF("vid_b", "sig2"),
        col("sig") === col("sig2") && col("vid_a") < col("vid_b"))
      .select(col("vid_a"), col("vid_b"))
    val base = withNorm(embeddings)
    cand
      .join(base.select(col("vec_id").as("vid_a"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm")), "vid_a")
      .join(base.select(col("vec_id").as("vid_b"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm")), "vid_b")
      .withColumn("cos_sim", round(
        Vectors.cosineFast(col("q_emb"), col("n_emb"), col("q_nrm"),
          col("n_nrm")), 6))
      .where(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
      .select(col("vid_a"), col("vid_b"), col("cos_sim"))
  }

  /** Greedy k-center seed selection (farthest-point-first traversal,
    * Gonzalez 1985 — the 2-approximation every coreset/diverse-eval-set
    * recipe starts from): seed with the smallest `vec_id`, then k-1 times
    * pick the vector FARTHEST from the selected set (distance = 1 − max
    * round-6 cosine, ties to the smallest id). Output one row per seed:
    * `(rk, vec_id, dmin)` where `dmin` is the coverage radius at the
    * moment of selection (2.0 — the maximum cosine distance, i.e. "the
    * whole space is uncovered" — for the seed, keeping the column
    * NULL-free for hash gates) — the monotone non-increasing sequence
    * that tells you when adding seeds stops buying diversity.
    *
    * Engine-portable by the d15/ml1 discipline: every cosine is rounded
    * to 6dp BEFORE the max/argmax, so selection decisions replay exactly
    * in any engine; zero-norm vectors are excluded up front (no NaN in
    * the argmax).
    *
    * Scale: k−1 rounds, each ONE corpus scan — a broadcast of the ≤k
    * selected vectors, a map-side-partial max per vector, and a one-row
    * global argmax (`max(struct)` — no sort, no collect of corpus rows).
    * Total work O(k²·n·dims) flops with k config-bounded; driver state is
    * k ids. At 100 TB you run this on a [[Sampling.deterministicSample]]
    * slice like any coreset builder — the op itself never materializes a
    * pair space. */
  def kCenterSeeds(embeddings: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = withNorm(embeddings).where(col("nrm") > 0)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val seedRow = base.agg(min(col("vec_id"))).head
    if (seedRow.isNullAt(0)) // no non-degenerate vectors: nothing to seed
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rk",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dmin",
            org.apache.spark.sql.types.DoubleType))))
    var sel: List[Long] = List(seedRow.getLong(0))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)](
      (0, sel.head, 2.0))
    var r = 1
    var exhausted = false
    while (r < k && !exhausted) {
      val selFrame = base
        .where(col("vec_id").isin(sel.map(x => x: Any): _*))
        .select(col("vec_id").as("sid"), col("embedding").as("s_emb"),
          col("nrm").as("s_nrm"))
      val farRow = base
        .where(!col("vec_id").isin(sel.map(x => x: Any): _*))
        .crossJoin(broadcast(selFrame))
        .select(col("vec_id"),
          round(Vectors.cosineFast(col("embedding"), col("s_emb"),
            col("nrm"), col("s_nrm")), 6).as("cos"))
        .groupBy(col("vec_id"))
        .agg((lit(1.0) - max(col("cos"))).as("dmin"))
        .agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("m"))
        .head
      if (farRow.isNullAt(0)) exhausted = true // fewer points than k
      else {
        val far = farRow.getStruct(0)
        val vid = -far.getLong(1)
        out += ((r, vid, far.getDouble(0)))
        sel = vid :: sel
        r += 1
      }
    }
    out.toSeq.toDF("rk", "vec_id", "dmin")
  }

  /** ENGINE-PORTABLE IVF top-k (`sim3` at 16 cells, `sim8` hash-gated),
    * completing the pattern [[portableLshTop1]] set for LSH: the coarse
    * quantizer is `Clustering.kmeansAssign`'s deterministic Lloyd loop
    * (smallest-vec_id init, (d, cid) argmin tie-break, round-6 centroid
    * snapping — the ml1/d15-proven oracle-able contract), so the DuckDB
    * oracle rebuilds cells, probe order, and rerank bit-for-bit from the
    * shared `kmeansCtes`.
    *
    * Search shape is real IVF: rank cells by squared-L2 of query vs the
    * FINAL-round centroids (the same model the corpus assignment used —
    * `kmeansCentroids`), scan the `nprobe` nearest cells' members only,
    * exact-cosine rerank (shared `rankTopK`: NaN-excluded, cos desc / nid
    * asc). Recall loss vs brute force is the standard IVF trade; the
    * bench/oracle value is that the WHOLE approximate path is hash-gated,
    * not rows-only.
    *
    * Scale: the quantizer is k×dim driver rows broadcast back; cell
    * ranking is |Q|·cells tiny rows; the candidate join touches only the
    * probed cells' assignment lists. */
  def portableIvfTopK(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 5, cells: Int = 8, iters: Int = 2,
      nprobe: Int = 2): DataFrame = {
    val cand = portableIvfCandidates(embeddings, queryIds, cells, iters,
      nprobe)
    cosineRerank(cand, embeddings, k)
      .select(col("qid"), col("rn"), col("nid"))
  }

  /** Persist the IVF coarse structure as a DURABLE artifact — the sibling
    * of `Dedup.writeDedupIndex` for the vector side, and what a serving
    * deployment actually ships: the final-round centroids (cells × dims
    * rows) and the corpus cell assignment (one row per vector). A search
    * then ranks cells and scans probed lists READING ONLY THE INDEX plus
    * the probed vectors — the quantizer never retrains per query session. */
  def writeIvfIndex(embeddings: DataFrame, dir: String, cells: Int = 8,
      iters: Int = 2): Unit = {
    val cents = Clustering.kmeansCentroids(embeddings, cells, iters)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    // assignment at the FINAL centroids — identical to kmeansAssign's
    // last round (same centroid frame, same (d, cid) argmin), but keeps
    // the assign distance `d`: the per-generation freshness signal
    // `ivfIndexStaleness` reads. gen=0 is the training generation;
    // appends land in gen=N partitions (see `appendIvfIndex`).
    assignAtCentroids(embeddings, cents)
      .write.mode("overwrite").parquet(s"$dir/assign/gen=0")
  }

  /** Nearest-centroid assignment of vectors against a FIXED (cid, i, m)
    * coarse-quantizer frame — the Lloyd final-round argmin ((d, cid)
    * tie-break, so it reproduces `Clustering.kmeansAssign`'s assignment
    * when given that loop's final centroids) WITHOUT any retraining.
    * Returns (vec_id, cid, d) with d the squared-L2 assign distance.
    * This is the frozen-quantizer step an ingest pipeline runs on new
    * vectors between retrains (the sim11 oracle gates it cross-engine). */
  def assignAtCentroids(embeddings: DataFrame, cents: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("i", "x")))
      .join(broadcast(cents), "i")
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cid"))).as("s"))
      .select(col("vec_id"), col("s.cid").as("cid"), col("s.d").as("d"))

  /** Append new vectors to `writeIvfIndex`'s artifact WITHOUT
    * retraining — the serving-side freshness path, the sibling of the
    * dedup ingest sink's append-only index: each vector is assigned to
    * its nearest EXISTING centroid and lands in the generation's own
    * `gen=N` hive partition (overwrite — idempotent under at-least-once
    * replay, the same per-batch discipline as `appendDedupIndex`).
    * Search (`portableIvfTopKIndexed`) picks the new vectors up
    * transparently: it reads the whole assign table, and the centroids
    * are unchanged by construction. The recall cost of a stale
    * quantizer is what [[ivfIndexStaleness]] watches. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newEmbeddings: DataFrame, gen: Long): Unit = {
    require(gen >= 1, "gen 0 is the training generation")
    assignAtCentroids(newEmbeddings,
      spark.read.parquet(s"$indexDir/centroids"))
      .write.mode("overwrite").parquet(s"$indexDir/assign/gen=$gen")
  }

  /** Staleness report of an IVF index artifact: per generation, the
    * vector count and mean nearest-centroid squared distance, plus
    * `drift` = that mean over the TRAINING generation's mean. A drift
    * near 1 means appended traffic still matches the distribution the
    * quantizer was trained on; a climbing drift is the retrain alarm —
    * appended vectors land ever farther from every centroid, so probed
    * cells cover them worse and recall decays. One narrow scan of the
    * assign table (never the vectors), `dims`-free, O(generations)
    * output rows. */
  def ivfIndexStaleness(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val perGen = spark.read.parquet(s"$indexDir/assign")
      .groupBy(col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_vecs"), avg(col("d")).as("mean_d"))
    val base = perGen.where(col("gen") === 0L)
      .select(col("mean_d").as("base_d"))
    perGen.crossJoin(broadcast(base))
      .select(col("gen"), col("n_vecs"),
        round(col("mean_d"), 6).as("mean_d"),
        round(col("mean_d") / col("base_d"), 6).as("drift"))
  }

  /** The retrain decision as DATA — the policy op that closes the index
    * freshness loop on top of [[ivfIndexStaleness]]: one row
    * (staleness, threshold, retrain), where staleness is the WORST
    * per-generation drift among appended generations (max, not latest:
    * recall decays for every query that lands in a badly-covered batch,
    * so one far-out generation is enough to warrant retraining even if
    * newer traffic swung back). With no appends yet, staleness = 1
    * (fresh by definition). Threshold rationale: drift is the mean
    * nearest-centroid squared distance relative to the training
    * generation, so `threshold = 1.5` triggers when appended vectors sit
    * on average 50% farther (squared) from every centroid than the
    * distribution the quantizer was trained on — the point where probed
    * cells stop covering the new traffic's true neighborhoods and IVF
    * recall measurably decays; 1.5 is deliberately conservative (well
    * above in-distribution noise, spec-measured < 3 even on a small
    * held-out slice, far below a genuine shift, spec-measured > 10).
    * Downstream wiring is one `head()`: if retrain, call
    * [[writeIvfIndex]] on the unioned corpus and restart appends at
    * gen 1. */
  def ivfRetrainPolicy(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, threshold: Double = 1.5): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    ivfIndexStaleness(spark, indexDir)
      .where(col("gen") > 0L)
      .agg(coalesce(max(col("drift")), lit(1.0)).as("staleness"))
      // round FIRST, then gate on the rounded value — deciding on the
      // raw staleness while reporting the rounded one could emit the
      // internally inconsistent row (staleness >= threshold,
      // retrain=false) when the raw value sits within 5e-7 of the
      // threshold
      .select(round(col("staleness"), 6).as("staleness"))
      .select(col("staleness"), lit(threshold).as("threshold"),
        (col("staleness") >= threshold).as("retrain"))
  }

  /** [[portableIvfTopK]] against the durable index instead of a live
    * training pass — result-identical (parity spec): the search reads
    * cells, probe order, and members from the artifact. */
  def portableIvfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val cand = ivfCandidatesFrom(
      spark.read.parquet(s"$indexDir/assign")
        .select(col("vec_id").as("nid"), col("cid")),
      spark.read.parquet(s"$indexDir/centroids"),
      embeddings, queryIds, nprobe)
    cosineRerank(cand, embeddings, k)
      .select(col("qid"), col("rn"), col("nid"))
  }

  /** The coarse front end of [[portableIvfTopK]]/[[portableIvfPqTopK]]/
    * [[portableIvfAdcTopK]]: probed-cell candidates (qid, nid, cid) —
    * each query's `nprobe` nearest Lloyd cells by squared-L2 against the
    * final-round centroids, fanned out to those cells' members (cid =
    * the member's cell, which the IVFADC decomposition's per-cell offset
    * keys on). */
  private def portableIvfCandidates(embeddings: DataFrame,
      queryIds: Seq[Long], cells: Int, iters: Int,
      nprobe: Int): DataFrame = {
    val assign = Clustering.kmeansAssign(embeddings, cells, iters)
      .select(col("vec_id").as("nid"), col("cluster").as("cid"))
    val cents = Clustering.kmeansCentroids(embeddings, cells, iters)
    ivfCandidatesFrom(assign, cents, embeddings, queryIds, nprobe)
  }

  /** Candidate generation from supplied (assign, centroids) frames —
    * live-trained or read from `writeIvfIndex`'s artifact. */
  private def ivfCandidatesFrom(assign: DataFrame, cents: DataFrame,
      embeddings: DataFrame, queryIds: Seq[Long],
      nprobe: Int): DataFrame =
    ivfCandidatesFromFrame(assign, cents,
      embeddings.where(col("vec_id").isin(queryIds.map(x => x: Any): _*))
        .select(col("vec_id").as("qid"), col("embedding")),
      nprobe)

  /** [[ivfCandidatesFrom]] with the query side as a FRAME instead of a
    * driver id list — the form the indexed contamination probe needs
    * (its queries are the whole eval holdout, a frame by definition,
    * never a collected list). */
  private def ivfCandidatesFromFrame(assign: DataFrame, cents: DataFrame,
      queryVecs: DataFrame, nprobe: Int): DataFrame = {
    val qEx = queryVecs
      .select(col("qid"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("i", "x")))
    val qCell = qEx
      .join(broadcast(cents), "i")
      .groupBy(col("qid"), col("cid"))
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("d"))
      .withColumn("cr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))))
      .where(col("cr") <= nprobe)
      .select(col("qid"), col("cid"))
    qCell.join(assign, "cid")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), col("cid"))
  }

  /** ENGINE-PORTABLE PQ/ADC top-k (`sim4` at 16×32 codes, `sim9`
    * hash-gated). Three choices make every stage reproducible in DuckDB:
    *
    *  1. Codebooks come from the oracle-able Lloyd loop
    *     (`Clustering.kmeansAssign`'s smallest-vec_id init, (d, cid)
    *     argmin tie-break, round-6 centroid snapping) run independently
    *     per subspace slice — the sim8 trick applied m times, trained
    *     together by `Clustering.pqModel`;
    *  2. the PQ code of a vector IS the final-round assignment of its
    *     subvector, so encode needs no new machinery or contract;
    *  3. ADC runs on 1e-6-QUANTIZED integers: the round-6-snapped
    *     centroids and the query components both map exactly onto the
    *     1e-6 grid, so each table entry `t[s][cid] = Σ_i q_i·c_i` and
    *     each score `Σ_s t[s][code_s]` is EXACT 64-bit integer
    *     arithmetic (max |t| ≈ 16·(2e6)² ≈ 6.4e13, far inside BIGINT) —
    *     no float summation-order noise can reorder the ranking on any
    *     engine or partitioning.
    *
    * Search shape is real ADC: per-query (m × k) dot tables over the
    * centroids (tiny, broadcast), then every corpus code scores in m
    * table lookups — here expressed as a broadcast-join + (qid, nid)
    * partial agg over the (s, nid, cid) code table, the full-scan PQ
    * form (IVF-PQ restricts the scan to probed cells).
    *
    * Scale: training is ONE grouped Lloyd loop over all m (N, dims/m)
    * slices — one scan and one collect per round whatever m is
    * (memoized via `Clustering.assignCache`); the code table is m rows
    * per vector (the persisted PQ index shape); the ADC join broadcasts
    * only |Q|·m·k table rows. */
  def portablePqTopK(embeddings: DataFrame, queryIds: Seq[Long],
      topK: Int = 5, m: Int = 4, k: Int = 8, iters: Int = 2,
      dims: Int = 64): DataFrame =
    rankAdc(portablePqScores(embeddings, queryIds, m, k, iters, dims, None),
      topK)

  /** ENGINE-PORTABLE IVF+PQ top-k (`sim10`, the raw-encode control of
    * [[portableIvfAdcTopK]]), closing the ANN stack: sim8's oracle-able
    * coarse quantizer restricts candidates to the `nprobe` probed Lloyd
    * cells, and sim9's integer ADC scores exactly those candidates (the
    * semi-join lands BEFORE the per-pair aggregation, so the fine stage's
    * cost is proportional to the probed lists, the whole point of IVF). Both
    * stages are the already-hash-gated contracts, so the composition is
    * hash-gated end to end. */
  def portableIvfPqTopK(embeddings: DataFrame, queryIds: Seq[Long],
      topK: Int = 5, cells: Int = 8, iters: Int = 2, nprobe: Int = 2,
      m: Int = 4, k: Int = 8, dims: Int = 64): DataFrame = {
    val cand = portableIvfCandidates(embeddings, queryIds, cells, iters,
      nprobe)
    rankAdc(
      portablePqScores(embeddings, queryIds, m, k, iters, dims, Some(cand)),
      topK)
  }

  /** ENGINE-PORTABLE IVFADC top-k (`sim5` at 16 cells and 16×32 codes,
    * `sim12` hash-gated) — [[portableIvfPqTopK]] with the RESIDUAL
    * encoding (classic IVFADC: codes are trained on v − c_cell, spending
    * the per-subspace levels on a much tighter range; on a corpus with
    * real cluster structure that wins recall at identical code size,
    * which PipelineSpec pins on a planted-cluster fixture). The whole extension
    * stays on one exact integer grid — DYADIC (2^-20), not the usual
    * 1e-6, and the choice is load-bearing:
    *
    *  1. RESIDUALS are exact doubles: r_i = (round(x_i·2^20) −
    *     round(c_i·2^20)) / 2^20 is an integer multiple of 2^-20 with a
    *     ~22-bit significand, so it is exactly representable — whereas
    *     int/1e6 is NOT, and the PQ Lloyd loop's cluster-mean sums over
    *     inexact residuals round at ulp level in whatever order an
    *     engine adds them (measured to straddle the round-6 centroid
    *     snap between Spark's partial aggregation and a sequential
    *     engine). On the dyadic grid every cluster-mean sum is an exact
    *     integer multiple of 2^-20 (< 2^53 at any realistic cell
    *     membership), so summation order stops existing;
    *  2. the PQ stage is the sim9/sim10 contract run over the residual
    *     frame ([[portablePqScoresSplit]] at scale 2^20 — queries stay
    *     RAW);
    *  3. the decomposition dot(q, v) ≈ dot(q, c_cell) + dot(q, r̂) adds
    *     one per-(query, cell) offset Σ qi·ci — EXACT int64 like the ADC
    *     tables and in the same 2^-40 unit, so the fused score admits no
    *     float summation-order noise on any engine or partitioning.
    *
    * When every vector sits exactly AT its cell centroid the residuals
    * are all zero and the returned adc IS the exact integer dot — the
    * decomposition-exactness law the spec pins. `sim10` keeps the
    * raw-encode control at identical code size. */
  def portableIvfAdcTopK(embeddings: DataFrame, queryIds: Seq[Long],
      topK: Int = 5, cells: Int = 8, iters: Int = 2, nprobe: Int = 2,
      m: Int = 4, k: Int = 8, dims: Int = 64): DataFrame = {
    val S = 1048576.0 // 2^20 — see the dyadic-grid scaladoc note
    val assign = Clustering.kmeansAssign(embeddings, cells, iters)
      .select(col("vec_id"), col("cluster").as("cid"))
    val cents = Clustering.kmeansCentroids(embeddings, cells, iters)
    // coarse centroids as (cid, embedding-ordered array) for the
    // residual zip — k·dims rows collapsed to k, broadcast
    val centArr = cents.groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        e => e.getField("m")).as("cen"))
    // exact-dyadic residuals (see scaladoc), materialized once — the
    // stand-in for the persisted residual frame a real IVFADC deployment
    // encodes from (every Lloyd round and the encode pass would
    // otherwise re-run the assign join). SESSION-MEMOIZED (residCache):
    // the checkpoint mints a fresh plan per call, so without the memo
    // every invocation re-built the residual frame AND invalidated the
    // PQ Lloyd memo keyed on it.
    def residCompute: DataFrame = MemoLedger.timed("ivfadc_residuals") {
      embeddings
        .join(assign, "vec_id")
        .join(broadcast(centArr), "cid")
        .select(col("vec_id"),
          zip_with(col("embedding"), col("cen"), (x, c) =>
            (round(x.cast("double") * S) - round(c * S))
              .cast("double") / S).as("embedding"))
        .localCheckpoint()
    }
    val resid = residCache.getOrBuild(
      (embeddings.queryExecution.analyzed.canonicalized, cells, iters),
      embeddings)(residCompute)
    val cand = portableIvfCandidates(embeddings, queryIds, cells, iters,
      nprobe)
    // the per-(query, probed cell) offset: Σ qi·ci over the full vector,
    // exact int64 (|qi|,|ci| ≤ ~2^22 ⇒ |Σ| ≤ 64·2^44, far inside range)
    val qInts = embeddings
      .where(col("vec_id").isin(queryIds.map(x => x: Any): _*))
      .select(col("vec_id").as("qid"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("i", "x")))
      .select(col("qid"), col("i"),
        round(col("x") * S).cast("long").as("qi"))
    val cdot = qInts
      .join(broadcast(cents.select(col("cid"), col("i"),
        round(col("m") * S).cast("long").as("ci"))), "i")
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("qi") * col("ci")).as("cdot"))
    val resScores = portablePqScoresSplit(resid, embeddings, queryIds,
      m, k, iters, dims, Some(cand), scale = S)
    rankAdc(resScores
      .join(cand.select(col("qid"), col("nid"), col("cid")),
        Seq("qid", "nid"))
      .join(cdot, Seq("qid", "cid"))
      .select(col("qid"), col("nid"),
        (col("adc") + col("cdot")).as("adc")), topK)
  }

  /** Per-query ADC top-k via the exact-int64 TopKLong aggregate
    * (optimization round 2, guide §2.3 — the `rankTopK` discipline
    * applied to the ADC stage): map-side partials ship at most k
    * (adc, nid) pairs per qid per task, replacing the `row_number`
    * window's full sort of every scored candidate after the exchange.
    * Values stay int64 end to end (TopK's Double buffer would round
    * past 2^53 — the grids' exactness contract forbids that); tie order
    * (adc desc, nid asc) matches the window form exactly, and adc is
    * never null by construction (an integer sum over non-null codes). */
  private def rankAdc(scored: DataFrame, topK: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKLong(col("adc"), col("nid"), topK)
        .as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("rn0", "e")))
      .select(col("qid"), (col("rn0") + 1).cast("int").as("rn"),
        col("e.id").as("nid"), col("e.value").as("adc"))

  /** The scoring stage of [[portablePqTopK]]/[[portableIvfPqTopK]]:
    * (qid, nid, adc) over all pairs, or over `cand` only when given (the
    * IVF-restricted form — the semi-join applies before the aggregation). */
  private def portablePqScores(embeddings: DataFrame, queryIds: Seq[Long],
      m: Int, k: Int, iters: Int, dims: Int,
      cand: Option[DataFrame]): DataFrame =
    portablePqScoresSplit(embeddings, embeddings, queryIds, m, k, iters,
      dims, cand)

  /** [[portablePqScores]] with the CORPUS frame (codebook training +
    * codes) decoupled from the QUERY frame (ADC tables) — the IVFADC
    * form needs exactly this split: codes come from cell RESIDUALS
    * while queries stay raw (the decomposition dot(q, v) = dot(q, c) +
    * dot(q, v − c) residualizes only the corpus side). */
  private def portablePqScoresSplit(corpus: DataFrame, queryVecs: DataFrame,
      queryIds: Seq[Long], m: Int, k: Int, iters: Int, dims: Int,
      cand: Option[DataFrame], scale: Double = 1e6): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    // one grouped Lloyd run trains every subspace: codes (s, nid, cid) —
    // the final-round assignment per subspace — and centroids on the
    // exact integer grid (1e-6 for the raw path; the IVFADC caller
    // passes the dyadic 2^-20 — see its scaladoc): (s, cid, i, mi)
    val (asg, model) = Clustering.pqModel(corpus, m, k, iters, dims)
    val codes = asg.select(col("s"), col("vec_id").as("nid"),
      col("cluster").as("cid"))
    val cents = model.select(col("s"), col("cid"), col("i"),
      round(col("m") * scale).cast("long").as("mi"))
    // query subvector components on the same grid: (qid, s, i, qi)
    val qSub = queryVecs
      .where(col("vec_id").isin(queryIds.map(x => x: Any): _*))
      .select(col("vec_id").as("qid"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("gi", "x")))
      .select(col("qid"),
        floor(col("gi") / subDim).cast("int").as("s"),
        (col("gi") % subDim).as("i"),
        round(col("x") * scale).cast("long").as("qi"))
    // per-query ADC tables: t[qid, s, cid] = Σ_i qi·mi (exact integers)
    val qtab = qSub.join(broadcast(cents), Seq("s", "i"))
      .groupBy(col("qid"), col("s"), col("cid"))
      .agg(sum(col("qi") * col("mi")).as("t"))
    // score codes in m lookups; nsub guards a missing subspace row
    // (cannot happen by construction — belt for the hash gate)
    val joined = codes.join(broadcast(qtab), Seq("s", "cid"))
      .where(col("qid") =!= col("nid"))
    val restricted = cand match {
      case Some(c) => joined.join(c, Seq("qid", "nid"), "left_semi")
      case None    => joined
    }
    restricted
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("t")).as("adc"), count(lit(1)).as("nsub"))
      .where(col("nsub") === m)
      .select(col("qid"), col("nid"), col("adc"))
  }

  /** Per-dimension int8 (256-level min-max) quantization error report —
    * the storage-planning statistic for an embedding column at corpus
    * scale (float32 → int8 is the 4× that turns a 100 TB vector store
    * into 25 TB; this op says what that costs per dimension BEFORE the
    * migration). For each dim: the exact min/max, and the RMSE /
    * max-abs error of round-to-nearest-level reconstruction.
    *
    * Engine-portable by the twin rule ([[dimStats]]): inputs quantize to
    * 1e-6 ints (qx), min/max are exact int selections, the level code
    * c = round((qx−min)·255/(max−min)) is one double op on identical
    * ints, and the reconstruction error lives EXACTLY in 1/(255·1e6)
    * units: E = 255·(qx−min) − c·(max−min) (int64). Row-spanning sums
    * are Σ E² in decimal(38) (|E| ≤ (max−min)/2 ≈ 1e6 here, so E² ≤
    * 1e12 — int64 would hold to ~9e6 rows; decimal removes the cliff)
    * and max|E| — both exact, so rmse/max_abs_err round 6dp identically
    * in any engine. A constant dimension (max = min) has code 0 and
    * zero error by definition.
    *
    * Scale shape: one posexplode pass + a dims-key groupBy whose
    * map-side partials collapse every partition to ≤ dims rows, then a
    * second identical pass joined to the broadcast-size per-dim bounds
    * frame — same two-pass posture as [[topPrincipalComponent]]'s
    * mean+center, no corpus-scale shuffle. */
  def int8QuantStats(embeddings: DataFrame): DataFrame = {
    val xi = embeddings
      .select(posexplode(col("embedding")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("int").as("dim"),
        round(col("x").cast("double") * 1e6).cast("long").as("qx"))
    val bounds = xi.groupBy("dim")
      .agg(count(lit(1)).as("n"), min(col("qx")).as("mn"),
        max(col("qx")).as("mx"))
    val rng = col("mx") - col("mn")
    val code = when(rng === 0L, lit(0L))
      .otherwise(round((col("qx") - col("mn")).cast("double") * 255.0
        / rng.cast("double")).cast("long"))
    val err = lit(255L) * (col("qx") - col("mn")) - col("code") * rng
    xi.join(broadcast(bounds), "dim")
      .withColumn("code", code)
      .select(col("dim"), col("n"), col("mn"), col("mx"), err.as("e"))
      .groupBy(col("dim"))
      .agg(first(col("n")).as("n"), first(col("mn")).as("mn"),
        first(col("mx")).as("mx"),
        sum(col("e").cast("decimal(38,0)") * col("e")).as("sse"),
        max(abs(col("e"))).as("max_e"))
      .select(col("dim"), col("n"),
        round(col("mn").cast("double") / 1e6, 6).as("min_v"),
        round(col("mx").cast("double") / 1e6, 6).as("max_v"),
        round(sqrt(col("sse").cast("double") / col("n")) / 255e6, 6)
          .as("rmse"),
        round(col("max_e").cast("double") / 255e6, 6).as("max_abs_err"))
  }
}
