package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every near-dup variant is candidate-generation-first —
  * pairs are only materialized inside a bucket (PPJoin prefix, LSH band,
  * SimHash chunk, hyperplane bucket), never via a global cross join. Exact
  * verification (Jaccard / Hamming / cosine) runs only on candidates, and
  * ships per-doc shingle ARRAYS through a broadcast-able candidate join
  * (no re-explode of the corpus). At 100 TB the candidate join shuffles
  * O(n · prefix) or O(n · bands) rows, and hot shingles — the quadratic
  * blowup of a naive inverted-index self-join on Zipfian text — land at
  * the end of the document-frequency order and drop out of the prefixes.
  *
  * Caching discipline: the frames the dedup family shares across queries
  * (hashed shingles, token arrays, positional shingles, shingle sets,
  * verified Jaccard pairs, quote flags and redaction spans) are
  * `Memo.substrate` values: one checkpoint per (corpus, parameters) per
  * session, replaced when a store the corpus reads has grown, and
  * released by `Memo.clearAll()`. Small per-doc aggregates derived per
  * query use `localCheckpoint()` directly: lineage truncated, blocks
  * released by the ContextCleaner once the query's plan is GC'd.
  */
object Dedup {

  /** Memoized dedup substrate: distinct (doc_id, shingle) pairs with the
    * shingle xxhash64-HASHED to a long (see class doc). Hashing at the
    * substrate cuts shuffle/cache bytes ~3x vs n-gram strings and keeps
    * every downstream comparison a cheap long compare; set semantics are
    * exact modulo 64-bit collisions (P[any] ≈ |shingles|²/2⁶⁵ — ~1e-7
    * even at 10⁹ distinct shingles, standard for shingle-based dedup at
    * scale). */
  private[ops] def shingleCache(documents: DataFrame, n: Int): DataFrame =
    Memo.substrate(("shingles", n), documents) {
      shingles(documents, n)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    }

  /** Memoized token-array substrate: (doc_id, toks) under the standard
    * tokenizer — the segment-op family (d11 boilerplate, d12 repeated
    * n-grams, t10 boilerplate stats, d14 dup spans) and the positional
    * shingles all start from this frame, so a session tokenizes each
    * corpus ONCE for the whole family instead of once per query. */
  private[graft] def tokenCache(documents: DataFrame): DataFrame =
    Memo.substrate("tokens", documents)(tokens(documents))

  private def tokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      graft.functions.Text.tokenizeUdf(col("text")).as("toks"))

  private[ops] def normText = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))

  /** Exact dedup by content hash of normalized text: one row per distinct
    * content with the kept (minimum) doc id and the duplicate count. */
  def exactDuplicates(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(normText).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))

  /** Distinct word n-gram shingles per document (the common substrate of
    * the Jaccard and MinHash paths). Per-doc uniqueness comes from the
    * narrow `array_distinct` BEFORE the explode — no global distinct, so
    * the substrate costs zero shuffles. */
  def shingles(documents: DataFrame, n: Int): DataFrame = {
    // the tokens are a projected column, not the UDF inlined into the
    // lambda: there it would re-tokenize the document once per position
    val toks = col("toks")
    tokens(documents).select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))).as("shingle"))
      .where(col("shingle") =!= "")
  }

  /** Per-document shingle sets, ordered ascending by global document
    * frequency (ties broken by shingle), with the PPJoin prefix attached:
    * the (sz - ceil(t·sz) + 1) globally-RAREST shingles of each doc. Any
    * pair with jaccard >= t shares at least one prefix shingle (pigeonhole
    * on the overlap lower bound), so candidate generation over prefixes
    * loses no qualifying pair — while hot shingles sort to the END of the
    * order and mostly drop out of prefixes, killing the O(df²) hot-shingle
    * pair blowup. One groupBy(shingle) for df + one groupBy(doc_id) to
    * assemble; no window function. */
  private def shingleSets(sh: DataFrame, threshold: Double): DataFrame = {
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(freq, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle"))))
        .as("ranked"))
      .select(col("doc_id"),
        transform(col("ranked"), x => x("shingle")).as("set"),
        size(col("ranked")).as("sz"))
      .withColumn("prefix", slice(col("set"), lit(1),
        (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")))
  }

  /** Exact-Jaccard verification of candidate (doc1, doc2) pairs against
    * per-doc shingle arrays: |∩| via array_intersect, jaccard = |∩|/|∪|.
    * The candidate side is small, so AQE broadcasts it — the big `sets`
    * frame is never re-shuffled. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("doc1"), col("set").as("set1"),
        col("sz").as("sz1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("set").as("set2"),
        col("sz").as("sz2")), "doc2")
      .withColumn("common", size(array_intersect(col("set1"), col("set2"))))
      .withColumn("jaccard",
        col("common") / (col("sz1") + col("sz2") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))

  /** The memoized per-doc shingle-set frame (sets + sizes + PPJoin
    * prefixes) for a (corpus, n, threshold) triple — the substrate every
    * set-based dedup query reuses. Checkpointed even when it cannot
    * memoize: a materialization barrier, without which the multiple scans
    * inside one action would each compute the plan. */
  private[ops] def cachedSets(documents: DataFrame, n: Int,
      threshold: Double): DataFrame =
    Memo.substrate(("sets", n, threshold), documents, materialize = true) {
      shingleSets(shingleCache(documents, n), threshold)
    }

  /** Materialize the dedup substrate (hashed shingles + per-doc shingle
    * sets with PPJoin prefixes) for a corpus ahead of query time. At scale
    * this substrate is a persisted index artifact that exists before any
    * dedup query runs — a production corpus is shingled once at ingest, not
    * once per query — so benchmarks that model the steady state build it in
    * a named warm-up step (see BASELINE.md) and queries pay only their own
    * candidate-generation + verification work. Idempotent. */
  def warmSubstrate(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5): Unit = {
    cachedSets(documents, n, threshold)
    ()
  }

  /** Long-tailed-vocabulary twin of the documents fixture — the fixture
    * for demonstrating PPJoin prefix selectivity. The driver's synthetic
    * corpus has a 31-word vocabulary, so EVERY shingle is corpus-hot and
    * prefix blocking degenerates to all-pairs (the documented d2/d17
    * exact-anchor behavior — a FIXTURE artifact, not an operator one).
    * This twin regenerates each doc_id's text from pure integer
    * arithmetic (LCG-style word hash; a DuckDB oracle rebuilds it
    * verbatim) over a two-tier long-tail vocabulary: half the word slots
    * draw from 50 hot words, half from a 50 000-word tail — so most
    * shingles are corpus-rare and the prefix filter prunes like it does
    * on real text. Planted structure, all seed-deterministic:
    *  - doc_id % 23 == 22 → the first 10 words of seed (doc_id-1): a
    *    small doc quoted wholesale (containment 1.0, Jaccard ~0.3 — the
    *    d17 case d2 misses);
    *  - doc_id % 17 == 16 → seed (doc_id-1)'s words with positions
    *    j % 13 == 5 re-drawn from seed doc_id: a near-dup at Jaccard
    *    ~0.5-0.7;
    *  - otherwise 20 + doc_id % 13 words from seed doc_id.
    * Scales with the input table (sf1's offset doc_ids generate fresh
    * replicas automatically). Output: (doc_id, text). */
  def zipfVocabularyTwin(documents: DataFrame): DataFrame = {
    def w(s: String) = {
      val h = s"((($s) * 48271 + ((j) + 1) * 16807) % 104729)"
      s"concat('w', CAST(CASE WHEN $h % 4 < 2 THEN $h % 50" +
        s" ELSE 50 + ($h % 50000) END AS STRING))"
    }
    val contained =
      s"array_join(transform(sequence(0, 9), j -> ${w("doc_id - 1")}), ' ')"
    val near =
      s"""array_join(transform(sequence(0, 19 + CAST((doc_id - 1) % 13 AS INT)),
         |  j -> CASE WHEN j % 13 = 5 THEN ${w("doc_id")}
         |       ELSE ${w("doc_id - 1")} END), ' ')""".stripMargin
    val normal =
      s"""array_join(transform(sequence(0, 19 + CAST(doc_id % 13 AS INT)),
         |  j -> ${w("doc_id")}), ' ')""".stripMargin
    documents.select(col("doc_id"),
      expr(s"""CASE WHEN doc_id % 23 = 22 THEN $contained
              |WHEN doc_id % 17 = 16 THEN $near
              |ELSE $normal END""".stripMargin).as("text"))
  }

  /** Exact n-gram Jaccard near-dup pairs, prefix-filtered (PPJoin): the
    * default, skew-safe path. Candidates = docs sharing >= 1 PREFIX
    * shingle; exact jaccard >= threshold verifies on full shingle arrays.
    * doc1 < doc2 canonical order. Identical result set to
    * `jaccardPairsDirect` (spec-enforced) at a fraction of the candidate
    * join size on Zipfian corpora. */
  def jaccardPairs(documents: DataFrame, n: Int, threshold: Double): DataFrame =
    // the verified pair set is tiny (near-dups only) and is re-consumed by
    // dedupedCorpus / dupClusters and every query on the same corpus +
    // threshold (d2/d6/d7 in the bench suite) — memoized, same barrier
    Memo.substrate(("jaccard", n, threshold), documents, materialize = true) {
      pairsFromSets(cachedSets(documents, n, threshold), threshold)
    }

  /** PPJoin candidate generation + exact-Jaccard verification over a
    * prepared shingle-set frame (`shingleSets` output) — the core of
    * `jaccardPairs`, reusable on substrate slices. */
  private def pairsFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val pref = sets.select(col("doc_id"), explode(col("prefix")).as("shingle"))
    val cand = pref.toDF("doc1", "shingle")
      .join(pref.toDF("doc2", "shingle"), "shingle")
      .where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2")).distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** Alias kept for the PPJoin name; same implementation as the (now
    * prefix-filtered) default. */
  def jaccardPairsPrefix(documents: DataFrame, n: Int,
      threshold: Double): DataFrame = jaccardPairs(documents, n, threshold)

  /** The unfiltered inverted-index variant: candidates = docs sharing ANY
    * shingle. Smaller constant factor on tiny, uniform-vocabulary corpora
    * (no df pass), but quadratic on hot shingles — use only when the
    * shingle df distribution is known to be flat. Kept as the small-corpus
    * fast path and as the equality oracle for the prefix path's spec. */
  def jaccardPairsDirect(documents: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val sh = shingleCache(documents, n)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val common = sh.toDF("doc1", "shingle")
      .join(sh.toDF("doc2", "shingle"), "shingle")
      .where(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.toDF("doc1", "sz1"), "doc1")
      .join(sizes.toDF("doc2", "sz2"), "doc2")
      .withColumn("jaccard",
        col("common") / (col("sz1") + col("sz2") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /** Overlap-coefficient (containment) near-dup pairs: |A∩B| / min(|A|,|B|)
    * >= threshold — catches a small document quoted wholesale inside a much
    * larger one, which Jaccard misses (the union term drowns the overlap).
    *
    * Candidate generation reuses the PPJoin prefix substrate: containment
    * >= t needs |A∩B| >= ceil(t·|A|) for the SMALLER doc A, so by the same
    * pigeonhole as Jaccard, A's (|A| − ceil(t·|A|) + 1)-rarest-shingle
    * prefix must hit the intersection — i.e. hit SOME shingle of B. The
    * candidate join is therefore prefix(doc) × full shingle index (not
    * prefix × prefix as in Jaccard: the bound only holds against the
    * other doc's FULL set). Hot shingles still mostly vanish from the
    * prefix side, so the join stays O(Σ prefixDf(s)·df(s)) instead of
    * O(Σ df(s)²). Verification is exact over the per-doc arrays.
    * Ref behavior anchor: same role as the reference's keyword-overlap
    * dedup (gmall-realtime-dws/.../split analytics), generalized. */
  /** The SHIFT-CONSISTENT containment rollup shared by d24 (video
    * frames), d27 (text shingle positions) and d28 (quote probe): given
    * matched POSITION pairs `cross(doc1, doc2, k1, k2, na, nb)`, each
    * carrying both docs' position counts, emit (doc1, doc2, containment,
    * containment_any, shift) where `shift` is the pair's dominant offset
    * (most frequent k2−k1, ties to the smallest), `containment` counts
    * only DISTINCT positions matched within ±`tol` of it (a true
    * sub-sequence aligns at ONE shift; a reordered bag scatters), and
    * `containment_any` keeps the any-order fraction as the diagnostic.
    *
    * Cost: two shuffles over the matched-pair frame, both aggregations —
    * pair-output-proportional, never corpus-proportional. The first
    * groups by (doc1, doc2, shift) into a count and the distinct k1 and
    * k2 sets; the second groups by pair, takes the dominant shift as
    * `min(struct(-cnt, shift))` and keeps the per-shift sets, whose
    * flattened distinct sizes are the four match counts. The counts ride
    * along as grouping keys (each is a function of its doc). No window,
    * no join, no multi-distinct Expand.
    *
    * `countBound` drops, before any set is flattened, every pair whose
    * total match count m = Σcnt is below t·min(na, nb) (less 1e-9 of fp
    * slack). Distinct matches never exceed m, so the bound is exact: it
    * only saves work, and the output is the same either way. */
  private[graft] def shiftConsistentRollup(cross: DataFrame,
      threshold: Double, tol: Int, countBound: Boolean = false): DataFrame = {
    require(tol >= 0, "tol must be non-negative")
    val pair = Seq(col("doc1"), col("doc2"), col("na"), col("nb"))
    val pairs = cross
      .groupBy(pair :+ (col("k2") - col("k1")).as("shift"): _*)
      .agg(count(lit(1)).as("cnt"), collect_set(col("k1")).as("s1"),
        collect_set(col("k2")).as("s2"))
      .groupBy(pair: _*)
      .agg(min(struct((-col("cnt")).as("neg_cnt"), col("shift")))
          .getField("shift").as("shift"),
        sum(col("cnt")).as("m"),
        collect_list(struct(col("shift"), col("s1"), col("s2"))).as("by"))
    val bounded = if (!countBound) pairs else pairs.where(col("m") >=
      lit(threshold) * least(col("na"), col("nb")) - lit(1e-9))
    // distinct positions of one side over a list of per-shift sets
    def matched(side: String, by: Column) =
      size(array_distinct(flatten(transform(by, _.getField(side)))))
    val aligned = filter(col("by"),
      b => abs(b.getField("shift") - col("shift")) <= tol)
    bounded
      .withColumn("containment",
        greatest(matched("s1", aligned) / col("na"),
          matched("s2", aligned) / col("nb")))
      .withColumn("containment_any",
        greatest(matched("s1", col("by")) / col("na"),
          matched("s2", col("by")) / col("nb")))
      .where(col("containment") >= threshold)
      .select(col("doc1"), col("doc2"), col("containment"),
        col("containment_any"), col("shift"))
  }

  /** D27 — ALIGNED text containment: the d24 temporal-consistency law
    * applied to token-shingle POSITIONS — two documents pair when ≥
    * `threshold` of either side's n-gram positions match the other AT A
    * CONSISTENT OFFSET (±`tol`). This is the quote/extraction detector
    * the set-based d17 cannot be: d17 sees only the shingle SET, so a
    * document whose two halves are swapped still scores ~1.0 set
    * containment, while no consistent alignment exists — here its
    * matches split across two shifts and the pair never forms (the
    * spec pins that contrast directly).
    *
    * The scale shape is the d2 exact-verify shape, not a blocking
    * scheme: ONE positional shingle self-join (O(Σ df²) rows, streaming
    * — the same family as d2's pair-count join, sf1-proven), collapsed
    * immediately by a PURE-COUNT pre-filter: a pair can only reach the
    * threshold if its total match count m satisfies m ≥ t·min(na, nb)
    * (distinct-matched ≤ m, so the bound is exact — no qualifying pair
    * is lost). The count aggregate is map-side combinable with no
    * Expand and no distinct, so the big join never feeds the expensive
    * stages; the two-shuffle alignment rollup ([[shiftConsistentRollup]])
    * runs on a pair-bounded frame rebuilt for the (tiny) survivor set
    * only. At web scale, compose: pass the survivor-generation corpus
    * through LSH first and run this operator per candidate block (the
    * documented d2/d3 composition); the operator itself stays exact.
    *
    * Output (doc1 < doc2, containment, containment_any, shift).
    * `prefilter = false` disables the count bound (brute force) — the
    * Sf1Check identity that proves the bound drops nothing. */
  def alignedContainmentPairs(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.8, tol: Int = 1,
      prefilter: Boolean = true,
      candidates: Option[DataFrame] = None): DataFrame = {
    require(n >= 1, "shingle width must be positive")
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must sit in (0, 1]")
    val pos = positionalShingles(documents, n)
    val np = pos.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    def leg(d: String, k: String, nn: String) = pos.select(
      col("doc_id").as(d), col("i").as(k), col("shingle"), col("np").as(nn))
    // a supplied candidate frame (doc1, doc2) RESTRICTS the output to
    // those pairs and skips the Σ df² join entirely — the web-scale
    // composition (LSH/minhash candidates feed this), with recall owned
    // by the candidate generator. Restriction-consistency is a law:
    // d27(candidates = C) == d27(full) ∩ C (spec-pinned).
    val surv = candidates match {
      case Some(c) => c.select(col("doc1"), col("doc2"))
      case None if !prefilter => null
      case None =>
        leg("doc1", "k1", "na").join(leg("doc2", "k2", "nb"), "shingle")
          .where(col("doc1") < col("doc2"))
          .groupBy(col("doc1"), col("doc2"))
          .agg(count(lit(1)).as("m"))
          .join(np.select(col("doc_id").as("doc1"), col("n").as("na")),
            "doc1")
          .join(np.select(col("doc_id").as("doc2"), col("n").as("nb")),
            "doc2")
          // the 1e-9 slack only ever ENLARGES the survivor set (fp
          // rounding must not shrink the exact bound)
          .where(col("m") >=
            lit(threshold) * least(col("na"), col("nb")) - lit(1e-9))
          .select(col("doc1"), col("doc2"))
    }
    // survivor cross rebuilt PAIR-BOUNDED (survivors × doc1 positions,
    // probed into the (doc_id, shingle) index) — never a second pass
    // over the Σ df² join
    val cross = (if (surv != null)
        surv.join(leg("doc1", "k1", "na"), "doc1")
          .join(leg("doc2", "k2", "nb"), Seq("doc2", "shingle"))
      else leg("doc1", "k1", "na").join(leg("doc2", "k2", "nb"), "shingle")
        .where(col("doc1") < col("doc2")))
      .select(col("doc1"), col("doc2"), col("k1"), col("k2"), col("na"),
        col("nb"))
    shiftConsistentRollup(cross, threshold, tol)
  }

  /** D28 — QUOTE-LEVEL train/eval decontamination: the d9 shape at d27's
    * precision — a training document is flagged when it shares an
    * ALIGNED run of token shingles with a benchmark document (≥
    * `threshold` of either side's positions matched within ±`tol` of
    * the pair's dominant offset — a verbatim quote or wholesale
    * inclusion, where d9's set-overlap test also fires on topical
    * shingle soup). Bipartite by the d25 discipline: the benchmark side
    * is BROADCAST (eval sets are small by definition), the training
    * positions stream through the shingle probe, and the same
    * pure-count bound filters pairs inside the alignment rollup — output
    * contamination-mass-proportional, never corpus-proportional.
    * Output (doc_id [train], bench_id, containment, containment_any,
    * shift). */
  def quoteContaminationSplitCheck(documents: DataFrame, benchMaxId: Long,
      n: Int = 3, threshold: Double = 0.8, tol: Int = 1,
      prefilter: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must sit in (0, 1]")
    // memoized like the substrates: FIVE consumers share this frame in
    // a release session (d28 audit, d29 burn, d30 plan, e11 drop, e12
    // redact), and at scale flags are computed once per corpus release,
    // not once per downstream job. The frame is
    // contamination-mass-proportional — holding it is config-scale
    // storage however large the corpus.
    Memo.substrate(("quote_flags", benchMaxId, n, threshold, tol, prefilter),
        documents) {
      val pos = positionalShingles(documents, n)
      val train = pos.where(col("doc_id") >= benchMaxId)
        .select(col("doc_id").as("doc1"), col("i").as("k1"), col("shingle"),
          col("np").as("na"))
      quoteProbeCore(train, benchPositions(pos.where(col("doc_id") <
        benchMaxId)), threshold, tol, prefilter)
    }
  }

  /** Shared alignment core of [[quoteContaminationSplitCheck]] and the
    * ONLINE probe [[quoteContaminationProbe]]: bipartite aligned
    * containment of train positions (doc1, k1, shingle, na) against a
    * BROADCAST benchmark position frame (doc2, k2, shingle, nb), where
    * na and nb are the position counts of the row's document.
    *
    * The broadcast probe's matches feed [[shiftConsistentRollup]]
    * directly, with the exact count bound applied inside the rollup, so
    * the corpus-sized train frame is scanned once and never shuffled by
    * doc. `prefilter = false` drops that bound (brute force) — the
    * Sf1Check identity, same contract as alignedContainmentPairs. */
  private def quoteProbeCore(train: DataFrame, bench: DataFrame,
      threshold: Double, tol: Int, prefilter: Boolean): DataFrame = {
    val cross = train.join(broadcast(bench), "shingle")
      .select(col("doc1"), col("doc2"), col("k1"), col("k2"), col("na"),
        col("nb"))
    shiftConsistentRollup(cross, threshold, tol, countBound = prefilter)
      .select(col("doc1").as("doc_id"), col("doc2").as("bench_id"),
        col("containment"), col("containment_any"), col("shift"))
  }

  /** Benchmark positional-shingle frame for the ONLINE d28 probe: one
    * (doc2 = bench_id, k2, shingle, nb) row per n-gram position of the
    * eval holdout, nb its doc's position count. Compute ONCE per stream
    * (eval sets are small by definition; the probe broadcasts this frame
    * into every micro-batch), then feed [[quoteContaminationProbe]]. */
  def benchmarkQuotePositions(benchDocs: DataFrame, n: Int = 3): DataFrame =
    benchPositions(positionsOf(benchDocs, n, memo = false))

  private def benchPositions(pos: DataFrame): DataFrame =
    pos.select(col("doc_id").as("doc2"), col("i").as("k2"), col("shingle"),
      col("np").as("nb"))

  /** The ONLINE d28 leg: aligned quote contamination of `trainDocs` (one
    * micro-batch of arriving text) against a precomputed
    * [[benchmarkQuotePositions]] frame. STATELESS given the benchmark
    * frame — the containment denominators come from the arriving doc
    * itself (na) and the benchmark side (nb), never from cross-batch
    * state — so the union of committed per-batch outputs equals the
    * batch operator on the arrived train docs for ANY arrival order.
    * Positions are built WITHOUT the substrate memo: a long-lived ingest
    * must not accrete one persisted frame per micro-batch. */
  private[graft] def quoteContaminationProbe(trainDocs: DataFrame,
      benchPos: DataFrame, n: Int = 3, threshold: Double = 0.8,
      tol: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must sit in (0, 1]")
    // bench members are excluded HERE, not by the caller: an id on both
    // sides would match itself at every position and flag as its own
    // quote — and anti-joining the raw docs also skips tokenizing them
    val tpos = positionsOf(trainDocs.join(
      benchPos.select(col("doc2").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"), n, memo = false)
    val train = tpos.select(col("doc_id").as("doc1"), col("i").as("k1"),
      col("shingle"), col("np").as("na"))
    quoteProbeCore(train, benchPos, threshold, tol, prefilter = true)
  }

  /** D29 — the QUOTE burn report: [[quoteContaminationSplitCheck]]'s
    * flags rolled up per benchmark item — which eval items are
    * quote-compromised for ANY model trained elsewhere, by how many
    * training docs, how completely, and since which doc. The text twin
    * of the media burn report (`Multimodal.benchmarkBurnReport`): e11
    * drops the TRAINING side; this is the retire-this-item evidence for
    * the benchmark side. Output (bench_id, n_train, max_containment,
    * first_train), contamination-mass-proportional. */
  def quoteBurnReport(documents: DataFrame, benchMaxId: Long, n: Int = 3,
      threshold: Double = 0.8, tol: Int = 1): DataFrame =
    quoteContaminationSplitCheck(documents, benchMaxId, n, threshold, tol)
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_train"),
        max(col("containment")).as("max_containment"),
        min(col("doc_id")).as("first_train"))

  /** D30 — SURGICAL decontamination plan: for every d28-flagged
    * (train, bench) pair, the exact 1-based token spans of the quoted
    * runs inside the TRAINING doc — the alternative to e11's whole-doc
    * drop when the doc is valuable and only its quotation must go
    * (cut the spans, keep the prose). Emitted as a PLAN
    * (doc_id, bench_id, shift, span_start, span_end, n_positions), not
    * re-rendered text: tokenization normalizes case/punctuation, so
    * only the caller holding the original text can splice faithfully.
    *
    * Span semantics (the surgical contract):
    *  - matched positions are grouped per (pair, EXACT shift k2 − k1),
    *    and EVERY shift whose distinct-matched mass reaches
    *    `minPositions` emits spans — not just the pair's dominant
    *    shift, so a doc quoting the same benchmark item TWICE at two
    *    different offsets has both quotes covered (the d28 flag only
    *    records the dominant one). The pair's dominant (max-mass)
    *    shift ALWAYS qualifies, floor or not: a flagged pair must
    *    never emit zero spans — a short bench item quoted verbatim
    *    flags at containment 1.0 with fewer than `minPositions`
    *    matched windows, and the downstream surgical release (e12/e13)
    *    would otherwise ship the verbatim quote uncut;
    *  - within a qualifying shift, matched k1 positions are
    *    ISLAND-MERGED (the d14 lag + running-sum span machinery): a new
    *    span starts when a position clears the previous window's
    *    coverage (k1 > prev + n), so two disjoint runs at the SAME
    *    alignment yield two spans and the innocent prose between them
    *    is NOT redacted. Each span is [min k1, max k1 + n − 1].
    *    `minPositions` keeps an incidental single-shingle collision at
    *    some stray shift from redacting real prose.
    *
    * Scale: the span rebuild is PAIR-BOUNDED — flagged pairs join back
    * into the positional substrate (benchmark side broadcast), never a
    * second Σ df² pass; the island window partitions by
    * (pair, shift), never unpartitioned. */
  def quoteRedactionSpans(documents: DataFrame, benchMaxId: Long,
      n: Int = 3, threshold: Double = 0.8, tol: Int = 1,
      minPositions: Int = 3): DataFrame =
    // memoized like the d28 flags one stage upstream: NINE consumers
    // share this frame in a release session (d30 plan, d33 char lift,
    // e12/e13 packs, e15 splice, e16/e17/e18/e19 compositions, audit5's
    // funnel), and at scale the span plan is derived once per corpus
    // release, not once per downstream artifact. The frame is
    // flag-bounded (pairs x shifts x islands) — holding it is
    // contamination-mass-scale storage however large the corpus.
    Memo.substrate(
        ("quote_spans", benchMaxId, n, threshold, tol, minPositions),
        documents) {
      val flagged = quoteContaminationSplitCheck(documents, benchMaxId, n,
        threshold, tol)
        .select(col("doc_id").as("doc1"), col("bench_id").as("doc2"))
      val pos = positionalShingles(documents, n)
      val train = pos.select(col("doc_id").as("doc1"), col("i").as("k1"),
        col("shingle"))
      redactionSpansCore(flagged, train,
        benchPositions(pos.where(col("doc_id") < benchMaxId)), n,
        minPositions)
    }

  /** Shared span-rebuild core of [[quoteRedactionSpans]] and the
    * streamed variant (`Streams.quoteRedactionFromIngest`): flagged
    * (doc1 = train, doc2 = bench) pairs joined back into positional
    * frames, grouped per exact shift, mass-floored, island-merged.
    * `bench` is broadcast (eval sets are small by definition). */
  private[graft] def redactionSpansCore(flagged: DataFrame,
      train: DataFrame, bench: DataFrame, n: Int,
      minPositions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minPositions >= 1, "minPositions must be positive")
    // distinct (pair, shift, k1): one k1 matching several bench k2 at
    // the same shift (a repeated shingle inside the bench item) counts
    // once toward mass and once toward its island
    val matched = flagged
      .join(train, "doc1")
      .join(broadcast(bench), Seq("doc2", "shingle"))
      .select(col("doc1"), col("doc2"),
        (col("k2") - col("k1")).as("shift"), col("k1"))
      .distinct()
    // a shift qualifies at the mass floor OR as the pair's dominant
    // (max-mass) shift: the floor alone would let a d28-FLAGGED pair
    // emit ZERO spans — a short bench item (< minPositions + n - 1
    // tokens) quoted verbatim flags at containment 1.0 with only 1-2
    // matched positions, and the "surgical" release would then ship the
    // verbatim quote the plan exists to cut. Dominant-shift ties all
    // qualify (a quote whose matches split evenly across two adjacent
    // shifts gets both covered).
    import org.apache.spark.sql.expressions.{Window => QW}
    val qualifying = matched
      .groupBy(col("doc1"), col("doc2"), col("shift"))
      .agg(count(lit(1)).as("mass"))
      .withColumn("mx", max(col("mass")).over(
        QW.partitionBy(col("doc1"), col("doc2"))))
      .where(col("mass") >= minPositions || col("mass") === col("mx"))
      .select(col("doc1"), col("doc2"), col("shift"))
    val byRun = Window.partitionBy(col("doc1"), col("doc2"), col("shift"))
      .orderBy(col("k1"))
    matched.join(qualifying, Seq("doc1", "doc2", "shift"))
      .withColumn("ns",
        when(lag(col("k1"), 1).over(byRun).isNull
          || col("k1") > lag(col("k1"), 1).over(byRun) + n, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("ns")).over(
        byRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc1"), col("doc2"), col("shift"), col("sid"))
      .agg(min(col("k1")).as("span_start"),
        (max(col("k1")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_positions"))
      .select(col("doc1").as("doc_id"), col("doc2").as("bench_id"),
        col("shift").cast("int").as("shift"),
        col("span_start"), col("span_end"), col("n_positions"))
  }

  /** D33 — the d30 plan lifted to CHAR space: every redaction span with
    * the ORIGINAL-string char range of its covered tokens, so the text
    * holder can actually splice (d30 alone indexes tokenize space,
    * which normalizes case/punctuation — round-15 "What's missing" #3).
    * char_start = the span's first token's start char (0-based
    * inclusive), char_end = its last token's end char (exclusive);
    * interior separators between covered tokens are inside the range
    * (they carry no content once both neighbors go), separators at the
    * span edges stay with the surviving prose.
    *
    * Offsets are deterministic given the text (the tokenizer contract),
    * so the whole output stays hash-gateable — the DuckDB twin rebuilds
    * them from cumulative token/gap lengths.
    *
    * Scale: spans are flag-bounded and ONLY flagged docs are
    * re-tokenized with offsets (left-semi before the UDF) — no second
    * corpus-wide pass beyond d30's own. */
  def quoteRedactionCharSpans(documents: DataFrame, benchMaxId: Long,
      n: Int = 3, threshold: Double = 0.8, tol: Int = 1,
      minPositions: Int = 3): DataFrame =
    withCharSpans(
      quoteRedactionSpans(documents, benchMaxId, n, threshold, tol,
        minPositions), documents)

  /** Attach char ranges to any (doc_id, span_start, span_end) plan in
    * tokenize space — the shared lift of [[quoteRedactionCharSpans]]
    * and the e15 splice (`Pipeline.redactedText`). Tokenizes WITH
    * offsets only the docs the plan names. */
  private[graft] def withCharSpans(spanPlan: DataFrame,
      documents: DataFrame): DataFrame = {
    val offs = tokenOffsetsFor(documents, spanPlan)
    spanPlan.join(offs, "doc_id")
      .withColumn("char_start",
        element_at(col("offs"), col("span_start").cast("int"))("cs"))
      .withColumn("char_end",
        element_at(col("offs"), col("span_end").cast("int"))("ce"))
      .drop("offs")
  }

  /** The (doc_id, offs) token-offset frame for exactly the docs a plan
    * names — tokenize-with-offsets ONLY those docs (left-semi before
    * the UDF), localCheckpointed: the frame feeds multiple element_at
    * probes and an interpreted UDF re-inlined through a join would
    * re-tokenize per span row (the CollapseProject pathology).
    * Shared by [[withCharSpans]] (d33) and the e15 splice lift
    * (`Pipeline.redactedTextFromSpans`). */
  private[graft] def tokenOffsetsFor(documents: DataFrame,
      ids: DataFrame): DataFrame =
    documents
      .join(ids.select(col("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"),
        graft.functions.Text.tokenizeOffsetsUdf(col("text")).as("offs"))
      .localCheckpoint()

  /** [[quoteRedactionSpans]] from PRECOMPUTED d28 flags — the streamed
    * composition: `flags` carries (doc_id, bench_id) rows (the online
    * probe's committed output), `trainDocs`/`benchDocs` supply the text.
    * Positions are built without the substrate memo (the per-call
    * form); only flagged training docs are tokenized — the rebuild is
    * flag-bounded end to end. */
  private[graft] def redactionSpansFromFlags(flags: DataFrame,
      trainDocs: DataFrame, benchDocs: DataFrame, n: Int = 3,
      minPositions: Int = 3): DataFrame = {
    val flagged = flags
      .select(col("doc_id").as("doc1"), col("bench_id").as("doc2"))
      .distinct()
    val tpos = positionsOf(
      trainDocs.join(flagged.select(col("doc1").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), n, memo = false)
    val train = tpos.select(col("doc_id").as("doc1"), col("i").as("k1"),
      col("shingle"))
    val bench = benchmarkQuotePositions(benchDocs, n)
    redactionSpansCore(flagged, train, bench, n, minPositions)
  }

  /** The memoized positional-shingle substrate of d27/d28:
    * (doc_id, i, shingle-hash, np) over FULL n-windows only (docs shorter
    * than n tokens have no positions and never pair), np the doc's
    * position count — memoized, so a session running both aligned ops
    * (or one op twice) builds it once. The empty-window guard must not
    * hit sequence(1, 0) — that DESCENDS to [1, 0] instead of emitting
    * nothing. */
  private def positionalShingles(documents: DataFrame, n: Int): DataFrame =
    Memo.substrate(("positions", n), documents) {
      positionsOf(documents, n, memo = true)
    }

  /** [[positionalShingles]] body, over the token memo or (`memo = false`)
    * tokenizing inline — the per-micro-batch form
    * ([[quoteContaminationProbe]]) and the once-per-stream benchmark
    * frame (which the caller checkpoints itself). */
  private def positionsOf(documents: DataFrame, n: Int,
      memo: Boolean): DataFrame = {
    val empty = slice(array(lit(1)), 1, 0)
    val wins = when(size(col("toks")) >= n,
      sequence(lit(1), size(col("toks")) - (n - 1))).otherwise(empty)
    (if (memo) tokenCache(documents) else tokens(documents))
      .select(col("doc_id"), col("toks"), explode(wins).as("i"))
      .select(col("doc_id"), col("i"),
        xxhash64(concat_ws(" ", slice(col("toks"), col("i"), lit(n))))
          .as("shingle"),
        (size(col("toks")) - (n - 1)).as("np"))
  }

  def containmentPairs(documents: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    val sets = cachedSets(documents, n, threshold)
    val pref = sets.select(col("doc_id"), explode(col("prefix")).as("shingle"))
    val full = shingleCache(documents, n)
    val cand = pref.toDF("da", "shingle")
      .join(full.toDF("db", "shingle"), "shingle")
      .where(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc1"),
        greatest(col("da"), col("db")).as("doc2"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc1"), col("set").as("set1"),
        col("sz").as("sz1")), "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("set").as("set2"),
        col("sz").as("sz2")), "doc2")
      .withColumn("common", size(array_intersect(col("set1"), col("set2"))))
      .withColumn("containment",
        col("common") / least(col("sz1"), col("sz2")))
      .where(col("containment") >= threshold)
      .select(col("doc1"), col("doc2"), col("containment"))
  }

  /** MinHash signature: `numHashes` permutation-min hashes over the shingle
    * set. h_i(s) = mix(xxhash64(s) * A_i + B_i) with fixed odd constants —
    * deterministic, no stored hash family. Signature laid out as
    * (doc_id, hash_idx, min_hash) rows grouped into band arrays.
    */
  def minhashBands(documents: DataFrame, n: Int, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sh = shingleCache(documents, n)
    val hashCols = (0 until numHashes).map { i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i")
    }
    val sig = sh.groupBy(col("doc_id")).agg(hashCols.head, hashCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"h$i")): _*).as("band_sig"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.band_sig").as("band_sig"))
  }

  /** MinHash+LSH candidate pairs: docs agreeing on >=1 full band. */
  def minhashCandidates(documents: DataFrame, n: Int = 3,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val b = minhashBands(documents, n, numHashes, bands)
    b.toDF("doc1", "band", "band_sig")
      .join(b.toDF("doc2", "band", "band_sig"), Seq("band", "band_sig"))
      .where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2")).distinct()
  }

  /** MinHash+LSH near-dup pairs: candidates verified by exact Jaccard over
    * per-doc shingle arrays. ONE groupBy(doc_id) over the cached shingle
    * substrate computes the full shingle array, its size, AND all minhash
    * components together; that small per-doc frame is localCheckpoint'ed
    * and feeds both the band join (candidates) and the verification — the
    * corpus is never re-exploded or re-aggregated. */
  def minhashDuplicates(documents: DataFrame, n: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingleCache(documents, n)
    val hashCols = (0 until numHashes).map { i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i")
    }
    val aggCols = collect_list(col("shingle")).as("set") +:
      count(lit(1)).as("sz") +: hashCols
    val docs = sh.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint()
    val sets = docs.select(col("doc_id"), col("set"), col("sz"))
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"h$i")): _*).as("band_sig"))
    }
    val bandRows = docs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.band_sig").as("band_sig"))
    val cand = bandRows.toDF("doc1", "band", "band_sig")
      .join(bandRows.toDF("doc2", "band", "band_sig"), Seq("band", "band_sig"))
      .where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2")).distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** The MMDS banding rule (Leskovec/Rajaraman/Ullman ch. 3): among the
    * (bands, rows) layouts with bands · rows == numHashes, the LSH
    * S-curve `1 − (1 − t^rows)^bands` inflects at t ≈
    * (1/bands)^(1/rows); pick the layout whose inflection sits NEAREST
    * the target Jaccard threshold, so candidate recall collapses
    * exactly where the verifier stops accepting. Ties (two layouts
    * equidistant) break toward MORE bands — recall over candidate
    * precision, because the pipeline verifies candidates with exact
    * Jaccard anyway: a false positive costs one verification, a false
    * negative ships a duplicate. At the corpus defaults this resolves
    * to (8, 4) for threshold 0.5 over 32 hashes — i.e. the d3 layout
    * the engine has shipped all along is the rule's own optimum
    * (spec-pinned), and a run at a different threshold now gets its
    * matched layout instead of inheriting d3's. */
  def lshBandingFor(threshold: Double, numHashes: Int = 32): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      "threshold must sit in (0, 1)")
    require(numHashes >= 1, "numHashes must be >= 1")
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) =>
        (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), -b) }
  }

  /** [[minhashDuplicates]] at the [[lshBandingFor]]-resolved band
    * layout — the auto form of the d3 engine: the caller states the
    * similarity it means to catch and the banding follows, the same
    * knob-resolution discipline as `semdedupPairsAuto` /
    * `Similarity.contaminationKnobs`. Equality contract (spec-pinned):
    * == the fixed-layout op at the resolved bands; at the corpus
    * defaults (0.5, 32) that IS d3 row for row. */
  def minhashDuplicatesAuto(documents: DataFrame, n: Int = 3,
      numHashes: Int = 32, threshold: Double = 0.5): DataFrame = {
    val (bands, _) = lshBandingFor(threshold, numHashes)
    minhashDuplicates(documents, n, numHashes, bands, threshold)
  }

  /** End-to-end dedup pass: drop every doc that is an exact OR near
    * duplicate (n-gram Jaccard >= threshold) of a lower-id keeper — the
    * "deduplicate the corpus" pipeline a training-data run executes.
    * Anti-join against the duplicate side keeps the plan shuffle-light:
    * candidates come from the prefix-filtered path, never a cross join. */
  def dedupedCorpus(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val dupIds = jaccardPairs(documents, n, threshold)
      .select(col("doc2").as("doc_id")).distinct()
    documents.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Fuzzy verification of candidate pairs by edit distance: levenshtein
    * over normalized 40-char prefixes (bounded cost per pair) — the
    * string-similarity check that complements set-based Jaccard. Candidates
    * come from MinHash+LSH banding (`minhashCandidates`), never an
    * unfiltered all-shingle self-join, so the pair count stays O(n·bands)
    * on skewed corpora. */
  def editDistancePairs(documents: DataFrame, maxDist: Int = 10): DataFrame = {
    val cand = minhashCandidates(documents, 3)
    val prefix = documents.select(col("doc_id"),
      substring(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")),
        1, 40).as("p"))
    cand
      .join(prefix.toDF("doc1", "p1"), "doc1")
      .join(prefix.toDF("doc2", "p2"), "doc2")
      .select(col("doc1"), col("doc2"),
        levenshtein(col("p1"), col("p2")).as("edit_dist"))
      .where(col("edit_dist") <= maxDist)
  }

  /** Incremental dedup — classify each doc of a NEW batch against an
    * EXISTING corpus and against lower-id batch peers, without
    * re-deduplicating the corpus:
    *
    *   exact_dup  same normalized fingerprint as a corpus doc or a
    *              lower-id batch doc
    *   near_dup   n-gram jaccard >= threshold with such a doc
    *   keep       neither
    *
    * Returns (doc_id, decision, dup_of) with dup_of = the smallest
    * matching partner id (null for keep).
    *
    * Scale shape: only the BATCH side is fully processed; the corpus
    * contributes its (cached / at scale: persisted-index) shingle frame
    * and fingerprints. Cross-candidates come from the batch docs' PREFIX
    * shingles only — one-sided prefix filtering is exact (if no prefix
    * shingle of a batch doc hits a corpus doc, their overlap is at most
    * ceil(t·sz_batch) - 1 < the overlap any jaccard >= t pair needs), so
    * no qualifying pair is missed while hot corpus shingles stay out of
    * the probe set. */
  def incrementalDedup(corpus: DataFrame, newDocs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val cSh = shingleCache(corpus, n)
    val bSets = cachedSets(newDocs, n, threshold)
    // batch-internal near pairs: the standard pair path on the batch
    // (jaccardPairs' internal set frame is the same plan as bSets, so the
    // cache built above serves it)
    incrementalCore(corpusFpOf(corpus), newDocs, cSh, bSets,
      jaccardPairs(newDocs, n, threshold), threshold)
  }

  private def corpusFpOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id").as("partner"), md5(normText).as("fp"))

  /** Persist the corpus dedup index as a DURABLE artifact — the form the
    * `incrementalDedup` scaladoc's "at scale: persisted-index" posture
    * actually deploys: per-doc normalized-content fingerprints plus the
    * hashed shingle postings, written once at ingest. A daily batch then
    * dedups against 100 TB of corpus while READING ONLY THE INDEX (two
    * narrow columnar tables), never the corpus text. */
  def writeDedupIndex(documents: DataFrame, dir: String, n: Int = 3): Unit = {
    documents.select(col("doc_id"), md5(normText).as("fp"))
      .write.mode("overwrite").parquet(s"$dir/fp")
    shingleCache(documents, n)
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** `incrementalDedup` against the durable index instead of the live
    * corpus — decision-for-decision identical (parity spec): the corpus
    * side contributes exactly its fingerprints and shingle postings in
    * both forms. */
  def incrementalDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newDocs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    incrementalDedupAgainst(
      spark.read.parquet(s"$indexDir/fp")
        .select(col("doc_id").as("partner"), col("fp")),
      spark.read.parquet(s"$indexDir/shingles")
        .select(col("doc_id"), col("shingle")),
      newDocs, n, threshold)

  /** The index-frame form: classify `newDocs` against corpus fingerprints
    * (`partner`, `fp`) and shingle postings (`doc_id`, `shingle` —
    * xxhash64 of the word n-gram, the `writeDedupIndex` layout) supplied
    * as DataFrames from any source — the live corpus, the durable
    * artifact, or a streaming sink's accumulated index. */
  def incrementalDedupAgainst(corpusFp: DataFrame, corpusSh: DataFrame,
      newDocs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // the batch side is computed inline, never memoized: a streaming
    // sink's micro-batch frames would each pin a memo entry
    val bSets = shingleSets(shingles(newDocs, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")),
      threshold)
    incrementalCore(corpusFp, newDocs, corpusSh, bSets,
      pairsFromSets(bSets, threshold), threshold)
  }

  /** Append one batch's slice to the durable index. Each batch writes
    * its OWN hive partition (`bid=N`) with overwrite — IDEMPOTENT per
    * bid, so an at-least-once replay (or a crash between the index
    * append and the corpus commit) simply rewrites the same directory
    * instead of leaving duplicate postings that would understate Jaccard
    * downstream. Readers (`Streams.dedupIngestSink`) filter to the
    * committed frontier, which is a partition-pruning predicate here. */
  def appendDedupIndex(docs: DataFrame, fpDir: String, shDir: String,
      bid: Long, n: Int = 3): Unit = {
    docs.select(col("doc_id"), md5(normText).as("fp"))
      .write.mode("overwrite").parquet(s"$fpDir/bid=$bid")
    shingles(docs, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .write.mode("overwrite").parquet(s"$shDir/bid=$bid")
  }

  /** `incrementalDedup` where the batch is the `doc_id < batchMaxId` slice
    * of one parent corpus frame: every shingle frame — corpus index, batch
    * sets, batch prefixes — is an id-range FILTER of the parent's memoized
    * shingle substrate, so a pre-warmed substrate (or any earlier dedup
    * query on the parent) means no text is ever re-shingled. Results are
    * identical to `incrementalDedup(parent slices)`: prefix-filter
    * completeness holds for any fixed per-doc shingle order (pigeonhole on
    * the overlap bound), so the df-order source does not affect the
    * verified output. */
  def incrementalDedupSplit(documents: DataFrame, batchMaxId: Long,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val parentSh = shingleCache(documents, n)
    val corpus = documents.where(col("doc_id") >= batchMaxId)
    val newDocs = documents.where(col("doc_id") < batchMaxId)
    val cSh = parentSh.where(col("doc_id") >= batchMaxId)
    // the batch side is small by definition — localCheckpoint, not persist
    val bSets = shingleSets(parentSh.where(col("doc_id") < batchMaxId),
      threshold).localCheckpoint()
    incrementalCore(corpusFpOf(corpus), newDocs, cSh, bSets,
      pairsFromSets(bSets, threshold), threshold)
  }

  /** Shared body of the incremental-dedup variants. `corpusFp` is the
    * corpus (partner, fp) fingerprint table, `cSh` the corpus (doc_id,
    * hashed shingle) index, `bSets` the batch shingle-set frame with
    * PPJoin prefixes, `within` the verified batch-internal near-dup
    * pairs. Only the batch side is fully processed; the corpus
    * contributes its index and fingerprints — both can come live from
    * the corpus docs or from the durable artifact `writeDedupIndex`
    * wrote (see `incrementalDedup` doc). */
  private def incrementalCore(corpusFp: DataFrame, newDocs: DataFrame,
      cSh: DataFrame, bSets: DataFrame, within: DataFrame,
      threshold: Double): DataFrame = {
    val fpCol = md5(normText)
    // fingerprint partners: corpus docs, or batch docs with a smaller id
    val allFp = corpusFp
      .select(col("partner"), col("fp"), lit(true).as("in_corpus"))
      .unionByName(newDocs.select(col("doc_id").as("partner"), fpCol.as("fp"),
        lit(false).as("in_corpus")))
    val exactPartners = newDocs.select(col("doc_id"), fpCol.as("fp"))
      .join(allFp, "fp")
      .where(col("in_corpus") || col("partner") < col("doc_id"))
      .select(col("doc_id"), col("partner"), lit(true).as("is_exact"))

    // near partners, batch x corpus: batch prefix probes the corpus index.
    // collect_set + size (not collect_list + count): shingles are per-doc
    // distinct at the source (array_distinct before the explode), so for a
    // clean index this is identical — but an index carrying duplicated
    // postings (e.g. a crash-replayed append before the per-bid writes
    // became idempotent) must not double `csz` and silently halve Jaccard
    val cSets = cSh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("set"))
      .withColumn("sz", size(col("set")).cast("long"))
    val probe = bSets.select(col("doc_id"),
      explode(col("prefix")).as("shingle"))
    val candCross = probe
      .join(cSh.toDF("partner", "shingle"), "shingle")
      .select(col("doc_id"), col("partner")).distinct()
    val crossVerified = candCross
      .join(bSets.select(col("doc_id"), col("set").as("bset"),
        col("sz").as("bsz")), "doc_id")
      .join(cSets.select(col("doc_id").as("partner"), col("set").as("cset"),
        col("sz").as("csz")), "partner")
      .withColumn("common", size(array_intersect(col("bset"), col("cset"))))
      .where(col("common") / (col("bsz") + col("csz") - col("common"))
        >= threshold)
      .select(col("doc_id"), col("partner"))

    val nearPartners = within
      .select(col("doc2").as("doc_id"), col("doc1").as("partner"))
      .unionByName(crossVerified)
      .select(col("doc_id"), col("partner"), lit(false).as("is_exact"))

    val partners = exactPartners.unionByName(nearPartners)
      .groupBy(col("doc_id"))
      .agg(max(col("is_exact")).as("any_exact"),
        min(col("partner")).as("dup_of"))
    newDocs.select(col("doc_id"))
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("any_exact"), "exact_dup")
          .when(col("dup_of").isNotNull, "near_dup")
          .otherwise("keep").as("decision"),
        col("dup_of"))
  }

  /** Benchmark-contamination check (decontamination pre-pass): corpus docs
    * sharing >= minOverlap distinct n-gram shingles with any benchmark doc.
    * The benchmark side is tiny (an eval set), so its shingle index
    * broadcasts — the corpus streams through one narrow join, no self-join
    * at all. Returns (doc_id, bench_id, overlap).
    *
    * Corpus and benchmark ids are frequently sliced from ONE id space (an
    * in-place holdout check), so equal-id pairs are filtered here: without
    * the guard every doc shared between the frames reports itself as
    * maximal contamination. Callers with genuinely independent id spaces
    * that must keep colliding-id pairs should use
    * [[contaminationFromShingles]], which applies no guard. */
  def contaminationCheck(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3, minOverlap: Int = 5): DataFrame =
    contaminationFromShingles(
      shingleCache(corpus, n),
      shingles(benchmark, n)
        .select(col("doc_id").as("bench_id"),
          xxhash64(col("shingle")).as("shingle")),
      minOverlap)
      .where(col("doc_id") =!= col("bench_id"))

  /** `contaminationCheck` where the benchmark is the `doc_id < benchMaxId`
    * slice of one parent corpus (the common eval-holdout layout): both
    * shingle frames are id-range filters of the parent's memoized shingle
    * substrate, so nothing is shingled twice and a pre-warmed substrate
    * (warmSubstrate / an earlier dedup query) serves both sides. */
  def contaminationSplitCheck(documents: DataFrame, benchMaxId: Long,
      n: Int = 3, minOverlap: Int = 5): DataFrame = {
    val fullSh = shingleCache(documents, n)
    contaminationFromShingles(
      fullSh.where(col("doc_id") >= benchMaxId),
      fullSh.where(col("doc_id") < benchMaxId)
        .select(col("doc_id").as("bench_id"), col("shingle")),
      minOverlap)
  }

  /** `contaminationCheck` with both shingle frames supplied by the caller —
    * the substrate-sharing form. When corpus and benchmark are id-ranges of
    * one parent corpus, both sides are FILTERS of the parent's memoized
    * shingle substrate ((doc_id, xxhash64 shingle) rows), so the pipeline
    * never shingles the same text twice (see Pipeline.trainingCorpus). */
  def contaminationFromShingles(corpusSh: DataFrame, benchSh: DataFrame,
      minOverlap: Int = 5): DataFrame =
    // NO doc_id =!= bench_id guard here: the two frames have independent
    // id spaces, so a numeric id collision is NOT a self-pair — filtering
    // it would hide real contamination. The split form can't produce
    // self-pairs at all (its id ranges are disjoint by construction).
    corpusSh
      .join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)

  /** Cross-SOURCE overlap matrix: for every pair of sources, how many
    * distinct n-gram shingles they share — the curation diagnostic that
    * shows which corpus components mirror/syndicate each other (and
    * therefore double-count under a per-source mixing plan). Scale
    * shape: the corpus-size work is one doc_id-keyed join to tag the
    * substrate with sources and one distinct down to (source, shingle);
    * after that the shingle self-join fans out at most
    * |sources| choose 2 per shingle — bounded by the (tiny) source
    * vocabulary, never by document frequency, so a boilerplate shingle
    * in 10^6 docs still contributes exactly one unit per source pair. */
  def sourceOverlap(documents: DataFrame, n: Int = 3): DataFrame = {
    val ss = shingleCache(documents, n)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle")).distinct()
    ss.as("a")
      .join(ss.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
  }

  /** Per-document n-gram NOVELTY against a held-in reference slice — the
    * memorization/coverage score a curation pipeline reports per candidate
    * document: what fraction of the doc's distinct n-gram shingles never
    * occur in the reference corpus. The split is the content-stable md5
    * hash of `doc_id` (`Sampling.fractionThreshold` semantics), so
    * reference membership is a scan-level predicate on the memoized
    * shingle substrate — proportional at every corpus size, no id-range
    * assumptions, zero extra joins to tag rows.
    *
    * Scale shape: both sides are filters of ONE shingleCache pass; the
    * only wide ops are the reference `distinct` and the eval-to-reference
    * left join, both shuffled on the (xxhash64) shingle key. Counters stay
    * integer; `novelty` is the one derived double, rounded to 6dp. */
  def ngramNovelty(documents: DataFrame, refFraction: Double = 0.8,
      n: Int = 3): DataFrame = {
    val isRef = graft.ops.Sampling.contentHash("doc_id") <
      lit(graft.ops.Sampling.fractionThreshold(refFraction))
    val sh = shingleCache(documents, n).withColumn("is_ref", isRef)
    val ref = sh.where(col("is_ref")).select(col("shingle")).distinct()
    sh.where(!col("is_ref"))
      .join(ref.withColumn("hit", lit(1L)), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen") / col("n_shingles"), 6))
  }

  /** Connected components over the near-dup pair graph: min-label
    * propagation WITH pointer jumping until fixpoint (transitive closure of
    * "is a near-dup of"). Each doc ends with cluster_id = smallest doc_id
    * reachable through dup edges — the canonical representative.
    *
    * Scale notes: only nodes that appear in a pair propagate (a tiny
    * fraction of the corpus), so iterations join frames of O(|dup docs|).
    * Each round a node adopts min(own label, neighbor labels) and then
    * JUMPS to that label's own label (label-of-label shortcutting), giving
    * O(log diameter) rounds instead of O(diameter). Every iteration
    * `localCheckpoint()`s the label frame — the logical plan stays one join
    * deep instead of growing per round — and the convergence signal is a
    * `changed` flag computed INSIDE the propagation job, so checking it is
    * a cheap scan of the checkpointed frame, not an extra join.
    */
  def dupClusters(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxIter: Int = 10): DataFrame =
    clustersFromPairs(documents.select(col("doc_id")),
      jaccardPairs(documents, n, threshold), maxIter)

  /** Quality-aware dedup keeper rule: within every near-dup cluster keep
    * the HIGHEST-quality document (model score, ties to the smaller
    * doc_id) instead of d6's smallest-id convention — the curation
    * policy production dedup actually wants ("of these 40 mirrors, keep
    * the cleanest"). Composes the d7 cluster assignment with the q1
    * score; both windows share one cluster_id-keyed shuffle. Output is
    * one row per cluster: keeper, member count, and the 6dp score the
    * keeper won with (exact across engines — the score is the value q1
    * already hash-matches). */
  def bestOfCluster(documents: DataFrame): DataFrame = {
    val clusters = dupClusters(documents)
    val scores = TextAnalysis.modelQualityScore(documents)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    val j = clusters.join(scores, "doc_id")
      .withColumn("rn", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(w))
    j.where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_doc"),
        col("n_members"), col("score").as("best_score"))
  }

  /** Connected components over an explicit (doc1, doc2) pair frame —
    * `dupClusters` with the candidate generator factored out, so any
    * near-dup variant (minhash, simhash, embedding) or a synthetic graph
    * can be clustered with the same propagation loop. */
  def clustersFromPairs(docIds: DataFrame, pairFrame: DataFrame,
      maxIter: Int = 10): DataFrame = {
    val pairs = pairFrame
      .select(col("doc1"), col("doc2")).localCheckpoint()
    val edges = pairs
      .union(pairs.select(col("doc2").as("doc1"), col("doc1").as("doc2")))
      .localCheckpoint()
    var labels = edges.select(col("doc1").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")).localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // each node adopts min(own label, neighbors' labels) ...
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "doc2"), Seq("doc2"))
        .groupBy(col("doc1").as("doc_id"))
        .agg(min(col("cluster_id")).as("n_min"))
      val stepped = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("mid"))
      // ... then jumps to that label's own label (every label VALUE is a
      // graph node, so the lookup is a self-join on the label frame);
      // labels are monotone non-increasing and bounded below by the
      // component minimum, so the shortcut halves remaining diameter
      val next = stepped
        .join(labels.select(col("doc_id").as("mid"),
          col("cluster_id").as("mid_lab")), Seq("mid"), "left")
        .select(col("doc_id"), col("cluster_id").as("old_lab"),
          least(col("mid"), coalesce(col("mid_lab"), col("mid")))
            .as("cluster_id"))
        .withColumn("changed", col("cluster_id") =!= col("old_lab"))
        .localCheckpoint()
      it += 1
      // the changed flag was computed inside the propagation job — the
      // convergence check is a narrow scan of checkpointed blocks
      converged = next.where(col("changed")).isEmpty
      labels = next.select(col("doc_id"), col("cluster_id"))
    }
    docIds.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Sub-document segment frame for line/paragraph-level dedup: distinct
    * non-overlapping `segWords`-word segments per document (the C4 /
    * RefinedWeb boilerplate-removal unit, adapted to the flat word-stream
    * test corpus where no newline structure exists; with real documents
    * the same pipeline runs on lines or paragraphs). Construction is
    * entirely narrow — tokenize, slice, in-array distinct, explode — the
    * first shuffle is whatever the consumer does with the segments. */
  def docSegments(documents: DataFrame, segWords: Int = 8): DataFrame =
    docSegmentsStrided(documents, segWords, segWords)

  /** `docSegments` with an explicit window stride. stride == segWords is
    * the tiling d11 uses (cheapest, alignment-sensitive); stride == 1
    * emits EVERY k-word window — the alignment-free form exact-substring
    * dedup wants: two docs sharing any k-word run share a window
    * regardless of where the run sits in either doc. Output grows by
    * segWords/stride, nothing else changes shape-wise. */
  def docSegmentsStrided(documents: DataFrame, segWords: Int,
      stride: Int): DataFrame = {
    require(stride >= 1 && segWords >= 1, "segWords and stride must be >= 1")
    // same tokenizer as the shingle substrate (CJK-aware bigrams, Latin
    // words) so segment dedup covers exactly the documents shingle dedup
    // covers; on Latin text this equals a lowercase [^a-z0-9]+ split,
    // which keeps the DuckDB oracles expressible. Drawn from the shared
    // token substrate: the whole segment family tokenizes a corpus once.
    val toks = col("toks")
    val nseg = (floor((size(toks) - segWords) / stride).cast("int") + 1)
    // sequence(1, 0) would generate a DESCENDING [1, 0] — clamp to 1 and
    // drop partial slices (shorter than segWords) instead
    val slices = filter(
      transform(sequence(lit(1), greatest(nseg, lit(1))),
        i => slice(toks, (i - 1) * stride + 1, lit(segWords))),
      a => size(a) === segWords)
    tokenCache(documents).select(col("doc_id"),
      explode(array_distinct(transform(slices, a => concat_ws(" ", a))))
        .as("segment"))
  }

  /** `docSegmentsStrided(_, segWords, 1)` with the 1-based word position
    * of every window kept — the frame exact-substring span removal needs
    * (the position is what turns "this n-gram repeats" into "these words
    * of THIS document are duplicated text"). No per-doc distinct: every
    * occurrence matters for coverage. */
  private[ops] def docWindowsPositioned(tokFrame: DataFrame,
      segWords: Int): DataFrame = {
    require(segWords >= 1, "segWords must be >= 1")
    val nseg = (size(col("toks")) - segWords + 1)
    tokFrame
      .select(col("doc_id"), col("toks"), nseg.as("nseg"))
      .where(col("nseg") >= 1)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), col("nseg"))).as("pos"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("toks"), col("pos"), lit(segWords)))
          .as("segment"))
  }

  /** Exact-substring duplicate SPANS, the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") removal unit: for each
    * document, the maximal word ranges covered by `segWords`-word windows
    * that occur in >= minDocs distinct documents. d12 answers "which runs
    * repeat"; this answers "which bytes of each document would exact
    * substring dedup delete" — per doc: span count, duplicated word
    * count, and duplicated fraction (6dp).
    *
    * Scale shape: the suffix-array of the paper is replaced by the
    * shuffle-native equivalent — positioned stride-1 windows (linear in
    * corpus words), one groupBy(segment) with countDistinct(doc_id) for
    * the repeated set, one segment-keyed join back, then a PER-DOCUMENT
    * window (partitionBy doc_id — never unpartitioned) that merges
    * overlapping/adjacent hits into maximal spans with a lag + running-sum
    * pass. Span merge is the classic interval-union trick: same-length
    * intervals sorted by start need only lag(pos) to detect a gap. */
  def dupSpans(documents: DataFrame, segWords: Int = 8,
      minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenizer pass, shared with the whole segment family via the
    // memoized token substrate (1x the corpus, vs segWords-fold for
    // materialized windows): the window explode below derives from it
    // twice (repeated-set agg + hit join) and the n_words lens frame
    // reads it too — the narrow explode/slice recompute is cheap next to
    // a second UDF tokenize of the corpus
    val tok = tokenCache(documents)
    val win = docWindowsPositioned(tok, segWords)
    val repeated = win
      .groupBy(col("segment"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("segment"))
    val hits = win.join(repeated, "segment")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // new span when this window starts past the previous window's
    // coverage (+1 keeps adjacent-but-contiguous coverage in one span)
    val flagged = hits.withColumn("ns",
      when(lag(col("pos"), 1).over(byDoc).isNull
        || col("pos") > lag(col("pos"), 1).over(byDoc) + segWords, 1)
        .otherwise(0))
    val spans = flagged
      .withColumn("sid", sum(col("ns")).over(byDoc))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + segWords - 1).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_words"))
    val lens = tok.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_words"))
    lens.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        when(col("n_words") === 0, lit(0.0))
          .otherwise(round(coalesce(col("dup_words"), lit(0L))
            / col("n_words").cast("double"), 6)).as("dup_frac"))
  }

  /** Alignment-free cross-doc repeated n-grams: every `segWords`-word
    * window (stride 1) occurring in >= minDocs distinct documents — the
    * exact-substring dedup signal ("which long runs repeat across the
    * corpus"), free of d11's window-alignment sensitivity at a
    * segWords-fold larger (still linear) segment frame. */
  def repeatedNgrams(documents: DataFrame, segWords: Int = 8,
      minDocs: Int = 2): DataFrame =
    docSegmentsStrided(documents, segWords, 1)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)

  /** Line-level (segment-level) dedup, the boilerplate detector: segments
    * occurring in >= minDocs DISTINCT documents, with their document
    * frequency. The C4 cleaning rule ("drop any line occurring 3+ times in
    * the corpus") is this frame anti-joined back onto the segments.
    *
    * Scale shape: per-doc distinct happens in-array before the explode, so
    * the one shuffle is the groupBy(segment) over O(corpus segments) rows;
    * segments are short fixed-width strings (at 100 TB, group by
    * xxhash64(segment) and keep min(segment) if the key bytes dominate —
    * same trick as the shingle substrate). */
  def boilerplateSegments(documents: DataFrame, segWords: Int = 8,
      minDocs: Int = 2): DataFrame =
    docSegments(documents, segWords)
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)

  /** Per-document boilerplate exposure: of each doc's segments, how many
    * are corpus-level boilerplate (>= minDocs docs share them). The
    * boilerplate join is planner-chosen — the boilerplate list shrinks
    * with minDocs but grows with the corpus, so no forced broadcast. */
  def boilerplateStats(documents: DataFrame, segWords: Int = 8,
      minDocs: Int = 2): DataFrame = {
    // both consumers below read the segment frame — materialize the
    // tokenize/slice/explode pipeline once (Catalyst does not dedup
    // common subplans inside one action)
    val seg = docSegments(documents, segWords).localCheckpoint()
    val boiler = seg
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("segment"), lit(1).as("is_boiler"))
    seg.join(boiler, Seq("segment"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        coalesce(sum(col("is_boiler")), lit(0L)).cast("long").as("n_boiler"))
  }

  /** Dup-cluster size distribution — the dedup report's headline table
    * ("how much of the corpus sits in duplicate clusters of what size"):
    * (cluster_size, n_clusters) over ALL docs, singletons included. Two
    * tiny rollup shuffles on top of the cluster labels. */
  def clusterSizeHistogram(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    dupClusters(documents, n, threshold)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** 64-bit SimHash over tokens: bit j is the sign of the token-frequency-
    * weighted sum of (+-1) for bit j of each token's 64-bit hash. Single
    * tight-loop UDF per row (tokenize + vote + pack) — no explode, no
    * shuffle, one pass over the text. */
  private val simhashUdf = udf { (text: String) =>
    val votes = new Array[Int](64)
    if (text != null) {
      text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").foreach { t =>
        if (t.nonEmpty) {
          // 64-bit token hash from two 32-bit murmur passes
          val h1 = scala.util.hashing.MurmurHash3.stringHash(t, 0)
          val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c)
          val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  def simhash(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), simhashUdf(col("text")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, candidates
    * via 4x16-bit chunk banding (pigeonhole: distance <=3 implies an equal
    * chunk). */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(simhash(documents), 64, maxHamming)

  /** Audit hook (the sf1 cross-check harness): [[simhashPairs]] under an
    * EXPLICIT band count. Pigeonhole makes every legal layout (bands >
    * maxHamming) produce the identical pair set, so running two
    * different layouts at scale and asserting row-identity cross-checks
    * the whole banded engine — bucketing, distinct-signature
    * compression, re-expansion — with no second implementation needed. */
  def simhashPairsBanded(documents: DataFrame, maxHamming: Int,
      bands: Int): DataFrame =
    bandedHammingPairs(simhash(documents), 64, maxHamming, bands)

  /** Pigeonhole band layout over the LOW `bits` of a signature — the
    * ONE place every Hamming family (d4 simhash, d19 portable, d21
    * image dHash, d23 audio envelope, d24 video frames) resolves its
    * banding, so a future distance-budget change can never silently
    * break banded == brute at one call site. Returns (widths, offsets):
    * `bands` contiguous near-equal chunks, the first `bits % bands`
    * one bit wider.
    *
    * `bands = 0` resolves the TIGHTEST exact layout, maxHamming + 1 —
    * the exactness theorem: a pair at Hamming <= maxHamming cannot
    * differ in all maxHamming + 1 bands, so banded candidates + the
    * hamming filter EQUAL the brute-force pair set for ANY legal
    * layout (bands > maxHamming). Clamped to `bits` when the asked
    * distance reaches the signature width (the d19 diagnostic case:
    * every band is 1 bit, candidates approach all pairs — only exact
    * complements, hamming == bits, can then be missed).
    *
    * An EXPLICIT band count must itself satisfy the pigeonhole
    * (bands > maxHamming, within the signature) — the sf1 cross-check
    * harness uses two legal layouts and asserts row-identity. */
  private[graft] def hammingBandLayout(bits: Int, maxHamming: Int,
      bands: Int = 0): (Array[Int], Array[Int]) = {
    require(bits >= 1 && bits <= 64, s"bits must sit in [1, 64]: $bits")
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val nb = if (bands == 0) math.min(maxHamming + 1, bits) else bands
    require(nb > maxHamming || nb == bits,
      s"pigeonhole needs more bands than maxHamming: bands=$nb " +
        s"maxHamming=$maxHamming over $bits bits")
    require(nb >= 1 && nb <= bits,
      s"bands must sit in [1, $bits]: $nb")
    val base = bits / nb
    val extra = bits % nb // first `extra` bands are one bit wider
    val widths = Array.tabulate(nb)(i => base + (if (i < extra) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _).take(nb))
  }

  /** [[bandedHammingPairs]] with the layout RESOLVED from the distance
    * budget (see [[hammingBandLayout]]) — what every production call
    * site uses; the raw (widths, offsets) form stays for layouts that
    * are not contiguous low-bits chunkings. */
  private[graft] def bandedHammingPairs(sigById: DataFrame, bits: Int,
      maxHamming: Int, bands: Int): DataFrame = {
    val (widths, offsets) = hammingBandLayout(bits, maxHamming, bands)
    bandedHammingPairs(sigById, widths, offsets, maxHamming)
  }

  private[graft] def bandedHammingPairs(sigById: DataFrame, bits: Int,
      maxHamming: Int): DataFrame =
    bandedHammingPairs(sigById, bits, maxHamming, 0)

  /** Banded Hamming-pair join over DISTINCT signatures — the shared
    * candidate engine of [[simhashPairs]] (d4) and
    * [[portableSimhashPairs]] (d19).
    *
    * Running the band self-join directly on (doc_id, simhash) rows costs
    * Σ bucket² over DOC occupancy — and exact/templated duplicates (the
    * very thing a dedup corpus is full of; the sf1 bench point measured
    * d19 at 65x a 10x data step on them) collapse whole dup families
    * into one bucket, going quadratic in family size. Compressing to
    * distinct signature VALUES first makes the banded join quadratic
    * only in distinct-value occupancy; docs re-attach afterwards through
    * two id-keyed joins that are OUTPUT-proportional (each doc owns
    * exactly one signature, so the expansion join produces each
    * cross-signature pair exactly once — no pair-level `.distinct()`
    * over the n² candidate stream at all, the other half of the old
    * cost). Identical-signature docs (hamming 0, invisible to a
    * distinct-signature band join) come back as one equi-self-join on
    * the signature — its output IS the dup-family pair list, inherent to
    * the operator's contract. Output: (doc1 < doc2, hamming), exactly
    * the row set of the direct formulation for any maxHamming the band
    * layout's pigeonhole covers. */
  private[ops] def bandedHammingPairs(sigById: DataFrame, widths: Array[Int],
      offsets: Array[Int], maxHamming: Int): DataFrame = {
    // One signature row per doc_id, NORMALIZED AT THE INPUT (deterministic
    // min-signature for a malformed duplicated id): with a unique doc→sig
    // mapping every expansion pair is emitted exactly once by
    // construction, so no distinct over the OUTPUT is ever needed. That
    // matters at scale: on the dense sf1 fixture the pair output is
    // 66M rows — round 10 guarded duplicated ids with an output-level
    // distinct and the full-output shuffle cost 10-25x the whole
    // operator (d4 248 s / d19 132 s at sf1, BASELINE addendum ak); this
    // n-row groupBy buys the same guarantee for O(n).
    val sig = sigById.groupBy(col("doc_id"))
      .agg(min(col("simhash")).as("simhash"))
      .localCheckpoint() // read 4x below; sigs are one UDF/agg pass
    val uniq = sig.select(col("simhash")).distinct()
    val bands = widths.length
    val chunks = uniq.select(col("simhash"),
      explode(array((0 until bands).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), offsets(c))
            .bitwiseAND((1L << widths(c)) - 1)
            .as("chunk_val"))): _*)).as("ck"))
      .select(col("simhash"),
        col("ck.chunk").as("chunk"), col("ck.chunk_val").as("chunk_val"))
    // signature-level candidates: distinct over ≤ bands rows per sig pair
    val sigPairs = chunks.toDF("sim1", "chunk", "chunk_val")
      .join(chunks.toDF("sim2", "chunk", "chunk_val"),
        Seq("chunk", "chunk_val"))
      .where(col("sim1") < col("sim2"))
      .select(col("sim1"), col("sim2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    val cross = sigPairs
      .join(sig.toDF("da", "sim1"), "sim1")
      .join(sig.toDF("db", "sim2"), "sim2")
      .select(least(col("da"), col("db")).as("doc1"),
        greatest(col("da"), col("db")).as("doc2"), col("hamming"))
    val intra = sig.toDF("doc1", "simhash")
      .join(sig.toDF("doc2", "simhash"), "simhash")
      .where(col("doc1") < col("doc2"))
      .select(col("doc1"), col("doc2"),
        lit(0).cast("int").as("hamming"))
    // cross (sim1 < sim2) and intra (equal sigs) are disjoint, and the
    // input normalization above guarantees one signature per doc — the
    // union is duplicate-free by construction.
    cross.unionByName(intra)
  }

  /** ENGINE-PORTABLE SimHash near-dup pairs — the oracle-checkable twin
    * of [[simhashPairs]] (`d4`). The non-portable part of d4 is murmur
    * token hashing; here every stage is elementary integer arithmetic any
    * SQL engine reproduces:
    *
    *  1. token hash: polynomial-31 over character code points mod
    *     1000003, computed ONCE per distinct word corpus-wide (astral
    *     code points clamp to 0 on both engines — Spark's `ascii` yields
    *     the surrogate, DuckDB the code point, both >= 0xD800);
    *  2. per-(word, bit) vote sign from `Similarity.portableWeight`'s
    *     quadratic integer mix (the linear mix measurably collapsed —
    *     see that doc);
    *  3. doc signature: 60 majority-vote bits (votes > 0, matching d4's
    *     strict rule; 60 not 64 so 2^p stays inside signed BIGINT);
    *  4. candidates via (maxHamming+1) bands over the 60 bits —
    *     pigeonhole: hamming <= maxHamming cannot touch all maxHamming+1
    *     bands, so banded candidates + the hamming filter EQUAL the
    *     brute-force pair set exactly for ANY maxHamming < 60, which is
    *     what makes a hash-equality oracle possible for a banded
    *     algorithm. The d19 oracle is pinned at the default 3 (4×15-bit
    *     bands). Narrower bands admit more candidates — a large
    *     maxHamming is a diagnostic setting, not a scale path (at
    *     maxHamming >= 59 every band is 1 bit and the candidate set
    *     approaches all pairs, the honest cost of that ask; only
    *     hamming == 60 pairs, i.e. exact complements, can ever be
    *     missed, when maxHamming >= 60 clamps to 60 bands).
    *
    * Tokenization is lower + split on single spaces (the oracle-shared
    * convention of t1/t16), unlike d4's regex split — the two signatures
    * are cousins, not bit-equal.
    *
    * Scale: vocabulary-level hashing (distinct words, not token
    * instances), vote aggregation is one (doc_id, bit) shuffle with
    * map-side combine, banding is the d4 shape. */
  def portableSimhashPairs(documents: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val M = 1000003L
    val bits = 60
    val tok = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " "))
        .as("word"))
      .where(col("word") =!= "")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    val wh = tok.select(col("word")).distinct()
      .select(col("word"), aggregate(
        sequence(lit(1), length(col("word"))), lit(0L),
        (acc, i) => {
          val ch = org.apache.spark.sql.functions.ascii(
            col("word").substr(i, lit(1)))
          (acc * 31L + when(ch >= 55296, lit(0L))
            .otherwise(ch.cast("long"))) % M
        }).as("h"))
    // sign vectors at VOCABULARY level: the interpreted higher-order
    // weight lambda runs once per distinct word (|V| x bits evals), not
    // once per (doc, word, bit) token instance — the explode below is a
    // codegen Generate over the precomputed array
    // localCheckpoint is a CORRECTNESS-OF-COST barrier, not a cache nicety:
    // without it CollapseProject inlines the per-word hash aggregate into
    // the sign lambda THROUGH the join, re-evaluating the O(len²)
    // interpreted poly-hash 60x per token row (measured: 73 s at sf0.1;
    // 1.5 s with the barrier). Same pathology a chained UDF hits.
    val whSigns = wh.select(col("word"),
      transform(sequence(lit(0), lit(bits - 1)), p =>
        when(graft.ops.Similarity.portableWeight(
          col("h") * bits + p + 1) >= 0, lit(1L)).otherwise(lit(-1L)))
        .as("signs"))
      .localCheckpoint()
    val contrib = tok.join(whSigns, "word")
      .select(col("doc_id"), col("cnt"),
        posexplode(col("signs")).as(Seq("p", "sgn")))
    val sig = contrib
      .groupBy(col("doc_id"), col("p"))
      .agg(sum(col("cnt") * col("sgn")).as("s"))
      .groupBy(col("doc_id"))
      // pow(2, p) is a power of two — exact in double for every p < 63
      .agg(sum(when(col("s") > 0, pow(lit(2.0), col("p")).cast("long"))
        .otherwise(lit(0L))).as("simhash"))
    // pigeonhole band count derived from the asked distance in the ONE
    // shared layout resolver (hamming <= maxHamming cannot differ in
    // all maxHamming+1 bands; only band COUNT matters for exactness)
    bandedHammingPairs(sig, bits, maxHamming)
  }

  /** Embedding-cosine near-dup pairs: hyperplane-LSH buckets (L tables of
    * b bits) generate candidates; exact cosine >= threshold verifies.
    * Only ids travel through the bucket join + dedup; embeddings and
    * precomputed norms are re-attached afterwards for the cosine check.
    *
    * Deliberately NOT DuckDB-oracled (rows-only in the driver gate): the
    * test embeddings carry no planted near-dup pairs — every pair above
    * the 0.4 query threshold sits in the 0.40-0.51 cosine band (59 exact
    * pairs at sf0.01, measured), where a hyperplane-LSH config with honest
    * bucketing has recall < 1 by construction (p_table = (1-θ/π)^bits ≈
    * 0.06 at θ≈66°), and any config pushing recall to ~1 needs bits <= 2,
    * i.e. n²/4 candidate pairs per table — a disguised cross join, not
    * ANN. The exact-cosine verification kernel is oracle-verified through
    * `sim1_brute_top1`; LSH recall is spec-verified on planted vectors
    * (20/20 planted-pair recall in ScaleSpec). */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.95,
      bits: Int = 12, tables: Int = 4, dims: Int = 64): DataFrame = {
    import graft.functions.Vectors
    // localCheckpoint: both sides of the bucket self-join read this frame —
    // one hyperplane-UDF pass, not two
    val sigs = embeddings.select(col("vec_id"),
      posexplode(Vectors.sigsFast(col("embedding"), dims, bits, tables))
        .as(Seq("tbl", "sig")))
      .localCheckpoint()
    val candIds = sigs.toDF("vec1", "tbl", "sig")
      .join(sigs.toDF("vec2", "tbl", "sig"), Seq("tbl", "sig"))
      .where(col("vec1") < col("vec2"))
      .select(col("vec1"), col("vec2")).distinct()
    val base = embeddings.select(col("vec_id"), col("embedding"),
      Vectors.normFast(col("embedding")).as("nrm"))
    candIds
      .join(base.toDF("vec1", "emb1", "nrm1"), "vec1")
      .join(base.toDF("vec2", "emb2", "nrm2"), "vec2")
      .withColumn("cos", Vectors.cosineFast(col("emb1"), col("emb2"),
        col("nrm1"), col("nrm2")))
      .where(col("cos") >= threshold)
      .select(col("vec1"), col("vec2"), col("cos"))
  }
}
