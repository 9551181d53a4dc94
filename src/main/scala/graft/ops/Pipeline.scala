package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The flagship end-to-end training-corpus build: one declarative
  * DataFrame program chaining the pipeline a 100 TB pretraining run
  * executes —
  *
  *   near-dup dedup -> exact dedup -> quality filter -> benchmark
  *   decontamination -> reproducible sampling -> sequence packing.
  *
  * Every stage is one of the already-verified operators, so the whole
  * pipeline stays a single Catalyst plan: the dedup/contamination stages
  * reuse the memoized shingle substrate, the drop-list anti-joins are
  * planner-chosen (AQE broadcasts them while small; they scale with the
  * corpus, so no forced hint), and the final packing is the two-phase
  * prefix sum. Nothing collects to the driver.
  */
object Pipeline {
  private type Plan = org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** Returns the packed training corpus: one row per surviving document
    * with (doc_id, lang, n_tok, start_offset, chunk_id).
    *
    * @param benchmarkMaxId docs below this id form the held-out benchmark:
    *        they are excluded from the corpus and any doc overlapping them
    *        by >= 5 shingles is dropped as contaminated.
    * @param sampleFrac reproducible hash-sample fraction applied last.
    * @param quoteThreshold when set, ALSO drop docs quote-contaminated at
    *        this aligned-containment threshold (the d28 precision leg —
    *        e11). The d9 set-overlap stage needs >= 5 distinct shared
    *        shingles, so a SHORT benchmark item (< 5 + tol shingle
    *        positions) can be quoted verbatim and still ship; the aligned
    *        probe catches it (containment hits mb/nb = 1 regardless of
    *        the quoting doc's size). The drop is applied BEFORE sampling
    *        and packing, so surviving offsets repack contiguously. */
  def trainingCorpus(documents: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096, quoteThreshold: Option[Double] = None): DataFrame =
    trainingCorpusCore(documents, benchmarkMaxId, minChars, sampleFrac,
      seqLen, quoteThreshold.map(t => Dedup
        .quoteContaminationSplitCheck(documents, benchmarkMaxId, 3, t)))

  /** [[trainingCorpus]] with a PRECOMPUTED (doc_id) drop-list — the
    * release composition point for any externally-produced flag set:
    * `Streams.quoteDecontaminatedFromIngest` feeds the COMMITTED online
    * d28 flags (e11), `Streams.semanticDecontaminatedFromIngest` the
    * committed d31 flags (e14), and a WEB-SCALE e14 feeds
    * `Similarity.embeddingContaminationIndexed`'s flags here when the
    * eval holdout exceeds the flat probe's broadcast cap (parity with
    * the built-in e14 at nprobe = cells is spec-pinned). The drop runs
    * BEFORE sampling and packing, so the composed corpus repacks
    * identically to its batch twin. */
  def trainingCorpusWithDrops(documents: DataFrame,
      drops: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096): DataFrame =
    trainingCorpusCore(documents, benchmarkMaxId, minChars, sampleFrac,
      seqLen, Some(drops))

  private def trainingCorpusCore(documents: DataFrame,
      benchmarkMaxId: Long, minChars: Int, sampleFrac: Double,
      seqLen: Int, extraDrops: Option[DataFrame]): DataFrame = {
    val survivors = e3Survivors(documents, benchmarkMaxId, minChars,
      sampleFrac, extraDrops)
    Sampling.tokenOffsets(survivors, seqLen)
      .join(survivors.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("start_offset"), col("chunk_id"))
  }

  /** The shared e3-stage survivor set (benchmark exclusion, length
    * floor, exact/near-dup drops, d9 contamination drop, optional
    * extra drop list, reproducible sampling) — ONE implementation
    * consumed by the e3/e11 pack ([[trainingCorpusCore]]), the e13
    * surgical release ([[surgicalCorpus]]), and the e14 semantic
    * release ([[semanticDecontaminatedCorpus]]), so a fix to any drop
    * stage cannot diverge between them. `extraDrops` is any (doc_id)
    * drop list injected BEFORE sampling (the d28 quote flags for e11,
    * the d31 semantic flags for e14) — anti-join semantics are
    * identical whatever probe produced the flags. Returned
    * checkpointed: every caller fans it out. */
  /** The exact-dup FINGERPRINT (md5 of alnum-normalized text) — ONE
    * definition shared by the release survivor chain (e3Survivors) and
    * BOTH audit funnels (funnelCore, surgicalFilterFunnel), so a change
    * to what "exact duplicate" means cannot make a release and its
    * provenance report diverge silently. */
  private def exactDupFingerprint: org.apache.spark.sql.Column =
    md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))

  /** Session memo for the survivor set (the [[curatedCorpus]] contract
    * one family over): SIX release artifacts (e3/e13/e16 at the
    * no-extra-drops key, e14/e17 at the semantic key, e18/e19/e20 at
    * the semantic∪media key) each rebuilt the identical survivor chain;
    * at scale a release session materializes its survivor set once per
    * corpus drop and every artifact derives from it.
    *
    * RETENTION BOUND (optimization round 2, VERDICT #2): the memo
    * stores ONLY the checkpointed survivor doc_id column — never text.
    * Round 18 pinned up to three corpus-scale survivor frames (text
    * included) on executor storage; now each entry is ids-only
    * (8 bytes/row) and consumers re-attach the payload with one
    * left-semi join against the corpus (guide §8: decide with small
    * rows, move big rows once — the scan is column-pruned to what each
    * consumer actually reads, and the e18-family manifests are
    * themselves memoized one seam downstream, so most artifacts never
    * re-touch the corpus at all). Staleness/eviction: [[SessionMemo]]
    * (replace-on-files-change — the streamed compositions re-derive
    * over GROWING landed stores whose re-reads canonicalize equal;
    * accreting hash-in-key entries would leak one pinned frame per
    * batch). */
  private val survivorIdCache = new SessionMemo[
    (Plan, Long, Int, Long, Option[Plan]), DataFrame](Seq(_))

  /** The live survivor-memo frames (spec probe: the VERDICT #2
    * retention bound — memoized survivor frames carry ONLY doc_id,
    * never text). */
  private[graft] def survivorMemoFrames: Seq[DataFrame] =
    survivorIdCache.values

  /** Drop-list normalization applied ONCE, here, for every survivor
    * caller: callers pass their RAW flag frame and the chain reduces it
    * to a distinct (doc_id) list. Normalizing at one layer also makes
    * the memo keys of semantically-equal callers collide — round-19's
    * substrate_builds ledger showed e14 and e17 each paying a survivor
    * build because one pre-wrapped its drops and the other didn't. */
  private def normDrops(drops: DataFrame): DataFrame =
    drops.select(col("doc_id")).distinct()

  private[graft] def e3Survivors(documents: DataFrame,
      benchmarkMaxId: Long, minChars: Int, sampleFrac: Double,
      extraDropsRaw: Option[DataFrame]): DataFrame = {
    val extraDrops = extraDropsRaw.map(normDrops)
    val ids = survivorIdCache.getOrBuild(
      (documents.queryExecution.analyzed.canonicalized,
        benchmarkMaxId, minChars,
        java.lang.Double.doubleToLongBits(sampleFrac),
        extraDrops.map(_.queryExecution.analyzed.canonicalized)),
      (documents +: extraDrops.toSeq): _*) {
      MemoLedger.timed("e3_survivor_ids") {
        e3SurvivorChain(documents, benchmarkMaxId, minChars,
          sampleFrac, extraDrops)
          .select(col("doc_id")).localCheckpoint()
      }
    }
    // payload re-attach: all of `documents`' columns, survivor rows
    // only (doc_id is the corpus key, so the semi-join is a filter)
    documents.join(ids, Seq("doc_id"), "left_semi")
  }

  /** The three CORE drop lists of the e3 curation chain, memoized
    * (optimization round 2): every survivor build (four keys in a
    * release session — none / quote / semantic / semantic∪media) and
    * every audit funnel (audit1/audit4/audit5) re-derived the identical
    * near-dup, exact-dup, and contamination id lists; now each is one
    * session-pinned tiny frame. Near-dup: the lower-id doc of each d2
    * pair is the keeper (rides the d2 pair cache). Exact-dup: any doc
    * whose normalized fingerprint has a smaller keeper id.
    * Contamination: the d9 probe over the shared shingle substrate. */
  private[graft] def nearDupDropIds(documents: DataFrame): DataFrame =
    memoDropList("near_dup_drops", documents, 3, 0, 0L) {
      Dedup.jaccardPairs(documents, 3, 0.5)
        .select(col("doc2").as("doc_id")).distinct()
    }

  private[graft] def exactDupDropIds(documents: DataFrame): DataFrame =
    memoDropList("exact_dup_drops", documents, 0, 0, 0L) {
      documents
        .select(col("doc_id"), exactDupFingerprint.as("fp"))
        .withColumn("keeper", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .where(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"))
    }

  private[graft] def contamDropIds(documents: DataFrame,
      benchmarkMaxId: Long): DataFrame =
    memoDropList("contam_drops", documents, 3, 5, benchmarkMaxId) {
      Dedup.contaminationSplitCheck(documents, benchmarkMaxId, 3, 5)
        .select(col("doc_id")).distinct()
    }

  private def e3SurvivorChain(documents: DataFrame,
      benchmarkMaxId: Long, minChars: Int, sampleFrac: Double,
      extraDrops: Option[DataFrame]): DataFrame = {
    val corpus = documents.where(col("doc_id") >= benchmarkMaxId)
    val nearDups = nearDupDropIds(documents)
    val exactDups = exactDupDropIds(documents)
    // contamination shares the FULL-corpus shingle substrate that
    // jaccardPairs above already memoized: both the corpus and benchmark
    // shingle frames are id-range filters of it, so the pipeline shingles
    // each document exactly once
    val contaminated = contamDropIds(documents, benchmarkMaxId)

    // deliberately NO broadcast hints on the drop-lists: near/exact-dup
    // lists grow with the corpus (a forced broadcast would break at
    // 100 TB), so the anti-join stays planner-chosen — AQE broadcasts
    // it when it measures small, shuffles when it doesn't.
    // ONE anti-join over the UNIONED drop lists (optimization round,
    // guide §2.4): chained per-list anti-joins cost one join build and
    // one corpus probe pass EACH — and at scale, where the lists are too
    // big to broadcast, one corpus shuffle each. Set subtraction by a
    // union of id lists is associative, so unioning first (a concat, no
    // shuffle — anti-join semantics don't need the lists deduped) buys
    // the same survivor set for one join however many drop stages the
    // release composes. Row-identical by construction; oracle-gated.
    val dropIds = nearDups
      .unionByName(exactDups)
      .unionByName(contaminated)
      .transform(df => extraDrops.map(df.unionByName(_)).getOrElse(df))
    corpus
      .where(length(col("text")) >= minChars)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .transform(Sampling.deterministicSample(_, "doc_id", sampleFrac))
  }

  /** E12 — the SURGICAL release path: e11 drops every quote-flagged doc
    * wholesale; this one APPLIES `Dedup.quoteRedactionSpans` instead —
    * cut the quoted spans out of each flagged doc's token stream, keep
    * the prose, and repack the whole training side over the
    * post-redaction token counts. The deployment shape of d30: the plan
    * stops being a report and becomes a corpus.
    *
    * Mechanics:
    *  - spans from [[graft.ops.Dedup.quoteRedactionSpans]] (per pair ×
    *    shift × island) are INTERVAL-UNIONED per doc (two bench items
    *    quoting overlapping ranges must not double-delete), the
    *    running-max lag merge;
    *  - counts live in the SPAN space — `Text.tokenize` positions, the
    *    space the spans index — so n_tok = tokenized length − covered
    *    mass, exactly (the conservation law the spec pins: Σ n_tok =
    *    Σ n_tok_orig − Σ n_redacted);
    *  - docs redacted to nothing (fully-quoted docs) drop out; the
    *    survivors repack contiguously via the two-phase offset pass
    *    ([[graft.ops.Sampling.offsetsFromCounts]]).
    *
    * Output (doc_id, n_tok_orig, n_redacted, n_tok, start_offset,
    * chunk_id) over every training doc (doc_id >= benchmarkMaxId) with
    * at least one surviving token.
    *
    * Scale: spans are flag-bounded; the interval union windows by
    * doc_id (never unpartitioned); the corpus-wide work is ONE tokenize
    * pass for the counts plus the d28 probe the span plan already
    * needs. */
  def redactedCorpus(documents: DataFrame, benchmarkMaxId: Long = 25L,
      n: Int = 3, threshold: Double = 0.8, minPositions: Int = 3,
      seqLen: Int = 4096): DataFrame =
    redactedCorpusFromSpans(documents,
      Dedup.quoteRedactionSpans(documents, benchmarkMaxId, n,
        threshold, tol = 1, minPositions = minPositions),
      benchmarkMaxId, seqLen)

  /** [[redactedCorpus]] with a PRECOMPUTED span plan — the streamed-e12
    * composition (`Streams.redactedCorpusFromIngest` feeds spans rebuilt
    * from the COMMITTED online d28 flags), and the general splice point
    * for any (doc_id, span_start, span_end) plan in tokenize space. */
  private[graft] def redactedCorpusFromSpans(documents: DataFrame,
      spanPlan: DataFrame, benchmarkMaxId: Long,
      seqLen: Int): DataFrame =
    redactPack(documents.where(col("doc_id") >= benchmarkMaxId),
      spanPlan, seqLen)

  /** The shared redact-and-pack core of e12 ([[redactedCorpus]]) and
    * e13 ([[surgicalCorpus]]): interval-union the span plan per doc,
    * cut the covered mass from the tokenize-space counts of `docs`
    * (any (doc_id, text) frame — the whole training side for e12, the
    * e3 survivor set for e13), drop docs redacted to nothing, repack
    * the rest contiguously. Spans for docs outside `docs` are inert
    * (left join). */
  private[graft] def redactPack(docs: DataFrame, spanPlan: DataFrame,
      seqLen: Int): DataFrame =
    redactPackFromIslands(docs, sharedIslands(spanPlan), seqLen)

  /** [[redactPack]] from PRECOMPUTED merged islands (the
    * [[unionTokenSpans]] output) — the optimization-round seam: e16/e19
    * run manifest AND text splice over ONE span plan, and both sides
    * start by interval-unioning it; deriving the islands once (a tiny
    * flag-bounded frame, checkpointed by the caller) removes the
    * duplicated distinct + window + groupBy chain from the composed
    * plan. Same islands, same laws, row-identical. */
  private[graft] def redactPackFromIslands(docs: DataFrame,
      islands: DataFrame, seqLen: Int): DataFrame = {
    val covered = islands
      .groupBy(col("doc_id"))
      .agg(sum(col("me") - col("ms") + 1).as("n_redacted"))
    // localCheckpoint: the frame fans out into the offset pass AND the
    // provenance join below, and Catalyst does not dedup common
    // subplans inside one action (the trainingCorpusCore discipline) —
    // without the barrier the corpus-wide tokenize and the span union
    // would run twice per materialization
    val counts = docs
      .select(col("doc_id"),
        size(graft.functions.Text.tokenizeUdf(col("text")))
          .cast("long").as("n_tok_orig"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok_orig"),
        coalesce(col("n_redacted"), lit(0L)).as("n_redacted"))
      .withColumn("n_tok", col("n_tok_orig") - col("n_redacted"))
      .where(col("n_tok") >= 1)
      .localCheckpoint()
    Sampling.offsetsFromMaterializedCounts(
        counts.select(col("doc_id"), col("n_tok")), seqLen)
      .join(counts.select(col("doc_id"), col("n_tok_orig"),
        col("n_redacted")), "doc_id")
      .select(col("doc_id"), col("n_tok_orig"), col("n_redacted"),
        col("n_tok"), col("start_offset"), col("chunk_id"))
  }

  /** The per-doc TOKEN-space interval union of a (doc_id, span_start,
    * span_end) plan — merged islands (doc_id, ms, me), inclusive token
    * positions. Touching-or-overlapping spans merge (two bench items
    * quoting overlapping ranges never double-delete); the window
    * partitions by doc_id, never unpartitioned. ONE implementation
    * shared by the pack manifests ([[redactPack]] — e12/e13/e17) and
    * the text splice ([[redactedTextFromSpans]] — e15/e16), so the two
    * sides of the token-stream law read the SAME islands by
    * construction. */
  private[graft] def unionTokenSpans(spanPlan: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = spanPlan
      .select(col("doc_id"), col("span_start").as("s"),
        col("span_end").as("e"))
      .distinct() // two bench items can flag the identical span
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("ns",
        when(prevMax.isNull || col("s") > prevMax + 1, 1).otherwise(0))
      .withColumn("gid", sum(col("ns")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("gid"))
      .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
      .select(col("doc_id"), col("ms"), col("me"))
  }

  /** Session memo for the merged-islands frame (optimization round 2):
    * NINE batch queries interval-union the SAME memoized d30 span plan
    * (e12/e13/e15/e16/e17, the e18 family, audit5) — each paid the
    * distinct + window + groupBy chain again (~0.5–1 s at sf0.1, one
    * full pass over the flag-bounded spans at scale). The frame is tiny
    * (flag-bounded merged intervals), so persisting it is
    * contamination-mass-scale storage. Staleness/bound: [[SessionMemo]]
    * (the streamed compositions re-read growing flag stores — a files
    * change replaces the entry instead of serving stale islands or
    * accreting one per batch). */
  private val islandsCache = new SessionMemo[Plan, DataFrame](Seq(_),
    // a files change invalidates every manifest/delta derived from the
    // old islands checkpoint — their keys carry its RDD identity and
    // would never be looked up again, so drop them rather than pinning
    // orphans for the session
    () => { manifestCache.evictAll(); deltaCache.evictAll() })

  /** [[unionTokenSpans]] through the islands memo. `checkpointFallback`
    * keeps the e16/e19 seams' materialization barrier when the span plan
    * is unmemoizable: those seams fan the islands into manifest AND
    * splice, and Catalyst does not dedup common subplans. */
  private[graft] def sharedIslands(spanPlan: DataFrame,
      checkpointFallback: Boolean = false): DataFrame =
    islandsCache.getOrBuildElse(
      spanPlan.queryExecution.analyzed.canonicalized, spanPlan) {
      // checkpoint, not persist: consumers (and the manifest/delta memo
      // keys) see a three-line ExistingRDD scan instead of the full
      // span-derivation body re-printed and re-canonicalized at every
      // leg (the audit5 plan-size pathology, guide §3.3)
      MemoLedger.timed("span_islands") {
        unionTokenSpans(spanPlan).localCheckpoint()
      }
    } {
      val raw = unionTokenSpans(spanPlan)
      if (checkpointFallback) raw.localCheckpoint() else raw
    }

  /** Session memo for the PACKED RELEASE MANIFESTS (optimization round
    * 2, VERDICT #6): e13+e16 share the surgical manifest, e18+e19+e20
    * share the multimodal one (e20 is the fingerprint AGGREGATE of
    * e18's frame — it re-derived the whole redact-pack chain; now it
    * aggregates the pinned manifest). The frame is narrow — (doc_id,
    * lang, five longs), never text — so pinning it is the §5-safe
    * trade, and at 100 TB it IS the release manifest artifact a corpus
    * drop publishes. Key: (docs plan, islands plan, drops plan, params);
    * staleness/bound via [[SessionMemo]] like every memo here. */
  private val manifestCache = new SessionMemo[
    (Plan, Plan, Option[Plan], Long, Int, Long, Int), DataFrame](Seq(_))

  private def packedManifestCompute(documents: DataFrame,
      islands: DataFrame, extraDrops: Option[DataFrame],
      benchmarkMaxId: Long, minChars: Int, sampleFrac: Double,
      seqLen: Int): DataFrame = {
    val survivors = e3Survivors(documents, benchmarkMaxId, minChars,
      sampleFrac, extraDrops)
    redactPackFromIslands(survivors, islands, seqLen)
      .join(survivors.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok_orig"),
        col("n_redacted"), col("n_tok"), col("start_offset"),
        col("chunk_id"))
  }

  /** The shared redact-and-pack manifest core of e13 ([[surgicalCorpus]])
    * and e17/e18 ([[fullRelease]] family), memoized per (corpus, islands,
    * drops, params) — see [[manifestCache]]. */
  private[graft] def packedManifest(documents: DataFrame,
      islands: DataFrame, extraDrops: Option[DataFrame],
      benchmarkMaxId: Long, minChars: Int, sampleFrac: Double,
      seqLen: Int): DataFrame = {
    manifestCache.getOrBuildElse((documents.queryExecution.analyzed
      .canonicalized, islands.queryExecution.analyzed.canonicalized,
      extraDrops.map(_.queryExecution.analyzed.canonicalized),
      benchmarkMaxId, minChars,
      java.lang.Double.doubleToLongBits(sampleFrac), seqLen),
      (documents +: islands +: extraDrops.toSeq): _*) {
      // localCheckpoint, NOT persist: a persisted manifest prints its
      // whole cached-plan body at EVERY consuming join leg (the audit5
      // 8.8k-line-dump pathology, guide §3.3's plan-size note) and
      // Catalyst re-canonicalizes that body per reference; the
      // checkpoint is the same one eager materialization but enters
      // consumer plans as a three-line ExistingRDD scan
      MemoLedger.timed("release_manifest") {
        packedManifestCompute(documents, islands, extraDrops,
          benchmarkMaxId, minChars, sampleFrac, seqLen).localCheckpoint()
      }
    }(packedManifestCompute(documents, islands, extraDrops,
      benchmarkMaxId, minChars, sampleFrac, seqLen))
  }

  /** Session memo for the two MEDIA drop lists (optimization round 2,
    * VERDICT #3): audit2, e9/e10, and the e18 family each re-ran the
    * banded-Hamming pair engines / containment probe over the memoized
    * signatures to re-derive identical pair-mass-bounded id lists.
    * Tiny frames; same staleness/bound discipline as every memo here. */
  private val dropListCache = new SessionMemo[
    (String, Plan, Int, Int, Long), DataFrame](Seq(_))

  private def memoDropList(tag: String, documents: DataFrame, a: Int,
      b: Int, benchMaxId: Long)(build: => DataFrame): DataFrame =
    dropListCache.getOrBuildElse((tag, documents.queryExecution.analyzed
      .canonicalized, a, b, benchMaxId), documents) {
      // checkpoint, not persist — the plan-print/canonicalization
      // argument on the manifest memo applies to every funnel leg
      MemoLedger.timed(tag)(build.localCheckpoint())
    }(build)

  /** E15 — the REDACTED TEXT itself: the surgical family finally
    * produces the artifact the plan exists for. d30 emits token spans,
    * d33 lifts them to char ranges; this op SPLICES — for every flagged
    * training doc, the original text with the union of its quoted char
    * ranges excised. Until now only the pack manifests (e12/e13) and
    * the span plans shipped; the corpus text a release hands to a
    * trainer required the holder to splice by hand.
    *
    * Mechanics: the d30 token spans are interval-unioned per doc in
    * TOKEN space ([[unionTokenSpans]] — the SAME islands the e12/e13
    * manifests count, so the two sides of the token-stream law cannot
    * read different islands), each merged island lifts to a char range
    * via the token offsets (first covered token's cs to last covered
    * token's ce — overlapping/touching quotes never double-delete), and
    * the kept pieces concatenate via one bounded `aggregate` fold over
    * the doc's sorted interval array.
    *
    * Two CJK-aware refinements make the token-stream law hold at every
    * splice point (round-16 carried a documented CJK–Latin butt-joint
    * exception; both refinements are inert on ASCII corpora, so the
    * DuckDB oracle — whose [a-z0-9] token space has no CJK — mirrors
    * the plain lift):
    *  - SHRINK: overlapping CJK bigram tokens share chars, so an island
    *    edge that falls strictly inside a bigram run keeps the shared
    *    boundary char — a char is cut only when EVERY token containing
    *    it is covered; cutting it would also destroy the uncovered
    *    straddling bigram the manifest still counts;
    *  - JOINT SEPARATOR: when the chars abutting a cut are both
    *    token-constituent, one space is emitted at the splice point so
    *    the surviving runs cannot fuse into new tokens ("abc中文def"
    *    with 中文 redacted splices to "abc def", never "abcdef").
    *
    * THE TOKEN-STREAM LAW (spec-pinned, per doc, UNCONDITIONAL — the
    * round-16 CJK exception is closed): `Text.tokenize(redacted_text)
    * .length` == tokenized length − unioned island mass, exactly the
    * count the e12/e13 manifests pack.
    *
    * THE FIXED-POINT law (spec-pinned): re-running the d28 probe over
    * the post-splice corpus yields zero flags — the quotes are gone,
    * and the separator-guarded adjacencies across a cut cannot
    * reconstruct them at the containment threshold.
    *
    * Output (doc_id, n_spans, n_chars_cut, redacted_text) for flagged
    * docs only — the redaction DELTA; unflagged docs ship verbatim, so
    * a release materializes `documents ∖ flagged ∪ this`. n_spans
    * counts merged TOKEN islands; n_chars_cut is the exact char mass
    * excised (post-shrink).
    *
    * Scale: flag-bounded end to end — only flagged docs re-tokenize
    * (the offsets semi-join), the union windows partition by doc_id,
    * and the fold runs per row over its own interval array. */
  def redactedText(documents: DataFrame, benchmarkMaxId: Long = 25L,
      n: Int = 3, threshold: Double = 0.8,
      minPositions: Int = 3): DataFrame =
    redactedTextFromSpans(documents,
      Dedup.quoteRedactionSpans(documents, benchmarkMaxId, n,
        threshold, tol = 1, minPositions = minPositions))

  /** [[redactedText]] from a PRECOMPUTED span plan — the shared-plan
    * seam: [[surgicalCorpusTextWithSpans]] feeds manifest and delta
    * from ONE d30 derivation, and `Streams.surgicalCorpusTextFromIngest`
    * feeds spans rebuilt from the committed online d28 flags. */
  private[graft] def redactedTextFromSpans(documents: DataFrame,
      spanPlan: DataFrame): DataFrame =
    redactedTextFromIslands(documents, sharedIslands(spanPlan))

  /** Session memo for the redaction DELTA (optimization round 2): the
    * splice is survivor-set INDEPENDENT (the e16/e19 scaladoc law), so
    * e15, e16, and e19 ship the IDENTICAL flag-bounded
    * (doc_id, n_spans, n_chars_cut, redacted_text) frame — each was
    * re-running the offsets semi-join + interval lift + interpreted
    * fold. Tiny (flagged docs only); same staleness/bound discipline
    * as every memo here. */
  private val deltaCache =
    new SessionMemo[(Plan, Plan), DataFrame](Seq(_))

  /** [[redactedTextFromSpans]] from PRECOMPUTED merged islands — the
    * island-sharing twin of [[redactPackFromIslands]] (see there),
    * memo-backed per (documents, islands). */
  private[graft] def redactedTextFromIslands(documents: DataFrame,
      merged: DataFrame): DataFrame =
    deltaCache.getOrBuildElse((documents.queryExecution.analyzed
      .canonicalized, merged.queryExecution.analyzed.canonicalized),
      documents, merged) {
      MemoLedger.timed("redaction_delta") {
        redactedTextFromIslandsCompute(documents, merged).localCheckpoint()
      }
    }(redactedTextFromIslandsCompute(documents, merged))

  private def redactedTextFromIslandsCompute(documents: DataFrame,
      merged: DataFrame): DataFrame = {
    val offs = Dedup.tokenOffsetsFor(documents, merged)
    val cur = element_at(col("offs"), col("ms").cast("int"))
    val lst = element_at(col("offs"), col("me").cast("int"))
    // neighbor probes are CLAMPED in bounds (ANSI element_at errors on
    // out-of-range even under a false guard in some eval paths)
    val prv = element_at(col("offs"),
      greatest(col("ms") - 1, lit(1L)).cast("int"))
    val nxt = element_at(col("offs"),
      least(col("me") + 1, size(col("offs")).cast("long")).cast("int"))
    // the CJK shrink: +1/-1 exactly when the island edge overlaps a
    // surviving straddler token (bigram overlap is exactly one char;
    // Latin tokens never overlap, so the shrink is a no-op there)
    val lifted = merged.join(offs, "doc_id")
      .select(col("doc_id"),
        (cur("cs") + when(col("ms") > 1 && prv("ce") > cur("cs"), 1)
          .otherwise(0)).as("s"),
        (lst("ce") - when(col("me") < size(col("offs")) &&
          nxt("cs") < lst("ce"), 1).otherwise(0)).as("e"))
    val perDoc = lifted.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        count(lit(1)).as("n_spans"),
        sum((col("e") - col("s")).cast("long")).as("n_chars_cut"))
      // barrier: the interpreted fold below must not re-inline through
      // the text join per output row (the CollapseProject barrier)
      .localCheckpoint()
    // token-constituent char class — the tokenizer's own contract
    // constant, shared so the splice joint-separator rule can never
    // drift from what tokenize() considers a token char
    def isTok(c: Column) =
      c.rlike(graft.functions.Text.tokenCharClass)
    // a splice joint needs a separator when the kept chars on BOTH
    // sides of the cut are token-constituent (s > pos: the left
    // neighbor char survived — a zero-width shrunk island mid-run
    // still splits the run through this branch)
    def joint(pos: Column, iv: Column) =
      iv("s") > pos && isTok(col("text").substr(iv("s"), lit(1))) &&
        iv("e") < length(col("text")) &&
        isTok(col("text").substr(iv("e") + 1, lit(1)))
    perDoc
      .join(documents.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("n_spans"), col("n_chars_cut"),
        aggregate(col("ivs"),
          struct(lit(0).as("pos"), lit("").as("acc")),
          (acc, iv) => struct(iv("e").as("pos"),
            concat(acc("acc"),
              col("text").substr(acc("pos") + 1, iv("s") - acc("pos")),
              when(joint(acc("pos"), iv), lit(" ")).otherwise(lit("")))
              .as("acc")),
          acc => concat(acc("acc"), col("text").substr(acc("pos") + 1,
            length(col("text")) - acc("pos")))).as("redacted_text"))
  }

  /** E13 — the FULL surgical release: e3's whole curation pipeline
    * (benchmark exclusion, length floor, exact/near-dup drops, d9
    * contamination drop, reproducible sampling) with the quote stage
    * handled SURGICALLY — instead of e11's whole-doc drop, every
    * surviving quote-flagged doc has its d30 spans cut and repacks at
    * its post-redaction token count (a doc redacted to nothing still
    * drops). This is the release shape when flagged docs are valuable:
    * dedup + decontaminate + redact + pack in one composition.
    *
    * Token space: the packed counts are TOKENIZE-space (the space the
    * spans index) for every survivor — the surgical corpus packs what
    * the spans cut, where e3/e11 pack whitespace counts (documented
    * divergence, oracle mirrors it). The length floor still reads raw
    * chars like e3. Output (doc_id, lang, n_tok_orig, n_redacted,
    * n_tok, start_offset, chunk_id).
    *
    * Scale: e3's drop-list joins (planner-chosen, AQE-broadcast when
    * small) + the flag-bounded span plan + one tokenize pass — no new
    * shuffle family beyond its parents. */
  def surgicalCorpus(documents: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096, threshold: Double = 0.8,
      minPositions: Int = 3): DataFrame =
    surgicalCorpusWithSpans(documents,
      Dedup.quoteRedactionSpans(documents, benchmarkMaxId, 3,
        threshold, tol = 1, minPositions = minPositions),
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** [[surgicalCorpus]] with a PRECOMPUTED span plan — the streamed-e13
    * composition (`Streams.surgicalCorpusFromIngest` feeds spans rebuilt
    * from the COMMITTED online d28 flags), mirroring
    * [[redactedCorpusFromSpans]] for the full-curation release. */
  private[graft] def surgicalCorpusWithSpans(documents: DataFrame,
      spanPlan: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096): DataFrame =
    surgicalCorpusFromIslands(documents, sharedIslands(spanPlan),
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** [[surgicalCorpusWithSpans]] from PRECOMPUTED merged islands — the
    * e16 seam ([[surgicalCorpusTextWithSpans]]) feeds manifest and
    * splice from ONE island derivation. */
  private[graft] def surgicalCorpusFromIslands(documents: DataFrame,
      islands: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096): DataFrame =
    packedManifest(documents, islands, extraDrops = None,
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** E14 — SEMANTIC decontamination enforced: e3's whole curation
    * pipeline with one more drop stage — every training doc whose
    * EMBEDDING sits within the d31 cosine threshold of an eval-holdout
    * vector is dropped BEFORE sampling and packing, exactly the way e11
    * enforces the d28 quote flags. This closes the one contamination
    * modality that was probed but never enforced: a semantic PARAPHRASE
    * of a benchmark item shares no shingles (d9/d28 blind) and no
    * pixels (d25 blind) yet ships training signal about the eval set —
    * d31 sees it, and from here it no longer ships.
    *
    * vec_id is the embedding OF doc_id (the TESTDATA/audit3 alignment);
    * a corpus whose embedding store keys differently joins its mapping
    * onto the flag frame first. The holdout is the SAME id range as the
    * text benchmark (`benchmarkMaxId`), so item k's text and vector are
    * facets of one eval item.
    *
    * Scale: the flag frame is contamination-mass-bounded (d31's output,
    * eval side broadcast inside the probe), the drop is one more
    * planner-chosen anti-join on the survivor chain — no new shuffle
    * family beyond e3 + d31. Drops apply BEFORE sampling, so surviving
    * offsets repack contiguously (the e11 discipline). */
  def semanticDecontaminatedCorpus(documents: DataFrame,
      embeddings: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5, seqLen: Int = 4096,
      cosThreshold: Double = 0.4): DataFrame =
    trainingCorpusCore(documents, benchmarkMaxId, minChars, sampleFrac,
      seqLen, Some(semanticFlags(embeddings, benchmarkMaxId,
        cosThreshold)))

  /** The d31 flag frame as a (doc_id) drop list — shared by the e14
    * release and its funnel so the two cannot diverge. */
  private[graft] def semanticFlags(embeddings: DataFrame, benchmarkMaxId: Long,
      cosThreshold: Double): DataFrame =
    Similarity.embeddingContaminationSplitCheck(embeddings,
        benchmarkMaxId, cosThreshold)
      .select(col("vec_id").as("doc_id")).distinct()

  /** E17 — the FULL release: every enforced contamination defense in
    * ONE composition — e3's curation (benchmark exclusion, length
    * floor, exact/near-dup drops, d9 shingle decontamination,
    * reproducible sampling) + the d31 SEMANTIC drop (e14's stage: a
    * paraphrase of an eval item no shingle test can see) + SURGICAL
    * quote redaction (e13's stage: verbatim quotes cut, prose kept,
    * survivors repacked at post-redaction counts). The flagship shape a
    * production corpus drop runs: a doc carrying eval semantics leaves
    * wholesale, a doc merely quoting eval text ships redacted, and
    * everything else packs as e3 would.
    *
    * Composition law (spec-pinned): e17's doc set == e13's minus the
    * d31 flag set — the semantic stage commutes with every other drop
    * (all are doc_id anti-joins before sampling), so the two flagships
    * compose exactly. Output = e13's columns.
    *
    * Scale: e13's plan + one contamination-mass-bounded anti-join (the
    * e14 stage) — no new shuffle family beyond its parents. */
  def fullRelease(documents: DataFrame, embeddings: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096,
      threshold: Double = 0.8, minPositions: Int = 3,
      cosThreshold: Double = 0.4): DataFrame =
    fullReleaseWithSpansAndDrops(documents,
      Dedup.quoteRedactionSpans(documents, benchmarkMaxId, 3,
        threshold, tol = 1, minPositions = minPositions),
      semanticFlags(embeddings, benchmarkMaxId, cosThreshold),
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** [[fullRelease]] with PRECOMPUTED span plan and semantic drop list
    * — the streamed-e17 composition (`Streams.fullReleaseFromIngest`
    * feeds the committed online d28 spans and d31 flags), mirroring
    * [[surgicalCorpusWithSpans]] and [[trainingCorpusWithDrops]]. */
  private[graft] def fullReleaseWithSpansAndDrops(documents: DataFrame,
      spanPlan: DataFrame, semanticDrops: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096): DataFrame =
    fullReleaseFromIslandsAndDrops(documents, sharedIslands(spanPlan),
      semanticDrops, benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** [[fullReleaseWithSpansAndDrops]] from PRECOMPUTED merged islands —
    * the e19 seam feeds manifest and splice from ONE island
    * derivation (see [[redactPackFromIslands]]). */
  private[graft] def fullReleaseFromIslandsAndDrops(documents: DataFrame,
      islands: DataFrame, semanticDrops: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096): DataFrame =
    packedManifest(documents, islands, Some(semanticDrops),
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** The media NEAR-DUP drop list (the e9 stage as a frame): the
    * higher-id side of every d21 perceptual-hash image pair and every
    * d23 audio-envelope pair, unioned. The two pair frames are disjoint
    * by construction (a doc_id is one modality), so the union never
    * double-drops; both lists stay pair-output-sized. ONE
    * implementation consumed by e9 ([[fullMediaCuratedCorpus]]), its
    * funnel ([[mediaFilterFunnel]]), and the e18 release
    * ([[fullMultimodalRelease]] + [[surgicalFilterFunnel]]), so the
    * drop rule cannot drift between release and audit. */
  private[graft] def mediaNearDupDrops(documents: DataFrame,
      maxHamming: Int = 3, audioMaxHamming: Int = 2): DataFrame =
    memoDropList("media_dup_drops", documents, maxHamming,
        audioMaxHamming, 0L) {
      Multimodal.phashPairs(documents, maxHamming)
        .select(col("doc2").as("doc_id"))
        .unionByName(Multimodal.audioPairs(documents, audioMaxHamming)
          .select(col("doc2").as("doc_id")))
        .distinct()
    }

  /** The media CONTAMINATION drop list (the e10 stage as a frame):
    * every training doc the d25 probe flags as carrying benchmark media
    * at the LOOSE enforcement budgets (see
    * [[decontaminatedMediaCorpus]]'s budget note — at the dedup budgets
    * the stage is subsumed by the near-dup anti-join). Shared by e10,
    * audit2, and the e18 family. */
  private[graft] def mediaContamDrops(documents: DataFrame,
      benchMaxId: Long, contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3): DataFrame =
    memoDropList("media_contam_drops", documents, contamMaxHamming,
        contamAudioMaxHamming, benchMaxId) {
      Multimodal.mediaContaminationSplitCheck(documents, benchMaxId,
          contamMaxHamming, contamAudioMaxHamming)
        .select(col("doc_id")).distinct()
    }

  /** E18 — the full MULTIMODAL release: every enforced defense across
    * every modality in ONE composition. e17 closed the text+semantic
    * side (e3 curation + d31 semantic drop + surgical d30 quote
    * redaction); until now a mixed-modality corpus drop still ran the
    * e8–e10 media branch separately and intersected by hand. This op
    * adds the two media drop stages as pre-sampling doc_id anti-joins on
    * e17's survivor chain:
    *
    *  - media NEAR-DUP ([[mediaNearDupDrops]] — d21 dHash @ `maxHamming`
    *    + d23 envelope @ `audioMaxHamming`, higher id drops);
    *  - media CONTAMINATION ([[mediaContamDrops]] — d25 at the LOOSE
    *    enforcement budgets, the e10 recall-over-mass discipline).
    *
    * Composition law (spec- and sf1-pinned): e18's doc set == e17's
    * minus the media drop lists — every drop in the whole family is a
    * doc_id anti-join BEFORE sampling, so the stages commute and the
    * flagships compose exactly (the e17-vs-e13 law, one modality
    * wider). Output = e13/e17's columns.
    *
    * Scale: e17's plan + one pair-output-sized and one
    * contamination-mass-sized anti-join — no new shuffle family beyond
    * its parents (the media signature scans are the d21/d23/d25 ones,
    * banded, never all-pairs). */
  def fullMultimodalRelease(documents: DataFrame, embeddings: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, seqLen: Int = 4096,
      threshold: Double = 0.8, minPositions: Int = 3,
      cosThreshold: Double = 0.4, maxHamming: Int = 3,
      audioMaxHamming: Int = 2, contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3): DataFrame =
    fullMultimodalReleaseWithFlags(documents,
      multimodalFlags(documents, embeddings, benchmarkMaxId, threshold,
        minPositions, cosThreshold, maxHamming, audioMaxHamming,
        contamMaxHamming, contamAudioMaxHamming),
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** The FOUR parameterized flag frames of the e18 family, derived in
    * ONE place. The e18 release ([[fullMultimodalReleaseWithFlags]])
    * and its provenance funnel ([[surgicalFilterFunnelWithFlags]])
    * both consume an instance of this, so the funnel's conservation
    * laws (kept ∪ redacted == e18's doc set, Σ n_tok_cut ==
    * Σ n_redacted) hold by CONSTRUCTION, not by the caller remembering
    * to pass identical thresholds twice — a mismatch is now
    * unrepresentable at the seam (the e3-core frames — near/exact-dup,
    * shingle contamination — carry no tunable thresholds: their
    * shingle constants are pinned inside [[e3Survivors]] and the
    * funnels alike). */
  private[graft] final case class MultimodalFlags(spanPlan: DataFrame,
      semantic: DataFrame, mediaDup: DataFrame, mediaContam: DataFrame) {
    /** The release's pre-sampling drop assembly: the three doc_id drop
      * lists unioned (disjointness is not required — drops anti-join). */
    def drops: DataFrame = semantic
      .unionByName(mediaDup).unionByName(mediaContam)
  }

  /** Derive the e18 family's flag frames once from the raw corpora —
    * the ONLY place the four tunable-threshold frames are built. */
  private[graft] def multimodalFlags(documents: DataFrame,
      embeddings: DataFrame, benchmarkMaxId: Long,
      threshold: Double = 0.8, minPositions: Int = 3,
      cosThreshold: Double = 0.4, maxHamming: Int = 3,
      audioMaxHamming: Int = 2, contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3): MultimodalFlags =
    MultimodalFlags(
      spanPlan = Dedup.quoteRedactionSpans(documents, benchmarkMaxId, 3,
        threshold, tol = 1, minPositions = minPositions),
      semantic = semanticFlags(embeddings, benchmarkMaxId, cosThreshold),
      mediaDup = mediaNearDupDrops(documents, maxHamming,
        audioMaxHamming),
      mediaContam = mediaContamDrops(documents, benchmarkMaxId,
        contamMaxHamming, contamAudioMaxHamming))

  /** [[fullMultimodalRelease]] from PRECOMPUTED flags — the seam the
    * funnel shares (see [[MultimodalFlags]]). */
  private[graft] def fullMultimodalReleaseWithFlags(documents: DataFrame,
      flags: MultimodalFlags, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      seqLen: Int = 4096): DataFrame =
    fullReleaseWithSpansAndDrops(documents, flags.spanPlan, flags.drops,
      benchmarkMaxId, minChars, sampleFrac, seqLen)

  /** E16 — the SPLICED surgical release: the actual (doc_id, lang,
    * text) corpus a trainer loads. e13 ships the pack MANIFEST (counts
    * and offsets) and e15 the redaction DELTA (flagged docs' spliced
    * text); this joins them — every e13 survivor with its post-splice
    * text (redacted where flagged, verbatim otherwise). The closing law
    * (spec-pinned, per doc): `Text.tokenize(text).length == e13.n_tok`
    * — the shipped text IS the manifest's token stream, so offsets,
    * chunk ids, and the conservation arithmetic all transfer.
    *
    * The law is UNCONDITIONAL: the round-16 CJK–Latin butt-joint
    * exception is closed by [[redactedText]]'s joint separators and
    * bigram-edge shrink ("abc中文def" with 中文 redacted now splices to
    * "abc def", which re-tokenizes to exactly the manifest's count).
    *
    * Manifest and delta consume ONE span plan
    * ([[surgicalCorpusTextWithSpans]], the fullReleaseWithSpansAndDrops
    * pattern) — the round-16 double d30 derivation is gone, and the
    * streamed leg (`Streams.surgicalCorpusTextFromIngest`) enters at
    * the same seam with spans rebuilt from the committed online flags.
    *
    * Scale: e13's own plan + the flag-bounded e15 splice + one
    * broadcast-able delta join; the only corpus-frame additions are the
    * survivor semi-join and the text projection. */
  def surgicalCorpusText(documents: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      threshold: Double = 0.8, minPositions: Int = 3): DataFrame =
    surgicalCorpusTextWithSpans(documents,
      Dedup.quoteRedactionSpans(documents, benchmarkMaxId, 3,
        threshold, tol = 1, minPositions = minPositions),
      benchmarkMaxId, minChars, sampleFrac)

  /** [[surgicalCorpusText]] with a PRECOMPUTED span plan, derived ONCE
    * and shared by the pack manifest and the text delta — the plan is
    * flag-bounded (a cheap frame to pin behind the localCheckpoint
    * barrier) and both consumers fan out of it, so neither an isolated
    * run nor the streamed leg pays the span joins twice. */
  private[graft] def surgicalCorpusTextWithSpans(documents: DataFrame,
      spanPlan: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5): DataFrame = {
    // ONE island derivation shared by manifest and splice — now the
    // session-memoized islands frame (persisted; the checkpoint fallback
    // keeps the barrier when the span plan is unmemoizable)
    val islands = sharedIslands(spanPlan, checkpointFallback = true)
    splicedText(documents, islands,
      surgicalCorpusFromIslands(documents, islands, benchmarkMaxId,
          minChars, sampleFrac)
        .select(col("doc_id"), col("lang")))
  }

  /** The text-join half shared by e16 and e19: the (doc_id, lang)
    * manifest joined to its post-splice text — the redaction delta
    * where flagged, verbatim otherwise. The splice itself is
    * survivor-set INDEPENDENT (spans derive from the corpus, drops only
    * choose which spliced rows ship), which is exactly why every
    * release's text form can share it. `islands` is the MERGED
    * interval-union frame ([[unionTokenSpans]] output, checkpointed by
    * the caller) — both consumers of the span plan read the same
    * islands by construction. */
  private[graft] def splicedText(documents: DataFrame, islands: DataFrame,
      manifest: DataFrame): DataFrame = {
    val delta = redactedTextFromIslands(documents, islands)
      .select(col("doc_id"), col("redacted_text"))
    manifest
      .join(documents.select(col("doc_id"), col("text").as("orig")),
        "doc_id")
      .join(delta, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("redacted_text"), col("orig")).as("text"))
  }

  /** E19 — the spliced text of the FULL MULTIMODAL release: the
    * (doc_id, lang, text) corpus a trainer loads when the drop is e18.
    * e16 gave e13 its loadable form; e17/e18 still shipped manifests
    * only, so a full-release corpus drop spliced by hand. Composition:
    * e18's survivor chain ([[fullReleaseWithSpansAndDrops]] under the
    * unioned semantic + media drop lists) through the SAME single span
    * plan and [[splicedText]] join the e16 path uses.
    *
    * Laws (spec-pinned): doc set == e18's; per doc the text
    * re-tokenizes to exactly e18's n_tok (the manifest token-stream
    * law, unconditional since the CJK butt-joint close); and e19 ==
    * e16 ∖ (semantic ∪ media drops) ROW-IDENTICAL including text — the
    * splice is survivor-set independent, so the release family's
    * commutation extends to the text forms.
    *
    * Scale: e18's plan + the flag-bounded splice + one broadcast-able
    * delta join — e16's economics under e18's drop chain. */
  def fullMultimodalReleaseText(documents: DataFrame,
      embeddings: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5,
      threshold: Double = 0.8, minPositions: Int = 3,
      cosThreshold: Double = 0.4, maxHamming: Int = 3,
      audioMaxHamming: Int = 2, contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3): DataFrame = {
    val flags = multimodalFlags(documents, embeddings, benchmarkMaxId,
      threshold, minPositions, cosThreshold, maxHamming, audioMaxHamming,
      contamMaxHamming, contamAudioMaxHamming)
    fullMultimodalReleaseTextWithSpansAndDrops(documents, flags.spanPlan,
      flags.drops, benchmarkMaxId, minChars, sampleFrac)
  }

  /** [[fullMultimodalReleaseText]] with PRECOMPUTED span plan and drop
    * list — the streamed-e19 composition seam
    * (`Streams.fullMultimodalReleaseTextFromIngest` feeds the committed
    * online spans and the four-store drop assembly), mirroring
    * [[fullReleaseWithSpansAndDrops]]. The plan is checkpointed ONCE
    * and shared by the manifest and the splice delta (the e16
    * one-derivation discipline). */
  private[graft] def fullMultimodalReleaseTextWithSpansAndDrops(
      documents: DataFrame, spanPlan: DataFrame, drops: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5): DataFrame = {
    // ONE island derivation shared by manifest and splice — the e16
    // discipline (see surgicalCorpusTextWithSpans)
    val islands = sharedIslands(spanPlan, checkpointFallback = true)
    splicedText(documents, islands,
      fullReleaseFromIslandsAndDrops(documents, islands, drops,
          benchmarkMaxId, minChars, sampleFrac)
        .select(col("doc_id"), col("lang")))
  }

  /** E5 — the round-5 curation composition: model-based quality filter
    * (q1), exact-substring duplication cap (d14), and exact-dup keeper
    * selection (d1) in one pass over the corpus. This is the pipeline a
    * CCNet/RefinedWeb-style curation run executes: score with the quality
    * model, drop heavily-duplicated documents, keep one copy per exact
    * fingerprint. Each input frame is a one-shuffle-family operator; the
    * composition joins them on doc_id, so the plan stays three parallel
    * doc_id-keyed branches and two joins — no new shuffle shape. The
    * corpus is scanned once per branch (columnar parquet reads of the two
    * needed columns); sharing one materialized text frame instead would
    * trade three cheap scans for corpus-scale checkpoint storage, the
    * wrong trade at 100 TB.
    *
    * Thresholds compare the same 6dp-rounded values both engines already
    * hash-match per-operator, so the composed filter is oracle-exact.
    *
    * Session-memoized ([[SessionMemo]]): FOUR queries consume this keep-set (e5 itself,
    * e6 packing, e7 bucketing, e8 media curation) — at scale a curation
    * run materializes its keep-set once per corpus release, not once per
    * downstream job, and the frame is keep-set-sized (4 narrow columns),
    * cheap to pin. */
  def curatedCorpus(documents: DataFrame, minScore: Double = 0.45,
      maxDupFrac: Double = 0.5): DataFrame =
    curatedCache.getOrBuild((documents.queryExecution.analyzed.canonicalized,
      java.lang.Double.doubleToLongBits(minScore),
      java.lang.Double.doubleToLongBits(maxDupFrac)), documents) {
      curatedCompute(documents, minScore, maxDupFrac).localCheckpoint()
    }

  private val curatedCache =
    new SessionMemo[(Plan, Long, Long), DataFrame](Seq(_))

  private def curatedCompute(documents: DataFrame, minScore: Double,
      maxDupFrac: Double): DataFrame = {
    val scores = TextAnalysis.modelQualityScore(documents)
    val spans = Dedup.dupSpans(documents, 8, 2)
      .select(col("doc_id"), col("dup_frac"))
    // keeper convention shared with d1/e3: min doc_id per normalized
    // fingerprint — derive from the d1 operator instead of restating it
    val keepers = Dedup.exactDuplicates(documents)
      .select(col("keeper").as("doc_id")).distinct()
    scores
      .join(spans, "doc_id")
      .join(keepers, "doc_id")
      .where(col("score") >= minScore && col("dup_frac") <= maxDupFrac)
      .select(col("doc_id"), col("n_toks"), col("score"), col("dup_frac"))
  }

  /** [[curatedCorpus]] extended across modalities: the text-quality /
    * dup-span / exact-dup keepers additionally drop the higher-id side
    * of every perceptual-hash near-dup IMAGE pair
    * (`Multimodal.phashPairs` — the d21 engine), so a near-duplicate
    * image whose caption text passed every text filter still leaves the
    * corpus once. Audio docs carry no image hash and are unaffected by
    * the media leg (left-anti join misses them by construction). One
    * extra doc_id-keyed anti-join on top of e5's three branches; the
    * drop list is pair-output-sized. */
  def mediaCuratedCorpus(documents: DataFrame, minScore: Double = 0.45,
      maxDupFrac: Double = 0.5, maxHamming: Int = 3): DataFrame = {
    val phashDrops = Multimodal.phashPairs(documents, maxHamming)
      .select(col("doc2").as("doc_id")).distinct()
    curatedCorpus(documents, minScore, maxDupFrac)
      .join(phashDrops, Seq("doc_id"), "left_anti")
  }

  /** The ALL-MODALITY curation closer: [[mediaCuratedCorpus]]'s image
    * drop list UNIONED with the audio near-dup drop list (d23's engine,
    * same higher-id-drops greedy rule) before the single anti-join — so
    * text quality, text dup spans, exact text dups, image perceptual
    * dups, and audio envelope dups all gate one corpus with one pass
    * over the keep-set. The two pair frames are disjoint by construction
    * (a doc_id is one modality), so the union never double-drops; both
    * drop lists stay pair-output-sized, and the anti-join is the only
    * corpus-frame operation added. */
  def fullMediaCuratedCorpus(documents: DataFrame, minScore: Double = 0.45,
      maxDupFrac: Double = 0.5, maxHamming: Int = 3,
      audioMaxHamming: Int = 2): DataFrame = {
    curatedCorpus(documents, minScore, maxDupFrac)
      .join(mediaNearDupDrops(documents, maxHamming, audioMaxHamming),
        Seq("doc_id"), "left_anti")
  }

  /** E10 — the media DECONTAMINATION closer: [[fullMediaCuratedCorpus]]
    * minus every training document `Multimodal.
    * mediaContaminationSplitCheck` flags as carrying benchmark media (a
    * re-encoded eval image or re-sampled eval clip that survives text
    * decontamination). This converts d25 from a report into ENFORCEMENT,
    * mirroring the d9 → [[trainingCorpus]] `contaminated` stage the text
    * side has: detected contamination no longer ships.
    *
    * THE CONTAMINATION BUDGETS ARE DELIBERATELY LOOSER than the dedup
    * legs' (default hamming ≤ 5 visual / ≤ 3 audio vs the 3/2 near-dup
    * budgets), because at equal budgets the stage is a THEOREM-level
    * no-op: bench ids sit below every train id, so a train doc within
    * the dedup budget of a bench doc is the higher-id side of a d21/d23
    * pair and e9's near-dup anti-join already dropped it (the
    * subsumption corollary the spec pins). Decontamination wants RECALL
    * against eval leakage — a resize/re-encode drifting 4-5 bits must
    * still go — while dedup stays tight because its overdrop cost is
    * corpus mass; the looser band is exactly the stage's value.
    *
    * Composition law (spec- and oracle-pinned): e10 == e9 − flagged
    * train docs at the contamination budgets. The flags are train-side
    * by construction (doc_id ≥ benchMaxId), the drop list is
    * contamination-mass-sized, and the anti-join is the only
    * corpus-frame operation added — benchmark docs themselves stay
    * subject to e9's own rules (the benchmark HOLDOUT exclusion is the
    * release step [[trainingCorpus]] owns). */
  def decontaminatedMediaCorpus(documents: DataFrame,
      benchMaxId: Long = 25L, minScore: Double = 0.45,
      maxDupFrac: Double = 0.5, maxHamming: Int = 3,
      audioMaxHamming: Int = 2, contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3): DataFrame = {
    fullMediaCuratedCorpus(documents, minScore, maxDupFrac, maxHamming,
      audioMaxHamming)
      .join(mediaContamDrops(documents, benchMaxId, contamMaxHamming,
        contamAudioMaxHamming), Seq("doc_id"), "left_anti")
  }

  /** Provenance funnel for the MEDIA curation pipeline ([[e10 ==
    * decontaminatedMediaCorpus]]): every input document attributed to
    * the FIRST stage that rejects it, with per-stage document and token
    * mass — the media sibling of [[filterFunnel]]. Stages are exactly
    * e5 + e9 + e10's drop rules; the rules are commutative, so the
    * attribution order is a documented convention (cheapest-test-first):
    *
    *   exact_dup → low_score → high_dup_span → media_near_dup →
    *   media_contaminated → kept
    *
    * The stage partition is exhaustive and disjoint (one CASE over
    * per-doc flags), so Σ n_docs = |documents| — pinned by a
    * conservation spec — and the `kept` stage is EXACTLY the e10
    * keep-set (pinned by a composition spec). Token mass uses the
    * corpus-wide whitespace convention.
    *
    * Scale shape: the flag frames are the same drop lists the pipeline
    * builds (score/span frames are doc-keyed, the media lists pair- and
    * contamination-mass-sized); attribution is five left joins on
    * doc_id feeding one CASE, then a tiny stage-keyed groupBy. */
  def mediaFilterFunnel(documents: DataFrame, benchMaxId: Long = 25L,
      minScore: Double = 0.45, maxDupFrac: Double = 0.5,
      maxHamming: Int = 3, audioMaxHamming: Int = 2,
      contamMaxHamming: Int = 5,
      contamAudioMaxHamming: Int = 3): DataFrame = {
    val scores = TextAnalysis.modelQualityScore(documents)
      .select(col("doc_id"), col("score"))
    val spans = Dedup.dupSpans(documents, 8, 2)
      .select(col("doc_id"), col("dup_frac"))
    val keepers = Dedup.exactDuplicates(documents)
      .select(col("keeper").as("doc_id")).distinct()
      .withColumn("is_keeper", lit(true))
    val mediaDups = mediaNearDupDrops(documents, maxHamming,
      audioMaxHamming).withColumn("is_media_dup", lit(true))
    val contaminated = mediaContamDrops(documents, benchMaxId,
      contamMaxHamming, contamAudioMaxHamming)
      .withColumn("is_contam", lit(true))
    // coalesce defaults mirror e5's inner joins: a doc MISSING from the
    // score/span frames is not kept there, so it attributes to the
    // corresponding reject stage rather than leaking into `kept`
    documents
      .join(scores, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .join(keepers, Seq("doc_id"), "left")
      .join(mediaDups, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("is_keeper").isNull, "exact_dup")
          .when(coalesce(col("score"), lit(-1.0)) < minScore, "low_score")
          .when(coalesce(col("dup_frac"), lit(1.0)) > maxDupFrac,
            "high_dup_span")
          .when(col("is_media_dup"), "media_near_dup")
          .when(col("is_contam"), "media_contaminated")
          .otherwise("kept"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"))
  }

  /** AUDIT3 — the unified benchmark-health report: every eval item's
    * burn evidence across ALL FOUR contamination detectors — visual
    * (d21-engine pairs at e10's loose budgets), audio (d23-engine),
    * verbatim quotes (d28), and embedding-space paraphrases (d31) —
    * rolled up into the single per-item row a benchmark owner reads to
    * decide "retire this item". The three burn reports (d26 media, d29
    * quote, d32 embedding) exist separately; a cross-modality view is
    * what makes the decision: an item burned in two modalities is
    * compromised for any model trained on any slice of the corpus.
    *
    * Output (bench_id, n_visual, n_audio, n_quote, n_embed,
    * n_modalities, max_containment, max_cos, first_train): per-leg
    * flagging-training-doc counts (0 when clean on that leg),
    * n_modalities = how many of the four legs fired, the quote/embedding
    * severity maxima (null when that leg is clean — the media legs'
    * severity is hamming, already minimized inside d26), and the
    * earliest flagging training id across every leg.
    *
    * The embedding leg shares `benchMaxId` with the text/media legs —
    * vec_id is the embedding OF doc_id, so item k's text, media, and
    * vector are facets of one eval item (the e14 alignment).
    *
    * Scale: all three inputs are contamination-mass-bounded rollups
    * (each already one map-side-combinable groupBy over flag frames);
    * the full-outer joins run on eval-item-sized frames. No corpus-scale
    * work beyond what the probes themselves do. */
  def benchmarkHealthReport(documents: DataFrame, embeddings: DataFrame,
      benchMaxId: Long = 25L, maxHamming: Int = 5,
      audioMaxHamming: Int = 3, n: Int = 3, quoteThreshold: Double = 0.8,
      cosThreshold: Double = 0.4): DataFrame =
    healthRollup(
      Multimodal.benchmarkBurnReport(documents, benchMaxId, maxHamming,
        audioMaxHamming),
      Dedup.quoteBurnReport(documents, benchMaxId, n, quoteThreshold),
      Similarity.embeddingBurnReport(embeddings, benchMaxId,
        cosThreshold))

  /** The cross-modality JOIN half of [[benchmarkHealthReport]], shared
    * with the streamed composition (`Streams.benchmarkHealthFromIngest`
    * feeds burn rollups built from COMMITTED online flags): `mediaBurn`
    * is d26-shaped (bench_id, modality, n_train, first_train, ...),
    * `quoteBurn` d29-shaped, `embBurn` d32-shaped. */
  private[graft] def healthRollup(mediaBurn: DataFrame,
      quoteBurn: DataFrame, embBurn: DataFrame): DataFrame = {
    val media = mediaBurn
      .groupBy(col("bench_id"))
      .agg(sum(when(col("modality") === "visual", col("n_train"))
          .otherwise(0L)).as("n_visual"),
        sum(when(col("modality") === "audio", col("n_train"))
          .otherwise(0L)).as("n_audio"),
        min(col("first_train")).as("m_first"))
    val quote = quoteBurn
      .select(col("bench_id"), col("n_train").as("n_quote"),
        col("max_containment"), col("first_train").as("q_first"))
    val emb = embBurn
      .select(col("bench_id"), col("n_train").as("n_embed"),
        col("max_cos"), col("first_train").as("e_first"))
    // explicit MaxValue sentinel instead of relying on null-skipping
    // `least` semantics: the oracle must evaluate the identical
    // expression, and a full-outer row always has >= 1 non-null leg, so
    // the sentinel never survives to the output
    val maxL = lit(Long.MaxValue)
    media.join(quote, Seq("bench_id"), "full_outer")
      .join(emb, Seq("bench_id"), "full_outer")
      .select(col("bench_id"),
        coalesce(col("n_visual"), lit(0L)).as("n_visual"),
        coalesce(col("n_audio"), lit(0L)).as("n_audio"),
        coalesce(col("n_quote"), lit(0L)).as("n_quote"),
        coalesce(col("n_embed"), lit(0L)).as("n_embed"),
        col("max_containment"), col("max_cos"),
        least(coalesce(col("m_first"), maxL),
          coalesce(col("q_first"), maxL),
          coalesce(col("e_first"), maxL)).as("first_train"))
      .withColumn("n_modalities",
        (col("n_visual") > 0).cast("int") +
          (col("n_audio") > 0).cast("int") +
          (col("n_quote") > 0).cast("int") +
          (col("n_embed") > 0).cast("int"))
  }

  /** AUDIT6 — the burn-report → ACTION loop: [[benchmarkHealthReport]]'s
    * evidence turned into the retirement DECISION over the WHOLE eval
    * universe. audit3 names compromised items but nothing consumed it —
    * a benchmark owner still read the report and edited qrels by hand.
    * This op closes the loop: every bench item (doc_id < benchMaxId,
    * clean items included — a decision table must cover what it keeps,
    * not just what it drops) with its cross-modality burn count and a
    * `retired` verdict at the severity config: retired ⇔ n_modalities
    * >= `minModalities` (default 2 — an item burned in two INDEPENDENT
    * modalities is compromised for any model trained on any slice of
    * the corpus; single-leg evidence stays visible but keeps scoring).
    *
    * Output (bench_id, n_modalities, retired). Consumed by
    * [[pruneQrels]] (the retrieval-eval family stops scoring retired
    * items) and whatever other eval harness reads the verdict.
    *
    * Scale: the health report is flag-mass-bounded; the universe frame
    * is |bench| rows; one broadcast-able left join. */
  def prunedBenchmark(documents: DataFrame, embeddings: DataFrame,
      benchMaxId: Long = 25L, minModalities: Int = 2,
      maxHamming: Int = 5, audioMaxHamming: Int = 3, n: Int = 3,
      quoteThreshold: Double = 0.8, cosThreshold: Double = 0.4)
      : DataFrame =
    retirementDecision(documents,
      benchmarkHealthReport(documents, embeddings, benchMaxId,
        maxHamming, audioMaxHamming, n, quoteThreshold, cosThreshold),
      benchMaxId, minModalities)

  /** The decision half of [[prunedBenchmark]], shared with the streamed
    * composition (`Streams.prunedBenchmarkFromIngest` feeds the health
    * rollup built from the three committed burn stores): the bench
    * universe left-joined to any audit3-shaped health frame, verdict at
    * the severity config. */
  private[graft] def retirementDecision(documents: DataFrame,
      health: DataFrame, benchMaxId: Long,
      minModalities: Int): DataFrame = {
    require(minModalities >= 1, "minModalities must be >= 1")
    val nm = coalesce(col("n_modalities"), lit(0))
    documents.where(col("doc_id") < benchMaxId)
      .select(col("doc_id").as("bench_id"))
      .join(health.select(col("bench_id"), col("n_modalities")),
        Seq("bench_id"), "left")
      .select(col("bench_id"), nm.as("n_modalities"),
        (nm >= minModalities).as("retired"))
  }

  /** The action's final joint: an eval's qrels minus the items
    * [[prunedBenchmark]] retired — the query vanishes from the eval
    * entirely (anti-join, not a zero score: a compromised item must not
    * drag the aggregate either way; MRR/nDCG average over the REMAINING
    * queries). Assumes qrels' `query_id` IS the bench item id (the
    * r7 alignment — a query is an eval item probing the corpus); when
    * an eval keys queries differently, pre-join its (query_id,
    * bench_id) map and anti-join on that. Both frames are eval-sized;
    * the join is driver-scale no matter the corpus behind the run. */
  def pruneQrels(qrels: DataFrame, prunedBench: DataFrame): DataFrame =
    qrels.join(prunedBench.where(col("retired"))
      .select(col("bench_id").as("query_id")),
      Seq("query_id"), "left_anti")

  /** E20 — the release FINGERPRINT: one row that pins a release for
    * data versioning — (n_docs, n_tokens, digest), where digest is the
    * bit-XOR over per-row md5-derived 60-bit integers of
    * "doc_id:n_tok". The identity a training run records next to its
    * checkpoint: same digest ⇔ same doc set with the same
    * post-redaction token counts, any single-row change flips it, and
    * XOR makes it ORDER-INDEPENDENT — two clusters producing the same
    * release in different partition orders agree byte-for-byte, with
    * no sort and no single-partition funnel anywhere (the digest is
    * one map-side-combinable aggregate over the manifest). md5 is the
    * deliberate choice over xxhash64: both engines implement it
    * identically, so the fingerprint is engine-portable — a DuckDB
    * audit job can re-derive the digest the Spark release published.
    * Takes any manifest carrying (doc_id, n_tok) — e3 through e18. */
  def releaseFingerprint(manifest: DataFrame): DataFrame =
    manifest.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).cast("long").as("n_tokens"),
      bit_xor(conv(substring(md5(concat_ws(":", col("doc_id"),
          col("n_tok"))), 1, 15), 16, 10).cast("long")).as("digest"))

  /** Corpus datasheet: per (lang, source) stratum — document count, token
    * and character totals, and near-dup exposure. The report every corpus
    * release ships (and the input the mixing weights of
    * `Sampling.mixWithWeights` are tuned against). All measures are exact
    * integer sums (no float aggregation, no hash-compare flakiness); the
    * near-dup flag reuses the memoized pair frame, so on a warmed session
    * the report costs one scan plus a tiny rollup shuffle. */
  def corpusReport(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val dupIds = Dedup.jaccardPairs(documents, n, threshold)
      .select(col("doc2").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1))
    documents
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+"))).cast("long")
          .as("total_tokens"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        coalesce(sum(col("is_dup")), lit(0)).cast("long").as("n_near_dup"))
  }

  /** Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion —
    * the retrieval stage of a RAG/data-curation pipeline that wants
    * BM25's exact-term precision AND embedding recall without score
    * calibration (RRF uses only RANKS, so the two retrievers' incomparable
    * score scales never meet; Cormack et al., SIGIR'09).
    *
    * Each query names its BM25 terms (via [[Corpus.bm25TopK]]) and the
    * vec_id of its query embedding (dense side =
    * [[Similarity.bruteForceTopK]] over the corpus vectors, which
    * excludes the query vector itself). Both retrievers contribute their
    * top `kRetrieve` ranked lists; fusion is a full-outer join on
    * (query_id, doc_id) with score Σ 1/(rrfK + rank) over the lists the
    * doc appears in (absent list ⇒ no contribution — standard RRF).
    * Output: top `topK` per query, (query_id, doc_id, rrf@6dp, rn), ties
    * broken by doc_id. Determinism: the fused score is pure rational
    * arithmetic over integer ranks, so it is engine-portable wherever
    * the two input rankings are (both are proven: r1, sim1).
    *
    * Scale: fusion costs nothing — each side is a bounded |Q|·kRetrieve
    * list, so the join and the per-query top-k windows run on driver-scale
    * frames. The expensive parts are the retrievers themselves, which
    * carry their own scale paths (BM25's query-term pre-filter;
    * IVF/LSH in place of brute force). */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String], Long)],
      kRetrieve: Int = 50, topK: Int = 10, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val lex = Corpus.bm25TopK(documents,
        queries.map(q => (q._1, q._2)), kRetrieve)
      .select(col("query_id"), col("doc_id"), col("rn").as("rn_lex"))
    val qmap = queries.map(q => (q._1, q._3)).toDF("query_id", "qid")
    val dense = Similarity.bruteForceTopKIds(embeddings,
        queries.map(_._3), kRetrieve)
      .join(broadcast(qmap), "qid")
      .select(col("query_id"), col("nid").as("doc_id"),
        col("rn").as("rn_dense"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rn_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rn_dense")), lit(0.0)))
    fused
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf").desc, col("doc_id"))))
      .where(col("rn") <= topK)
      .select(col("query_id"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("rn"))
  }

  /** Retrieval evaluation: reciprocal rank and hit@k of a ranked run
    * against a relevance set — the harness that turns [[hybridRrf]] (or
    * any retriever emitting (query_id, doc_id, rn)) into a scored
    * experiment. Per query: rr = 1/rank of the FIRST relevant document
    * within the top `k` (0.0 if none — the no-hit query still appears,
    * so averaging rr over the output IS the MRR@k), and a boolean hit
    * flag. Multiple relevant docs per query are fine: `min(rn)` picks
    * the earliest.
    *
    * Scale: both inputs are bounded — qrels is |Q|·(relevant per query)
    * and the run is |Q|·k — so the join and per-query aggregate are
    * driver-scale no matter how large the corpus behind the run was. */
  def retrievalEval(ranked: DataFrame, qrels: DataFrame,
      k: Int = 10): DataFrame =
    qrels
      .join(ranked.where(col("rn") <= k).select(col("query_id"),
        col("doc_id"), col("rn")), Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(min(col("rn")).as("first_hit"))
      .select(col("query_id"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6)
          .as("rr"),
        col("first_hit").isNotNull.as("hit"))

  /** nDCG@k over GRADED qrels — the companion metric to [[retrievalEval]]
    * (MRR sees only the first hit; nDCG scores the whole ranked page
    * with graded relevance, the standard second axis of retrieval
    * evals). qrels carry (query_id, doc_id, grade); DCG@k sums
    * (2^grade − 1)/log2(pos+1) over run positions ≤ k, IDCG@k the same
    * over the query's own grades ideally ordered, ndcg = DCG/IDCG.
    *
    * Engine-portable by the twin rule: each TERM is one double op on
    * identical integer inputs quantized to 1e-6 ints, so the
    * row-spanning DCG/IDCG sums are exact int64 and no engine can
    * disagree on fp summation order; only the final ratio is float,
    * rounded 6dp. Queries with no top-k hit emit dcg = ndcg = 0 (they
    * stay visible, so averaging ndcg over the output is the eval).
    *
    * Scale: like [[retrievalEval]], both inputs are bounded (|Q|·grades
    * and |Q|·k), so everything downstream of the run is driver-scale. */
  def retrievalNdcg(ranked: DataFrame, qrels: DataFrame,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def termQ(pos: org.apache.spark.sql.Column) =
      round((pow(lit(2.0), col("grade").cast("double")) - 1.0)
        / log2(pos.cast("double") + 1.0) * 1e6).cast("long")
    val dcg = qrels
      .join(ranked.where(col("rn") <= k)
        .select(col("query_id"), col("doc_id"), col("rn")),
        Seq("query_id", "doc_id"))
      .select(col("query_id"), termQ(col("rn")).as("tq"))
      .groupBy("query_id").agg(sum(col("tq")).as("dcg_q"))
    val iw = Window.partitionBy(col("query_id"))
      .orderBy(col("grade").desc, col("doc_id"))
    val idcg = qrels
      .withColumn("pos", row_number().over(iw))
      .where(col("pos") <= k)
      .select(col("query_id"), termQ(col("pos")).as("tq"))
      .groupBy("query_id").agg(sum(col("tq")).as("idcg_q"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("dcg_q").cast("double"), lit(0.0)) / 1e6, 6)
          .as("dcg"),
        round(col("idcg_q").cast("double") / 1e6, 6).as("idcg"),
        // a query whose qrels are all grade 0 has idcg_q = 0: the
        // documented "queries stay visible with ndcg = 0" case, not a
        // null from the division
        when(col("idcg_q") > 0,
          round(coalesce(col("dcg_q").cast("double"), lit(0.0))
            / col("idcg_q"), 6)).otherwise(0.0).as("ndcg"))
  }

  /** Maximal-marginal-relevance diverse rerank (Carbonell & Goldstein
    * 1998) — the diversity-aware closer of the retrieval family (bm25 →
    * RRF fusion → nDCG eval → MMR): greedily pick k of the top-candK
    * BM25 candidates maximizing `lam·rel − (1−lam)·max-cos-to-selected`,
    * with rank-reciprocal relevance `rel = 1/rn` (integer-derived, so
    * the relevance term is the same double in any engine) and every
    * cosine rounded 6dp BEFORE the argmax (the sel1 selection-replay
    * discipline; ties to the smallest doc_id; the `1−lam` factor is
    * COMPUTED, not a literal, so both engines evaluate the identical
    * IEEE subtraction). Zero-norm candidates are excluded up front.
    *
    * Scale: the greedy runs DISTRIBUTED — one flatMapGroups task per
    * query over its ≤ candK candidate rows (bounded by config, never by
    * corpus), downstream of `Corpus.bm25TopK`'s own bounded-shuffle
    * plan. Nothing is collected to the driver: a million-query rerank
    * parallelizes across executors while each group's state stays candK
    * vectors. [[mmrRerankCollected]] keeps the driver-side formulation
    * as the row-identity twin (PipelineSpec pins equality).
    * Output (query_id, step, doc_id), step 1-based selection order. */
  def mmrRerank(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String])] = Corpus.defaultQueries,
      candK: Int = 8, k: Int = 3, lam: Double = 0.7): DataFrame = {
    require(k >= 1 && candK >= k, "need at least k candidates")
    require(lam >= 0.0 && lam <= 1.0, "lam is a convex mix")
    val spark = documents.sparkSession
    import spark.implicits._
    mmrCandidates(documents, embeddings, queries, candK)
      .groupByKey(_._1)
      .flatMapGroups((qid, it) => mmrGreedy(qid, it.toSeq, k, lam))
      .toDF("query_id", "step", "doc_id")
  }

  /** The driver-side formulation of [[mmrRerank]] — same candidates,
    * same greedy (literally the same [[mmrGreedy]] code), materialized
    * with one |Q|·candK-bounded collect. Kept as the cross-check twin:
    * the grouped path must reproduce it row for row. */
  def mmrRerankCollected(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String])] = Corpus.defaultQueries,
      candK: Int = 8, k: Int = 3, lam: Double = 0.7): DataFrame = {
    require(k >= 1 && candK >= k, "need at least k candidates")
    require(lam >= 0.0 && lam <= 1.0, "lam is a convex mix")
    val spark = documents.sparkSession
    import spark.implicits._
    val out = mmrCandidates(documents, embeddings, queries, candK)
      .collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (qid, cs) => mmrGreedy(qid, cs, k, lam) }
    out.toDF("query_id", "step", "doc_id")
  }

  private def mmrCandidates(documents: DataFrame, embeddings: DataFrame,
      queries: Seq[(String, Seq[String])],
      candK: Int): org.apache.spark.sql.Dataset[
        (String, Long, Int, Array[Float])] = {
    val spark = documents.sparkSession
    import spark.implicits._
    Corpus.bm25TopK(documents, queries, candK)
      .join(embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .select(col("query_id"), col("doc_id"), col("rn"), col("embedding"))
      .as[(String, Long, Int, Array[Float])]
  }

  /** One query's MMR greedy over its candidate rows — the shared body of
    * the distributed and collected paths, so the two cannot drift. */
  private def mmrGreedy(qid: String,
      cs0: Seq[(String, Long, Int, Array[Float])], k: Int,
      lam: Double): Seq[(String, Int, Long)] = {
    def nrm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    def cos6(a: Array[Float], b: Array[Float], na: Double,
        nb: Double): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i).toDouble; i += 1 }
      BigDecimal(d / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cs = cs0.map { case (_, id, rn, e) => (id, rn, e, nrm(e)) }
      .filter(_._4 > 0).sortBy(_._1)
    val selected =
      scala.collection.mutable.ArrayBuffer[(Long, Int, Array[Float], Double)]()
    val steps = scala.collection.mutable.ArrayBuffer[(String, Int, Long)]()
    var step = 1
    while (step <= k && selected.length < cs.length) {
      val best = cs.filterNot(c => selected.exists(_._1 == c._1))
        .map { c =>
          val pen =
            if (selected.isEmpty) 0.0
            else selected.map(s => cos6(c._3, s._3, c._4, s._4)).max
          (lam / c._2 - (1 - lam) * pen, c)
        }
        .maxBy { case (m, c) => (m, -c._1) }._2
      selected += best
      steps += ((qid, step, best._1))
      step += 1
    }
    steps.toSeq
  }

  /** Behavioral-pretraining sequence builder: each user's first `maxLen`
    * events as one ordered training example — (user_id, seq, n_events,
    * span_sec), where `seq` is the comma-joined event-type string in
    * (ts, event_id) order and `span_sec` the second-truncated time span
    * of the capped window. The same construction turns 100 TB of raw
    * clickstream into next-action-prediction examples.
    *
    * One shuffle total: the row_number window partitions by user_id and
    * the groupBy reuses that hash partitioning, so cap + assemble ride a
    * single exchange. The in-group sort is done ONCE by the window; the
    * post-aggregation `array_sort` over ≤ maxLen structs (ts, event_id,
    * event_type) re-establishes order after collect_list (which has no
    * ordering guarantee) at O(maxLen log maxLen) per user — driver-free
    * and skew-immune because the array is capped. event_id breaks ts
    * ties, so the sequence is total-ordered and engine-portable. */
  def userEventSequences(events: DataFrame, maxLen: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxLen)
      .groupBy(col("user_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x("event_type")), ",").as("seq"),
        count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("span_sec"))
  }

  /** Supervised next-action-prediction pairs from the capped per-user
    * sequences of [[userEventSequences]]: for every position 2..n of a
    * user's first `maxLen` events, one training example (user_id, pos,
    * context = comma-joined types of positions 1..pos−1, label = the
    * type at pos). Causal by construction — a context never sees its
    * own label or anything after it.
    *
    * Same ONE-exchange shape as userEventSequences (window and groupBy
    * both key on user_id); the per-user ordered type array is built once
    * (array_sort over the ≤ maxLen capped structs, skew-immune), then
    * posexplode + slice derive all n−1 prefix/label pairs WITHOUT
    * re-shuffling — the expansion is a generator over an in-memory
    * array, ≤ maxLen rows per user. */
  def nextEventPairs(events: DataFrame, maxLen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxLen)
      .groupBy(col("user_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => x("event_type")).as("types"))
      .select(col("user_id"),
        posexplode(col("types")).as(Seq("i0", "label")),
        col("types"))
      .where(col("i0") >= 1)
      .select(col("user_id"), (col("i0") + 1).cast("int").as("pos"),
        array_join(slice(col("types"), lit(1), col("i0")), ",")
          .as("context"),
        col("label"))
  }

  /** Provenance funnel for the [[trainingCorpus]] pipeline: every input
    * document attributed to the FIRST stage that rejects it (or `kept`),
    * with per-stage document and token mass — the audit report a corpus
    * release ships next to the data ("of 10 B docs: 1.2 B exact dups,
    * 0.9 B near dups, 40 M contaminated, ..."). The stages are exactly
    * trainingCorpus's drop rules; anti-join order there is commutative,
    * so the ATTRIBUTION order here is a documented convention:
    * benchmark → too_short → exact_dup → near_dup → contaminated →
    * sampled_out → kept, cheapest-test-first (mirroring the order a
    * short-circuiting scalar filter chain would charge them).
    *
    * The stage partition is exhaustive and disjoint by construction
    * (one CASE over per-doc flags), so Σ n_docs = |documents| — pinned
    * by a conservation spec. Token mass uses the corpus-wide whitespace
    * convention (`t1_token_stats`).
    *
    * Scale shape: the three drop-lists are the same frames
    * trainingCorpus builds (near/exact/contamination share the one
    * memoized shingle substrate); attribution is three left joins on
    * doc_id feeding one CASE, then a tiny stage-keyed groupBy — no new
    * shuffle family beyond the pipeline's own. */
  def filterFunnel(documents: DataFrame, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5): DataFrame =
    funnelCore(documents, benchmarkMaxId, minChars, sampleFrac, None)

  /** AUDIT4 — the [[filterFunnel]] extended with the SEMANTIC stage:
    * the provenance funnel of the e14 pipeline
    * ([[semanticDecontaminatedCorpus]]). Attribution order inserts
    * `semantic` after `contaminated` (the shingle test is cheaper than
    * the cosine probe — same cheapest-test-first convention), so:
    *
    *   benchmark → too_short → exact_dup → near_dup → contaminated →
    *   semantic → sampled_out → kept
    *
    * Same conservation law (Σ n_docs = |documents|, spec-pinned) and
    * the `kept` stage is EXACTLY e14's survivor set (composition
    * spec). The semantic flag frame is the same [[semanticFlags]] list
    * the release anti-joins, so funnel and release cannot diverge. */
  def semanticFilterFunnel(documents: DataFrame, embeddings: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, cosThreshold: Double = 0.4): DataFrame =
    funnelCore(documents, benchmarkMaxId, minChars, sampleFrac,
      Some(semanticFlags(embeddings, benchmarkMaxId, cosThreshold)))

  /** AUDIT5 — the SURGICAL provenance funnel: the conservation-law
    * funnel of the e18 release ([[fullMultimodalRelease]]), where
    * REDACTION is accounted as a first-class NON-DROP stage. audit1/2/4
    * attribute every dropped doc; the surgical releases (e13/e16/e17/
    * e18) had no provenance report — how many docs shipped redacted and
    * what token mass the spans cut was not auditable. Attribution order
    * (first-rejecting, the documented cheapest-test-first convention,
    * media stages where e18 inserts them):
    *
    *   benchmark → too_short → empty → exact_dup → near_dup →
    *   contaminated → semantic → media_near_dup → media_contaminated →
    *   sampled_out → fully_redacted → redacted → kept
    *
    * (`empty` = no token chars at all: zero tokenize tokens, dropped
    * by the release's n_tok >= 1 pack floor with no probe flag — the
    * cheap [[graft.functions.Text.tokenCharClass]] rlike, so unflagged
    * docs are still never tokenized.)
    *
    * `redacted` (docs that SHIP with spans cut) and `kept` (ship
    * verbatim) partition the e18 survivor set — kept ∪ redacted ==
    * e18's doc set (spec-pinned); `fully_redacted` is the drop leg
    * (every token covered — e18's n_tok ≥ 1 floor drops them). Output
    * (stage, n_docs, n_tokens, n_tok_cut): n_docs/n_tokens conserve
    * (Σ = |documents| and its whitespace mass — the audit1
    * convention); n_tok_cut is the unioned d30 island mass, carried
    * ONLY by the two redaction stages, and Σ n_tok_cut(redacted) ==
    * Σ e18.n_redacted (the cross-op reconciliation the release's
    * conservation law needs).
    *
    * Scale shape: the flag frames are the release's own drop lists;
    * the tokenize-space counts needed for the fully_redacted test are
    * computed ONLY for span-flagged docs (flag-bounded left-semi, never
    * a second corpus-wide tokenize); attribution is left joins on
    * doc_id feeding one CASE, then a tiny stage-keyed groupBy. */
  def surgicalFilterFunnel(documents: DataFrame, embeddings: DataFrame,
      benchmarkMaxId: Long = 25L, minChars: Int = 100,
      sampleFrac: Double = 0.5, cosThreshold: Double = 0.4,
      maxHamming: Int = 3, audioMaxHamming: Int = 2,
      contamMaxHamming: Int = 5, contamAudioMaxHamming: Int = 3,
      threshold: Double = 0.8, minPositions: Int = 3): DataFrame =
    surgicalFilterFunnelWithFlags(documents,
      multimodalFlags(documents, embeddings, benchmarkMaxId, threshold,
        minPositions, cosThreshold, maxHamming, audioMaxHamming,
        contamMaxHamming, contamAudioMaxHamming),
      benchmarkMaxId, minChars, sampleFrac)

  /** [[surgicalFilterFunnel]] from PRECOMPUTED flags — consume the
    * SAME [[MultimodalFlags]] instance the audited release was built
    * from and the kept ∪ redacted == e18 / Σ n_tok_cut == Σ n_redacted
    * laws hold by construction (no threshold re-plumbing to drift). */
  private[graft] def surgicalFilterFunnelWithFlags(documents: DataFrame,
      flags: MultimodalFlags, benchmarkMaxId: Long = 25L,
      minChars: Int = 100, sampleFrac: Double = 0.5): DataFrame = {
    // the SAME memoized core drop lists the release chain anti-joins —
    // shared derivation AND shared session frame (see nearDupDropIds)
    val nearDups = nearDupDropIds(documents)
      .withColumn("is_near", lit(true))
    val exactDups = exactDupDropIds(documents)
      .withColumn("is_exact", lit(true))
    val contaminated = contamDropIds(documents, benchmarkMaxId)
      .withColumn("is_contam", lit(true))
    val semantic = flags.semantic.withColumn("is_sem", lit(true))
    val mediaDup = flags.mediaDup.withColumn("is_mdup", lit(true))
    val mediaContam = flags.mediaContam
      .withColumn("is_mcontam", lit(true))
    // the unioned d30 island mass per flagged doc — the SAME islands the
    // e18 pack cuts (the shared flags.spanPlan) — plus the tokenize-space
    // count for exactly those docs (flag-bounded: unflagged docs cannot
    // be fully redacted)
    val covered = sharedIslands(flags.spanPlan)
      .groupBy(col("doc_id"))
      .agg(sum(col("me") - col("ms") + 1).as("covered"))
    val flaggedNtok = documents
      .join(covered.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        size(graft.functions.Text.tokenizeUdf(col("text")))
          .cast("long").as("tok_n"))
    val sampledIn = Sampling.contentHash("doc_id") <
      lit(Sampling.fractionThreshold(sampleFrac))
    documents
      .join(nearDups, Seq("doc_id"), "left")
      .join(exactDups, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(semantic, Seq("doc_id"), "left")
      .join(mediaDup, Seq("doc_id"), "left")
      .join(mediaContam, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .join(flaggedNtok, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("doc_id") < benchmarkMaxId, "benchmark")
          .when(length(col("text")) < minChars, "too_short")
          // a doc with NO token chars at all (symbol/whitespace-only
          // past the length floor) ships zero tokenize tokens, so
          // e18's n_tok >= 1 pack floor drops it even when no probe
          // flags it — without this stage it would attribute 'kept'
          // and break the kept ∪ redacted == e18 law. The test is the
          // cheap tokenCharClass rlike (spec-pinned equivalent to
          // tokenize(text).isEmpty), never a corpus-wide tokenize.
          .when(!col("text").rlike(graft.functions.Text.tokenCharClass),
            "empty")
          .when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .when(col("is_contam"), "contaminated")
          .when(col("is_sem"), "semantic")
          .when(col("is_mdup"), "media_near_dup")
          .when(col("is_mcontam"), "media_contaminated")
          .when(!sampledIn, "sampled_out")
          .when(col("covered").isNotNull &&
            col("tok_n") - col("covered") < 1, "fully_redacted")
          .when(col("covered").isNotNull, "redacted")
          .otherwise("kept"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"),
        sum(when(col("stage").isin("redacted", "fully_redacted"),
          coalesce(col("covered"), lit(0L))).otherwise(0L))
          .as("n_tok_cut"))
  }

  private def funnelCore(documents: DataFrame, benchmarkMaxId: Long,
      minChars: Int, sampleFrac: Double,
      semanticDrops: Option[DataFrame]): DataFrame = {
    val nearDups = nearDupDropIds(documents)
      .withColumn("is_near", lit(true))
    val exactDups = exactDupDropIds(documents)
      .withColumn("is_exact", lit(true))
    val contaminated = contamDropIds(documents, benchmarkMaxId)
      .withColumn("is_contam", lit(true))
    val sampledIn = Sampling.contentHash("doc_id") <
      lit(Sampling.fractionThreshold(sampleFrac))
    documents
      .join(nearDups, Seq("doc_id"), "left")
      .join(exactDups, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .transform(df => semanticDrops
        .map(f => df.join(f.withColumn("is_sem", lit(true)),
          Seq("doc_id"), "left")).getOrElse(df.withColumn("is_sem",
          lit(null).cast("boolean"))))
      .withColumn("stage",
        when(col("doc_id") < benchmarkMaxId, "benchmark")
          .when(length(col("text")) < minChars, "too_short")
          .when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .when(col("is_contam"), "contaminated")
          .when(col("is_sem"), "semantic")
          .when(!sampledIn, "sampled_out")
          .otherwise("kept"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("n_tokens"))
  }
}
