package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 cross-check harness (driver tooling, like [[ScaleCurve]] /
  * [[Sf1Gen]]): the STANDING per-round scale-correctness gate for every
  * query family with a pair/blocking stage. The sf0.01 DuckDB oracle
  * proves small-scale correctness; this proves the BLOCKING stays exact
  * one decade up, where bugs that are invisible at sf0.1 (the round-11
  * banded-engine output-distinct, caught only by an sf1 run) actually
  * live.
  *
  * Method: each check runs the same family through two INDEPENDENT
  * formulations whose outputs are equal by a theorem, at sf1, and
  * asserts row-identity via two-sided EXCEPT counts:
  *
  *  - LSH-banded MinHash (d3) vs exact prefix-filtered Jaccard (d2):
  *    equal whenever LSH recall is 1.0 — the planted near-dups sit at
  *    j≈0.99 where a miss has probability ~4e-12 per pair;
  *  - the banded-Hamming engine (d4 / d21 / d23) under two DIFFERENT
  *    band layouts: pigeonhole makes every legal layout produce the
  *    identical pair set, so layout-vs-layout row-identity exercises
  *    bucketing, distinct-signature compression, and re-expansion with
  *    no second implementation;
  *  - two-level (coarse √k + fine) k-means assignment vs the flat
  *    argmin at coarse = k, where the two-level argmin is exactly the
  *    flat one (the d22 oracle's premise, here at 10x the corpus).
  *
  * Output: one JSON line per check {name, ok, left, right, only_left,
  * only_right, secs} plus a summary line, and the full artifact written
  * to the path in arg 2 (default CORRECTNESS_SF1.json). Exit code 1 on
  * any mismatch.
  *
  * Usage: runMain graft.Sf1Check [sf1Dir] [outFile]
  */
object Sf1Check {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sf1")
    val outFile = if (args.length > 1) args(1) else "CORRECTNESS_SF1.json"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    docs.count(); emb.count() // warm scans off the first check's clock

    // BUDGET (round-13 postmortem: simhash_band_layouts re-proved the
    // pigeonhole identity on the FULL 67.9M-row pair output every round
    // — 518 s of the 737 s round-close, tempting enough to skip that it
    // endangered the standing gate): the simhash check runs on a
    // deterministic QUARTER stratum of the corpus, rotating by round
    // number (parsed from the outFile's _rN suffix), so four consecutive
    // rounds cover every document while each round's pair space shrinks
    // ~16x. The layout-vs-layout theorem holds on ANY input subset, so a
    // stratum exercises bucketing / distinct-signature compression /
    // re-expansion identically. SPARK_GRAFT_SF1_FULL=1 restores the full
    // identity (run it when the banded engine itself changes); the
    // schedule is recorded in the artifact so coverage is auditable.
    val round = "_r(\\d+)".r.findFirstMatchIn(outFile)
      .map(_.group(1).toInt).getOrElse(0)
    val fullSimhash = sys.env.get("SPARK_GRAFT_SF1_FULL").contains("1")
    val stratum =
      if (fullSimhash) "full"
      else s"doc_id % 4 = ${round % 4} (rotating by round)"
    val simhashDocs =
      if (fullSimhash) docs
      else docs.where(pmod(col("doc_id"), lit(4)) === lit(round % 4))

    // Row-identity via two-sided EXCEPT on the full projected row (ids
    // AND computed columns) — a sign-flip that keeps the pair but breaks
    // its hamming/jaccard value still fails.
    def compare(name: String, left: => DataFrame,
        right: => DataFrame): (String, Boolean) = {
      val t0 = System.nanoTime()
      val (l, r) = (left, right)
      val cols = l.columns.sorted.map(col).toSeq
      val lp = l.select(cols: _*).localCheckpoint()
      val rp = r.select(cols: _*).localCheckpoint()
      val (ln, rn) = (lp.count(), rp.count())
      val onlyL = lp.exceptAll(rp).count()
      val onlyR = rp.exceptAll(lp).count()
      val ok = onlyL == 0 && onlyR == 0 && ln == rn
      val secs = (System.nanoTime() - t0) / 1e9
      val line = f"""{"name":"$name","ok":$ok,"left":$ln,"right":$rn,""" +
        f""""only_left":$onlyL,"only_right":$onlyR,"secs":$secs%.1f}"""
      println(line)
      (line, ok)
    }

    val checks = Seq[(String, () => DataFrame, () => DataFrame)](
      // d2/d3: two independent near-dup algorithms, equal at recall 1.0
      ("jaccard_lsh_vs_exact",
        () => ops.Dedup.minhashDuplicates(docs)
          .select(col("doc1"), col("doc2")),
        () => ops.Dedup.jaccardPairs(docs, 3, 0.5)
          .select(col("doc1"), col("doc2"))),
      // banded-Hamming engine: 4x16 layout vs 7 near-equal bands — on
      // the rotating quarter stratum (see the budget note above)
      ("simhash_band_layouts",
        () => ops.Dedup.simhashPairs(simhashDocs, 3),
        () => ops.Dedup.simhashPairsBanded(simhashDocs, 3, 7)),
      // the multimodal bridges through the same engine, image then audio
      ("phash_band_layouts",
        () => ops.Multimodal.phashPairs(docs, 3),
        () => ops.Multimodal.phashPairs(docs, 3, bands = 6)),
      ("audio_band_layouts",
        () => ops.Multimodal.audioPairs(docs, 2),
        () => ops.Multimodal.audioPairs(docs, 2, bands = 5)),
      // round-13's new pair family: frame-level clip containment — the
      // frame-pair space under two band layouts rolls up to the same
      // containment rows by pigeonhole
      ("video_containment_layouts",
        () => ops.Multimodal.videoContainmentPairs(docs, 3),
        () => ops.Multimodal.videoContainmentPairs(docs, 3, bands = 6)),
      // the bipartite (train vs eval-holdout) banding of d25 under two
      // layouts — same pigeonhole, bipartite probe shape
      ("media_contamination_layouts",
        () => ops.Multimodal.mediaContaminationSplitCheck(docs, 2500),
        () => ops.Multimodal.mediaContaminationSplitCheck(docs, 2500,
          bands = 6)),
      // round-14's e10 runs the probe at the LOOSER decontamination
      // budgets (5/3) — wider bands, bigger candidate fan-in, same
      // pigeonhole; checked as its own layout pair
      ("media_contamination_loose_layouts",
        () => ops.Multimodal.mediaContaminationSplitCheck(docs, 2500,
          maxHamming = 5, audioMaxHamming = 3),
        () => ops.Multimodal.mediaContaminationSplitCheck(docs, 2500,
          maxHamming = 5, audioMaxHamming = 3, bands = 7)),
      // round-14's d27: the pure-count pre-filter (m >= t·min(na, nb))
      // is an exact bound — prefiltered == brute force. Brute runs the
      // alignment rollup over the FULL Σ df² join, so this
      // check rides the same rotating quarter stratum as simhash
      ("aligned_containment_prefilter",
        () => ops.Dedup.alignedContainmentPairs(simhashDocs, 3, 0.8),
        () => ops.Dedup.alignedContainmentPairs(simhashDocs, 3, 0.8,
          prefilter = false)),
      // d28's bipartite form under the same count-bound identity (bench
      // side broadcast; full corpus — the bench split bounds the join)
      ("quote_contamination_prefilter",
        () => ops.Dedup.quoteContaminationSplitCheck(docs, 2500),
        () => ops.Dedup.quoteContaminationSplitCheck(docs, 2500,
          prefilter = false)),
      // round-15's surgical d30: the batch planner (memoized positional
      // substrate) and the streamed rebuild (committed-flags path —
      // per-call tokenization, flagged-docs-only semi-join) are two
      // independent code paths to the same island spans
      ("redaction_spans_batch_vs_flags",
        () => ops.Dedup.quoteRedactionSpans(docs, 2500),
        () => ops.Dedup.redactionSpansFromFlags(
          ops.Dedup.quoteContaminationSplitCheck(docs, 2500),
          docs.where(col("doc_id") >= 2500),
          docs.where(col("doc_id") < 2500))),
      // clustering: two-level assign at coarse = k == flat argmin
      ("kmeans_two_level_vs_flat",
        () => ops.Clustering.kmeansAssign(emb, 16, 2),
        () => ops.Clustering.kmeansAssignScalable(emb, 16, 2,
          trainCap = Long.MaxValue, maxModelCentroids = 0,
          coarseCentroids = 16)),
      // round-16: the two-phase pack offsets are BUCKETING-INVARIANT —
      // the e3/e6/e12/e13/sel4 packing theorem at sf1: any bucket size
      // yields the identical global prefix sums (the intra-bucket
      // window + broadcast exclusive offsets compose to the same total
      // order). 997 is coprime to every id stride in the corpus, so
      // the second layout shares no bucket boundary with the first.
      ("pack_offsets_bucket_independence",
        () => ops.Sampling.tokenOffsets(docs, 4096),
        () => ops.Sampling.tokenOffsets(docs, 4096, bucketSize = 997L)),
      // round-16: the e13 survivor theorem — the full surgical release
      // ships exactly e3's survivor set minus docs redacted to nothing,
      // i.e. e13's doc set == e3's ∩ e12's (e12's survivors ARE the
      // train docs with post-redaction n_tok >= 1). Two independent
      // compositions of three ops; runs on the rotating stratum (the
      // pair stages dominate, same budget note as simhash).
      ("surgical_corpus_survivors",
        () => ops.Pipeline.surgicalCorpus(simhashDocs, 2500)
          .select(col("doc_id")),
        () => ops.Pipeline.trainingCorpus(simhashDocs, 2500)
          .select(col("doc_id"))
          .join(ops.Pipeline.redactedCorpus(simhashDocs, 2500)
            .select(col("doc_id")), Seq("doc_id"), "left_semi")),
      // round-16: the e16 token-stream law at sf1 — the SPLICED text
      // re-tokenizes to exactly the e13 manifest's n_tok per doc (two
      // independent paths to the count: token-space interval-union
      // arithmetic vs char-space splice + re-tokenize). Rotating
      // stratum (same budget note as the survivor check).
      ("spliced_text_token_stream",
        () => ops.Pipeline.surgicalCorpusText(simhashDocs, 2500)
          .select(col("doc_id"),
            org.apache.spark.sql.functions.size(
              graft.functions.Text.tokenizeUdf(col("text")))
              .cast("long").as("n_tok")),
        () => ops.Pipeline.surgicalCorpus(simhashDocs, 2500)
          .select(col("doc_id"), col("n_tok"))),
      // round-16: the e17 commutation law at sf1 — the full release is
      // EXACTLY e13 minus the d31 semantic flag set (all drops are
      // doc_id anti-joins before sampling, so the stages commute).
      // Rotating stratum; the flag side uses the stratum's embeddings
      // (vec_id == doc_id alignment).
      ("full_release_commutation",
        () => ops.Pipeline.fullRelease(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id")),
        () => ops.Pipeline.surgicalCorpus(simhashDocs, 2500)
          .select(col("doc_id"))
          .join(ops.Similarity.embeddingContaminationSplitCheck(
              emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi"), 2500L)
            .select(col("vec_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")),
      // round-17: the d31z theorem at sf1 — the indexed contamination
      // probe at nprobe = cells IS the flat all-pairs probe (probing
      // every cell is the full scan; both sides share the cosineFast +
      // round-6 arithmetic, so the rows are identical including cos).
      // Stratum embeddings, the full_release_commutation alignment.
      ("embedding_contamination_flat_vs_indexed",
        () => ops.Similarity.embeddingContaminationSplitCheck(
          emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi"), 2500L),
        () => ops.Similarity.embeddingContaminationIvf(
          emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi"), 2500L, cells = 8, nprobe = 8)),
      // round-17: the e14 commutation law at sf1 — the semantic release
      // is EXACTLY e3 minus the d31 flag set (the e17 law one flagship
      // down: both drops are pre-sampling doc_id anti-joins).
      ("semantic_release_commutation",
        () => ops.Pipeline.semanticDecontaminatedCorpus(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id")),
        () => ops.Pipeline.trainingCorpus(simhashDocs, 2500)
          .select(col("doc_id"))
          .join(ops.Similarity.embeddingContaminationSplitCheck(
              emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi"), 2500L)
            .select(col("vec_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")),
      // round-17: audit4's cross-op law at sf1 — the funnel's `kept`
      // stage counts EXACTLY the e14 release's survivor docs (funnel
      // and release share one semanticFlags frame, so divergence here
      // would mean the attribution CASE itself broke at scale).
      ("audit4_kept_equals_semantic_release",
        () => ops.Pipeline.semanticFilterFunnel(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .where(col("stage") === "kept")
          // sum-with-0-default, not a bare projection: both sides must
          // emit exactly one row even when nothing survives, so the
          // degenerate all-benchmark stratum compares 0 == 0
          .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs")),
        () => ops.Pipeline.semanticDecontaminatedCorpus(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id")).distinct()
          .agg(count(lit(1)).cast("long").as("n_docs"))),
      // round-17: the e18 commutation law at sf1 — the full MULTIMODAL
      // release is EXACTLY e17 minus the two media drop lists (d21/d23
      // near-dup higher-ids at the dedup budgets ∪ d25 flags at the
      // loose e10 budgets) — the widest composition in the family,
      // identity-proven at 10x bench scale like its parents.
      ("multimodal_release_commutation",
        () => ops.Pipeline.fullMultimodalRelease(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id")),
        () => ops.Pipeline.fullRelease(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id"))
          .join(ops.Pipeline.mediaNearDupDrops(simhashDocs)
              .unionByName(ops.Pipeline.mediaContamDrops(simhashDocs,
                2500L))
              .distinct(),
            Seq("doc_id"), "left_anti")),
      // round-17: the e19 token-stream law at sf1 — the spliced text of
      // the full multimodal release re-tokenizes per doc to exactly the
      // e18 manifest's n_tok (the e16 law one release up: char-space
      // splice + re-tokenize == token-space arithmetic, through EVERY
      // drop stage). Rotating stratum, stratum embeddings.
      ("multimodal_spliced_token_stream",
        () => ops.Pipeline.fullMultimodalReleaseText(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id"),
            org.apache.spark.sql.functions.size(
              graft.functions.Text.tokenizeUdf(col("text")))
              .cast("long").as("n_tok")),
        () => ops.Pipeline.fullMultimodalRelease(simhashDocs,
            emb.join(simhashDocs.select(col("doc_id").as("vec_id")),
              Seq("vec_id"), "left_semi"), 2500)
          .select(col("doc_id"), col("n_tok"))),
      // round-17: sel5's band independence at sf1 — the quality-ordered
      // budget selection under two band layouts (10 vs 250): band
      // boundaries coarsen the (score desc, doc_id) order, so the
      // two-phase cumsum must produce identical selections and running
      // sums at any granularity (the pack_offsets_bucket_independence
      // law for the quality-prefix family). Budget = ~44% of the sf1
      // corpus token mass (the sf0.01 gate's 12000 x 100).
      ("quality_budget_band_independence",
        () => ops.Sampling.qualityBudgetSelection(docs, 1200000L),
        () => ops.Sampling.qualityBudgetSelection(docs, 1200000L,
          nBands = 250)),
      // round-16: sel4 == its own public decomposition (sel3 draw +
      // corpus semi-join + tokenOffsets + weight carry) — the packaged
      // op with its internal checkpoint vs the hand-assembled pipeline;
      // exact integer/hash arithmetic end to end, so row-identity is
      // the right gate (covers sel2/sel3 as shared stages)
      ("dsir_select_then_pack_recomposition",
        () => ops.Sampling.dsirSelectedPack(docs,
          col("lang") === "zh", 500),
        () => {
          val sel = ops.Sampling.dsirResample(docs,
              col("lang") === "zh", 500)
            .select(col("doc_id"), col("weight")).localCheckpoint()
          ops.Sampling.tokenOffsets(
              docs.join(sel.select(col("doc_id")), Seq("doc_id"),
                "left_semi"), 4096)
            .join(sel, "doc_id")
            .select(col("doc_id"), col("weight"), col("n_tok"),
              col("start_offset"), col("chunk_id"))
        }))

    val results = checks.map { case (name, l, r) =>
      try compare(name, l(), r())
      catch {
        case e: Throwable =>
          // String.valueOf: getMessage is null for NPEs and many wrapped
          // errors — a bare .take would NPE inside the handler and abort
          // the harness without writing the artifact or later checks.
          // Backslashes and control characters (newlines in Spark
          // multi-line messages, tabs in plan dumps) must not reach the
          // JSON literal either — one unescaped \ or \n writes an
          // invalid artifact line
          val msg = String.valueOf(e.getMessage).take(160)
            .replaceAll("[\\\\\"\\p{Cntrl}]", " ")
          val line = s"""{"name":"$name","ok":false,"error":"$msg"}"""
          println(line)
          (line, false)
      } finally ops.Memo.clearAll()
    }
    val nOk = results.count(_._2)
    val artifact = s"""{"sf_dir":"$sfDir","simhash_stratum":"$stratum",""" +
      s""""checks":[${results.map(_._1).mkString(",")}],"passed":$nOk,""" +
      s""""total":${results.size}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      artifact.getBytes("UTF-8"))
    println(s"== sf1 cross-checks: $nOk/${results.size} ok -> $outFile ==")
    spark.stop()
    if (nOk != results.size) sys.exit(1)
  }
}
