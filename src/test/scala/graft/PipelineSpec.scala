package graft

import org.apache.spark.sql.functions._

/** Quality gates for the approximate (rows-only) training-data ops:
  * each approximate path is checked against its exact baseline. */
class PipelineSpec extends GraftSuite {
  import ops._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc1", "doc2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d7 dup clusters equal the transitive closure of near-dup pairs") {
    val pairs = Dedup.jaccardPairs(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .map(id => id -> find(id)).toMap
    val got = Dedup.dupClusters(docs, 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.toSet.size < got.size,
      "planted dups must produce non-trivial clusters")
  }

  test("d2 prefix-filtered jaccard equals the full inverted-index join") {
    val full = Dedup.jaccardPairsDirect(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.jaccardPairs(docs, 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    assert(prefix == full)
  }

  test("d17 containment: quoted small doc found; prefix candidates lose no pair") {
    import spark.implicits._
    val quoted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // 4 words -> 2 shingles, both inside doc 1: containment 1.0,
      // jaccard only 2/(8+2-2) = 0.25 — invisible to the d2 threshold
      (2L, "beta gamma delta epsilon"),
      (3L, "totally unrelated words appear in this document body"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(quoted, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    assert(Dedup.jaccardPairsDirect(quoted, 3, 0.5).count() == 0)

    // coverage proof on the fixture corpus: the prefix-filtered candidate
    // path must equal an unfiltered all-shared-shingle computation
    val sh = Dedup.shingles(docs, 3)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val brute = sh.toDF("doc1", "shingle")
      .join(sh.toDF("doc2", "shingle"), "shingle")
      .where(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2")).agg(count(lit(1)).as("common"))
      .join(sz.toDF("doc1", "sz1"), "doc1")
      .join(sz.toDF("doc2", "sz2"), "doc2")
      .where(col("common") / least(col("sz1"), col("sz2")) >= 0.8)
    assert(pairSet(Dedup.containmentPairs(docs, 3, 0.8)) == pairSet(brute))
  }

  test("d3 minhash-LSH finds every high-jaccard pair") {
    val exact = pairSet(Dedup.jaccardPairs(docs, 3, 0.9))
    val lsh = pairSet(Dedup.minhashDuplicates(docs, 3, 32, 8, 0.5))
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    info(s"minhash recall on jaccard>=0.9 pairs: $recall (${exact.size} pairs)")
    assert(recall == 1.0)
  }

  test("d34 MMDS banding rule: inflection-nearest layout per threshold, " +
      "recall-first tie-break, auto == fixed at the resolved layout") {
    // the S-curve (1/b)^(1/r) inflections for the divisor layouts of 32
    // hashes: 1 -> 1.0, 2 -> .958, 4 -> .841, 8 -> .595, 16 -> .25,
    // 32 -> .031 — the rule picks the nearest per target
    assert(Dedup.lshBandingFor(0.5) == ((8, 4)),
      "the shipped d3 default IS the rule's optimum at 0.5")
    assert(Dedup.lshBandingFor(0.8) == ((4, 8)))
    assert(Dedup.lshBandingFor(0.3) == ((16, 2)))
    assert(Dedup.lshBandingFor(0.95) == ((2, 16)))
    assert(Dedup.lshBandingFor(0.05) == ((32, 1)))
    // ties break toward MORE bands (recall over candidate precision:
    // candidates verify exactly, misses ship duplicates) — at the
    // midpoint of two inflections the larger-b layout must win
    val (b1, r1) = Dedup.lshBandingFor(
      (math.pow(1.0 / 8, 1.0 / 4) + math.pow(1.0 / 16, 1.0 / 2)) / 2)
    assert(b1 == 16 && r1 == 2, s"tie must break to more bands: $b1 x $r1")
    // prime hash count: only the trivial layouts exist
    assert(Dedup.lshBandingFor(0.9, 31) == ((1, 31)))
    assert(Dedup.lshBandingFor(0.1, 31) == ((31, 1)))
    // the auto op is the fixed op at the resolved layout, row for row —
    // at the defaults that is the gated d3 itself
    val auto = pairSet(Dedup.minhashDuplicatesAuto(docs))
    assert(auto == pairSet(Dedup.minhashDuplicates(docs, 3, 32, 8, 0.5))
      && auto.nonEmpty)
    val auto8 = pairSet(Dedup.minhashDuplicatesAuto(docs, threshold = 0.8))
    assert(auto8 ==
      pairSet(Dedup.minhashDuplicates(docs, 3, 32, 4, 0.8)))
  }

  test("d4 simhash finds near-identical docs and respects hamming bound") {
    val planted = pairSet(Dedup.jaccardPairs(docs, 3, 0.95))
    val sim = Dedup.simhashPairs(docs, 3)
    assert(sim.where(col("hamming") > 3).count() == 0)
    val simSet = pairSet(sim)
    val recall = planted.count(simSet.contains).toDouble / planted.size.max(1)
    info(s"simhash recall on jaccard>=0.95 pairs: $recall (${planted.size} pairs)")
    assert(recall >= 0.5)
  }

  test("banded hamming pairs == brute force on a dup-heavy corpus") {
    import spark.implicits._
    // exact-dup families (identical texts -> identical signatures) are
    // precisely the input that collapses band buckets; the engine's
    // distinct-signature compression must still emit the exact
    // brute-force pair set, intra-family hamming-0 pairs included
    val base = docs.orderBy(col("doc_id")).limit(30)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val dupped = base ++ base.take(7).zipWithIndex.map { case ((_, t), i) =>
      (900100L + i, t) // 7 clones of the first 7 docs
    } ++ base.take(3).zipWithIndex.map { case ((_, t), i) =>
      (900200L + i, t) // second clone generation: families of size 3
    }
    val df = dupped.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(df, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Dedup.simhash(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ida, idb, h)).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.exists(_._3 == 0), "fixture must exercise dup families")
  }

  test("VecSum/VecSumD equal the explode-groupBy sum (merge law)") {
    import spark.implicits._
    val emb50 = emb.limit(50)
      .select(col("vec_id"), col("embedding"))
    val viaAgg = emb50.repartition(7) // force multi-partition merges
      .agg(graft.functions.VecSumAgg.vecSum(col("embedding")).as("s"))
      .head.getSeq[Double](0)
    val viaExplode = emb50
      .select(posexplode(transform(col("embedding"), _.cast("double")))
        .as(Seq("i", "x")))
      .groupBy(col("i")).agg(sum(col("x")).as("s"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1)).toSeq
    viaAgg.zip(viaExplode).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a != $b") }
    // double-array variant agrees with the float one on widened input
    val viaD = emb50
      .select(transform(col("embedding"), _.cast("double")).as("ed"))
      .repartition(5)
      .agg(graft.functions.VecSumAgg.vecSumD(col("ed")).as("s"))
      .head.getSeq[Double](0)
    viaAgg.zip(viaD).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a != $b") }
  }

  test("d5 embedding near-dup finds planted duplicate vectors") {
    val dup = emb.where(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = emb.select("vec_id", "embedding", "label").union(dup)
    val found = Dedup.embeddingNearDup(corpus, 0.999, 6, 8)
      .where(col("vec2") >= 100000L && col("vec1") === col("vec2") - 100000L)
    assert(found.count() == 20)
  }

  test("sim2 LSH ANN recall@5 vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, 50, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Similarity.lshTopK(emb, 50, 5, 5, 12)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = truth.count { case (q, n) =>
      got.getOrElse(q, Set.empty).contains(n)
    }.toDouble / truth.size
    info(s"LSH ANN recall@5: $recall over ${truth.size} queries")
    assert(recall >= 0.6)
  }

  test("sim3 IVF ANN recall@5 vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, 50, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Similarity.portableIvfTopK(emb, 0L until 50L, k = 5,
        cells = 16, nprobe = 2)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = truth.count { case (q, n) =>
      got.getOrElse(q, Set.empty).contains(n)
    }.toDouble / truth.size
    info(s"IVF ANN recall@5 (nprobe=2/16): $recall over ${truth.size} queries")
    assert(recall >= 0.3)
  }

  test("sim4 PQ ANN: compressed codes, recall@5 vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, 50, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Similarity.portablePqTopK(emb, 0L until 50L, topK = 5,
        m = 16, k = 32)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = truth.count { case (q, n) =>
      got.getOrElse(q, Set.empty).contains(n)
    }.toDouble / truth.size
    info(s"PQ (16x32, 16x compression) ANN recall@5: $recall")
    assert(recall >= 0.3)
    // every vector carries m codes, each a centroid id in [0, k)
    val (codes, _) = Clustering.pqModel(emb, m = 16, k = 32, iters = 2,
      dims = 64)
    val perVec = codes.groupBy("vec_id")
      .agg(count(lit(1)).as("n"), countDistinct("s").as("subs"),
        min("cluster").as("lo"), max("cluster").as("hi"))
      .collect()
    assert(perVec.length == emb.count())
    perVec.foreach { r =>
      assert(r.getLong(1) == 16 && r.getLong(2) == 16,
        s"vector ${r.getLong(0)} must carry one code per subspace: $r")
      assert(r.getInt(3) >= 0 && r.getInt(4) < 32, s"code out of range: $r")
    }
  }

  test("grouped PQ training: m = 16 subspaces run no more cold jobs " +
      "than m = 4") {
    def coldJobs(m: Int): Int = {
      Memo.clearAll()
      jobsOf(Similarity.portablePqTopK(emb, Seq(0L, 1L, 2L), m = m, k = 8)
        .collect())
    }
    val (j4, j16) = (coldJobs(4), coldJobs(16))
    Memo.clearAll()
    info(s"cold jobs: m = 4 -> $j4, m = 16 -> $j16")
    // one scan and one collect per Lloyd round for all subspaces: the
    // job count must not grow with the subspace count
    assert(j16 <= j4, s"m = 16 ran $j16 cold jobs against $j4 at m = 4")
  }

  test("sim rankers exclude NaN cosines: zero vectors get no neighbor rows") {
    import spark.implicits._
    val dims = 4
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0.9f, 0.1f, 0f, 0f),
      2L -> Array.fill(dims)(0f), // zero-norm: cosine vs anything is NaN
      3L -> Array(0f, 1f, 0f, 0f))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, 4, 2).collect()
    // the zero vector is neither a ranked query...
    assert(!top.exists(_.getLong(0) == 2L))
    // ...nor anyone's neighbor
    assert(!top.exists(_.getLong(2) == 2L))
    // non-degenerate queries still rank their real neighbors
    assert(top.exists(r => r.getLong(0) == 0L && r.getLong(2) == 1L))
    val graph = Similarity.knnGraph(vecs, 1).collect()
    assert(!graph.exists(_.getLong(0) == 2L) &&
      !graph.exists(_.getLong(2) == 2L))
  }

  test("emb1 matryoshka: prefix-flattering neighbor flips the top-1") {
    import spark.implicits._
    // v1's first two dims ARE v0's direction (prefix cos = 1.0) but its
    // tail is huge, so full-dim cos collapses to 0.196; v2 is the true
    // full-dim neighbor (cos 0.9985) and prefix runner-up (0.9984)
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(1f, 0f, 5f, 0f),
      2L -> Array(0.9f, 0.05f, 0f, 0f))
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaTop1(vecs, 1, 2).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)) ==
      ((0L, 2L, 1L, false)))
    // degenerate prefix dims == full dims must agree everywhere
    val same = Similarity.matryoshkaTop1(vecs, 1, 4).collect()
    assert(same.forall(_.getBoolean(3)))
  }

  test("emb1 matryoshka on the corpus: full-width prefix agrees 100%") {
    val out = Similarity.matryoshkaTop1(emb, 30, 64)
    assert(out.where(!col("agree")).count() == 0)
    assert(out.count() == 30)
  }

  test("sim8 against the durable IVF index equals live-trained search") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_idx").toString
    Similarity.writeIvfIndex(emb, dir)
    val live = Similarity.portableIvfTopK(emb, Seq(0L, 1L, 2L)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val indexed = Similarity
      .portableIvfTopKIndexed(spark, dir, emb, Seq(0L, 1L, 2L)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the artifact carries cells + assignments; search against it must
    // reproduce the live-trained ranking result-for-result
    assert(indexed == live && indexed.nonEmpty)
  }

  test("d31z indexed contamination: subset of flat, == flat at " +
      "nprobe = cells, durable-index parity, broadcast cap enforced") {
    val flat = Similarity.embeddingContaminationSplitCheck(emb, 25L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe = cells probes every cell — the full scan; must EQUAL flat
    val all = Similarity
      .embeddingContaminationIvf(emb, 25L, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == flat && flat.nonEmpty,
      s"nprobe = cells is the full scan: ${all.size} vs ${flat.size}")
    // nprobe = 2 is the approximate path: a subset with real recall
    val probed = Similarity
      .embeddingContaminationIvf(emb, 25L, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed.subsetOf(flat), "indexed flags are always real flags")
    assert(probed.nonEmpty, "the probed cells must surface flags here")
    // durable artifact (trained on the SAME training side) reproduces
    // the live-trained probe result-for-result
    val dir = java.nio.file.Files
      .createTempDirectory("graft_d31z_idx").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") >= 25), dir)
    val indexed = Similarity
      .embeddingContaminationIndexed(spark, dir, emb, 25L, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed == probed, "durable == live-trained probe")
    // a multi-generation store can carry TWO assign rows for one vec_id
    // (a refreshed embedding re-appended in a later gen) — each flagged
    // pair must still surface exactly once
    Similarity.appendIvfIndex(spark, dir,
      emb.where(col("vec_id") >= 25), gen = 1L)
    val twoGen = Similarity
      .embeddingContaminationIndexed(spark, dir, emb, 25L, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(twoGen.toSet == probed && twoGen.length == twoGen.toSet.size,
      "duplicate assign rows must not duplicate flags")
    // the flat probe's bench side is broadcast — the cap is a hard
    // structural bound, not a contract remark
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingContaminationSplitCheck(emb, 25L,
        maxBenchRows = 3L)
    }
    assert(e.getMessage.contains("embeddingContaminationIndexed"))
    // the WEB-SCALE e14: indexed flags (at nprobe = cells, where the
    // probe is exact) compose into the pipeline through the public
    // drops hook and reproduce the built-in e14 row for row
    val docsFull = Tables.load(spark, sf, "documents")
    val viaIndexed = Pipeline.trainingCorpusWithDrops(docsFull,
        Similarity.embeddingContaminationIvf(emb, 25L, nprobe = 8)
          .select(col("vec_id").as("doc_id")))
      .collect().map(_.toSeq.toList).toSet
    val builtIn = Pipeline.semanticDecontaminatedCorpus(docsFull, emb)
      .collect().map(_.toSeq.toList).toSet
    assert(viaIndexed == builtIn,
      "indexed flags through the drops hook must equal the flat e14")
    Memo.clearAll()
  }

  test("d31z auto knobs: == fixed probe at the resolved (cells, nprobe); " +
      "small corpus resolves to the exhaustive scan") {
    val train = emb.where(col("vec_id") >= 25)
    // default targetCellSize (512) over 475 training vectors: one cell,
    // one probe — the documented degenerate where approximating would
    // trade recall for nothing, so auto == the flat probe exactly
    assert(Similarity.contaminationKnobs(train) == ((1, 1)))
    val auto = Similarity.embeddingContaminationIvfAuto(emb, 25L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = Similarity.embeddingContaminationSplitCheck(emb, 25L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == flat && flat.nonEmpty,
      "cells = 1 is the exhaustive scan: auto must equal flat")
    // a target size that makes the corpus multi-cell: the rule says
    // cells = ceil(475/60) = 8, nprobe = ceil(sqrt(8)) = 3, and the
    // auto probe must equal the fixed-knob probe at exactly those
    val (cells, nprobe) = Similarity.contaminationKnobs(train, 60)
    assert(cells == 8 && nprobe == 3, s"resolved ($cells, $nprobe)")
    val autoMulti = Similarity
      .embeddingContaminationIvfAuto(emb, 25L, targetCellSize = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Similarity
      .embeddingContaminationIvf(emb, 25L, cells = cells, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoMulti == fixed,
      "auto must be the fixed probe at the resolved knobs, nothing else")
    assert(autoMulti.subsetOf(flat) && autoMulti.nonEmpty,
      "the multi-cell auto probe keeps d31z's flags-are-real contract")
  }

  test("d31z freshness gate: fresh index == unchecked probe; a drifted " +
      "index REFUSES instead of under-flagging") {
    import org.apache.spark.sql.functions.expr
    val dir = java.nio.file.Files
      .createTempDirectory("graft_d31z_fresh").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") >= 25), dir)
    def probe(checked: Boolean) =
      (if (checked)
        Similarity.embeddingContaminationIndexedFresh(spark, dir, emb,
          25L, nprobe = 2)
      else
        Similarity.embeddingContaminationIndexed(spark, dir, emb, 25L,
          nprobe = 2))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a fresh index (no appended generations) passes the gate and the
    // gated probe is the plain probe, row for row
    val fresh = probe(checked = true)
    assert(fresh == probe(checked = false) && fresh.nonEmpty)
    // in-distribution appends keep the gate open
    Similarity.appendIvfIndex(spark, dir,
      emb.where(col("vec_id") < 25)
        .withColumn("vec_id", col("vec_id") + 800000L), gen = 1L)
    assert(probe(checked = true).nonEmpty)
    // a far-out generation trips ivfRetrainPolicy — the gated probe
    // must now REFUSE (fail closed): a drifted quantizer mis-ranks
    // cells and silently under-flags, which a decontamination gate
    // cannot survive
    Similarity.appendIvfIndex(spark, dir,
      emb.where(col("vec_id") < 25)
        .withColumn("vec_id", col("vec_id") + 900000L)
        .withColumn("embedding",
          expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))")),
      gen = 2L)
    val e = intercept[IllegalArgumentException] { probe(checked = true) }
    assert(e.getMessage.contains("stale") &&
      e.getMessage.contains("retrain"))
    // the unchecked probe still runs (the search-path behavior) — the
    // refusal is the Fresh form's added contract, not a change to d31z
    assert(probe(checked = false).nonEmpty)
  }

  test("appendIvfIndex: frozen assignment parity, findability, staleness") {
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_app").toString
    val base = emb.where(col("vec_id") >= 40)
    val newv = emb.where(col("vec_id") < 40)
    Similarity.writeIvfIndex(base, dir)
    // 1) frozen assignment == the Lloyd loop's own final assignment when
    // fed the training corpus (assign-at-final-centroids IS the final
    // round) — verifies assignAtCentroids against the ml1-gated code
    val frozen = Similarity.assignAtCentroids(base,
        Clustering.kmeansCentroids(base))
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lloyd = Clustering.kmeansAssign(base).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(frozen == lloyd && frozen.nonEmpty)
    // 2) appended vectors are FINDABLE at unchanged centroids: append
    // the held-out slice plus an exact copy of vector 50 under a new id;
    // a query for 50 must now retrieve the copy at rank 1 (cos = 1,
    // self excluded, nid asc tie-break picks the copy over any other)
    Similarity.appendIvfIndex(spark, dir, newv, gen = 1L)
    Similarity.appendIvfIndex(spark, dir,
      emb.where(col("vec_id") === 50).withColumn("vec_id", lit(900000L)),
      gen = 2L)
    val union = emb.unionByName(
      emb.where(col("vec_id") === 50).withColumn("vec_id", lit(900000L)))
    val got = Similarity
      .portableIvfTopKIndexed(spark, dir, union, Seq(50L), k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((50L, 900000L)),
      s"appended exact copy must be the top hit: ${got.toSeq}")
    // idempotent replay: re-appending gen 1 must not duplicate entries
    Similarity.appendIvfIndex(spark, dir, newv, gen = 1L)
    val assignCount = spark.read.parquet(s"$dir/assign").count()
    assert(assignCount == emb.count() + 1,
      s"per-gen overwrite must keep one row per vector: $assignCount")
    // 3) staleness: in-distribution appends drift ~1; a shifted batch
    // (every component +10) lands far from every centroid -> drift >> 1
    Similarity.appendIvfIndex(spark, dir,
      newv.withColumn("vec_id", col("vec_id") + 910000L)
        .withColumn("embedding",
          org.apache.spark.sql.functions.expr(
            "transform(embedding, x -> x + CAST(10.0 AS FLOAT))")),
      gen = 3L)
    val stale = Similarity.ivfIndexStaleness(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(stale(0L) == 1.0)
    assert(stale(1L) < 3.0,
      s"in-distribution append should not drift far: ${stale(1L)}")
    assert(stale(3L) > 10.0,
      s"shifted batch must raise the retrain alarm: ${stale(3L)}")
  }

  test("ivfRetrainPolicy: stays fresh under in-distribution appends, flips on drift") {
    import org.apache.spark.sql.functions.{col, expr}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_pol").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") >= 40), dir)
    def policy() = {
      val r = Similarity.ivfRetrainPolicy(spark, dir).head
      // every emitted record must be self-consistent: the decision is
      // made on the SAME rounded staleness it reports (deciding on the
      // raw value could emit staleness >= threshold with retrain=false)
      assert(r.getBoolean(2) == (r.getDouble(0) >= r.getDouble(1)),
        s"policy row must be internally consistent: $r")
      r
    }
    // no appends yet: staleness 1.0, no retrain
    val p0 = policy()
    assert(p0.getDouble(0) == 1.0 && !p0.getBoolean(2), s"fresh index: $p0")
    // in-distribution append: drift near 1, still no retrain
    Similarity.appendIvfIndex(spark, dir, emb.where(col("vec_id") < 40),
      gen = 1L)
    assert(!policy().getBoolean(2), "in-distribution append must not flip")
    // append increasingly shifted batches until the policy flips — the
    // freshness loop's contract is that sustained drift ALWAYS trips it
    var gen = 2L
    var flipped = policy().getBoolean(2)
    while (!flipped && gen <= 8L) {
      val shift = (gen - 1L).toDouble // +1, +2, ... component shift
      Similarity.appendIvfIndex(spark, dir,
        emb.where(col("vec_id") < 40)
          .withColumn("vec_id", col("vec_id") + gen * 100000L)
          .withColumn("embedding",
            expr(s"transform(embedding, x -> x + CAST($shift AS FLOAT))")),
        gen = gen)
      flipped = policy().getBoolean(2)
      gen += 1L
    }
    assert(flipped, "sustained drift must eventually trip the retrain flag")
    val pf = policy()
    assert(pf.getDouble(0) >= pf.getDouble(1),
      s"flip must coincide with staleness >= threshold: $pf")
  }

  test("sim10 composes sim8's probe with sim9's ADC exactly") {
    val qids = Seq(0L, 1L, 2L)
    val got = Similarity.portableIvfPqTopK(emb, qids).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    // expected = sim9's full ADC scores restricted to sim8's candidate
    // set (both via the public ops at exhaustive k), re-ranked
    val cand = Similarity.portableIvfTopK(emb, qids, k = 100000)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val scores = Similarity.portablePqTopK(emb, qids, topK = 100000)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    val expected = cand.toSeq
      .map { case (q, n) => (q, n, scores((q, n))) }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).zipWithIndex.take(5)
          .map { case ((q, n, a), i) => (q, i + 1, n, a) }
      }.toSet
    assert(got == expected, "sim10 must equal probe-restricted ADC rank")
    // confinement: every sim10 neighbor came from a probed cell
    assert(got.forall { case (q, _, n, _) => cand((q, n)) })
  }

  test("sim12 decomposition exactness: zero residuals make IVFADC the " +
      "exact integer-dot ranking") {
    import spark.implicits._
    // 48 vectors at 8 DISTINCT 2-decimal positions (vec i sits at
    // position i % 8, so the first 8 ids ARE the 8 positions): Lloyd
    // converges to the positions themselves (round-6 snaps the means
    // back onto them), every residual quantizes to 0, the residual
    // codebooks are all-zero, and the fused score collapses to the
    // dot(q, c_cell) offset = the EXACT integer dot — so with all cells
    // probed, sim12 must return the exact-dot top-5, copies tied by nid
    val dims = 64
    def pos(j: Int): Seq[Double] =
      (0 until dims).map(i => ((j * 17 + i * 13) % 23 - 11) / 100.0)
    val vecs = (0 until 48).map(v => (v.toLong, pos(v % 8)))
    val emb48 = vecs.toDF("vec_id", "embedding").localCheckpoint()
    val got = graft.ops.Similarity.portableIvfAdcTopK(emb48,
        Seq(0L, 1L, 2L), topK = 5, cells = 8, iters = 2, nprobe = 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    // expected: exact int64 dots on the dyadic 2^20 grid, driver-side
    def qi(x: Double): Long = math.round(x * 1048576.0)
    val expected = (0 until 3).flatMap { q =>
      vecs.filter(_._1 != q)
        .map { case (n, v) =>
          (n, pos(q).zip(v).map { case (a, b) => qi(a) * qi(b) }.sum) }
        .sortBy { case (n, d) => (-d, n) }.take(5).zipWithIndex
        .map { case ((n, d), i) => (q.toLong, i + 1, n, d) }
    }.toSet
    assert(got == expected,
      s"zero-residual IVFADC must equal exact integer dot:\n got=$got\n " +
        s"want=$expected")
    Memo.clearAll()
  }

  test("gr4 triangle stats: hand-computed census, canonicalization") {
    import spark.implicits._
    // triangle {1,2,3}, pendant 3-4, detached pair 5-6; reversed and
    // duplicated directed edges must collapse to one undirected edge
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L),
      (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val got = Graph.triangleStats(edges).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 0.333333)), 4L -> ((1L, 0L, 0.0)),
      5L -> ((1L, 0L, 0.0)), 6L -> ((1L, 0L, 0.0))))
    // corpus: the portable top-3 kNN graph has real mirror-cluster
    // density (top-1 would be functional: zero 3-cycles)
    val stats = Graph.triangleStats(
      Similarity.portableKnnEdges(emb, k = 3)
        .select(col("qid").as("src"), col("nid").as("dst"))).collect()
    assert(stats.map(_.getLong(2)).sum > 0, "expected triangles at top-3")
    stats.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("gr4 power-law guard: hub wedges track min-degree orientation") {
    import spark.implicits._
    // planted hub: star 0—(1..200) plus a 5-clique among leaves 1..5
    // (closing edges). Canonical-id orientation would fan C(200,2) =
    // 19900 wedges out of the hub; the (degree, id) orientation points
    // every star edge INTO the hub, so total wedges = Σ_v C(outdeg(v), 2)
    // stays clique-sized.
    val star = (1L to 200L).map(l => (0L, l))
    val clique = for {
      x <- 1L to 5L; y <- (x + 1) to 5L
    } yield (x, y)
    val edges = (star ++ clique).toDF("src", "dst")
    val (oriented, _) = Graph.orientEdges(edges)
    // hub degree 200 is the maximum, so zero wedges are apexed at it;
    // leaves 1..5 have degree 5 (hub + 4 clique peers), leaves 6..200
    // degree 1. Out-degrees: hub 0; clique leaves ≤ 4 (clique peers of
    // higher order) + 1 (hub); plain leaves 1 (hub). Wedge total
    // Σ C(outdeg, 2) ≤ 5·C(5,2) = 50 ≪ 19900.
    val outdeg = oriented.groupBy("src").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(outdeg.getOrElse(0L, 0L) == 0L, s"hub must have no out-edges")
    val wedges = outdeg.values.map(d => d * (d - 1) / 2).sum
    assert(wedges <= 50, s"wedge space $wedges exceeds min-degree bound")
    // the census itself is orientation-invariant: C(5,3) = 10 triangles
    // inside the clique plus one {0, x, y} hub triangle per clique edge
    // (10 more) — each clique node in 6 internal + 4 hub triangles
    val got = Graph.triangleStats(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1L to 5L).forall(got(_) == 10L))
    assert(got(0L) == 10L && got(6L) == 0L)
    assert(got.values.sum == 60L) // 20 triangles x 3 corners
  }

  test("portable twins are partition-layout invariant") {
    // the integer-exactness contract, tested directly: reshuffling the
    // input must not move a single output bit (float-sum orders would)
    val a = Similarity.topPrincipalComponent(emb.repartition(7), 4)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    val b = Similarity.topPrincipalComponent(emb.repartition(3), 4)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(a == b, "emb3 drifted under repartitioning")
    val m1 = Bpe.train(docs.repartition(5), 6, 2L)
    val m2 = Bpe.train(docs.repartition(2), 6, 2L)
    assert(m1 == m2 && m1.size == 6, "t20 drifted under repartitioning")
  }

  test("emb3 top PC: recovers a planted dominant direction") {
    import spark.implicits._
    // points spread along u = (0.6, 0.8) with small orthogonal jitter:
    // the top PC must align with u and claim almost all the variance
    val u = Array(0.6, 0.8)
    val vecs = (1 to 40).map { i =>
      val tPar = (i % 21 - 10) / 10.0
      val tPerp = (i % 7 - 3) / 100.0
      (i.toLong, Array((tPar * u(0) - tPerp * u(1)).toFloat,
        (tPar * u(1) + tPerp * u(0)).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.topPrincipalComponent(vecs, 4).collect()
    val pc = out.sortBy(_.getInt(0)).map(_.getDouble(1))
    val cos = math.abs(pc(0) * u(0) + pc(1) * u(1)) /
      math.sqrt(pc.map(x => x * x).sum)
    assert(cos > 0.999, s"pc=${pc.toSeq} not aligned with planted u")
    assert(out.head.getDouble(2) > 0.95, "planted anisotropy missed")
    // 6dp-rounded unit vector
    assert(math.abs(pc.map(x => x * x).sum - 1.0) < 1e-4)
  }

  test("emb3 on the corpus: quantization-faithful, isotropy diagnosed") {
    val out = Similarity.topPrincipalComponent(emb, 4).collect()
      .sortBy(_.getInt(0))
    val pc = out.map(_.getDouble(1))
    val ev = out.head.getDouble(2)
    // the corpus is deliberately near-isotropic (lambda2/lambda1 ~ 0.99),
    // so no small round count converges the DIRECTION — and the
    // diagnostic doesn't need it to: ev_ratio ~ 1/dims is the healthy
    // reading. The differential that matters is quantized-vs-unquantized
    // at EQUAL rounds and the same v0 — it isolates exactly what the
    // portable form changes (1e-6/1e-3 quantization), not convergence.
    val data = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dims = data.head.length
    val n = data.length
    val mean = Array.tabulate(dims)(j => data.map(_(j)).sum / n)
    val y = data.map(row => Array.tabulate(dims)(j => row(j) - mean(j)))
    var v = Array.fill(dims)(0.125)
    for (_ <- 1 to 4) {
      val w = new Array[Double](dims)
      y.foreach { r =>
        val d = (0 until dims).map(j => r(j) * v(j)).sum
        (0 until dims).foreach(j => w(j) += d * r(j))
      }
      val nn = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nn)
    }
    val cos = math.abs((0 until dims).map(j => pc(j) * v(j)).sum) /
      math.sqrt(pc.map(x => x * x).sum)
    assert(cos > 0.995, s"quantization drifted the iterate (cos=$cos)")
    val num = y.map { r =>
      val d = (0 until dims).map(j => r(j) * v(j)).sum; d * d
    }.sum
    val den = y.map(r => r.map(x => x * x).sum).sum
    assert(math.abs(ev - num / den) < 0.005,
      s"ev_ratio $ev vs unquantized ${num / den}")
    // isotropic corpus: the top direction explains ~1/dims of variance
    assert(ev > 0 && ev < 3.0 / dims, s"expected isotropic reading, got $ev")
  }

  test("emb2 dim stats: hand-computed mean/variance, dead dim flagged") {
    import spark.implicits._
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f),
      2L -> Array(0f, 1f, 0f)) // dim 3 is dead: constant zero
      .toDF("vec_id", "embedding")
    val out = Similarity.dimStats(vecs).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // dims 1/2: values {1, 0} -> mean .5, var = E[x^2]-mean^2 = .5-.25
    assert(out(1) == ((2L, 0.5, 0.25)))
    assert(out(2) == ((2L, 0.5, 0.25)))
    assert(out(3) == ((2L, 0.0, 0.0)), "dead dimension must read var=0")
  }

  test("r3 retrieval eval: hand-computed rr, miss scores zero, min rank wins") {
    import spark.implicits._
    val ranked = Seq(
      ("qa", 10L, 1), ("qa", 11L, 2), ("qa", 12L, 3),
      ("qb", 20L, 1), ("qb", 21L, 2),
      ("qc", 30L, 1)).toDF("query_id", "doc_id", "rn")
    val qrels = Seq(
      ("qa", 12L),            // hit at rank 3 -> rr = 1/3
      ("qb", 20L), ("qb", 21L), // two relevant: min rank 1 wins
      ("qc", 99L))            // miss -> rr = 0, still a row
      .toDF("query_id", "doc_id")
    val out = Pipeline.retrievalEval(ranked, qrels, 10).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    assert(out("qa") == ((0.333333, true)))
    assert(out("qb") == ((1.0, true)))
    assert(out("qc") == ((0.0, false)))
    // the k cutoff excludes hits beyond it
    val cut = Pipeline.retrievalEval(ranked, qrels, 2).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(cut("qa") == false && cut("qb") == true)
  }

  test("rrf1 hybrid: hand-computed fusion covers lex-only/dense-only/both") {
    import spark.implicits._
    val docs3 = Seq(
      (0L, "apple banana"), (1L, "apple"), (2L, "cherry"))
      .toDF("doc_id", "text")
    val emb3 = Seq(
      0L -> Array(1f, 0f), 1L -> Array(0f, 1f), 2L -> Array(0.9f, 0.1f))
      .toDF("vec_id", "embedding")
    val out = Pipeline.hybridRrf(docs3, emb3,
        Seq(("qa", Seq("apple"), 0L)))
      .collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getInt(3)))).toMap
    // lex: doc1 rank 1 (shorter), doc0 rank 2; dense from vec 0: doc2
    // rank 1 (cos .9939), doc1 rank 2 (cos 0); doc0 is lex-only, doc2
    // dense-only, doc1 in both lists
    assert(out(1L) == ((0.032522, 1))) // 1/61 + 1/62
    assert(out(2L) == ((0.016393, 2))) // 1/61
    assert(out(0L) == ((0.016129, 3))) // 1/62
  }

  test("hn1 hard negatives: cross-label top-k, same-label excluded") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(0.9f, 0.1f), 0), // nearest overall — but same label
      (2L, Array(1f, 0.01f), 1), // nearest cross-label
      (3L, Array(0f, 1f), 1)) // orthogonal cross-label
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(vecs, 1, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // q0's negatives are ranked among label!=0 only: id2 then id3;
    // id1 (cos 0.994, label 0) never appears
    assert(got.toSeq == Seq((0L, 1, 2L), (0L, 2, 3L)))
  }

  test("knn2 classification: majority vote, hand-computed") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f), 99), // query — own label must not matter
      (1L, Array(0f, 1f), 99), // query
      (2L, Array(1f, 0f), 7),
      (3L, Array(0.9f, 0.1f), 7),
      (4L, Array(0.8f, 0.2f), 3),
      (5L, Array(0f, 1f), 3),
      (6L, Array(0.5f, 0.5f), 3))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(vecs, 2, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // q0 top-3 = {2, 3, 4} -> labels {7, 7, 3} -> 7 by 2 votes;
    // q1 top-3 = {5, 6, 4} -> all 3s
    assert(got == Set((0L, 7, 2L), (1L, 3, 3L)))
  }

  test("knn2 classification: vote tie breaks toward the smaller label") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1f, 0f), 99),
      (1L, Array(1f, 0f), 9), // rank-1 neighbor, label 9
      (2L, Array(0.9f, 0.1f), 4)) // rank-2 neighbor, label 4
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(vecs, 1, 2).collect()
    assert(got.length == 1)
    // 1 vote each: the smaller label wins even though rank-1 carries 9
    assert(got.head.getLong(0) == 0L && got.head.getInt(1) == 4 &&
      got.head.getLong(2) == 1L)
  }

  test("m1 features are parsed from real PNG/APNG/WAV payload bytes") {
    val media = Multimodal.toMediaTable(docs)
    val feats = Multimodal.extractFeatures(media)
    // every builder payload is structurally valid -> none drop (this now
    // requires the full inflate+unfilter to succeed, not just headers)
    assert(feats.count() == media.count())
    // byte_len = the actual payload size (deflate output isn't a closed
    // form, so this is the spec-side pin the oracle can't express)
    val bad = feats.join(media.select(col("doc_id"),
        length(col("payload")).as("plen")), "doc_id")
      .where(col("byte_len") =!= col("plen")).count()
    assert(bad == 0, "byte_len must be the whole-payload size")
    // kind comes from the MAGIC BYTES, not the kind column (decode never
    // reads it) — and it lands on the same cycle the builder used
    val kinds = feats.join(media.select(col("doc_id"),
        col("kind").as("built_kind")), "doc_id")
      .where(col("kind") =!= col("built_kind")).count()
    assert(kinds == 0)
    // mean_px comes from the DECODED content: image = floor-mean of the
    // prefix-rendered bitmap, video = floor-mean over EVERY row-scrolled
    // frame's pixels, audio = floor-mean |sample - 128| — recompute all
    // three from the text with independent (driver-side) code
    val got = feats.select(col("doc_id"), col("mean_px"),
        col("duration_ms"), col("n_frames")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    docs.select(col("doc_id"), col("text"),
        col("n_chars").cast("int")).collect().foreach { r =>
      val (id, text, nc) = (r.getLong(0), r.getString(1), r.getInt(2))
      val cps = text.codePoints().toArray
      val want =
        if (id % 3 == 1) {
          if (cps.isEmpty) 0L
          else cps.map(cp => math.abs(cp % 256 - 128).toLong).sum /
            cps.length
        } else if (id % 3 == 0) {
          val n = (nc / 100 * 3 + 12) * (nc / 150 * 4 + 10)
          cps.take(n).map(cp => (cp % 256).toLong).sum / n
        } else {
          val w = nc / 100 * 3 + 12
          val h = nc / 150 * 4 + 10
          val nf = nc / 64 + 1
          var s = 0L
          for (k <- 0 until nf; p <- 0 until w * h) {
            val j = k * w + p
            if (j < cps.length) s += (cps(j) % 256).toLong
          }
          s / (nf.toLong * w * h)
        }
      assert(got(id)._1 == want, s"mean_px mismatch for doc $id")
      // video duration = n_frames x the encoder's 40 ms fcTL delay,
      // summed from the DECODED frame controls
      if (id % 3 == 2)
        assert(got(id)._2 == 40L * (nc / 64 + 1) &&
          got(id)._3 == (nc / 64 + 1).toLong,
          s"video duration/frames mismatch for doc $id")
    }
  }

  test("m1 decode is a function of the payload bytes: corruption kills the record") {
    val px = Array.tabulate(6)(i => (i * 40 + 5).toByte) // 3x2 bitmap
    val pcm = "hello media payload".getBytes("UTF-8")
    val png = Multimodal.pngBytes(3, 2, px)
    // 5 REAL frames, each its own deflated bitmap
    val vframes = Array.tabulate(5)(k =>
      px.map(b => (((b & 0xff) + k * 11) % 256).toByte))
    val apng = Multimodal.apngBytes(3, 2, vframes)
    val wav = Multimodal.wavBytes(pcm)
    // metadata zeroed: decode must work from bytes alone
    def rec(p: Array[Byte]) = Multimodal.MediaRecord(1L, "unset", p, 0, 0)
    val fi = Multimodal.decode(rec(png)).get
    assert(fi.kind == "image" && fi.width == 3 && fi.height == 2 &&
      fi.n_frames == 1L && fi.byte_len == png.length &&
      fi.mean_px == px.map(b => (b & 0xff).toLong).sum / 6)
    val fv = Multimodal.decode(rec(apng)).get
    assert(fv.kind == "video" && fv.n_frames == 5L &&
      fv.byte_len == apng.length &&
      // duration = Σ per-frame fcTL delays (40 ms each by the encoder)
      fv.duration_ms == 200L &&
      // mean over EVERY decoded frame's pixels, not a poster frame
      fv.mean_px == vframes.flatMap(_.map(b => (b & 0xff).toLong)).sum
        / 30)
    // per-frame decode: each fdAT stream recovers its exact bitmap
    val parsed = Multimodal.decodePng(apng).get
    assert(parsed.animated && parsed.frames.length == 5)
    vframes.zip(parsed.frames).foreach { case (in, out) =>
      assert(out.sameElements(in.map(_ & 0xff))) }
    // a SHUFFLED fdAT sequence number must reject, not mis-sequence:
    // swap the first two fdAT seq fields and decode must fail on the
    // strictly-consecutive counter (fdAT data = 4-byte seq + stream)
    val fdatOffsets = {
      var offs = List.empty[Int]; var i = 8
      while (i + 8 <= apng.length) {
        val len = ((apng(i) & 0xff) << 24) | ((apng(i + 1) & 0xff) << 16) |
          ((apng(i + 2) & 0xff) << 8) | (apng(i + 3) & 0xff)
        if (new String(apng, i + 4, 4, "US-ASCII") == "fdAT") offs ::= i
        i += 12 + len
      }
      offs.reverse
    }
    assert(fdatOffsets.length >= 2, "fixture needs >= 2 fdAT chunks")
    val swapped = apng.clone()
    val (o1, o2) = (fdatOffsets(0), fdatOffsets(1))
    for (j <- 0 until 4) {
      val t = swapped(o1 + 8 + j)
      swapped(o1 + 8 + j) = swapped(o2 + 8 + j)
      swapped(o2 + 8 + j) = t
    }
    assert(Multimodal.decodePng(swapped).isEmpty,
      "out-of-order fdAT sequence numbers must reject")
    val fa = Multimodal.decode(rec(wav)).get
    assert(fa.kind == "audio" && fa.n_frames == pcm.length.toLong &&
      fa.duration_ms == pcm.length * 1000L / 8000 &&
      fa.byte_len == wav.length &&
      fa.mean_px == pcm.map(b => math.abs((b & 0xff) - 128).toLong).sum
        / pcm.length)
    // flip a bit of the stored IHDR CRC -> undecodable
    val crcFlip = png.clone(); crcFlip(29) = (crcFlip(29) ^ 0x01).toByte
    assert(Multimodal.decode(rec(crcFlip)).isEmpty)
    // flip a bit of the stored width -> CRC mismatch -> undecodable
    val widFlip = png.clone(); widFlip(16) = (widFlip(16) ^ 0x01).toByte
    assert(Multimodal.decode(rec(widFlip)).isEmpty)
    // garbage where the deflate stream should be -> headers parse, the
    // INFLATE fails -> undecodable (the pixel path is load-bearing)
    val idatGarbage = PngSig ++ pngChunk(png, "IHDR") ++
      mkChunk("IDAT", Array[Byte](9, 9, 9, 9)) ++
      mkChunk("IEND", Array.empty[Byte])
    assert(Multimodal.decode(rec(idatGarbage)).isEmpty,
      "a broken zlib stream must not decode")
    // corrupt the RIFF magic
    val magFlip = wav.clone(); magFlip(0) = 'X'.toByte
    assert(Multimodal.decode(rec(magFlip)).isEmpty)
    // truncate mid-chunk (both formats)
    assert(Multimodal.decode(rec(png.take(png.length - 3))).isEmpty)
    assert(Multimodal.decode(rec(wav.take(20))).isEmpty)
    // the checksum AND mean_px track the decoded content
    val otherPng = Multimodal.pngBytes(3, 2,
      Array.tabulate(6)(i => (200 - i).toByte))
    val fo = Multimodal.decode(rec(otherPng)).get
    assert(fo.checksum != fi.checksum && fo.mean_px != fi.mean_px)
    // adversarial headers: a structurally VALID chunk stream whose IHDR
    // declares absurd dimensions must be rejected cleanly — an Int
    // overflow in the size guard would instead crash the allocation
    // (decode-bomb posture: untrusted 100 TB media cannot kill tasks)
    for ((aw, ah) <- Seq((Int.MaxValue, 2), (Int.MaxValue, Int.MaxValue),
        (1 << 30, 4), (-1, 2))) {
      val ihdr = Array[Byte](
        ((aw >>> 24) & 0xff).toByte, ((aw >>> 16) & 0xff).toByte,
        ((aw >>> 8) & 0xff).toByte, (aw & 0xff).toByte,
        ((ah >>> 24) & 0xff).toByte, ((ah >>> 16) & 0xff).toByte,
        ((ah >>> 8) & 0xff).toByte, (ah & 0xff).toByte,
        8, 0, 0, 0, 0)
      val bomb = PngSig ++ mkChunk("IHDR", ihdr) ++
        mkChunk("IDAT", Array[Byte](1, 2, 3)) ++
        mkChunk("IEND", Array.empty[Byte])
      assert(Multimodal.decode(rec(bomb)).isEmpty,
        s"dims ${aw}x$ah must reject, not allocate")
    }
  }

  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Copy a named chunk (len+type+data+crc) out of a built PNG. */
  private def pngChunk(png: Array[Byte], typ: String): Array[Byte] = {
    var i = 8
    while (i + 8 <= png.length) {
      val len = ((png(i) & 0xff) << 24) | ((png(i + 1) & 0xff) << 16) |
        ((png(i + 2) & 0xff) << 8) | (png(i + 3) & 0xff)
      val t = new String(png, i + 4, 4, "US-ASCII")
      if (t == typ)
        return java.util.Arrays.copyOfRange(png, i, i + 12 + len)
      i += 12 + len
    }
    fail(s"chunk $typ not found")
  }

  /** Build a chunk with a VALID CRC around arbitrary (even garbage)
    * data — for isolating deflate-level corruption from CRC failures. */
  private def mkChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val c = new java.util.zip.CRC32
    c.update(t); c.update(data)
    val len = data.length
    Array(((len >>> 24) & 0xff).toByte, ((len >>> 16) & 0xff).toByte,
      ((len >>> 8) & 0xff).toByte, (len & 0xff).toByte) ++ t ++ data ++ {
      val v = c.getValue
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    }
  }

  test("m2 frame sampling: offsets in-bounds, strictly increasing, resized dims positive") {
    val media = Multimodal.toMediaTable(docs)
    // offsets index the DECODED stream: audio strides through the PCM
    // samples (payload - 44-byte header); image/video offsets are
    // FRAME-ALIGNED starts in the concatenated n_frames x (w*h) bitmap
    // stream — sampled frame i is frame i*floor(n_frames/n)
    val rows = Multimodal.sampleFrames(media, 224, 4)
      .join(media.select(col("doc_id"),
        when(col("kind") === "audio", length(col("payload")) - 44)
          .otherwise(col("width") * col("height")).as("fbytes")), "doc_id")
      .join(docs.select(col("doc_id"),
        (org.apache.spark.sql.functions.floor(col("n_chars") / 64) + 1)
          .cast("long").as("nfv")), "doc_id")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val offs = r.getAs[scala.collection.Seq[Long]]("frame_offsets")
      val kind = r.getAs[String]("kind")
      val fbytes = r.getAs[Int]("fbytes").toLong
      val nFrames = kind match {
        case "audio" => fbytes // one "frame" per PCM sample
        case "image" => 1L
        case _       => r.getAs[Long]("nfv")
      }
      assert(offs.nonEmpty && offs.head == 0L)
      assert(offs.zip(offs.tail).forall { case (a, b) => a < b })
      assert(offs.length == math.max(1L, math.min(4L, nFrames)),
        s"$kind must sample min(4, n_frames) frames: $offs")
      // exact access pattern per modality
      val want = kind match {
        case "audio" =>
          val stride = math.max(nFrames / offs.length, 1L)
          (0 until offs.length).map(_ * stride)
        case _ =>
          val fs = math.max(nFrames / offs.length, 1L)
          (0 until offs.length).map(i => i * fs * fbytes)
      }
      assert(offs == want, s"$kind offsets must be frame-aligned: $offs")
      // in-bounds in the full decoded stream (n_frames x frame bytes)
      val streamLen = if (kind == "audio") fbytes else nFrames * fbytes
      assert(offs.forall(_ < math.max(streamLen, 1L)))
      assert(r.getAs[Int]("out_w") == 224 && r.getAs[Int]("out_h") > 0)
    }
  }

  test("t5 winnowing fingerprint identical for identical normalized text") {
    val twice = docs.limit(5).union(docs.limit(5))
    val fps = TextAnalysis.winnowingFingerprint(twice, 4)
      .groupBy("doc_id").agg(countDistinct(col("fp_hashes")).as("n"))
    assert(fps.where(col("n") =!= 1).count() == 0)
  }

  test("t6 trigram LM score: finite, equal for identical docs, length-aware") {
    val scored = TextAnalysis.trigramLmScore(docs)
    assert(scored.count() == docs.count())
    assert(scored.where(col("lm_score").isNull ||
      org.apache.spark.sql.functions.isnan(col("lm_score"))).count() == 0)
    // identical text must score identically: score the corpus with doc 0
    // duplicated under a new id
    val dup = docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val scores = TextAnalysis.trigramLmScore(docs.unionByName(dup))
      .where(col("doc_id").isin(0L, 100000L))
      .collect().map(_.getDouble(1))
    assert(scores.length == 2 && math.abs(scores(0) - scores(1)) < 1e-12)
  }

  test("t13 cross perplexity: ranks reference language above others; " +
       "degenerates to self-scored LM when the corpus is all-reference") {
    val scored = TextAnalysis.crossPerplexity(docs, "en")
      .join(docs.select("doc_id", "lang"), "doc_id")
    val byLang = scored.groupBy("lang").agg(avg("xlm_score").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the en-trained model must prefer en text to zh text on average
    assert(byLang("en") > byLang("zh"),
      s"expected en > zh, got $byLang")
    // all-reference corpus: cross-scoring IS self-scoring
    val enOnly = docs.where(col("lang") === "en")
    val cross = TextAnalysis.crossPerplexity(enOnly, "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val self = TextAnalysis.trigramLmScore(enOnly)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cross.keySet == self.keySet)
    cross.foreach { case (id, v) =>
      assert(math.abs(v - self(id)) < 1e-12, s"doc $id: $v vs ${self(id)}")
    }
  }

  test("sim6 blocked kNN graph: recall vs the exact graph, near-full coverage") {
    val exact = Similarity.knnGraph(emb, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact.size == emb.count(),
      "exact graph must have one top-1 row per vector")
    val blocked = Similarity.knnGraphBlocked(emb, 5)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val coverage = blocked.size.toDouble / exact.size
    val recall = exact.count { case (q, n) =>
      blocked.getOrElse(q, Set.empty).contains(n)
    }.toDouble / exact.size
    info(s"blocked kNN graph coverage: $coverage, top-1 recall@5: $recall")
    assert(coverage >= 0.95, s"coverage $coverage")
    assert(recall >= 0.6, s"recall $recall")
  }

  test("portable LSH top-1: bucket-local argmax, deterministic, no self") {
    val qids = Seq(0L, 1L, 2L)
    val got = Similarity.portableLshTop1(emb, qids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "all query buckets empty — bits too high for corpus")
    assert(got.keySet.subsetOf(qids.toSet))
    assert(got.forall { case (q, n) => q != n }, s"self-match in $got")
    // re-invocation is bit-identical (pure integer blocking, no RNG)
    val again = Similarity.portableLshTop1(emb, qids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again)
    // each answer must be the EXACT cosine argmax among same-bucket
    // candidates: re-derive the buckets via brute-force ranking restricted
    // to the emitted neighbor's rank being minimal is implied by rankTopK;
    // here check the weaker contract a consumer relies on: the chosen
    // neighbor is in the query's brute-force top-50 (bucket-local argmax
    // of a 64-bucket blocking over 500 vectors should not be an outlier)
    val brute = Similarity.bruteForceTopKIds(emb, qids, 50)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => r.getLong(2)).toSet).toMap
    val inTop = got.count { case (q, n) => brute(q).contains(n) }
    info(s"portable-LSH top-1 within brute top-50: $inTop/${got.size}")
    assert(inTop >= got.size / 2, s"blocking quality collapsed: $got")
  }

  test("d18 portable near-dup: planted colinear pair found, orthogonal excluded") {
    import spark.implicits._
    // b = 1.1 * a: every hyperplane dot scales by 1.1, so the sign bits —
    // and hence the bucket — are IDENTICAL by construction (no LSH luck
    // involved), and the cosine is exactly 1.0. The orthogonal vector may
    // or may not share a bucket; either way cos 0 < threshold excludes it.
    val a = Array.tabulate(64)(i => (math.sin(i + 1) * 0.1).toFloat)
    val b = a.map(x => x * 1.1f)
    val c = Array.tabulate(64)(i => if (i % 2 == 0) a(i + 1) else -a(i - 1))
    val emb3 = Seq((10L, a.toSeq), (20L, b.toSeq), (30L, c.toSeq))
      .toDF("vec_id", "embedding")
    val got = Similarity.portableNearDupPairs(emb3, 6, 64, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.exists(p => p._1 == 10L && p._2 == 20L && p._3 >= 0.999999),
      s"colinear pair missing: ${got.toSeq}")
    assert(got.forall(p => p._3 >= 0.4))
    assert(!got.exists(p => p._2 == 30L || p._1 == 30L), s"${got.toSeq}")
    // driver data: every emitted pair is canonical (a < b) and >= threshold
    val real = Similarity.portableNearDupPairs(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(real.forall(p => p._1 < p._2 && p._3 >= 0.4))
  }

  test("d19 portable simhash: identical bags at hamming 0, disjoint vocab excluded") {
    import spark.implicits._
    val docs2 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      // same BAG, different order: simhash is order-blind by design
      (2L, "zeta epsilon delta gamma beta alpha"),
      // NOTE: tiny docs have many tied-vote bits, so even one added word
      // can flip enough bits to break every band — only the bag-identical
      // and disjoint cases are stable enough to pin here
      (3L, "alpha beta gamma delta epsilon zeta eta"),
      (4L, "totally different words everywhere here now then"))
      .toDF("doc_id", "text")
    val got = Dedup.portableSimhashPairs(docs2, 60).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got((1L, 2L)) == 0, s"bag-identical docs must collide: $got")
    // disjoint vocab: absent entirely (no shared band) or clearly far
    assert(got.get((1L, 4L)).forall(_ > 10), s"disjoint vocab too close: $got")
    assert(got.get((3L, 4L)).forall(_ > 10), s"disjoint vocab too close: $got")
    // at the d4 threshold the disjoint doc drops out, the bag pair stays
    val tight = Dedup.portableSimhashPairs(docs2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.contains((1L, 2L)))
    assert(!tight.exists(p => p._1 == 4L || p._2 == 4L))
    // driver corpus: canonical order, hamming bound respected, deterministic
    val real = Dedup.portableSimhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(real.forall(p => p._1 < p._2 && p._3 <= 3))
    val again = Dedup.portableSimhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(real.sorted.toSeq == again.sorted.toSeq)
  }

  test("gr3 portable kNN edges: one out-edge per node, in-bucket only, mutual colinear link") {
    import spark.implicits._
    val edges = Similarity.portableKnnEdges(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // top-1 graph: at most one out-edge per source, never a self-loop
    assert(edges.map(_._1).distinct.length == edges.length)
    assert(edges.forall(e => e._1 != e._2))
    // every edge must be an in-bucket pair: the threshold=-1 near-dup scan
    // enumerates ALL in-bucket pairs in canonical order
    val inBucket = Similarity.portableNearDupPairs(emb, 6, 64, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.forall(e =>
      inBucket.contains((e._1 min e._2, e._1 max e._2))), "edge out of bucket")
    // colinear fixture: a and 1.1*a share a bucket BY CONSTRUCTION and are
    // each other's top-1, so the edge is mutual
    val a = Array.tabulate(64)(i => (math.sin(i + 1) * 0.1).toFloat)
    val emb3 = Seq((10L, a.toSeq), (20L, a.map(x => x * 1.1f).toSeq),
      (30L, Array.tabulate(64)(i =>
        if (i % 2 == 0) a(i + 1) else -a(i - 1)).toSeq))
      .toDF("vec_id", "embedding")
    val tiny = Similarity.portableKnnEdges(emb3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiny.contains((10L, 20L)) && tiny.contains((20L, 10L)), s"$tiny")
  }

  test("sim8 portable IVF: candidates confined to the probed cells, exact rerank") {
    val qids = Seq(0L, 1L, 2L)
    val got = Similarity.portableIvfTopK(emb, qids)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall(r => qids.contains(r._1) && r._1 != r._3))
    // ranks contiguous from 1, at most k per query
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"ranks for $q")
      assert(rs.length <= 5)
    }
    // independently re-derive the probe set driver-side from the exposed
    // quantizer model and assert every returned neighbor lives in it
    val cents = Clustering.kmeansCentroids(emb)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val qemb = emb.where(col("vec_id").isin(qids.map(x => x: Any): _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val assign = ops.Clustering.kmeansAssign(emb)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def probed(q: Long): Set[Int] = cents.toSeq.map { case (cid, cen) =>
      val d = cen.zip(qemb(q)).map { case (m, x) => (x - m) * (x - m) }.sum
      (d, cid)
    }.sorted.take(2).map(_._2).toSet
    got.foreach { case (q, _, nid) =>
      assert(probed(q).contains(assign(nid)),
        s"neighbor $nid of $q outside probed cells ${probed(q)}")
    }
    // pure-deterministic pipeline: re-invocation is identical
    val again = Similarity.portableIvfTopK(emb, qids)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("sim9 portable PQ: ADC ranking equals the driver-side integer re-derivation") {
    val qids = Seq(0L, 1L, 2L)
    val (m, k, iters, dims) = (4, 8, 2, 64)
    val subDim = dims / m
    val got = Similarity.portablePqTopK(emb, qids)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3)))
    assert(got.nonEmpty)
    assert(got.forall(r => qids.contains(r._1) && r._1 != r._3))
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"ranks for $q")
      assert(rs.length <= 5)
    }
    // independent ADC + ranking re-derivation: collect the per-subspace
    // codes and round-6 centroids (the same Lloyd artifacts the operator
    // consumes), quantize to the 1e-6 integer grid, score and rank in
    // plain Scala integer arithmetic
    val subs = (0 until m).map(s => emb.select(col("vec_id"),
      slice(col("embedding"), s * subDim + 1, subDim).as("embedding")))
    val codes: Map[(Int, Long), Int] = subs.zipWithIndex.flatMap {
      case (df, s) => Clustering.kmeansAssign(df, k, iters).collect()
        .map(r => (s, r.getLong(0)) -> r.getInt(1))
    }.toMap
    val cents: Map[(Int, Int), Array[Long]] = subs.zipWithIndex.flatMap {
      case (df, s) => Clustering.kmeansCentroids(df, k, iters).collect()
        .map(r => (s, r.getInt(0), r.getInt(1),
          math.round(r.getDouble(2) * 1e6)))
        .groupBy(t => (t._1, t._2)).map { case (key, rows) =>
          key -> rows.sortBy(_._3).map(_._4)
        }
    }.toMap
    val qvecs: Map[Long, Array[Long]] = emb
      .where(col("vec_id").isin(qids.map(x => x: Any): _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray)
      .toMap
    val allIds = emb.select("vec_id").collect().map(_.getLong(0))
    val expected = qids.flatMap { q =>
      val qv = qvecs(q)
      allIds.filter(_ != q).map { n =>
        val adc = (0 until m).map { s =>
          val cen = cents((s, codes((s, n))))
          (0 until subDim).map(i => qv(s * subDim + i) * cen(i)).sum
        }.sum
        (q, n, adc)
      }.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
        .map { case ((qq, n, adc), idx) => (qq, idx + 1, n, adc) }
    }.toSet
    assert(got.toSet == expected,
      s"ADC mismatch: extra=${got.toSet -- expected} missing=${expected -- got.toSet}")
    // deterministic on re-invocation
    val again = Similarity.portablePqTopK(emb, qids)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3)))
    assert(got.sorted.toSeq == again.sorted.toSeq)
  }

  test("d7 propagation collapses long chains and stars (multi-iteration + bounded plan)") {
    import spark.implicits._
    // chain 0-1-2-...-9 (diameter 9 forces ~5 propagation rounds under the
    // every-2nd-iteration convergence check), star 100-{101..105},
    // isolated 900
    val chain = (0L until 9L).map(i => (i, i + 1))
    val star = (101L to 105L).map(i => (100L, i))
    val pairs = (chain ++ star).toDF("doc1", "doc2")
    val ids = ((0L to 9L) ++ (100L to 105L) :+ 900L).toDF("doc_id")
    val got = Dedup.clustersFromPairs(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
    (100L to 105L).foreach(i => assert(got(i) == 100L, s"star node $i"))
    assert(got(900L) == 900L)
  }

  test("d7 pointer jumping converges a diameter-79 chain within 10 rounds") {
    import spark.implicits._
    // plain min-label propagation moves the label one hop per round — a
    // 79-diameter chain would need ~79 rounds and maxIter=10 would return
    // unconverged labels; label-of-label shortcutting needs ~log2(79) ≈ 7
    val chain = (0L until 79L).map(i => (i, i + 1))
    val ids = (0L to 79L).toDF("doc_id")
    val got = Dedup.clustersFromPairs(ids, chain.toDF("doc1", "doc2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 79L).foreach(i => assert(got(i) == 0L, s"chain node $i"))
  }

  test("d7 propagation over an empty pair frame keeps every doc its own " +
      "cluster") {
    import spark.implicits._
    val got = Dedup.clustersFromPairs(Seq(3L, 1L).toDF("doc_id"),
        Seq.empty[(Long, Long)].toDF("doc1", "doc2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L))
  }

  test("d7 cold job budget: each propagation round's convergence count " +
      "rides on that round's checkpoint job") {
    Memo.clearAll()
    // Measured 35 (2 propagation rounds on this fixture). A separate
    // isEmpty check per round ran 37
    val jobs = jobsOf(SparkEntry.queries("d7_dup_clusters")(spark, sf)
      .collect())
    info(s"d7 cold: $jobs jobs")
    assert(jobs <= 35, s"d7 cold ran $jobs jobs")
    Memo.clearAll()
  }

  test("split-form contamination and incremental dedup equal the two-frame forms") {
    import org.apache.spark.sql.functions.col
    val corpus = docs.where(col("doc_id") >= 100)
    val batch = docs.where(col("doc_id") < 100)
    val cSplit = Dedup.contaminationSplitCheck(docs, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cTwo = Dedup.contaminationCheck(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cSplit == cTwo && cSplit.nonEmpty)
    val iSplit = Dedup.incrementalDedupSplit(docs, 100)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val iTwo = Dedup.incrementalDedup(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(iSplit == iTwo && iSplit.nonEmpty)
  }

  test("d10 against the durable index equals d10 against the live corpus") {
    import org.apache.spark.sql.functions.col
    val corpus = docs.where(col("doc_id") >= 100)
    val batch = docs.where(col("doc_id") < 100)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dedup_idx").toString
    Dedup.writeDedupIndex(corpus, dir)
    val live = Dedup.incrementalDedup(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val indexed = Dedup.incrementalDedupIndexed(spark, dir, batch)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // decision-for-decision identical: the index carries exactly what
    // the corpus side contributes (fingerprints + shingle postings), so
    // a daily batch can dedup against 100 TB reading only the artifact
    assert(indexed == live && indexed.nonEmpty)
    assert(indexed.exists(_._2 != "keep"), "planted dups must be found")
    // robustness: DUPLICATED index postings (a damaged/legacy artifact)
    // must not change decisions — csz comes from the distinct set, so a
    // doubled posting list cannot halve Jaccard and admit near-dups
    val fp = spark.read.parquet(s"$dir/fp")
      .select(col("doc_id").as("partner"), col("fp"))
    val sh = spark.read.parquet(s"$dir/shingles")
      .select(col("doc_id"), col("shingle"))
    val doubled = Dedup.incrementalDedupAgainst(
        fp.unionAll(fp), sh.unionAll(sh), batch)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(doubled == live,
      "duplicated postings changed incremental-dedup decisions")
  }

  test("sim5 IVF-PQ ANN: probed-cell code scan, recall@5 vs brute force") {
    val truth = Similarity.bruteForceTopK(emb, 50, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Similarity.portableIvfAdcTopK(emb, 0L until 50L, topK = 5,
        cells = 16, nprobe = 4, m = 16, k = 32)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = truth.count { case (q, n) =>
      got.getOrElse(q, Set.empty).contains(n)
    }.toDouble / truth.size
    info(s"IVF-PQ (nprobe=4/16, 16x32 codes) ANN recall@5: $recall")
    // bounded by the IVF probe (sim3 floor), approximated by PQ distance:
    // recall must stay in the same band as its two components
    assert(recall >= 0.3)
    // result count respects topK per query
    Similarity.portableIvfAdcTopK(emb, 0L until 10L, topK = 5)
      .groupBy("qid").count().collect()
      .foreach(r => assert(r.getLong(1) <= 5))
  }

  test("IVFADC residual codes beat raw-vector codes on clustered corpora") {
    import spark.implicits._
    // planted structure the synthetic corpus lacks: 8 well-separated
    // cluster centers with LARGE coordinates; each member adds one of 16
    // discrete STYLE offsets (within-cluster variation) plus a tiny
    // tiebreaker. Residual codebooks (k = 16 levels/subspace) can code
    // the 16 styles essentially exactly — the residual range IS the
    // style palette — while raw-vector codebooks must cover 8 clusters x
    // 16 styles = 128 distinct subvectors with the same 16 levels and
    // collapse to cluster granularity, losing every within-cluster
    // distinction to id-order ties: the classic IVFADC precision
    // argument as a measured differential at identical code size.
    val dims = 64
    val pts = (0 until 320).map { i =>
      val c = i % 8
      val s = (i / 8) % 16
      val raw = Array.tabulate(dims) { d =>
        val center = (((c * 31 + d * 17) % 13) - 6) * 10.0f
        val style = ((((s * 37 + d * 11) % 9) - 4)) * 1.0f
        val tie = (((i * 7919 + d * 104729) % 1000) / 1000.0f - 0.5f) * 0.02f
        center + style + tie
      }
      (i.toLong, raw)
    }
    val emb = pts.toDF("vec_id", "embedding").localCheckpoint()
    // truth by EXACT DOT (what the IVF-PQ score approximates):
    // driver-side over the 320-vector fixture
    val vecs = pts.toMap
    def dotp(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val truth = (0 until 24).map { q =>
      val qv = vecs(q.toLong)
      q.toLong -> (0 until 320).filter(_ != q)
        .maxBy(j => (dotp(qv, vecs(j.toLong)), -j)).toLong
    }.toMap
    def recallOf(residual: Boolean): Double = {
      val qids = 0L until 24L
      val got = (if (residual)
          Similarity.portableIvfAdcTopK(emb, qids, topK = 5, cells = 8,
            nprobe = 2, m = 8, k = 16, dims = dims)
        else Similarity.portableIvfPqTopK(emb, qids, topK = 5, cells = 8,
            nprobe = 2, m = 8, k = 16, dims = dims))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(2)).toSet).toMap
      truth.count { case (q, n) =>
        got.getOrElse(q, Set.empty).contains(n)
      }.toDouble / truth.size
    }
    val (rRes, rRaw) = (recallOf(residual = true),
      recallOf(residual = false))
    info(s"clustered recall@5: residual $rRes vs raw $rRaw")
    // the measured gap (0.708 vs 0.25 at this fixture): residual codes
    // spend their 16 levels on the 9-value style palette; raw codes
    // spread them over 8 clusters x styles and collapse within-cluster
    // structure. Everything is deterministic — these are exact floors.
    assert(rRes >= rRaw + 0.15,
      s"residual codes must beat raw codes decisively: $rRes vs $rRaw")
    assert(rRes >= 0.5,
      s"residual codes must resolve within-cluster neighbors: $rRes")
  }

  test("text/dedup surface tolerates null, empty, and tiny documents") {
    import spark.implicits._
    val weird = Seq(
      (1L, null.asInstanceOf[String], "en", "src0"),
      (2L, "", "en", "src0"),
      (3L, "a", "de", "src1"),
      (4L, "ab cd ef gh ij kl mn op qr st", "fr", "src1"),
      (5L, "ab cd ef gh ij kl mn op qr st", "fr", "src2"))
      .toDF("doc_id", "text", "lang", "source")
    // every op must run without throwing; duplicate pair 4/5 must survive
    assert(Dedup.exactDuplicates(weird).count() >= 3)
    val jp = Dedup.jaccardPairs(weird, 3, 0.5).collect()
    assert(jp.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((4L, 5L)))
    assert(Dedup.minhashDuplicates(weird).count() == 1)
    Dedup.simhashPairs(weird).count()
    assert(Dedup.dupClusters(weird).count() == 5)
    Dedup.boilerplateSegments(weird, 8, 2).count()
    Dedup.repeatedNgrams(weird, 8, 2).count()
    Dedup.clusterSizeHistogram(weird).count()
    assert(TextAnalysis.repetitionStats(weird).count() == 2) // docs with >=1 trigram
    assert(TextAnalysis.trigramLmScore(weird).count() == 2)
    TextAnalysis.passageChunks(weird, 4, 3).count()
    assert(Pipeline.corpusReport(weird).count() >= 3)
    // round-5 surface on the same degenerate corpus
    val spans = Dedup.dupSpans(weird, 8, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(spans(4L) == ((1L, 10L)) && spans(5L) == ((1L, 10L)),
      s"identical 10-word docs must be one full-cover span: $spans")
    assert(spans(2L) == ((0L, 0L)) && spans(3L) == ((0L, 0L)))
    assert(TextAnalysis.modelQualityScore(weird).count() == 3) // tokenful docs
    Pipeline.curatedCorpus(weird).count()
    // k-means with fewer vectors than clusters must not throw
    val tiny = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    assert(Clustering.kmeansAssign(tiny, 8, 2).count() == 2)
    // a NULL embedding row must not crash the Lloyd M-step (null-safe
    // NearestCentroid would put it in a null cluster group); it silently
    // drops, like the old posexplode form
    val withNull = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)),
      (3L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val asgN = Clustering.kmeansAssign(withNull, 2, 2).collect()
    assert(asgN.length == 2 && asgN.forall(!_.isNullAt(1)),
      "null-embedding rows drop; real rows keep non-null clusters")
    // funnel over an empty event frame: all stages report zero users
    val noEvents = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("user_id", "event_type", "ts")
    assert(ops.Aggs.funnelStages(noEvents).collect()
      .map(r => r.getLong(1)).toSeq == Seq(0L, 0L, 0L))
    Memo.clearAll() // don't leak the weird-corpus caches
  }

  test("e8 composition: mediaCuratedCorpus == curatedCorpus minus phash drops") {
    val want = {
      val drops = graft.ops.Multimodal.phashPairs(docs, 3)
        .select(col("doc2")).collect().map(_.getLong(0)).toSet
      Pipeline.curatedCorpus(docs).collect()
        .map(_.getLong(0)).toSet -- drops
    }
    val got = Pipeline.mediaCuratedCorpus(docs).collect()
      .map(_.getLong(0)).toSet
    assert(got == want, "e8 must be exactly e5's keep-set minus the " +
      s"phash doc2 side (${want.size} expected, ${got.size} got)")
  }

  test("e9 composition: fullMediaCuratedCorpus == e8 minus audio drops") {
    val audioDrops = graft.ops.Multimodal.audioPairs(docs, 2)
      .select(col("doc2")).collect().map(_.getLong(0)).toSet
    val want = Pipeline.mediaCuratedCorpus(docs).collect()
      .map(_.getLong(0)).toSet -- audioDrops
    val got = Pipeline.fullMediaCuratedCorpus(docs).collect()
      .map(_.getLong(0)).toSet
    assert(got == want, "e9 must be exactly e8's keep-set minus the " +
      s"audio doc2 side (${want.size} expected, ${got.size} got)")
    // the two modality drop lists are disjoint by construction
    val imageDrops = graft.ops.Multimodal.phashPairs(docs, 3)
      .select(col("doc2")).collect().map(_.getLong(0)).toSet
    assert(imageDrops.intersect(audioDrops).isEmpty)
  }

  test("e10 composition: decontaminatedMediaCorpus == e9 minus the " +
      "loose-budget flags; audit2 conserves and kept == e10") {
    import graft.ops.Multimodal
    // the stage's own budgets (5/3 — looser than the 3/2 dedup legs)
    val flagged = Multimodal.mediaContaminationSplitCheck(docs, 25L, 5, 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // the flags are train-side by construction
    assert(flagged.forall(_ >= 25L), s"bench-side flag leaked: $flagged")
    val e9 = Pipeline.fullMediaCuratedCorpus(docs).collect()
      .map(_.getLong(0)).toSet
    val got = Pipeline.decontaminatedMediaCorpus(docs).collect()
      .map(_.getLong(0)).toSet
    assert(got == e9 -- flagged,
      "e10 must be exactly e9 minus the contamination flags " +
        s"(only_got=${got -- (e9 -- flagged)} " +
        s"missing=${(e9 -- flagged) -- got})")
    // SUBSUMPTION COROLLARY (why the budgets must be looser): at the
    // dedup budgets every flagged train doc is the higher-id side of a
    // d21/d23 pair (bench ids < train ids), so e9's near-dup anti-join
    // already dropped it — equal-budget decontamination is a no-op
    val tightFlags = Multimodal
      .mediaContaminationSplitCheck(docs, 25L, 3, 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(tightFlags.intersect(e9).isEmpty,
      "equal-budget flags must be subsumed by the near-dup drop list: " +
        s"${tightFlags.intersect(e9)}")
    // audit2: exhaustive disjoint stages (doc AND token conservation),
    // kept == the e10 keep-set, and the media_contaminated stage is the
    // e9-kept contaminated docs exactly
    val funnel = Pipeline.mediaFilterFunnel(docs).collect()
    assert(funnel.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val totTok = docs
      .select(sum(size(split(col("text"), "\\s+")).cast("long")))
      .head.getLong(0)
    assert(funnel.map(_.getAs[Long]("n_tokens")).sum == totTok)
    def stageN(s: String) = funnel.find(_.getAs[String]("stage") == s)
      .map(_.getAs[Long]("n_docs")).getOrElse(0L)
    assert(stageN("kept") == got.size,
      s"funnel kept ${stageN("kept")} but e10 emitted ${got.size}")
    assert(stageN("media_contaminated") == flagged.intersect(e9).size,
      "media_contaminated must count exactly the e9-kept flagged docs")
  }

  test("e10 enforcement is non-vacuous: a planted 4-bit re-encode " +
      "passes dedup but drops through decontamination") {
    import spark.implicits._
    import graft.ops.Multimodal
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    // bench 0 and train 27 render near-identical images: the fixture
    // SEARCHES (deterministically, via the same dHash pipeline the
    // encoder runs) for the smallest set of evenly-spaced high-contrast
    // edits whose signature lands in (3, 5] — OUTSIDE the 3-bit dedup
    // budget, INSIDE the 5-bit contamination budget — so an encoder
    // change re-plants the leak instead of silently un-planting it.
    // 30 is an unrelated keeper; quality/span gates are neutralized
    // (minScore 0, maxDupFrac 1) to isolate the contamination stage.
    def sig(s: String): Long = {
      val w = (s.length / 100) * 3 + 12
      val h = (s.length / 150) * 4 + 10
      Multimodal.dHash56(Multimodal.grayGrid(w, h,
        Multimodal.textPixels(s, w * h).map(_ & 0xff)))
    }
    val b0 = sig(base)
    val perturbed = (1 to base.length).view.flatMap { k =>
      val t = (0 until k).map(j => (j * base.length) / k)
        .foldLeft(base)((s, p) => s.updated(p, 'Z'))
      val h = java.lang.Long.bitCount(b0 ^ sig(t))
      if (h > 3 && h <= 5) Some(t) else None
    }.headOption.getOrElse(
      fail("no edit set lands between the budgets on this encoder"))
    val hand = Seq((0L, base), (27L, perturbed),
        (30L, "another corpus entirely with its own unrelated canvas"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val sigs = Multimodal.phash(Multimodal.toMediaTable(hand)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ham = java.lang.Long.bitCount(sigs(0L) ^ sigs(27L))
    assert(ham > 3 && ham <= 5,
      s"fixture must land between the budgets, got hamming $ham")
    val e9 = Pipeline.fullMediaCuratedCorpus(hand, minScore = 0.0,
      maxDupFrac = 1.0).collect().map(_.getLong(0)).toSet
    assert(e9.contains(27L),
      s"the re-encode must SURVIVE dedup (the leak e10 exists for): $e9")
    val e10 = Pipeline.decontaminatedMediaCorpus(hand, 25L,
      minScore = 0.0, maxDupFrac = 1.0).collect()
      .map(_.getLong(0)).toSet
    assert(!e10.contains(27L) && e10.contains(30L),
      s"decontamination must drop exactly the planted leak: $e10")
    // and the funnel attributes it to the new stage
    val stages = Pipeline.mediaFilterFunnel(hand, 25L, minScore = 0.0,
      maxDupFrac = 1.0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.get("media_contaminated").contains(1L),
      s"funnel must attribute the leak to media_contaminated: $stages")
    Memo.clearAll()
  }

  test("d21 phash: planted near-dup images pair up, audio never does") {
    import spark.implicits._
    import graft.ops.Multimodal
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    // ids 0/3/6 become PNG images (id % 3 == 0), id 1 WAV audio; 0 and 3
    // carry identical text (same length -> same canvas -> hamming 0 via
    // the intra leg), 6 perturbs ONE character = ONE decoded pixel (one
    // box-sample cell shifts -> at most 2 gradient bits flip), 1 is the
    // same text as an AUDIO payload and must stay invisible
    val docs = Seq(
      (0L, base), (3L, base),
      (6L, base.updated(10, 'z')),
      (1L, base))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val pairs = Multimodal.phashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((0L, 3L)).contains(0),
      s"identical images must pair at hamming 0: $pairs")
    assert(pairs.contains((0L, 6L)) && pairs((0L, 6L)) <= 2,
      s"one-character perturbation must stay within 2 bits: $pairs")
    assert(pairs.contains((3L, 6L)))
    assert(!pairs.keys.exists(p => p._1 == 1L || p._2 == 1L),
      s"audio payloads must never enter the image-hash path: $pairs")
    // dHash spot-check: the empty text renders all-black -> grid all
    // zero -> no strict gradient anywhere -> sig 0
    assert(Multimodal.dHash56(Multimodal.grayGrid(12, 10,
      Multimodal.textPixels("", 120).map(_ & 0xff))) == 0L)
  }

  test("d24 video containment: planted sub-clips pair, modalities isolate") {
    import spark.implicits._
    import graft.ops.Multimodal
    // corpus: output is video-only, canonical order, (0, 1]-bounded,
    // and the shift-consistent fraction never exceeds the any-order one
    val pairs = Multimodal.videoContainmentPairs(docs, 3, 0.8).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(2) <= r.getDouble(3),
        "containment (shift-consistent) must be <= containment_any")
      assert(r.getLong(0) % 3 == 2 && r.getLong(1) % 3 == 2,
        "only video docs carry frame hashes")
    }
    // hand fixture: a suffix-appended clip shares every frame at small
    // hamming (the prefix-aligned scroll law) -> containment ~1; a
    // different-length clip renders on another canvas and stays out
    val base = ("the quick brown fox jumps over the lazy dog " * 4).trim
    val hand = Seq(
      (2L, base), (5L, base + " dup"),
      (8L, "completely different words that render another bitmap"),
      (1L, base)) // audio modality: must never enter
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getInt(4)))).toMap
    val got = toMap(Multimodal.videoContainmentPairs(hand, 3, 0.8).collect())
    assert(got.contains((2L, 5L)),
      s"planted sub-clip must reach 0.8 containment: $got")
    // same canvas, same frame indexing: the clips align at shift 0 (the
    // shot-alignment statistic a scattered coincidence can't produce)
    assert(got((2L, 5L))._2 == 0,
      s"suffix-append clip must align at frame shift 0: $got")
    assert(!got.keys.exists(p => p._1 == 8L || p._2 == 8L))
    assert(!got.keys.exists(p => p._1 == 1L || p._2 == 1L))
    // layout invariance (the Sf1Check theorem at unit scale)
    val alt = toMap(
      Multimodal.videoContainmentPairs(hand, 3, 0.8, bands = 6).collect())
    assert(alt == got, "band layouts must produce identical containment")
    Memo.clearAll()
  }

  test("d27 aligned containment: a quote pairs at its offset; swapped " +
      "halves fool d17's set containment but never d27") {
    import spark.implicits._
    import graft.ops.Dedup
    val h1 = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet"
    val h2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val hand = Seq(
      (1L, s"$h1 $h2"),  // the full document
      (2L, s"$h2 $h1"),  // SAME halves, swapped — same shingle SET
      (3L, h1),          // the extracted quote
      (4L, "completely unrelated words that share no trigram at all"))
      .toDF("doc_id", "text")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    val got = toMap(Dedup.alignedContainmentPairs(hand, 3, 0.8))
    // the quote is FULLY contained: at shift 0 in doc 1, at shift -10
    // in doc 2 (its halves swapped push h1 ten tokens right; doc1 < doc2
    // ordering makes the shift k2 - k1 negative)
    assert(got.get((1L, 3L)).map(v => (v._1, v._3)).contains((1.0, 0)),
      s"quote must be fully contained in its source at shift 0: $got")
    assert(got.get((2L, 3L)).map(v => (v._1, v._3)).contains((1.0, -10)),
      s"the swapped doc still contains the quote, ten tokens later: $got")
    // the swapped-halves pair: EVERY in-half shingle matches (set
    // containment ~16/18), but the matches split across shifts ±10 —
    // no consistent alignment, so d27 never pairs them...
    assert(!got.contains((1L, 2L)),
      s"swapped halves must not pair as an aligned quote: $got")
    // ...while the set-based d17 does — the contrast that makes d27 a
    // quote detector rather than a bag-overlap score
    val d17 = Dedup.containmentPairs(hand, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d17.contains((1L, 2L)),
      s"fixture must actually fool set containment: $d17")
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L))
    Memo.clearAll()
  }

  test("d28 quote contamination: a verbatim quote flags; the topical " +
      "soup that fools d9's set test does not") {
    import spark.implicits._
    import graft.ops.Dedup
    val q = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima" // the 12-token benchmark item (10 positions)
    val hand = Seq(
      (3L, q), // benchmark doc
      // train 27 QUOTES it verbatim inside a larger doc
      (27L, s"intro words here $q closing words"),
      // train 28 carries the SAME halves swapped: 8 of its 10 trigram
      // positions match the benchmark — d9's >=5-shared-shingles test
      // fires — but the matches split across shifts ±6
      (28L, "golf hotel india juliet kilo lima alpha bravo charlie " +
        "delta echo foxtrot"),
      (30L, "completely unrelated training words sharing no trigram"))
      .toDF("doc_id", "text")
    val got = Dedup.quoteContaminationSplitCheck(hand, 25L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getInt(4)))).toMap
    // the quote: every benchmark position matches at one offset (the
    // quote starts at train position 4, so shift = 1 - 4 = -3)
    assert(got.get((27L, 3L)).contains((1.0, -3)),
      s"verbatim quote must flag fully contained at shift -3: $got")
    // the swapped-halves doc never flags here...
    assert(!got.contains((28L, 3L)),
      s"reordered shingle soup must not flag as a quote: $got")
    assert(got.size == 1, s"only the true quote flags: $got")
    // ...but d9's set-overlap decontamination DOES flag it — the
    // precision gap d28 exists for
    val d9 = Dedup.contaminationSplitCheck(hand, 25L, 3, 5).collect()
      .map(_.getLong(0)).toSet
    assert(d9.contains(28L),
      s"fixture must actually fire the set-overlap test: $d9")
    Memo.clearAll()
  }

  /** The d28 hand fixture: one benchmark item, a training doc that
    * quotes it verbatim, one that carries its halves swapped, and an
    * unrelated one. */
  private def quoteHand = {
    import spark.implicits._
    val q = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima"
    Seq((3L, q), (27L, s"intro words here $q closing words"),
      (28L, "golf hotel india juliet kilo lima alpha bravo charlie " +
        "delta echo foxtrot"),
      (30L, "completely unrelated training words sharing no trigram"))
      .toDF("doc_id", "text")
  }

  test("d28 job budget: the quote flags build in a bounded number of " +
      "Spark jobs") {
    import graft.ops.Dedup
    Memo.clearAll()
    // measured 7 jobs, the token, position and flag checkpoints
    // included; re-joining a per-document position count aggregate into
    // the rollup ran 13, and the window + self-join rollup behind a
    // separate count prefilter 38
    val jobs = jobsOf(Dedup.quoteContaminationSplitCheck(quoteHand, 25L)
      .collect())
    info(s"d28 cold flags: $jobs jobs")
    assert(jobs <= 7, s"d28 flags ran $jobs jobs")
    Memo.clearAll()
  }

  test("e11 cold job budget: the quote-decontaminated release builds its " +
      "substrates and runs in a bounded number of Spark jobs") {
    Memo.clearAll()
    // the memo builds run while the query frame is built, so the count
    // covers construction. Measured 39; with plan-equality persists for
    // the token, position and flag substrates, and the per-document
    // position counts re-joined into the alignment rollup, it was 50
    val jobs = jobsOf(SparkEntry.queries("e11_quote_decontaminated")(
      spark, sf).collect())
    info(s"e11 cold: $jobs jobs")
    assert(jobs <= 39, s"e11 cold ran $jobs jobs")
    Memo.clearAll()
  }

  test("d28 count bound is exact: prefilter on and off flag the same " +
      "rows") {
    import graft.ops.Dedup
    // at 0.9 the bound drops the swapped-halves doc (8 matches < 9)
    // before its alignment is computed; brute force computes it and
    // rejects it on containment
    def flags(prefilter: Boolean) = Dedup.quoteContaminationSplitCheck(
        quoteHand, 25L, threshold = 0.9, prefilter = prefilter).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4))).toSet
    val on = flags(prefilter = true)
    assert(on.nonEmpty, "fixture must flag something")
    assert(on == flags(prefilter = false))
    Memo.clearAll()
  }

  test("d29 burn rollup: two quoting docs roll up to one bench row; " +
      "clean items never appear") {
    import spark.implicits._
    import graft.ops.Dedup
    val q = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima"
    val hand = Seq(
      (3L, q), // the burned benchmark item
      (8L, "a pristine benchmark item nothing ever quotes at all"),
      (27L, s"intro words here $q closing words"),
      (41L, s"$q and a different tail entirely"),
      (30L, "completely unrelated training words sharing no trigram"))
      .toDF("doc_id", "text")
    val got = Dedup.quoteBurnReport(hand, 25L).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // both quoting docs contain the item fully -> max_containment 1.0;
    // first_train is the smaller id
    assert(got == Map(3L -> ((2L, 1.0, 27L))),
      s"double burn must roll up to (3 -> n_train=2, 1.0, 27): $got")
    Memo.clearAll()
  }

  test("d30 redaction span covers exactly the planted quote — cut the " +
      "span, keep the prose") {
    import spark.implicits._
    import graft.ops.Dedup
    val q = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima" // 12 tokens
    val pre = "five distinct preamble tokens here" // positions 1..5
    val hand = Seq(
      (3L, q),
      (27L, s"$pre $q closing words"), // quote at token positions 6..17
      (30L, "completely unrelated training words sharing no trigram"))
      .toDF("doc_id", "text")
    val got = Dedup.quoteRedactionSpans(hand, 25L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    // matched windows are exactly those fully inside the quote
    // (boundary windows mix preamble/tail tokens and exist in no bench
    // doc): k1 = 6..15 at the constant shift 1-6 = -5, so the span
    // [6, 15+2] is the quote itself
    assert(got == Map((27L, 3L) -> ((-5, 6, 17, 10L))),
      s"span must cover exactly the quoted tokens: $got")
    // the law the plan exists for: excising [span_start, span_end]
    // removes every quoted token and nothing else
    val toks = s"$pre $q closing words".split(" ")
    assert(toks.slice(5, 17).mkString(" ") == q,
      "excised slice must reproduce the benchmark item exactly")
    Memo.clearAll()
  }

  test("d30 surgical: two disjoint runs at the SAME alignment yield two " +
      "spans — the prose between is NOT redacted") {
    import spark.implicits._
    import graft.ops.Dedup
    // benchmark item: 30 unique tokens b01..b30 (28 trigram windows)
    val b = (1 to 30).map(i => f"b$i%02d")
    val bench = b.mkString(" ")
    // training doc: 3-token preamble, bench tokens 1..13, a 2-token
    // replacement (same length as the replaced b14 b15 — alignment
    // preserved), bench tokens 16..30, 2-token tail
    val doc = (Seq("pre1", "pre2", "pre3") ++ b.slice(0, 13) ++
      Seq("xx", "yy") ++ b.slice(15, 30) ++ Seq("tail1", "tail2"))
      .mkString(" ")
    val hand = Seq((3L, bench), (27L, doc)).toDF("doc_id", "text")
    // flag sanity: 24 of 28 bench windows match at one shift -> 0.857
    val d28 = Dedup.quoteContaminationSplitCheck(hand, 25L).collect()
    assert(d28.map(_.getLong(0)).toSet == Set(27L),
      s"fixture must flag the pair: ${d28.mkString(",")}")
    val got = Dedup.quoteRedactionSpans(hand, 25L).collect()
      .map(r => (r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))
      .sortBy(_._2)
    // run 1: doc positions 4..16 hold b1..b13 -> matched k1 = 4..14
    // (11 windows); run 2: positions 19..33 hold b16..b30 -> k1 =
    // 19..31 (13 windows); both at shift 1-4 = -3; gap 19 > 14+3 splits
    // the islands, so xx/yy (positions 17..18) stay out of every span
    assert(got.toSeq == Seq((-3, 4, 16, 11L), (-3, 19, 33, 13L)),
      s"disjoint runs must island-merge into disjoint spans: " +
        got.mkString(","))
    val toks = doc.split(" ")
    assert(got.forall { case (_, s, e, _) =>
      !toks.slice(s - 1, e).exists(Set("xx", "yy")) },
      "the innocent replacement prose must not be covered by any span")
    Memo.clearAll()
  }

  test("d30 surgical: a flagged SHORT quote below the mass floor still " +
      "emits its dominant-shift span — e12 then cuts it") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    // 4-token bench item = 2 trigram windows: flags at containment 1.0
    // but its matched mass (2) sits under the minPositions=3 floor —
    // the floor alone would emit NO span and the surgical release
    // would ship the verbatim quote
    val q = "alpha bravo charlie delta"
    val hand = Seq(
      (3L, q),
      (27L, s"pre1 pre2 pre3 $q tail1 tail2"),
      (30L, "completely unrelated training words sharing no trigram"))
      .toDF("doc_id", "text")
    assert(Dedup.quoteContaminationSplitCheck(hand, 25L).collect()
      .map(_.getLong(0)).toSet == Set(27L), "fixture must flag the pair")
    val got = Dedup.quoteRedactionSpans(hand, 25L).collect()
      .map(r => (r.getInt(3), r.getInt(4), r.getLong(5)))
    // quote at doc positions 4..7, matched k1 = 4..5 -> span [4, 7]
    assert(got.toSeq == Seq((4, 7, 2L)),
      s"the dominant shift must qualify below the floor: ${got.toSeq}")
    val e12 = Pipeline.redactedCorpus(hand).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(e12(27L) == 4L && e12(30L) == 0L,
      s"e12 must cut exactly the short quote: $e12")
    Memo.clearAll()
  }

  test("d30 surgical: the same item quoted twice at TWO offsets gets " +
      "both quotes covered, not just the dominant shift") {
    import spark.implicits._
    import graft.ops.Dedup
    val q = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima" // 12 tokens, 10 trigram windows
    val doc = s"pre1 pre2 pre3 $q mid1 mid2 mid3 mid4 $q tail1 tail2"
    val hand = Seq((3L, q), (27L, doc)).toDF("doc_id", "text")
    val got = Dedup.quoteRedactionSpans(hand, 25L).collect()
      .map(r => (r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))
      .sortBy(_._2)
    // quote 1 at doc positions 4..15 (k1 = 4..13, shift 1-4 = -3);
    // quote 2 at positions 20..31 (k1 = 20..29, shift 1-20 = -19) —
    // the d28 flag records only one dominant shift, but BOTH clear the
    // 3-position mass floor and both verbatim runs are covered
    assert(got.toSeq == Seq((-3, 4, 15, 10L), (-19, 20, 31, 10L)),
      s"both quote offsets must emit spans: ${got.mkString(",")}")
    val toks = doc.split(" ")
    got.foreach { case (_, s, e, _) =>
      assert(toks.slice(s - 1, e).mkString(" ") == q,
        s"excised slice [$s,$e] must reproduce the benchmark item")
    }
    Memo.clearAll()
  }

  test("e12 applies the redaction plan: spans cut, token mass conserved, " +
      "overlapping flags never double-delete, empty docs drop") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    val q = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima" // 12 tokens
    val sub = "delta echo foxtrot golf hotel india" // tokens 4..9 of q
    val hand = Seq(
      (3L, q),
      (4L, sub), // a second bench item NESTED inside the first
      (27L, s"pre1 pre2 pre3 $q tail1 tail2"), // quotes both items
      (28L, q), // fully-quoted doc: redacts to nothing
      (30L, "completely unrelated training words sharing no trigram"))
      .toDF("doc_id", "text")
    // both pairs flag, and their spans OVERLAP inside doc 27
    val flags = Dedup.quoteContaminationSplitCheck(hand, 25L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags == Set((27L, 3L), (27L, 4L), (28L, 3L), (28L, 4L)),
      s"fixture must flag both bench items: $flags")
    val got = Pipeline.redactedCorpus(hand).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // doc 28 redacted to zero tokens -> dropped from the corpus
    assert(got.keySet == Set(27L, 30L),
      s"fully-quoted doc must drop, clean doc must survive: $got")
    // doc 27: the (27,4) span nests inside the (27,3) span — the
    // interval union counts the quote ONCE: 12 tokens, not 12 + 6
    val (orig27, red27, tok27, off27) = got(27L)
    assert(orig27 == 17L && red27 == 12L && tok27 == 5L,
      s"overlapping spans must union, not sum: $got")
    // conservation + contiguous repack: doc 27 packs first (offset 0),
    // doc 30 starts exactly at 27's surviving mass
    val (orig30, red30, tok30, off30) = got(30L)
    assert(red30 == 0L && tok30 == orig30,
      s"clean docs must pass through unredacted: $got")
    assert(off27 == 0L && off30 == tok27,
      s"offsets must repack over post-redaction counts: $got")
    Memo.clearAll()
  }

  test("e13 surgical release: flagged docs survive REDACTED where e11 " +
      "drops them whole; the dedup stages still apply") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    val q = "alpha bravo charlie delta echo foxtrot" // 6 tokens
    val pad = "every training document needs enough completely distinct " +
      "filler prose to clear the hundred character floor" // 15 tokens
    val hand = Seq(
      (3L, q), // benchmark item
      // 27 quotes the item behind valuable prose (passes the sample)
      (27L, s"$pad $q trailing remark"),
      // 28 is an exact duplicate of 27 -> exact-dup stage drops it
      (28L, s"$pad $q trailing remark"),
      // 29 is the clean control
      (29L, "an unrelated survivor whose words never touch the " +
        "benchmark vocabulary but still run well past the length gate"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val e11 = Pipeline.trainingCorpus(hand, quoteThreshold = Some(0.8))
      .collect().map(_.getLong(0)).toSet
    val got = Pipeline.surgicalCorpus(hand).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // e11 drops the flagged doc whole; e13 keeps it redacted. The
    // exact-dup copy drops in BOTH (the dedup stages still run)
    assert(e11 == Set(29L), s"e11 must drop the flagged doc: $e11")
    assert(got.keySet == Set(27L, 29L),
      s"e13 must keep the flagged doc redacted, drop the dup: $got")
    // doc 27: pad(15) + q(6) + 2 = 23 tokens; the quote's 4 trigram
    // windows sit at k1 = 16..19 -> span [16, 21] = 6 tokens cut
    val (orig27, red27, tok27, off27) = got(27L)
    assert(orig27 == 23L && red27 == 6L && tok27 == 17L,
      s"exactly the quoted tokens must be cut: $got")
    // conservation + contiguous repack in doc_id order
    val (_, red29, tok29, off29) = got(29L)
    assert(red29 == 0L && off27 == 0L && off29 == tok27,
      s"offsets must repack over post-redaction counts: $got")
    // the excised slice reproduces the benchmark item verbatim
    val toks = s"$pad $q trailing remark".split(" ")
    assert(toks.slice(15, 21).mkString(" ") == q,
      "excised slice must reproduce the benchmark item")
    Memo.clearAll()
  }

  test("e11 closes the short-quote gap: a fully-quoted 4-shingle bench " +
      "item ships through e3's set stage and drops here") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    // 6 tokens = 4 trigram positions: d9's >= 5-distinct-shared-shingles
    // contamination stage CANNOT fire on it, however completely quoted
    val q = "alpha bravo charlie delta echo foxtrot"
    val pad = "every training document needs enough completely distinct " +
      "filler prose to clear the hundred character floor"
    val hand = Seq(
      (3L, q),
      // 27 quotes the whole item; its only shared trigrams are the 4
      (27L, s"$pad $q trailing remark"),
      // 29 is the clean control (passes the sampling hash like 27)
      (29L, "an unrelated survivor whose words never touch the " +
        "benchmark vocabulary but still run well past the length gate"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    def docsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tok", "start_offset").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val e3 = docsOf(Pipeline.trainingCorpus(hand))
    val e11 = docsOf(Pipeline.trainingCorpus(hand,
      quoteThreshold = Some(0.8)))
    // the gap is real on this fixture: d9 misses, d28 flags
    val d9 = Dedup.contaminationSplitCheck(hand, 25L, 3, 5).collect()
      .map(_.getLong(0)).toSet
    assert(!d9.contains(27L), s"fixture broke: d9 must miss the quote $d9")
    val d28 = Dedup.quoteContaminationSplitCheck(hand, 25L).collect()
      .map(_.getLong(0)).toSet
    assert(d28 == Set(27L), s"fixture broke: d28 must flag 27 only $d28")
    // e3 SHIPS the quoting doc; e11 drops it and keeps everything else
    assert(e3.map(_._1).toSeq == Seq(27L, 29L),
      s"e3 must ship the short quote: $e3")
    assert(e11.map(_._1).toSeq == Seq(29L),
      s"e11 must drop exactly the flagged doc: $e11")
    // offsets REPACK over the kept docs (the drop runs before packing):
    // the survivor starts at 0, not at the dropped doc's token mass
    assert(e11.head._3 == 0L,
      s"e11 offsets must repack contiguously: $e11")
    Memo.clearAll()
  }

  test("d27 restriction law: a candidate frame restricts the output to " +
      "exactly the intersection") {
    import spark.implicits._
    import graft.ops.Dedup
    val full = Dedup.alignedContainmentPairs(docs, 3, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(full.nonEmpty, "corpus has no aligned pairs — vacuous")
    // C = every other true pair + noise pairs that must contribute rows
    // for no one
    val keep = full.keys.toSeq.sortBy(identity).zipWithIndex
      .collect { case (p, i) if i % 2 == 0 => p }
    val cand = (keep ++ Seq((1L, 2L), (0L, 499L)))
      .toDF("doc1", "doc2")
    val got = Dedup
      .alignedContainmentPairs(docs, 3, 0.8, candidates = Some(cand))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got == keep.map(p => p -> full(p)).toMap,
      "restricted run must equal full ∩ candidates " +
        s"(got ${got.keySet} want ${keep.toSet})")
    Memo.clearAll()
  }

  test("d26 burn report: per-eval-item rollup equals the brute-force " +
      "flag count at the loose budgets") {
    import spark.implicits._
    import graft.ops.Multimodal
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    // bench 0 burned TWICE: train 33 repeats its image exactly (ham 0),
    // train 27 re-encodes it within the loose budget; train 30 is clean
    val hand = Seq((0L, base),
        (27L, base.updated(10, 'Z').updated(60, 'Z')),
        (33L, base),
        (30L, "another corpus entirely with its own unrelated canvas"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val sigs = Multimodal.phash(Multimodal.toMediaTable(hand)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = Seq(27L, 30L, 33L)
      .filter(t => java.lang.Long.bitCount(sigs(t) ^ sigs(0L)) <= 5)
    assert(brute.contains(33L), "exact repeat must flag at hamming 0")
    val got = Multimodal.benchmarkBurnReport(hand, 25L).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getInt(3), r.getLong(4)))).toMap
    assert(got.get((0L, "visual"))
        .contains((brute.size.toLong, 0, brute.min)),
      s"burn rollup must match the brute flag set $brute: $got")
    assert(got.size == 1, s"clean bench items must not appear: $got")
    Memo.clearAll()
  }

  test("d24 temporal consistency: a shuffled bag of the same frames " +
      "never pairs; the true sub-clip still does") {
    import spark.implicits._
    import graft.ops.Multimodal
    // frame hashes planted directly (videoContainmentFromFrames — below
    // the decode): 10 pairwise-distant 56-bit signatures
    val rnd = new scala.util.Random(20260815L)
    val hs = Iterator.continually(rnd.nextLong() & ((1L << 56) - 1))
      .take(10).toVector
    for (a <- hs.indices; b <- hs.indices if a < b)
      assert(java.lang.Long.bitCount(hs(a) ^ hs(b)) > 7,
        s"fixture hashes $a/$b too close — pick another seed")
    // clip 1 = frames h0..h9 in order; clip 2 = the TRUE sub-clip
    // h2..h5 in order; clip 3 = the SAME four frames shuffled
    val fh = (hs.indices.map(k => (1L, k, hs(k))) ++
        Seq(2, 3, 4, 5).zipWithIndex.map { case (src, k) =>
          (2L, k, hs(src)) } ++
        Seq(5, 2, 4, 3).zipWithIndex.map { case (src, k) =>
          (3L, k, hs(src)) })
      .toDF("doc_id", "frame", "fhash")
    val got = Multimodal
      .videoContainmentFromFrames(fh, 0, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    // the ordered sub-clip matches all 4 frames at one shift (-2)
    assert(got.contains((1L, 2L)), s"true sub-clip must pair: $got")
    assert(got((1L, 2L)) == ((1.0, 1.0, -2)),
      s"sub-clip must be fully contained at shift -2: $got")
    // the shuffled bag: every frame has an any-order partner
    // (containment_any would be 1.0) but no consistent alignment —
    // matches scatter across shifts {-1, 0, -2, -5}, the dominant one
    // covers at most 2 of 4 frames, so the pair NEVER forms
    assert(!got.contains((1L, 3L)),
      s"shuffled-frames clip must not pair as a sub-clip: $got")
    // clips 2 and 3 share all four signatures any-order; consistent
    // matches at their dominant shift stay under the threshold too
    assert(!got.contains((2L, 3L)),
      s"ordered-vs-shuffled must not pair: $got")
  }

  test("APNG dispose/blend policy: every op value has a pinned outcome " +
      "(dispose 0-2 decode identically; non-SOURCE blend rejects)") {
    import graft.ops.Multimodal
    val frames = Array.tabulate(3)(k =>
      Array.tabulate(24)(i => ((i * 5 + k * 11) % 256).toByte))
    val apng = Multimodal.apngBytes(6, 4, frames)
    // patch byte `off` of the `which`-th fcTL's 26-byte data and re-CRC
    // the chunk — a WELL-FORMED mutation (valid CRC), so any rejection
    // below is the op-value POLICY firing, never the corruption guard
    def patchFctl(src: Array[Byte], which: Int, off: Int,
        v: Byte): Array[Byte] = {
      val out = src.clone()
      var i = 33
      var seen = 0
      while (i + 8 <= out.length) {
        val len = (((out(i) & 0xff) << 24) | ((out(i + 1) & 0xff) << 16) |
          ((out(i + 2) & 0xff) << 8) | (out(i + 3) & 0xff))
        val t = new String(out, i + 4, 4, "US-ASCII")
        if (t == "fcTL" && { val hit = seen == which; seen += 1; hit }) {
          out(i + 8 + off) = v
          val c = new java.util.zip.CRC32
          c.update(out, i + 4, 4 + len)
          val cv = c.getValue
          out(i + 8 + len) = ((cv >>> 24) & 0xff).toByte
          out(i + 9 + len) = ((cv >>> 16) & 0xff).toByte
          out(i + 10 + len) = ((cv >>> 8) & 0xff).toByte
          out(i + 11 + len) = (cv & 0xff).toByte
          return out
        }
        i += 12 + len
      }
      fail(s"fcTL #$which not found")
    }
    val base = Multimodal.decodePng(apng).get
    assert(base.animated && base.frames.length == 3)
    val basePx = base.frames.map(_.toSeq)
    for (which <- 0 to 2) {
      // APNG_DISPOSE_OP NONE(0)/BACKGROUND(1)/PREVIOUS(2): ACCEPTED and
      // pixel-identical — every frame here is full-canvas blend-SOURCE,
      // so the canvas state a dispose op would leave behind is
      // overwritten before any pixel could read it
      for (d <- 0 to 2) {
        val got = Multimodal.decodePng(patchFctl(apng, which, 24,
          d.toByte))
        assert(got.isDefined, s"dispose $d on fcTL #$which must decode")
        assert(got.get.frames.map(_.toSeq) == basePx,
          s"dispose $d must not change any decoded pixel")
      }
      // dispose >= 3: outside the spec's enum — reject as malformed
      for (d <- 3 to 4)
        assert(Multimodal.decodePng(patchFctl(apng, which, 24,
          d.toByte)).isEmpty,
          s"out-of-enum dispose $d on fcTL #$which must reject")
      // APNG_BLEND_OP_OVER(1): spec-LEGAL but outside this decoder's
      // validated profile (full-canvas SOURCE frames only) — the record
      // degrades to undecodable BY POLICY rather than compositing as if
      // SOURCE and emitting wrong pixels; >= 2 is out of the spec enum
      for (b <- 1 to 2)
        assert(Multimodal.decodePng(patchFctl(apng, which, 25,
          b.toByte)).isEmpty,
          s"non-SOURCE blend $b on fcTL #$which must reject")
    }
  }

  test("d24 frame-key packing guard: an unpackable doc_id raises " +
      "instead of silently corrupting pairs") {
    import spark.implicits._
    import graft.ops.Multimodal
    val fh = Seq((1L << 43, 0, 42L), (7L, 0, 42L))
      .toDF("doc_id", "frame", "fhash")
    val e = intercept[Exception] {
      Multimodal.videoContainmentFromFrames(fh, 0, 0.8).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("packable range")),
      s"guard must name the packing contract: ${msgs(e)}")
  }

  test("d25 media contamination: eval leaks flagged per modality, " +
      "train-only pairs invisible") {
    import spark.implicits._
    import graft.ops.Multimodal
    val base = ("the quick brown fox jumps over the lazy dog " * 3).trim
    // bench ids < 10: image 0, audio 1, video 2. Train: 12 re-"encodes"
    // bench-0's image (one char -> <=2 bits), 13 repeats bench-1's clip
    // exactly, 30/33 are a TRAIN-ONLY image dup pair (must not appear),
    // 27 is unrelated
    val hand = Seq(
      (0L, base), (1L, base), (2L, base),
      (12L, base.updated(10, 'z')), (13L, base),
      (30L, base + " xq"), (33L, base + " xq"),
      (27L, "completely different content that renders another bitmap"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val got = Multimodal.mediaContaminationSplitCheck(hand, 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))
        -> r.getInt(3)).toMap
    // the near-identical train image flags bench 0 (visual), the exact
    // train clip flags bench 1 (audio); modalities never cross
    assert(got.contains((12L, 0L, "visual")) && got((12L, 0L, "visual")) <= 2,
      s"re-encoded eval image must flag: $got")
    assert(got.get((13L, 1L, "audio")).contains(0),
      s"exact eval clip in training must flag at hamming 0: $got")
    assert(!got.keys.exists { case (t, b, _) => b >= 10L || t < 10L },
      s"train-only/bench-only pairs must be invisible: $got")
    // brute-force equality (pigeonhole): recompute driver-side
    val sigs = Multimodal.phash(Multimodal.toMediaTable(hand)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bruteVis = for {
      (t, ts) <- sigs.toSeq; (b, bs) <- sigs.toSeq
      if t >= 10L && b < 10L &&
        java.lang.Long.bitCount(ts ^ bs) <= 3
    } yield (t, b, "visual") -> java.lang.Long.bitCount(ts ^ bs)
    assert(got.view.filterKeys(_._3 == "visual").toMap == bruteVis.toMap,
      "banded visual leg must equal brute force")
    Memo.clearAll()
  }

  test("scalable assign: two-level at coarse=k equals flat exactly") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = toMap(Clustering.kmeansAssign(emb, 16, 2))
    // maxModelCentroids=0 forces the two-level broadcast-frame plan;
    // coarseCentroids=k makes each fine centroid its own coarse cell,
    // where two-level argmin == flat argmin (the d22 oracle's premise)
    val two = toMap(Clustering.kmeansAssignScalable(emb, 16, 2,
      trainCap = Long.MaxValue, maxModelCentroids = 0,
      coarseCentroids = 16))
    assert(two == flat, "coarse=k two-level must equal the flat argmin")
    Memo.clearAll()
  }

  test("scalable assign: auto-coarse two-level agrees on separated clusters") {
    import spark.implicits._
    // 4 well-separated corners, tight deterministic jitter: the coarse
    // grouping respects cluster geometry, so two-level == flat here
    val pts = (0 until 100).map { i =>
      val c = i % 4
      val (bx, by) = (if (c % 2 == 0) 0.0f else 100.0f,
        if (c < 2) 0.0f else 100.0f)
      (i.toLong, Array(bx + (i % 7) * 0.01f, by + (i % 5) * 0.01f))
    }
    val emb = pts.toDF("vec_id", "embedding")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = toMap(Clustering.kmeansAssign(emb, 4, 2))
    val two = toMap(Clustering.kmeansAssignScalable(emb, 4, 2,
      trainCap = Long.MaxValue, maxModelCentroids = 0)) // auto g = 2
    assert(two == flat,
      "auto-coarse two-level must match flat on separated clusters")
    Memo.clearAll()
  }

  test("scalable assign: capped training sample still assigns every vector") {
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val n = emb.count()
    // trainCap far below the corpus: Lloyd trains on a ~64-vector
    // deterministic sample, assignment still covers the full corpus
    val a1 = Clustering.kmeansAssignScalable(emb, 8, 2, trainCap = 64L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1.size == n, "every vector must receive an assignment")
    Memo.clearAll()
    // content-stable sampling: a fresh run reproduces the assignment
    val a2 = Clustering.kmeansAssignScalable(emb, 8, 2, trainCap = 64L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a2 == a1, "sample-trained assignment must be deterministic")
    Memo.clearAll()
  }

  test("scalable assign: an emptied coarse cell can never drop rows") {
    import spark.implicits._
    // Adversarial geometry (found by randomized search): the driver
    // mini-Lloyd recomputes the fine->coarse mapping against POST-update
    // means, and here coarse cell 2 at (4.05, 4.55) ends with ZERO fine
    // members — the classic Lloyd empty-cluster case. Before the fix, a
    // data vector whose coarse argmin landed in that cell inner-joined
    // to no fine rows and silently vanished from the assignment.
    val fine: Seq[(Int, Seq[Double])] = Seq(
      0 -> Seq(0.9, 9.1), 1 -> Seq(5.5, 8.7), 2 -> Seq(4.4, 8.9),
      3 -> Seq(6.0, 0.2), 4 -> Seq(2.6, 0.4), 5 -> Seq(6.0, 3.3))
    val (coarse, mapping) = Clustering.groupCentroids(fine, 3)
    assert(coarse.map(_._1).toSet == mapping.values.toSet,
      "every surviving coarse cell must have a fine member: " +
        s"coarse=${coarse.map(_._1)} used=${mapping.values.toSet}")
    // the data pass: the fine positions plus a vector AT the emptied
    // cell's pre-filter mean — exactly the row the pre-fix join dropped
    val emb2 = (fine.map { case (cid, cen) => (cid.toLong, cen.toArray) } :+
      (6L, Array(4.05, 4.55))).toDF("vec_id", "embedding")
    val asg = Clustering.twoLevelAssignFrame(emb2, fine, 3).collect()
    assert(asg.length == 7,
      s"all 7 vectors must be assigned, got ${asg.length}")
    assert(asg.map(_.getLong(0)).toSet == (0L to 6L).toSet)
    Memo.clearAll()
  }

  /** The id of the RDD behind a memo checkpoint. */
  private def checkpointRdd(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case other => fail(s"not a checkpoint: ${other.nodeName}")
    }

  test("dedup substrate registry: Memo.clearAll reclaims persisted frames") {
    val before = Dedup.jaccardPairs(docs, 3, 0.5)
    val pairsBefore = pairSet(before)
    val rdd = checkpointRdd(before)
    val sc = spark.sparkContext
    assert(sc.getPersistentRDDs.contains(rdd),
      "pair frame should be a held checkpoint")
    Memo.clearAll()
    assert(!sc.getPersistentRDDs.contains(rdd),
      "Memo.clearAll must release the pair frame")
    // rebuild works and matches (registry refills on the way)
    assert(pairSet(Dedup.jaccardPairs(docs, 3, 0.5)) == pairsBefore)
  }

  test("d28 flags memoize: the five-consumer release session computes " +
      "the probe once (plan-equality cache reuse)") {
    Memo.clearAll()
    val flags = Dedup.quoteContaminationSplitCheck(docs, 25L)
    assert(spark.sparkContext.getPersistentRDDs
      .contains(checkpointRdd(flags)),
      "the flag frame must be a held checkpoint (five consumers share it)")
    // a second consumer with the same parameters (what d29/d30/e11/e12
    // build internally) is served the memo's frame, not a fresh Σ-join
    var again: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      again = Dedup.quoteContaminationSplitCheck(docs, 25L)
    }
    assert((again eq flags) && jobs == 0,
      s"the second consumer must hit the memo ($jobs jobs)")
    Memo.clearAll()
  }

  test("d11 segment-level dedup detects planted cross-doc boilerplate") {
    import spark.implicits._
    // segments are non-overlapping 8-word windows from doc start, so the
    // planted boilerplate is 8-word aligned in both carriers
    val b = "one two three four five six seven eight"
    val df = Seq(
      (1L, b + " a1 a2 a3 a4 a5 a6 a7 a8"),
      (2L, b + " b1 b2 b3 b4 b5 b6 b7 b8"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 tail words dropped here")) // partial 2nd window drops
      .toDF("doc_id", "text")
    val boiler = Dedup.boilerplateSegments(df, 8, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(boiler.toSeq == Seq(b -> 2L))
    val stats = Dedup.boilerplateStats(df, 8, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((1L, 0L))))
  }

  test("d12 repeated n-grams are alignment-free where d11 tiling is not") {
    import spark.implicits._
    // the shared 8-word run sits at offset 0 in doc 1 but offset 1 in
    // doc 2 — tiled windows never line up, stride-1 windows must
    val b = "one two three four five six seven eight"
    val df = Seq(
      (1L, b + " x1 x2 x3 x4 x5 x6 x7 x8"),
      (2L, "y0 " + b + " y1 y2 y3 y4 y5 y6 y7"))
      .toDF("doc_id", "text")
    assert(Dedup.boilerplateSegments(df, 8, 2).count() == 0,
      "tiling should miss the offset run")
    val rep = Dedup.repeatedNgrams(df, 8, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(rep.toSeq == Seq(b -> 2L))
  }

  test("d10 incremental dedup classifies planted exact/near/fresh batch docs") {
    import spark.implicits._
    val corpus = docs.select("doc_id", "text")
    // batch: an exact copy of corpus doc 3, a lightly-edited near copy of
    // doc 7, and a fresh synthetic doc
    val base7 = docs.where(col("doc_id") === 7).select("text")
      .head.getString(0)
    val nearText = base7 + " zzqx"
    val fresh = "totally novel content qqq www eee rrr ttt yyy uuu iii " * 3
    val exactText = docs.where(col("doc_id") === 3).select("text")
      .head.getString(0)
    val batch = Seq((900001L, exactText), (900002L, nearText),
      (900003L, fresh)).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(got(900001L) == ("exact_dup", 3L), s"got ${got(900001L)}")
    assert(got(900002L)._1 == "near_dup" && got(900002L)._2 == 7L,
      s"got ${got(900002L)}")
    assert(got(900003L) == ("keep", -1L), s"got ${got(900003L)}")
  }

  test("d9 contamination check flags every corpus doc copied from the benchmark") {
    // plant: 5 benchmark docs re-enter the corpus under new ids
    val bench = docs.limit(5)
    val leaked = bench.select((col("doc_id") + 200000L).as("doc_id"),
      col("text"))
    val corpus = docs.select("doc_id", "text").union(leaked)
    val hits = Dedup.contaminationCheck(corpus, bench, 3, 5)
      .where(col("doc_id") >= 200000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = bench.select("doc_id").collect()
      .map(r => (r.getLong(0) + 200000L, r.getLong(0))).toSet
    assert(expected.subsetOf(hits),
      s"missing planted contamination: ${expected -- hits}")
  }

  test("d1 exact dedup keeps one keeper per fingerprint") {
    val d = Dedup.exactDuplicates(docs)
    assert(d.count() == d.select("fingerprint").distinct().count())
  }

  test("t14 gopher top-word count is exact and linear on a 50k-word doc") {
    import spark.implicits._
    // hand-checked multiplicities
    val tiny = Seq(
      (1L, "a b a a c"),            // top = a x3
      (2L, "x y z"),                // all distinct -> 1
      (3L, "the the the the")).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(tiny)
      .select("doc_id", "n_words", "top_word_frac")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    assert(got(1L) == ((5, 3.0 / 5)), s"got ${got(1L)}")
    assert(got(2L) == ((3, 1.0 / 3)), s"got ${got(2L)}")
    assert(got(3L) == ((4, 1.0)), s"got ${got(3L)}")
    // 50k words, 20k distinct: the old distinct-x-scan form is ~2.5e9
    // comparisons per row (minutes); the sorted-run form must be instant
    val nWords = 50000
    val big = Seq((9L, (0 until nWords).map(i => s"w${i % 20000}")
      .mkString(" "))).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val r = TextAnalysis.gopherQuality(big)
      .select("n_words", "top_word_frac").head()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.getInt(0) == nWords)
    assert(r.getDouble(1) == 3.0 / nWords) // classes 0..9999 appear 3x
    assert(secs < 30, s"top-word scan took ${secs}s — not linear")
  }

  test("n2 two-phase zipf rank equals the single-window row_number form") {
    import org.apache.spark.sql.expressions.Window
    val got = Corpus.vocabZipf(docs)
    val expected = got.select("word", "tf")
      .withColumn("rank_w", row_number().over(
        Window.orderBy(col("tf").desc, col("word"))))
    val diff = got.join(expected, Seq("word", "tf"))
      .where(col("rank") =!= col("rank_w")).count()
    assert(diff == 0, s"$diff rank mismatches vs window form")
    assert(got.where(col("rank") === 1).count() == 1)
  }

  test("t6/t13 join-based LM fallback equals the driver-map fast path") {
    val fast = TextAnalysis.trigramLmScore(docs)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // maxDriverTf = 1 forces the shuffle-join path on any real corpus
    val slow = TextAnalysis.trigramLmScore(docs, maxDriverTf = 1)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, (s, n)) =>
      assert(n == slow(id)._2, s"doc $id trigram count")
      assert(math.abs(s - slow(id)._1) < 1e-9,
        s"doc $id: $s vs ${slow(id)._1}")
    }
    val fastX = TextAnalysis.crossPerplexity(docs, "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val slowX = TextAnalysis.crossPerplexity(docs, "en", maxDriverTf = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fastX.keySet == slowX.keySet)
    fastX.foreach { case (id, s) =>
      assert(math.abs(s - slowX(id)) < 1e-9, s"doc $id: $s vs ${slowX(id)}")
    }
  }

  test("r1 bm25 returns a typed empty frame on an empty corpus") {
    val out = Corpus.bm25TopK(docs.where(lit(false)))
    assert(out.columns.toSeq == Seq("query_id", "doc_id", "score", "rn"))
    assert(out.count() == 0)
  }

  test("t15 unigram entropy matches hand-computed distributions") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "a a b"),     // H = ln3 - (2 ln2)/3, 2 distinct
      (2L, "x x x x"),   // degenerate: H = 0, 1 distinct
      (3L, "a b c"))     // uniform: H = ln3, 3 distinct
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramEntropy(tiny)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3)))
      .toMap
    assert(got(1L)._1 == 3 && got(1L)._2 == 2)
    assert(math.abs(got(1L)._3 - (math.log(3) - 2 * math.log(2) / 3)) < 1e-12)
    assert(got(2L) == ((4, 1, 0.0)), s"got ${got(2L)}")
    assert(got(3L)._2 == 3)
    assert(math.abs(got(3L)._3 - math.log(3)) < 1e-12)
  }

  test("n3 pmi matches the closed form on a tiny corpus") {
    import spark.implicits._
    // "x y x y x y": bigrams xy x3, yx x2; unigrams x,y x3; totB=5, totU=6
    val tiny = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val got = Corpus.pmiBigrams(tiny, k = 10, minTf = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == Set(("x", "y"), ("y", "x")))
    val (tfXy, pmiXy) = got(("x", "y"))
    assert(tfXy == 3L)
    // pmi = ln((3/5) / ((3/6)*(3/6))) = ln(2.4)
    assert(math.abs(pmiXy - math.log((3.0 / 5) / ((3.0 / 6) * (3.0 / 6)))) < 1e-12)
    assert(got(("y", "x"))._1 == 2L)
  }

  test("r2 tfidf ranks rare terms above ubiquitous ones") {
    import spark.implicits._
    val tiny = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = Corpus.tfidfTopTerms(tiny, k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'a' is in every doc (smooth idf = 1); 'b'/'c' are doc-unique
    assert(got == Map(1L -> "b", 2L -> "c"), s"got $got")
  }

  test("gr2 pagerank over the blocked kNN graph tracks the exact-graph ranking") {
    // the 100 TB composition: LSH-blocked candidate graph feeding the
    // fixed-iteration PageRank — assert rank agreement vs the exact graph
    def ranksOf(edges: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Graph.pageRank(edges, 5).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = ranksOf(Similarity.knnGraph(emb, 3)
      .select(col("qid").as("src"), col("nid").as("dst")))
    val approx = ranksOf(Similarity.knnGraphBlocked(emb, 3)
      .select(col("qid").as("src"), col("nid").as("dst")))
    val common = exact.keySet intersect approx.keySet
    assert(common.size >= (exact.size * 0.95).toInt,
      s"blocked graph covers ${common.size}/${exact.size} nodes")
    // Spearman rank correlation over the common nodes
    def toRanks(m: Map[Long, Double]): Map[Long, Double] = {
      val sorted = common.toSeq.sortBy(id => (-m(id), id)).zipWithIndex
      sorted.map { case (id, i) => id -> (i + 1).toDouble }.toMap
    }
    val (ra, rb) = (toRanks(exact), toRanks(approx))
    val n = common.size.toDouble
    val d2 = common.iterator.map(id => math.pow(ra(id) - rb(id), 2)).sum
    val rho = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    info(s"gr2 spearman rho over ${common.size} nodes: $rho")
    assert(rho >= 0.5, s"rank correlation $rho too low")
  }

  test("gr5 dangling redistribution restores stochastic normalization") {
    import spark.implicits._
    // 1 -> 2 -> 3, 3 dangling; 4 -> 1 keeps a second source
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 1L)).toDF("src", "dst")
    def total(redistribute: Boolean): Double =
      Graph.pageRank(edges, 10, redistributeDangling = redistribute)
        .agg(org.apache.spark.sql.functions.sum(col("rank"))).head
        .getDouble(0)
    // default leaks node 3's mass every round; the flag conserves it
    assert(total(redistribute = false) < 0.9,
      "leaky variant should lose dangling mass")
    assert(math.abs(total(redistribute = true) - 1.0) < 1e-9,
      "redistributed ranks must sum to 1")
    // no dangling nodes -> the flag is a no-op (dangling sum is 0)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val a = Graph.pageRank(cyc, 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Graph.pageRank(cyc, 5, redistributeDangling = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }

  test("r18: e3's unioned drop anti-join equals the chained-anti twin") {
    import org.apache.spark.sql.expressions.Window
    // the optimization-round survivor chain anti-joins ONCE over the
    // unioned drop lists; this twin rebuilds the round-17 chained form
    // from the public ops and pins doc-set equality
    val corpus = docs.where(col("doc_id") >= 25L)
      .where(length(col("text")) >= 100)
    val near = Dedup.jaccardPairs(docs, 3, 0.5)
      .select(col("doc2").as("doc_id")).distinct()
    val fp = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
    val exactD = docs.select(col("doc_id"), fp.as("fp"))
      .withColumn("keeper", min(col("doc_id")).over(
        Window.partitionBy(col("fp"))))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"))
    val contam = Dedup.contaminationSplitCheck(docs, 25L, 3, 5)
      .select(col("doc_id")).distinct()
    val twin = Sampling.deterministicSample(
        corpus.join(near, Seq("doc_id"), "left_anti")
          .join(exactD, Seq("doc_id"), "left_anti")
          .join(contam, Seq("doc_id"), "left_anti"), "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = Pipeline.trainingCorpus(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == twin)
    assert(got.nonEmpty)
  }

  test("r18: pagerank is partition-invariant across the lineage-nesting " +
      "checkpoint boundary") {
    import spark.implicits._
    // 9 rounds crosses the every-8-rounds checkpoint once, so both the
    // nested and the checkpointed segments execute; max in-degree <= 2
    // keeps every per-node sum a single IEEE add (exact equality)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 4L))
      .toDF("src", "dst")
    def ranks(parts: Int): Map[Long, Double] =
      Graph.pageRank(edges.repartition(parts), 9).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(7) == ranks(3))
  }

  test("pagerank determinism: the observed dangling sum is fixed-point, " +
      "so ranks are bit-identical across input partitionings") {
    import spark.implicits._
    // binary tree 1..31 -> 2i, 2i+1: the 32 leaves are dangling; 3 -> 1
    // and 5 -> 1 close cycles. In-degree <= 2 keeps every per-node in-sum
    // exact, so only the dangling sum could depend on task order
    val es = (1L to 31L).flatMap(i => Seq((i, 2 * i), (i, 2 * i + 1))) ++
      Seq((3L, 1L), (5L, 1L))
    val edges = es.toDF("src", "dst")
    def ranks(parts: Int): Map[Long, Double] =
      Graph.pageRank(edges.repartition(parts), 5,
        redistributeDangling = true).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver reference: the same double arithmetic per round, with the
    // dangling sum taken exactly in decimal
    val ids = es.flatMap(e => Seq(e._1, e._2)).distinct
    val n = ids.size.toDouble
    val out = es.groupBy(_._1).map { case (v, vs) => v -> vs.size }
    var ref = ids.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val s = ids.filterNot(out.contains)
        .map(v => BigDecimal(ref(v)).setScale(30,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val in = es.groupBy(_._2).map { case (v, vs) =>
        v -> vs.map(e => ref(e._1) / out(e._1)).foldLeft(0.0)(_ + _) }
      ref = ids.map(v => v -> ((1 - 0.85) / n +
        0.85 * (in.getOrElse(v, 0.0) + s / n))).toMap
    }
    val a = ranks(3)
    assert(a == ranks(7))
    assert(a == ref)
    assert(math.abs(a.values.sum - 1.0) < 1e-9)
  }

  test("pagerank job budget: one job per round, two with dangling " +
      "redistribution, plus a constant") {
    import spark.implicits._
    // 4 and 5 are dangling
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (3L, 5L))
      .toDF("src", "dst")
    val rounds = 5
    // node frame (map stage + checkpoint) and the caller's collect
    val constant = 3
    val plain = jobsOf(Graph.pageRank(edges, rounds).collect())
    val dangling = jobsOf(Graph.pageRank(edges, rounds,
      redistributeDangling = true).collect())
    info(s"jobs at $rounds rounds: plain $plain, dangling $dangling")
    assert(plain <= rounds + constant, s"plain pagerank ran $plain jobs")
    assert(dangling <= 2 * rounds + constant,
      s"dangling pagerank ran $dangling jobs")
  }

  test("r18: signature substrates memoize per session, match the uncached " +
      "compute, and clear with Memo.clearAll") {
    Memo.clearAll()
    val m = Multimodal.toMediaTable(docs)
    val a = Multimodal.phash(m)
    assert(Multimodal.phash(m) eq a,
      "repeat call must return the memoized frame")
    assert(a.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE, "memo must persist")
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigSet(a) == sigSet(Multimodal.phashCompute(m)),
      "memoized signatures must equal the uncached compute")
    assert(sigSet(Multimodal.audioHash(m)) ==
      sigSet(Multimodal.audioHashCompute(m)))
    Memo.clearAll()
    assert(!(Multimodal.phash(Multimodal.toMediaTable(docs)) eq a),
      "Memo.clearAll must drop the memo")
  }

  test("d14 span merge stays linear on a 50k-word document") {
    import spark.implicits._
    // one 50k-word doc sharing a 1000-word run with a small doc: the
    // positioned-window + interval-merge path must stay O(n log n) per
    // doc (t14's round-4 lesson: no hidden per-row quadratics)
    val big = (1 to 49000).map(i => s"w$i").mkString(" ")
    val run = (1 to 1000).map(i => s"r$i").mkString(" ")
    val d = Seq((1L, s"$big $run"), (2L, s"$run zz")).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = Dedup.dupSpans(d, 8, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"50k-word dupSpans pass: $secs%.1fs")
    assert(got(1L) == ((1L, 1000L)), s"one 1000-word span expected: $got")
    assert(secs < 60, f"span pass took $secs%.1fs - not linear")
  }

  test("e5 curated corpus equals the conjunction of its component filters") {
    val kept = Pipeline.curatedCorpus(docs).collect()
      .map(r => r.getLong(0)).toSet
    val scores = TextAnalysis.modelQualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val fracs = Dedup.dupSpans(docs, 8, 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val keepers = Dedup.exactDuplicates(docs).collect()
      .map(_.getLong(1)).toSet // (fingerprint, keeper, cnt)
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(id => keepers.contains(id)
        && scores(id) >= 0.45 && fracs(id) <= 0.5).toSet
    assert(kept == expected)
    assert(kept.nonEmpty, "thresholds dropped everything")
    assert(kept.size < scores.size, "thresholds dropped nothing")
  }

  test("d14 dup spans merge overlapping windows into maximal ranges") {
    import spark.implicits._
    // doc 1 and doc 2 share one 10-word run (words 3..12 of doc 1,
    // words 1..10 of doc 2): stride-1 8-word windows hit doc 1 at
    // pos 3,4,5 — one merged span of 10 words. doc 3 is all unique.
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, s"a b $shared x y"),
      (2L, s"$shared p q r"),
      (3L, (1 to 20).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(d, 8, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(got(1L) == ((14L, 1L, 10L, math.rint(10.0 / 14 * 1e6) / 1e6)))
    assert(got(2L) == ((13L, 1L, 10L, math.rint(10.0 / 13 * 1e6) / 1e6)))
    assert(got(3L) == ((20L, 0L, 0L, 0.0)))
  }

  test("d14 two disjoint shared runs stay two spans") {
    import spark.implicits._
    val r1 = (1 to 8).map(i => s"a$i").mkString(" ")
    val r2 = (1 to 8).map(i => s"b$i").mkString(" ")
    // doc 1 carries both runs separated by a 5-word unique gap; docs 2/3
    // each carry one run, so both runs are corpus-repeated
    val d = Seq(
      (1L, s"$r1 g1 g2 g3 g4 g5 $r2"),
      (2L, s"$r1 zz1 zz2"),
      (3L, s"zz3 $r2")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(d, 8, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((2L, 16L)), s"expected two 8-word spans, got $got")
  }

  test("ml1 kmeans follows the hand-computed Lloyd trajectory") {
    import spark.implicits._
    // two tight groups on a line; init picks v1,v2 (BOTH in the left
    // group). round 1: v1->c0, everything else closer to c1(0.1,0) than
    // c0 only for v2,v3... hand-traced below; after round 2 the clusters
    // settle into the two geometric groups
    val pts = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(0.2f, 0.0f)), (4L, Array(10.0f, 10.0f)),
      (5L, Array(10.1f, 10.0f)), (6L, Array(10.2f, 10.0f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.kmeansAssign(pts, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 1),
      s"unexpected assignment: $got")
  }

  test("ml1 Lloyd objective is non-increasing across rounds") {
    val s1 = Clustering.sse(emb, 8, 1)
    val s2 = Clustering.sse(emb, 8, 2)
    val s3 = Clustering.sse(emb, 8, 3)
    info(f"sse by round: $s1%.3f -> $s2%.3f -> $s3%.3f")
    assert(s2 <= s1 * (1 + 1e-9) && s3 <= s2 * (1 + 1e-9),
      s"objective increased: $s1 -> $s2 -> $s3")
  }

  test("d15 semdedup pairs within clusters only; cosine exact") {
    import spark.implicits._
    // two geometric groups; (v1,v2) colinear (cos 1.0) and (v3,v4) near-
    // identical both land within-cluster; the cross pair (v1,v3) has
    // cos ~0.707 >= 0.4 but MUST be absent — clusters block it (the
    // SemDeDup recall trade-off, by design)
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.0f, 10.1f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.semdedupPairs(pts, 2, 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum))
      math.rint(r * 1e6) / 1e6
    }
    assert(got.keySet == Set((1L, 2L), (3L, 4L)),
      s"expected only within-cluster pairs, got ${got.keySet}")
    assert(got((1L, 2L)) == 1.0)
    assert(got((3L, 4L)) ==
      cos(Array(10.0, 10.0), Array(10.0, 10.100000381469727)))
  }

  test("semdedup auto-k: scaledK = ceil(n/target); auto == fixed at that k") {
    val n = emb.count()
    val k = Clustering.scaledK(emb, 512)
    assert(k == ((n + 511) / 512).max(1L).toInt)
    // tiny target -> k grows with the corpus (the 100 TB posture); the
    // auto entry point must equal the fixed-k call it resolves to
    val k40 = Clustering.scaledK(emb, 40)
    assert(k40 == ((n + 39) / 40).max(1L).toInt && k40 > 8,
      s"expected corpus-scaled k > default 8, got $k40 (n=$n)")
    val auto = Clustering.semdedupPairsAuto(emb, 2, 0.4, 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Clustering.semdedupPairs(emb, k40, 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed)
    val autoKeep = Clustering.semdedupKeepAuto(emb, 2, 0.4, 40)
      .collect().map(_.getLong(0)).toSet
    val fixedKeep = Clustering.semdedupKeep(emb, k40, 2, 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(autoKeep == fixedKeep)
  }

  test("auto-k convention: null embeddings are invisible to k everywhere") {
    import org.apache.spark.sql.functions.{col, when}
    // 90 rows, every third embedding nulled: the whole auto family must
    // derive k from the ASSIGNABLE (non-null) count — one convention,
    // since null rows are exactly what the Lloyd loop drops — so the
    // null rows change neither scaledK nor the resulting pair set
    val dirty = emb.where(col("vec_id") < 90)
      .select(col("vec_id"),
        when(col("vec_id") % 3 =!= 0, col("embedding")).as("embedding"))
    val nAssignable = dirty.where(col("embedding").isNotNull).count()
    assert(nAssignable == 60)
    val kDirty = Clustering.scaledK(dirty, 10)
    assert(kDirty == 6,
      s"scaledK must count assignable rows only: k=$kDirty n=$nAssignable")
    // the auto pair path on the null-bearing corpus equals the fixed-k
    // path at scaledK's k — both counting sites resolve identically
    val auto = Clustering.semdedupPairsAuto(dirty, 2, 0.4, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Clustering.semdedupPairs(dirty, kDirty, 2, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed,
      "auto and fixed must resolve to the same k on a null-bearing corpus")
    Memo.clearAll()
  }

  test("blocked auto-bits: scaledBits = clamp(ceil(log2(n/target))); " +
      "auto == fixed at that bits") {
    val n = emb.count()
    def expect(target: Int, floor: Int): Int = {
      val need = math.ceil(math.log(math.max(1.0, n.toDouble / target)) /
        math.log(2.0)).toInt
      math.min(62, math.max(floor, need))
    }
    assert(Similarity.scaledBits(emb, 64) == expect(64, 4))
    // a huge target floors at the minimum plane count; a tiny one grows
    assert(Similarity.scaledBits(emb, Int.MaxValue) == 4)
    val bTiny = Similarity.scaledBits(emb, 8)
    assert(bTiny == expect(8, 4) && bTiny > 4,
      s"expected corpus-scaled bits > floor, got $bTiny (n=$n)")
    val auto = Similarity.portableNearDupPairsAuto(emb, 64, 0.4, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Similarity.portableNearDupPairs(emb, bTiny, 64, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed)
    val autoG = Similarity.knnGraphBlockedAuto(emb, 1, 16, 64, 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val fixedG = Similarity.knnGraphBlocked(emb, 1, bTiny, 16, 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(autoG == fixedG)
  }

  test("d16 keepers = all vectors minus higher-id pair sides") {
    val pairs = Clustering.semdedupPairs(emb, 8, 2, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val keep = Clustering.semdedupKeep(emb, 8, 2, 0.4).collect()
      .map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keep == all -- pairs.map(_._2).toSet)
    // the lower-id side of every pair always survives
    assert(pairs.map(_._1).forall(a =>
      keep.contains(a) || pairs.exists(_._2 == a)))
  }

  test("smp7 cluster-balanced sample takes the smallest ids per cluster") {
    val full = Clustering.kmeansAssign(emb, 8, 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val got = Clustering.clusterBalancedSample(emb, 5, 8, 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val byCluster = full.groupBy(_._2)
    val expected = byCluster.values
      .flatMap(_.map(_._1).sorted.take(5)).toSet
    assert(got.map(_._1).toSet == expected)
    // balance: no cluster exceeds the cap, every nonempty cluster present
    val counts = got.groupBy(_._2).map { case (c, xs) => c -> xs.length }
    assert(counts.values.forall(_ <= 5))
    assert(counts.keySet == byCluster.keySet)
  }

  test("q1 model score matches a hand-computed sigmoid and caps the vocab") {
    import spark.implicits._
    val d = Seq((1L, "aa bb aa"), (2L, "bb cc")).toDF("doc_id", "text")
    // full vocab: every word weighted; w(word) for 2-letter lowercase
    // 'xy': (2*31 + ascii(x)) % 13 - 6
    def w(word: String): Long = ((word.length * 31 + word.head.toInt) % 13) - 6
    val got = TextAnalysis.modelQualityScore(d, vocabSize = 1000)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(1L) == ((3L,
      r6(sig((2 * w("aa") + w("bb")) / 30.0 - 0.1)))))
    assert(got(2L) == ((2L, r6(sig((w("bb") + w("cc")) / 20.0 - 0.1)))))
    // vocabSize=1: only the most frequent word ('aa', tf=2) is weighted
    val capped = TextAnalysis.modelQualityScore(d, vocabSize = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(capped(2L) == r6(sig(0.0 / 20.0 - 0.1)),
      "doc 2 has no vocab hits when vocab is capped to 'aa'")
  }

  test("d33 char spans: the excised substring reproduces the quoted " +
      "bench item; e15 splices it out and the splice is a fixed point") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    val q = "alpha bravo charlie delta echo foxtrot golf hotel"
    val framing = "innocent prose that must survive the cut and runs " +
      "well past the hundred character floor either side"
    val hand = Seq(
      (3L, q),
      (27L, s"$framing $q $framing"))
      .toDF("doc_id", "text")
    def normalize(s: String) =
      s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    val spans = Dedup.quoteRedactionCharSpans(hand, 25L).collect()
    assert(spans.nonEmpty, "the verbatim quote must plan a span")
    val text27 = s"$framing $q $framing"
    spans.foreach { r =>
      val (cs, ce) = (r.getAs[Int]("char_start"), r.getAs[Int]("char_end"))
      assert(cs >= 0 && ce <= text27.length && cs < ce, s"bounds: $r")
      assert(normalize(text27.substring(cs, ce)) == normalize(q),
        s"excised chars must BE the bench item: '${
          text27.substring(cs, ce)}'")
    }
    val red = Pipeline.redactedText(hand).collect()
    assert(red.map(_.getLong(0)).toSeq == Seq(27L))
    val rt = red.head.getAs[String]("redacted_text")
    assert(!normalize(rt).contains(normalize(q)),
      s"the quote is gone: '$rt'")
    assert(normalize(rt).contains(normalize(framing)),
      s"the prose survives: '$rt'")
    assert(red.head.getAs[Long]("n_chars_cut") ==
      spans.map(r => r.getAs[Int]("char_end") -
        r.getAs[Int]("char_start")).max,
      "one merged interval — cut mass is the span length")
    // FIXED POINT: the post-splice corpus re-probes clean
    val spliced = hand.where(col("doc_id") =!= 27L)
      .unionByName(Seq((27L, rt)).toDF("doc_id", "text"))
    Memo.clearAll()
    assert(Dedup.quoteContaminationSplitCheck(spliced, 25L).count() == 0,
      "re-running d28 over the redacted text must yield zero flags")
    Memo.clearAll()
  }

  test("e17 full release: the semantic drop and surgical redaction " +
      "compose — e17 == e13 minus the d31 flag set (sf0.01), and the " +
      "fixture ships the quoter redacted while the paraphraser leaves") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline, Similarity}
    // corpus-scale commutation law
    val docs01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val emb01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val e13ids = Pipeline.surgicalCorpus(docs01)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val flags = Similarity.embeddingContaminationSplitCheck(emb01, 25L)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val e17ids = Pipeline.fullRelease(docs01, emb01)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(e17ids == (e13ids -- flags),
      s"e17 must be e13 minus the semantic flags; extra=${
        e17ids -- (e13ids -- flags)} missing=${(e13ids -- flags) -- e17ids}")
    assert((e13ids & flags).nonEmpty,
      "the law is non-vacuous: some e13 survivor is semantically flagged")
    Memo.clearAll()
    // fixture: one release, both defenses firing differently
    val q = "alpha bravo charlie delta echo foxtrot" // 4 shingles < d9's 5
    val pad = "every training document needs enough completely distinct " +
      "filler prose to clear the hundred character floor"
    val hand = Seq(
      (3L, q),
      (26L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"),
      (27L, s"$pad $q trailing remark"),
      (29L, "an unrelated survivor whose words never touch the " +
        "benchmark vocabulary but still run well past the length gate"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val vecs = Seq(
      (3L, Array(1f, 0f, 0f, 0f)),
      (26L, Array(0.9f, 0.1f, 0f, 0f)), // the PARAPHRASE of item 3
      (27L, Array(0f, 1f, 0f, 0f)),     // quoter: semantically distinct
      (29L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Pipeline.fullRelease(hand, vecs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.keySet == Set(27L, 29L),
      s"paraphraser leaves wholesale, quoter and control ship: $got")
    assert(got(27L) > 0, "the quoter ships REDACTED")
    assert(got(29L) == 0, "the control ships uncut")
    Memo.clearAll()
  }

  test("e18 multimodal release: the media drops compose (e18 == e17 " +
      "minus the d21/d23/d25 lists on sf0.01) and the mixed-modality " +
      "fixture lands one doc per stage, audit5 conserving") {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal, Pipeline}
    // corpus-scale commutation law (the e17-vs-e13 pattern, one
    // modality wider): every drop is a pre-sampling doc_id anti-join,
    // so the flagships compose exactly
    val docs01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val emb01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val e17ids = Pipeline.fullRelease(docs01, emb01)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val mediaIds = Pipeline.mediaNearDupDrops(docs01)
      .unionByName(Pipeline.mediaContamDrops(docs01, 25L))
      .collect().map(_.getLong(0)).toSet
    val e18ids = Pipeline.fullMultimodalRelease(docs01, emb01)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(e18ids == (e17ids -- mediaIds),
      s"e18 must be e17 minus the media drops; extra=${
        e18ids -- (e17ids -- mediaIds)} missing=${
        (e17ids -- mediaIds) -- e18ids}")
    assert((e17ids & mediaIds).nonEmpty,
      "the law is non-vacuous: some e17 survivor is media-flagged")
    Memo.clearAll()

    // the mixed-modality fixture: ONE doc per stage of the e18 family,
    // including a redacted survivor — every drop reason fires on its
    // own doc (modalities via doc_id % 3: 0 visual, 1 audio, 2 video;
    // sampling-hash pass ids: 26-30,32,33,35,36,41,43,45,47,48,51)
    val q1 = "alphaword bravoword charlieword deltaword echoword " +
      "foxtrotword" // 6 tokens -> 4 windows, under d9's >= 5 floor
    val q2 = "golfword hotelword indiaword julietword kiloword limaword"
    val q3 = "mikeword novemberword oscarword papaword quebecword " +
      "romeoword sierraword tangoword uniformword victorword" // 8 windows
    val mediaBase = ("the quick brown fox jumps over the lazy dog " * 3)
      .trim
    val pad = "every training document needs enough completely distinct " +
      "filler prose to clear the hundred character floor"
    val keeper29 = "a keeper document whose words never touch any " +
      "benchmark vocabulary and still run well past the length gate"
    val nd32 = "second keeper corpus with its own entirely separate " +
      "canvas of words running comfortably past the length floor"
    val repA = ("ka kb " * 30).trim // 2 distinct shingles: jaccard to
    // its 3-extra-word suffix twin = 2/5 = 0.4 < 0.5, so the media
    // pair below is NOT a text near-dup pair
    // media_contaminated fixture (the e10 spec's deterministic search):
    // smallest evenly-spaced high-contrast edit set whose dHash lands
    // in (3, 5] — past dedup, inside contamination — while sharing < 5
    // distinct shingles with the bench doc (else d9 claims it) and
    // staying under the 0.5 near-dup jaccard
    def sig(s: String): Long = {
      val w = (s.length / 100) * 3 + 12
      val h = (s.length / 150) * 4 + 10
      Multimodal.dHash56(Multimodal.grayGrid(w, h,
        Multimodal.textPixels(s, w * h).map(_ & 0xff)))
    }
    def shingleSet(s: String): Set[String] =
      graft.functions.Text.tokenize(s).sliding(3).map(_.mkString(" "))
        .toSet
    val b0 = sig(mediaBase); val sh0 = shingleSet(mediaBase)
    val perturbed = (1 to mediaBase.length).view.flatMap { k =>
      val t = (0 until k).map(j => (j * mediaBase.length) / k)
        .foldLeft(mediaBase)((s, p) => s.updated(p, 'Z'))
      val h = java.lang.Long.bitCount(b0 ^ sig(t))
      val sh = shingleSet(t)
      val shared = (sh & sh0).size
      val j = shared.toDouble / (sh ++ sh0).size
      if (h > 3 && h <= 5 && shared < 5 && j < 0.5) Some(t) else None
    }.headOption.getOrElse(
      fail("no edit set satisfies the media-contamination fixture " +
        "constraints on this encoder"))
    val hand = Seq(
      (0L, mediaBase),                   // bench: media source (visual)
      (3L, q1), (4L, q2), (5L, q3),      // bench: text/vector items
      (26L, "tiny"),                     // too_short
      (27L, s"$pad $q1 trailing remark"), // REDACTED survivor
      (29L, keeper29),                   // kept (exact-dup keeper)
      (30L, "a semantically paraphrasing survivor telling an entirely " +
        "different story about orchard harvesting schedules well past " +
        "the hundred character minimum"),     // semantic
      (31L, "a standalone passage describing maritime navigation " +
        "techniques at considerable length beyond the character floor " +
        "requirement that simply fails the sampling hash"),
      (32L, nd32),                       // kept (near-dup keeper)
      (33L, s"$nd32 dup"),               // near_dup (j = high, video vs
                                         // visual: no media pair)
      (35L, keeper29),                   // exact_dup of 29
      (36L, "a third unrelated body of prose covering alpine " +
        s"meteorology observations past the length requirement $q3"),
                                         // d9 contaminated (8 shared)
      (39L, repA),                       // media keeper, sampled_out
      (41L, s"$q1 $q2"),                 // fully_redacted (two quotes)
      (42L, s"$repA zu1 zu2 zu3"),       // media_near_dup of 39
      (48L, perturbed))                  // media_contaminated vs 0
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val vecs = Seq(
      (3L, Array(1f, 0f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 1f)),
      (30L, Array(0.9f, 0.1f, 0f, 0f)),  // the paraphrase of item 3
      (29L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    // precondition probes (fail loudly if the fixture drifts)
    val mediaHam = {
      val sigs = Multimodal.phash(Multimodal.toMediaTable(
        hand.where(col("doc_id").isin(39L, 42L)))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      java.lang.Long.bitCount(sigs(39L) ^ sigs(42L))
    }
    assert(mediaHam <= 3,
      s"39/42 must pair within the dedup budget, got $mediaHam")
    val got = Pipeline.fullMultimodalRelease(hand, vecs)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.keySet == Set(27L, 29L, 32L),
      s"e18 ships the redacted quoter and the two keepers: $got")
    assert(got(27L) > 0 && got(29L) == 0 && got(32L) == 0,
      s"only the quoter ships redacted: $got")
    Memo.clearAll()
    // audit5 on the same fixture: one doc per stage, conservation, and
    // the cross-op laws (kept+redacted == e18; n_tok_cut reconciles)
    val funnel = Pipeline.surgicalFilterFunnel(hand, vecs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3))).toMap
    val wantStages = Map(
      "benchmark" -> 4L, "too_short" -> 1L, "exact_dup" -> 1L,
      "near_dup" -> 1L, "contaminated" -> 1L, "semantic" -> 1L,
      "media_near_dup" -> 1L, "media_contaminated" -> 1L,
      "sampled_out" -> 2L, "fully_redacted" -> 1L, "redacted" -> 1L,
      "kept" -> 2L)
    assert(funnel.view.mapValues(_._1).toMap == wantStages,
      s"one doc per stage: ${funnel.view.mapValues(_._1).toMap}")
    assert(funnel.values.map(_._1).sum == 17L, "conservation: 17 docs in")
    // the redacted stage's cut mass reconciles against the release
    val e18cut = Pipeline.fullMultimodalRelease(hand, vecs)
      .agg(sum(col("n_redacted"))).collect().head.getLong(0)
    assert(funnel("redacted")._2 == e18cut,
      s"n_tok_cut(redacted)=${funnel("redacted")._2} vs e18 " +
        s"n_redacted=$e18cut")
    assert(funnel("fully_redacted")._2 > 0,
      "the fully-redacted doc carries its cut mass")
    assert(funnel("kept")._2 == 0L && funnel("benchmark")._2 == 0L,
      "n_tok_cut rides only the redaction stages")
    Memo.clearAll()
  }

  test("e16 spliced corpus IS the e13 manifest's token stream: per doc " +
      "the shipped text re-tokenizes to exactly n_tok (sf0.01)") {
    import graft.ops.{Dedup, Pipeline}
    val docs01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val manifest = Pipeline.surgicalCorpus(docs01)
      .select(col("doc_id"), col("n_tok"), col("n_redacted")).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(1))).toMap
    val shipped = Pipeline.surgicalCorpusText(docs01)
      .select(col("doc_id"),
        size(graft.functions.Text.tokenizeUdf(col("text")))
          .cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shipped.keySet == manifest.keySet,
      "e16 ships exactly the e13 survivor set")
    val bad = shipped.filter { case (id, n) => manifest(id)._2 != n }
    assert(bad.isEmpty,
      s"shipped text must re-tokenize to the manifest's n_tok: $bad")
    Memo.clearAll()
    // the sf0.01 corpus' one flagged doc does not survive e3's sampling,
    // so the splice leg above is exercised only through the coalesce —
    // pin the REDACTED-survivor case on a fixture (27 passes the
    // sampling hash and quotes bench item 3 behind valuable prose)
    import spark.implicits._
    // 6-token quote = 4 shingles, UNDER d9's >= 5 floor (the e13
    // fixture's short-quote shape: only the aligned probe flags it)
    val q = "alpha bravo charlie delta echo foxtrot"
    val pad = "every training document needs enough completely distinct " +
      "filler prose to clear the hundred character floor"
    val hand = Seq(
      (3L, q), (27L, s"$pad $q trailing remark"),
      (29L, "an unrelated survivor whose words never touch the " +
        "benchmark vocabulary but still run well past the length gate"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val m2 = Pipeline.surgicalCorpus(hand)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap // doc_id -> (n_redacted, n_tok)
    assert(m2(27L)._1 > 0, s"the quote must be cut: $m2")
    val s2 = Pipeline.surgicalCorpusText(hand)
      .collect().map(r => (r.getLong(0),
        graft.functions.Text.tokenize(r.getString(2)).length.toLong))
      .toMap
    assert(s2.keySet == m2.keySet && s2.forall { case (id, n) =>
      m2(id)._2 == n },
      s"redacted survivor's text must re-tokenize to n_tok: $s2 vs $m2")
    Memo.clearAll()
  }

  test("audit5 'empty' stage: a zero-token doc past every probe is " +
      "dropped by e18's pack floor and the funnel says so — " +
      "kept ∪ redacted == e18 survives the corner") {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal, Pipeline}
    // doc 41: >= 100 chars, sampling-hash-in, NO token chars at all
    // (symbols/whitespace only) — every probe passes it (no shingles,
    // unique fingerprint, video modality so no d21/d23/d25 leg,
    // orthogonal vector), yet e18 drops it at the n_tok >= 1 floor;
    // before the 'empty' stage the funnel attributed it 'kept' and the
    // conservation law broke exactly here
    val sym = "*** ??? !!! ;;; ((( ))) --- +++ === ~~~ " * 4
    val hand = Seq(
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliett kilo lima mike november oscar papa"),
      (41L, sym.trim),
      (29L, "an unrelated survivor whose words never touch anything " +
        "above and still runs well past the hundred character floor"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val vecs = Seq(
      (3L, Array(1f, 0f, 0f, 0f)),
      (41L, Array(0f, 1f, 0f, 0f)),
      (29L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val funnel = Pipeline.surgicalFilterFunnel(hand, vecs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel.get("empty").contains(1L),
      s"the zero-token doc must attribute to 'empty': $funnel")
    val e18ids = Pipeline.fullMultimodalRelease(hand, vecs)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(e18ids == Set(29L),
      s"e18 drops the zero-token doc at the pack floor: $e18ids")
    assert(funnel.values.sum == 3L, s"conservation: $funnel")
    assert(funnel.getOrElse("kept", 0L) +
      funnel.getOrElse("redacted", 0L) == e18ids.size.toLong,
      s"kept + redacted must equal the release: $funnel vs $e18ids")
    Memo.clearAll()
  }

  test("MultimodalFlags seam: release and funnel built from ONE flags " +
      "instance at non-default thresholds satisfy the partition law " +
      "by construction") {
    import graft.ops.{Dedup, Multimodal, Pipeline}
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    // non-default budgets everywhere a threshold exists: pre-seam, a
    // caller auditing a tuned release had to re-plumb every one of
    // these into the funnel and a single mismatch silently broke the
    // laws; the seam makes the coupling an object, not a convention
    val flags = Pipeline.multimodalFlags(docs, emb, benchmarkMaxId = 20L,
      threshold = 0.7, minPositions = 2, cosThreshold = 0.3,
      maxHamming = 2, audioMaxHamming = 1, contamMaxHamming = 4,
      contamAudioMaxHamming = 2)
    val rel = Pipeline.fullMultimodalReleaseWithFlags(docs, flags,
      benchmarkMaxId = 20L, minChars = 80, sampleFrac = 0.6)
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val funnel = Pipeline.surgicalFilterFunnelWithFlags(docs, flags,
      benchmarkMaxId = 20L, minChars = 80, sampleFrac = 0.6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel.values.sum == docs.count(), s"conservation: $funnel")
    assert(funnel.getOrElse("kept", 0L) +
      funnel.getOrElse("redacted", 0L) == rel.size.toLong,
      s"kept + redacted == release doc set: $funnel vs ${rel.size}")
    Memo.clearAll()
  }

  test("e19 spliced multimodal text: ships exactly e18's doc set, " +
      "re-tokenizes to e18's n_tok per doc, and == e16 minus the " +
      "semantic + media drops row-for-row including text (sf0.01)") {
    import graft.ops.{Dedup, Multimodal, Pipeline, Similarity}
    val docs01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val emb01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    // 1) the manifest token-stream law, e16's one release up: the
    // shipped text IS e18's token stream
    val manifest = Pipeline.fullMultimodalRelease(docs01, emb01)
      .select(col("doc_id"), col("n_tok")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shipped = Pipeline.fullMultimodalReleaseText(docs01, emb01)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(shipped.map(_._1).toSet == manifest.keySet,
      "e19 ships exactly the e18 survivor set")
    val bad = shipped.filter { case (id, _, txt) =>
      graft.functions.Text.tokenize(txt).length.toLong != manifest(id) }
    assert(bad.isEmpty,
      s"shipped text must re-tokenize to e18's n_tok: ${bad.take(3)}")
    // 2) the commutation law extends to the TEXT forms: the splice is
    // survivor-set independent, so e19 == e16 minus the semantic +
    // media drop lists, row-identical including the spliced text
    val dropIds = Similarity.embeddingContaminationSplitCheck(emb01, 25L)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet ++
      Pipeline.mediaNearDupDrops(docs01)
        .unionByName(Pipeline.mediaContamDrops(docs01, 25L))
        .collect().map(_.getLong(0)).toSet
    val e16rows = Pipeline.surgicalCorpusText(docs01).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(shipped.toSet == e16rows.filterNot(r => dropIds(r._1)),
      "e19 must be e16 minus the drops, text included")
    assert(e16rows.exists(r => dropIds(r._1)),
      "the law is non-vacuous: some e16 row is dropped by e18's stages")
    Memo.clearAll()
  }

  test("e20 release fingerprint: order-independent, single-row " +
      "sensitive, and stable across partitionings") {
    import spark.implicits._
    import graft.ops.Pipeline
    val m = Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("doc_id", "n_tok")
    def fp(df: org.apache.spark.sql.DataFrame) = {
      val r = Pipeline.releaseFingerprint(df).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val base = fp(m)
    assert(base._1 == 3L && base._2 == 60L)
    // ORDER-independent: any row order / partitioning yields the same
    // digest (XOR is commutative — the property that lets two clusters
    // agree without a sort)
    assert(fp(m.orderBy(col("doc_id").desc)) == base)
    assert(fp(m.repartition(7)) == base)
    // sensitive: one token-count change, one dropped doc, one id swap
    // each flip the digest
    val bumped = fp(Seq((1L, 10L), (2L, 21L), (3L, 30L))
      .toDF("doc_id", "n_tok"))
    assert(bumped._3 != base._3 && bumped._2 == 61L)
    assert(fp(m.where(col("doc_id") =!= 2L))._3 != base._3)
    assert(fp(Seq((1L, 10L), (5L, 20L), (3L, 30L))
      .toDF("doc_id", "n_tok"))._3 != base._3)
    // the flagship use: e18's fingerprint is reproducible run to run
    // (the manifest is deterministic, the digest order-free)
    val docs01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val emb01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val f1 = fp(Pipeline.fullMultimodalRelease(docs01, emb01))
    val f2 = fp(Pipeline.fullMultimodalRelease(docs01, emb01)
      .repartition(13))
    assert(f1 == f2 && f1._1 > 0)
    Memo.clearAll()
  }

  test("e16 CJK butt joints closed: the token-stream law holds through " +
      "script-fusing splices, bigram-run edges, and zero-width islands") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    val pad = "every training document needs enough completely distinct " +
      "filler prose to clear the hundred character floor"
    // 1) the round-16 documented exception, now closed end to end:
    //    bench item is a CJK phrase, the quoter embeds it DIRECTLY
    //    between two Latin runs ("abc中文分词测试def") — the splice must
    //    emit a separator at the joint, or abc/def fuse into one token
    val q1 = "中文分词测试" // 6 chars -> 5 bigrams -> 3 positional shingles
    val hand1 = Seq(
      (3L, q1),
      (27L, s"$pad abc${q1}def closing remark"),
      (29L, "an unrelated survivor whose words never touch the " +
        "benchmark vocabulary but still run well past the length gate"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val m1 = Pipeline.surgicalCorpus(hand1)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap // doc_id -> (n_redacted, n_tok)
    assert(m1(27L)._1 == 5L, s"the 5 quoted bigrams must be cut: $m1")
    val s1 = Pipeline.surgicalCorpusText(hand1)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), graft.functions.Text.tokenize(r.getString(2))
          .length.toLong)).toMap
    assert(s1(27L)._1.contains("abc def"),
      s"the joint separator must keep abc/def apart: '${s1(27L)._1}'")
    assert(s1.forall { case (id, (_, n)) => m1(id)._2 == n },
      s"token-stream law through the butt joint: $s1 vs $m1")
    Memo.clearAll()
    // 2) a quote covering a PREFIX of a longer CJK run: the island's
    //    right edge falls strictly inside the run, so the lift must
    //    SHRINK by the shared straddler char — the uncovered bigram the
    //    manifest still counts keeps its first char
    val q2 = "一二三四" // 4 chars -> 3 bigrams -> 1 positional shingle
    val hand2 = Seq(
      (3L, q2),
      (27L, s"$pad 一二三四五六七八 $pad"),
      (29L, "an unrelated survivor whose words never touch the " +
        "benchmark vocabulary but still run well past the length gate"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val m2 = Pipeline.surgicalCorpus(hand2)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(m2(27L)._1 == 3L,
      s"the span covers bigrams 1..3 of the 7-bigram run: $m2")
    val s2 = Pipeline.surgicalCorpusText(hand2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), graft.functions.Text.tokenize(r.getString(2))
          .length.toLong)).toMap
    assert(s2(27L)._1.contains("四五六七八"),
      s"the straddler char 四 must survive the shrink: '${s2(27L)._1}'")
    assert(s2.forall { case (id, (_, n)) => m2(id)._2 == n },
      s"token-stream law through the run edge: $s2 vs $m2")
    Memo.clearAll()
    // 3) direct unit cases on the splice core (hand span plans):
    //    a BOTH-interior island and a ZERO-WIDTH island mid-run
    val doc = Seq((27L, "abc一二三四五def")).toDF("doc_id", "text")
    // tokens: abc(1) 一二(2) 二三(3) 三四(4) 四五(5) def(6)
    def splice(ss: Long, se: Long): (String, Long, Long) = {
      val plan = Seq((27L, ss, se))
        .toDF("doc_id", "span_start", "span_end")
      val r = Pipeline.redactedTextFromSpans(doc, plan).collect().head
      (r.getAs[String]("redacted_text"), r.getAs[Long]("n_chars_cut"),
        graft.functions.Text.tokenize(
          r.getAs[String]("redacted_text")).length.toLong)
    }
    // cover tokens 3..4 (二三,三四): both edges interior -> cut only 三
    // (the char ALL of whose tokens are covered), separator at the
    // joint; 6 - 2 = 4 tokens survive
    val (t34, cut34, n34) = splice(3L, 4L)
    assert(t34 == "abc一二 四五def" && cut34 == 1L && n34 == 4L,
      s"both-interior island: '$t34' cut=$cut34 n=$n34")
    // cover ONLY token 3 (二三): the shrunk island is ZERO-WIDTH — no
    // chars are cut, but the splice point still splits the run so the
    // covered bigram cannot re-form; 6 - 1 = 5 tokens survive
    val (t3, cut3, n3) = splice(3L, 3L)
    assert(t3 == "abc一二 三四五def" && cut3 == 0L && n3 == 5L,
      s"zero-width island: '$t3' cut=$cut3 n=$n3")
  }

  test("e15 fixed point holds on the whole sf0.01 corpus: splicing " +
      "every flagged doc's redacted text re-probes to zero flags") {
    import graft.ops.{Dedup, Pipeline}
    val docs01 = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val before = Dedup.quoteContaminationSplitCheck(docs01, 25L).count()
    assert(before > 0, "the corpus has quote flags to redact")
    val red = Pipeline.redactedText(docs01)
      .select(col("doc_id"), col("redacted_text").as("text"))
    // materialized first: clearAll releases the memo checkpoints that
    // `red` is derived from
    val spliced = docs01
      .join(red.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(red)
      .localCheckpoint()
    Memo.clearAll()
    assert(Dedup.quoteContaminationSplitCheck(spliced, 25L).count() == 0,
      "post-splice corpus must re-probe clean")
    Memo.clearAll()
  }

  test("audit3 health report joins an item burned in two modalities " +
      "into one row and leaves clean items out") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    val q = "alpha bravo charlie delta echo foxtrot golf hotel"
    val hand = Seq(
      (4L, q),                        // bench item, quoted below
      (5L, "a perfectly clean benchmark item nothing ever touches"),
      // 27 % 3 = 0 (visual) vs the bench item's 4 % 3 = 1 (audio):
      // different synthesized media modalities never pair, so only the
      // quote and embedding legs can fire
      (27L, s"innocent framing prose $q and a trailing remark"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    // vec 4 = the bench item's embedding; train vec 100 is a paraphrase
    // (cos ≈ 0.89), train vec 101 orthogonal (clean)
    val vecs = Seq(
      (4L, Array(1f, 0f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f)),
      (100L, Array(1f, 0.5f, 0f, 0f)),
      (101L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Pipeline.benchmarkHealthReport(hand, vecs, 25L)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.contains(4L), s"burned item must appear: ${got.keySet}")
    val r4 = got(4L)
    assert(r4.getAs[Long]("n_quote") == 1L, "doc 27 quotes item 4")
    assert(r4.getAs[Long]("n_embed") == 1L, "vec 100 paraphrases item 4")
    assert(r4.getAs[Int]("n_modalities") == 2,
      s"two legs fired for item 4: $r4")
    assert(r4.getAs[Double]("max_containment") == 1.0,
      "the quote is verbatim")
    assert(r4.getAs[Long]("first_train") == 27L,
      "earliest flagging id across legs")
    assert(!got.contains(5L), "clean items emit no row")
    Memo.clearAll()
  }

  test("audit6 retires a double-burned item; the pruned MRR/nDCG evals " +
      "stop scoring it and leave every other query untouched") {
    import spark.implicits._
    import graft.ops.{Dedup, Pipeline}
    val q = "alpha bravo charlie delta echo foxtrot golf hotel"
    val hand = Seq(
      (4L, q),                        // bench: quoted AND paraphrased
      (5L, "a perfectly clean benchmark item nothing ever touches"),
      (7L, "a single-leg item only its embedding ever betrays"),
      (27L, s"innocent framing prose $q and a trailing remark"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val vecs = Seq(
      (4L, Array(1f, 0f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f)),
      (7L, Array(0f, 0f, 0f, 1f)),
      (100L, Array(1f, 0.5f, 0f, 0f)),  // paraphrases 4
      (101L, Array(0f, 1f, 0f, 0f)),    // clean
      (102L, Array(0f, 0f, 0.2f, 1f)))  // paraphrases 7 (embed-only)
      .toDF("vec_id", "embedding")
    // the decision table covers the WHOLE bench universe, clean items
    // included, and retires exactly the >= 2-modality item
    val table = Pipeline.prunedBenchmark(hand, vecs, 25L)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(table.keySet == Set(4L, 5L, 7L),
      s"universe = every bench doc: ${table.keySet}")
    assert(table(4L) == ((2, true)), s"double-burned retires: $table")
    assert(table(5L) == ((0, false)), "clean item visible, kept")
    assert(table(7L) == ((1, false)),
      "single-leg evidence stays visible but keeps scoring")
    // a stricter severity config retires the single-leg item too
    val strict = Pipeline.prunedBenchmark(hand, vecs, 25L,
        minModalities = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(strict == Map(4L -> true, 5L -> false, 7L -> true))
    // the ACTION: the retired query VANISHES from the eval's qrels —
    // MRR and nDCG score only the remaining queries, whose rows are
    // byte-identical to the unpruned eval's (an anti-join cannot
    // perturb what it keeps)
    val decision = Pipeline.prunedBenchmark(hand, vecs, 25L)
    val qrels = Seq((4L, 100L), (5L, 101L), (7L, 102L))
      .toDF("query_id", "doc_id")
    val run = Seq((4L, 100L, 1), (5L, 999L, 1), (7L, 555L, 1),
      (7L, 102L, 2)).toDF("query_id", "doc_id", "rn")
    val pruned = Pipeline.pruneQrels(qrels, decision)
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(5L, 7L),
      "query 4 must vanish from the qrels")
    def mrrRows(qr: org.apache.spark.sql.DataFrame) =
      Pipeline.retrievalEval(run, qr, 10).collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
        .toMap
    val full = mrrRows(qrels)
    val cut = mrrRows(pruned)
    assert(full.keySet == Set(4L, 5L, 7L) && cut.keySet == Set(5L, 7L),
      s"retired item gone from MRR: ${cut.keySet}")
    assert(cut == full - 4L, "surviving queries score identically")
    assert(cut(7L) == ((0.5, true)) && cut(5L) == ((0.0, false)))
    // same law through the graded-qrels nDCG leg
    val graded = qrels.withColumn("grade", lit(1))
    val ndcgCut = Pipeline.retrievalNdcg(run,
        Pipeline.pruneQrels(graded, decision), 10)
      .collect().map(_.getLong(0)).toSet
    assert(ndcgCut == Set(5L, 7L),
      s"retired item gone from nDCG: $ndcgCut")
    Memo.clearAll()
  }

  test("e14 drops a semantic paraphrase that every other probe passes; " +
      "audit4 attributes it to the semantic stage and conserves mass") {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal, Pipeline, Similarity}
    val hand = Seq(
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india " +
        "juliett kilo lima mike november oscar papa"),
      // 27 PARAPHRASES item 3: zero shared vocabulary (d9/d28 blind),
      // different synthesized media modality vs most docs — only its
      // embedding betrays it; long enough and sampled-in (27 passes the
      // md5 < '80000000' gate)
      (27L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen"),
      // 29 is the clean control (also sampled-in)
      (29L, "an unrelated survivor whose words never touch anything " +
        "above and still runs well past the hundred character floor"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val vecs = Seq(
      (3L, Array(1f, 0f, 0f, 0f)),
      (27L, Array(0.9f, 0.1f, 0f, 0f)), // cos(3, 27) ≈ 0.994
      (29L, Array(0f, 1f, 0f, 0f)))     // orthogonal to the holdout
      .toDF("vec_id", "embedding")
    // the paraphrase is invisible to every non-semantic probe
    assert(Dedup.contaminationSplitCheck(hand, 25L, 3, 5).count() == 0,
      "no shared shingles — d9 must not fire")
    assert(Dedup.quoteContaminationSplitCheck(hand, 25L).count() == 0,
      "no aligned quote — d28 must not fire")
    assert(Multimodal.mediaContaminationSplitCheck(hand, 25L)
      .where(col("doc_id") === 27L).count() == 0,
      "the synthesized media does not pair — d25 must not fire")
    assert(Similarity.embeddingContaminationSplitCheck(vecs, 25L)
      .collect().map(_.getLong(0)).toSet == Set(27L),
      "only d31 sees the paraphrase")
    val e3 = Pipeline.trainingCorpus(hand)
      .collect().map(_.getLong(0)).toSet
    val e14 = Pipeline.semanticDecontaminatedCorpus(hand, vecs)
      .collect().map(_.getLong(0)).toSet
    assert(e3 == Set(27L, 29L), s"e3 ships the paraphrase: $e3")
    assert(e14 == Set(29L), s"e14 must drop it: $e14")
    // funnel: 27 attributes to `semantic`, mass conserved, kept == e14
    val funnel = Pipeline.semanticFilterFunnel(hand, vecs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel.getOrElse("semantic", 0L) == 1L, s"funnel: $funnel")
    assert(funnel.values.sum == hand.count(), "Σ n_docs = |documents|")
    assert(funnel.getOrElse("kept", 0L) == e14.size.toLong,
      "kept == the e14 survivor set")
    Memo.clearAll()
  }

  test("audit4 conserves document mass on the corpus and its kept " +
      "stage equals the e14 survivor count") {
    val funnel = Pipeline.semanticFilterFunnel(docs, emb)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel.values.sum == docs.count(),
      s"Σ n_docs must equal |documents|: $funnel")
    val e14 = Pipeline.semanticDecontaminatedCorpus(docs, emb).count()
    assert(funnel.getOrElse("kept", 0L) == e14,
      s"kept (${funnel.get("kept")}) == e14 rows ($e14)")
    // audit1 and audit4 agree on every shared stage except where the
    // semantic stage re-attributes sampled_out/kept docs
    val a1 = Pipeline.filterFunnel(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("benchmark", "too_short", "exact_dup", "near_dup",
      "contaminated").foreach { s =>
      assert(a1.getOrElse(s, 0L) == funnel.getOrElse(s, 0L),
        s"stage $s precedes semantic and must not move")
    }
    Memo.clearAll()
  }
}
