package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

/** ScalaCheck-generated property tests (SURVEY.md §5): date utils, netting
  * law, dedup idempotence — deterministic seed, run through the real
  * engine. (Plain ScalaCheck Gens sampled manually — scalatestplus bridge
  * is not on the offline classpath.) */
class PropertySpec extends GraftSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen(Gen.Parameters.default, Seed(42L + i)))

  test("shift-consistent rollup equals a driver-side reference model " +
      "on arbitrary match sets") {
    // the shared d24/d27/d28 core (Dedup.shiftConsistentRollup) against
    // a plain-Scala re-derivation of its contract: dominant shift =
    // most frequent k2−k1 with ties to the smallest; containment counts
    // DISTINCT k1/k2 within ±tol of it; containment_any ignores the
    // shift; both normalize by the per-doc position counts; pairs
    // filter on the consistent fraction
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fixtureGen = for {
      nDocs <- Gen.chooseNum(2, 4)
      counts <- Gen.listOfN(nDocs, Gen.chooseNum(2, 8))
      nMatch <- Gen.chooseNum(1, 25)
      pairs <- Gen.listOfN(nMatch, for {
        a <- Gen.chooseNum(0, nDocs - 1)
        b <- Gen.chooseNum(0, nDocs - 1)
        k1 <- Gen.chooseNum(1, 8)
        k2 <- Gen.chooseNum(1, 8)
      } yield (a, b, k1, k2))
      tol <- Gen.chooseNum(0, 2)
      thr <- Gen.oneOf(0.3, 0.5, 0.8)
    } yield (counts, pairs, tol, thr)
    samples(fixtureGen, 40).foreach { case (counts, rawPairs, tol, thr) =>
      // normalize to the operators' input contract: doc1 < doc2, match
      // positions within each doc's count, deduplicated
      val cross = rawPairs.collect { case (a, b, k1, k2) if a != b =>
        val (d1, d2, ka, kb) = if (a < b) (a, b, k1, k2) else (b, a, k2, k1)
        (d1.toLong, d2.toLong,
          1 + (ka - 1) % counts(d1), 1 + (kb - 1) % counts(d2))
      }.distinct
      if (cross.nonEmpty) {
        val withCounts = cross.map { case (d1, d2, k1, k2) =>
          (d1, d2, k1, k2, counts(d1.toInt).toLong, counts(d2.toInt).toLong)
        }
        val got = graft.ops.Dedup.shiftConsistentRollup(
            withCounts.toDF("doc1", "doc2", "k1", "k2", "na", "nb"),
            thr, tol)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            ((r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
        // reference model
        val want = cross.groupBy(p => (p._1, p._2)).flatMap {
          case ((d1, d2), ms) =>
            val byShift = ms.groupBy(m => m._4 - m._3)
              .map { case (s, xs) => (s, xs.size) }
            val dom = byShift.toSeq.minBy { case (s, c) => (-c, s) }._1
            val at = ms.filter(m => math.abs(m._4 - m._3 - dom) <= tol)
            val (na, nb) = (counts(d1.toInt), counts(d2.toInt))
            val c = math.max(
              at.map(_._3).distinct.size.toDouble / na,
              at.map(_._4).distinct.size.toDouble / nb)
            val cAny = math.max(
              ms.map(_._3).distinct.size.toDouble / na,
              ms.map(_._4).distinct.size.toDouble / nb)
            if (c >= thr) Some((d1, d2) -> ((c, cAny, dom))) else None
        }
        assert(got == want,
          s"rollup diverged from the model (tol=$tol thr=$thr):\n " +
            s"cross=$cross\n got=$got\n want=$want")
      }
    }
  }

  test("portable weight kernel: balanced signs, no adjacent-index correlation") {
    // driver-side mirror of Similarity.portableWeight — the shared
    // quadratic mix every portable signature (r4/sim8/d18/gr3/d19) uses
    def w(y: Long): Long = {
      val m = 1000003L; val ym = y % m
      ((1013L * ym * ym + 2654435761L * ym) % m) - 500001L
    }
    val ys = 1L to 200000L
    // (1) signs are balanced: a skewed kernel biases every majority vote
    val posFrac = ys.count(w(_) >= 0).toDouble / ys.size
    assert(posFrac > 0.47 && posFrac < 0.53, s"sign bias: $posFrac")
    // (2) adjacent indices are sign-independent: the linear (Weyl) mix
    // this replaced had constant step, making adjacent signs near-copies
    // (measured corpus collapse); agreement must sit near 50%
    val agree = ys.init.count(y =>
      (w(y) >= 0) == (w(y + 1) >= 0)).toDouble / (ys.size - 1)
    assert(agree > 0.45 && agree < 0.55, s"adjacent-sign correlation: $agree")
    // (3) stride-64 (plane-to-plane at the same dim) independent too
    val agree64 = ys.take(100000).count(y =>
      (w(y) >= 0) == (w(y + 64) >= 0)).toDouble / 100000
    assert(agree64 > 0.45 && agree64 < 0.55, s"stride-64 correlation: $agree64")
    // (4) weight values spread across the range, not clustered
    val buckets = ys.map(y => ((w(y) + 500001L) / 100001L).toInt)
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(buckets.size == 10 &&
      buckets.values.forall(n => n > 10000 && n < 30000), s"$buckets")
  }

  test("z-value is a bijection on 16-bit pairs (round-trips both keys)") {
    // driver-side deinterleave inverts Layout.zValueRef — together they
    // prove the Morton code loses nothing (the layout can always recover
    // the original keys, and distinct pairs never collide)
    def unspread(z: Long): Long = {
      var x = z & 0x55555555L
      x = (x | (x >> 1)) & 0x33333333L
      x = (x | (x >> 2)) & 0x0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FFL
      (x | (x >> 8)) & 0x0000FFFFL
    }
    val gen = for {
      x <- Gen.chooseNum(0L, 65535L)
      y <- Gen.chooseNum(0L, 65535L)
    } yield (x, y)
    val pairs = samples(gen, 2000)
    pairs.foreach { case (x, y) =>
      val z = ops.Layout.zValueRef(x, y)
      assert(unspread(z >> 1) == x && unspread(z) == y,
        s"z($x, $y) = $z did not round-trip")
    }
    assert(pairs.distinct.map { case (x, y) =>
      ops.Layout.zValueRef(x, y)
    }.distinct.size == pairs.distinct.size, "collision found")
  }

  test("bottom-k merge law holds under arbitrary group splits") {
    import spark.implicits._
    // for ANY partition of the rows into shards, bottom-k of the unioned
    // per-shard bottom-k sets == direct bottom-k — the exact mergeability
    // a22-a25 and the streaming quantile sink all lean on
    val gen = for {
      id <- Gen.chooseNum(1L, 100000L)
      shard <- Gen.chooseNum(0, 4)
      g <- Gen.oneOf("a", "b", "c")
    } yield (g, id, shard)
    val rows = samples(gen, 600).distinct
      .toDF("g", "id", "shard")
    val k = 16
    val direct = ops.Sketches.bottomKSample(rows, Seq("g"), "id", k)
      .select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val sharded = ops.Sketches.bottomKSample(
        ops.Sketches.bottomKSample(rows, Seq("g", "shard"), "id", k),
        Seq("g"), "id", k)
      .select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sharded == direct && direct.nonEmpty)
  }

  test("length buckets conserve docs/tokens for arbitrary corpora") {
    import spark.implicits._
    val gen = for {
      id <- Gen.chooseNum(1L, 1000000L)
      words <- Gen.chooseNum(1, 300)
    } yield (id, Seq.fill(words)("w").mkString(" "))
    val docs = samples(gen, 400).distinctBy(_._1).toDF("doc_id", "text")
    val manifest = ops.Sampling.lengthBuckets(docs, 64, 16).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(manifest.map(_._2).sum == docs.count())
    val total = docs
      .select(sum(size(split(col("text"), "\\s+"))).cast("long"))
      .head.getLong(0)
    assert(manifest.map(_._4).sum == total)
    manifest.foreach { case (bkt, nd, mx, sm, pad) =>
      assert(pad == nd * mx - sm && pad >= 0 && nd <= 16)
      assert(mx >= bkt * 64 + 1 && mx <= (bkt + 1) * 64)
    }
  }

  test("BPE train: scratch re-encode reproduces every chosen merge") {
    // the t20 oracle re-tokenizes the vocabulary FROM SCRATCH under
    // merges 1..r-1 each round, while the trainer mutates sequences in
    // place — this property pins their equivalence (greedy lowest-rank
    // leftmost encode == sequential merge application) over random word
    // tables, including overlap cases like 'aaa'
    val wordGen = for {
      len <- Gen.chooseNum(1, 6)
      cs <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
      n <- Gen.chooseNum(1L, 9L)
    } yield (cs.mkString, n)
    (0 until 25).foreach { trial =>
      val words = (0 until 12).flatMap(i =>
        wordGen(Gen.Parameters.default, Seed(1000L * trial + i)))
        .distinctBy(_._1).toArray
      val merges = ops.Bpe.trainMerges(words, 6)
      merges.indices.foreach { r =>
        val rank = merges.take(r).zipWithIndex.toMap
        val counts =
          scala.collection.mutable.HashMap[(String, String), Long]()
        words.foreach { case (w, c) =>
          val toks = ops.Bpe.encodeWord(w, rank)
          (0 until toks.length - 1).foreach { j =>
            val p = (toks(j), toks(j + 1))
            counts.update(p, counts.getOrElse(p, 0L) + c)
          }
        }
        val best = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        assert(best == merges(r),
          s"trial $trial round $r: scratch best $best != ${merges(r)}")
      }
    }
  }

  test("P9 date formatting matches java.time for arbitrary instants") {
    import spark.implicits._
    val gen = Gen.chooseNum(0L, 4102444800000L) // 1970..2100 in ms
    val ms = samples(gen, 50)
    val df = ms.map(m => (1L, m)).toDF("event_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val got = ops.Etl.dateFormats(df).collect()
      .map(r => (r.getString(1), r.getString(2)))
    ms.zip(got).foreach { case (m, (dt, d8)) =>
      val e = java.time.Instant.ofEpochMilli(m)
        .atZone(java.time.ZoneOffset.UTC)
      assert(dt == e.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")), s"ms=$m")
      assert(d8 == e.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd")), s"ms=$m")
    }
  }

  test("drift law: psi is zero on identical slices and slice-swap " +
    "invariant on generated data") {
    import spark.implicits._
    val vs = samples(Gen.chooseNum(0.0, 100.0), 150)
    val flags = samples(Gen.oneOf(true, false), 150)
    val df = flags.zip(vs).toDF("is_ref", "v")
    // per-bin terms (pa-pb)ln(pa/pb) are symmetric under slice swap —
    // smoothing denominators swap along with the counts
    val a = ops.DataQuality.psi(df, "v", col("is_ref"), 8, 0.0, 100.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val b = ops.DataQuality.psi(df, "v", !col("is_ref"), 8, 0.0, 100.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(a == b)
    // a slice compared against itself has zero drift in every bin
    val ident = (vs.map((true, _)) ++ vs.map((false, _)))
      .toDF("is_ref", "v")
    assert(ops.DataQuality.psi(ident, "v", col("is_ref"), 8, 0.0, 100.0)
      .collect().forall(_.getDouble(3) == 0.0))
  }

  test("A8 law: dedup-first daily-uu == COUNT(DISTINCT) on generated logs") {
    import spark.implicits._
    val rowGen = for {
      user <- Gen.chooseNum(1L, 5L)
      dayOff <- Gen.chooseNum(0, 3)
      sec <- Gen.chooseNum(0, 86399)
      v <- Gen.chooseNum(1, 9999)
    } yield (user, dayOff, sec, v / 100.0)
    (0 until 5).foreach { round =>
      val rows = samples(Gen.listOfN(60, rowGen), 1).head
      val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val df = rows.zipWithIndex.map { case ((u, d, s, v), i) =>
        (i.toLong, new java.sql.Timestamp(base + d * 86400000L + s * 1000L),
          u, "e", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val uu = ops.Aggs.dailyUniqueUsers(df).collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      val cd = df.groupBy(to_date(col("ts")).as("d"))
        .agg(countDistinct(col("user_id"))).collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      assert(uu == cd)
      // A7: keep-last yields exactly one row per user, idempotently
      val once = ops.Aggs.keepLastPerUser(df)
      assert(once.count() == df.select("user_id").distinct().count())
    }
  }

  test("tokenizer is idempotent on its own output (generated strings)") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val toks = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val retok = toks.mkString(" ").toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      assert(toks.toSeq == retok.toSeq, s"input=$s")
    }
  }

  test("CJK tokenizer invariants on generated mixed-script strings") {
    import functions.Text.tokenize
    val cjkChar = Gen.oneOf(
      Gen.chooseNum(0x4e00, 0x4e50).map(_.toChar),  // ideographs
      Gen.chooseNum(0x3041, 0x3060).map(_.toChar),  // hiragana
      Gen.chooseNum(0xac00, 0xac50).map(_.toChar))  // hangul
    val anyChar = Gen.frequency(
      4 -> Gen.alphaNumChar, 2 -> cjkChar,
      2 -> Gen.oneOf(' ', ',', '.', '!', '　'))
    val strGen = Gen.listOfN(40, anyChar).map(_.mkString)
    samples(strGen, 200).foreach { s =>
      val toks = tokenize(s)
      toks.foreach { t =>
        assert(t.nonEmpty, s"empty token for input=$s")
        val isCjkTok = t.exists(c => c >= 0x3040)
        if (isCjkTok)
          assert(t.length <= 2 && t.forall(_ >= 0x3040),
            s"CJK token '$t' must be a 1-2 char pure-CJK gram; input=$s")
        else
          assert(t.forall(c => (c >= 'a' && c <= 'z') || c.isDigit),
            s"latin token '$t' must be lowercase alnum; input=$s")
      }
      // total CJK chars are preserved across bigrams (each run of length
      // n>=2 contributes n-1 bigrams; a lone char contributes itself)
      assert(tokenize(s).sameElements(tokenize(s)), "determinism")
    }
  }

  test("deterministic sampling is monotone in the fraction (generated ids)") {
    val ids = samples(Gen.chooseNum(0L, 1000000L), 300).distinct
    def kept(frac: Double): Set[Long] = {
      val th = ops.Sampling.fractionThreshold(frac)
      ids.filter { id =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 8)
        hex < th
      }.toSet
    }
    val fracs = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)
    fracs.sliding(2).foreach { case Seq(lo, hi) =>
      assert(kept(lo).subsetOf(kept(hi)), s"$lo not subset of $hi")
    }
    assert(kept(0.0).isEmpty)
    assert(kept(1.0).size == ids.size)
  }

  test("d14 law: dup spans == brute-force coverage on random corpora") {
    import spark.implicits._
    // small alphabet + short docs force heavy window collisions, then the
    // distributed span merge must equal a direct per-doc computation
    val docGen = Gen.listOfN(14, Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    val segWords = 3
    (0 until 4).foreach { round =>
      val texts = samples(Gen.listOfN(8, docGen), 1 + round).last
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = ops.Dedup.dupSpans(docs, segWords, 2).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      // brute force: a position is covered iff some segWords-window over
      // it occurs in >= 2 distinct docs
      val toks = texts.map(_.split(" ").toSeq)
      val winDocs = toks.zipWithIndex
        .flatMap { case (ws, d) =>
          ws.sliding(segWords).filter(_.size == segWords)
            .map(w => (w.mkString(" "), d)).toSeq.distinct
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      toks.zipWithIndex.foreach { case (ws, d) =>
        val covered = scala.collection.mutable.Set[Int]()
        ws.sliding(segWords).zipWithIndex.foreach { case (w, p) =>
          if (w.size == segWords && winDocs(w.mkString(" ")) >= 2)
            (p until p + segWords).foreach(covered += _)
        }
        // span count = maximal runs of consecutive covered positions
        val nSpans = covered.toSeq.sorted
          .foldLeft((0, -2)) { case ((n, prev), p) =>
            (if (p == prev + 1) n else n + 1, p)
          }._1
        val (gw, gs, gd) = got(d.toLong)
        assert(gw == ws.size && gs == nSpans && gd == covered.size,
          s"round $round doc $d: got ($gw,$gs,$gd) want " +
            s"(${ws.size},$nSpans,${covered.size}) text='${texts(d)}'")
      }
    }
  }

  test("a21 law: funnel == brute-force per-user scan on generated logs") {
    import spark.implicits._
    val rowGen = for {
      user <- Gen.chooseNum(1L, 6L)
      stage <- Gen.oneOf("view", "click", "purchase", "error")
      sec <- Gen.chooseNum(0, 600)
    } yield (user, stage, sec)
    (0 until 5).foreach { round =>
      val rows = samples(Gen.listOfN(80, rowGen), 1 + round).last
      val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val df = rows.zipWithIndex.map { case ((u, st, s), i) =>
        (i.toLong, new java.sql.Timestamp(base + s * 1000L), u, st, 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = ops.Aggs.funnelStages(df).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // brute force: per user, greedy strict-order stage scan
      val stages = Seq("view", "click", "purchase")
      val byUser = rows.zipWithIndex
        .map { case ((u, st, s), i) => (u, st, s.toLong, i.toLong) }
        .groupBy(_._1)
      val reached = Array(0L, 0L, 0L)
      byUser.values.foreach { evs =>
        var done = 0
        var lastTs = Long.MinValue
        evs.sortBy(e => (e._3, e._4)).foreach { case (_, st, ts, _) =>
          if (done < 3 && st == stages(done)
              && (done == 0 || ts > lastTs)) {
            reached(done) += 1; lastTs = ts; done += 1
          }
        }
      }
      assert(got == Map("view" -> reached(0), "click" -> reached(1),
        "purchase" -> reached(2)), s"round $round: $got vs ${reached.toSeq}")
    }
  }

  test("q1 law: model score == driver-side scoring on random corpora") {
    import spark.implicits._
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "f", "ggg")
    val docGen = Gen.listOfN(6, wordGen).map(_.mkString(" "))
    (0 until 3).foreach { round =>
      val texts = samples(Gen.listOfN(10, docGen), 1 + round).last
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val vocabSize = 4 // smaller than the 7-word alphabet: cap must bite
      val got = ops.TextAnalysis.modelQualityScore(docs, vocabSize)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      // driver-side: top-V by (count desc, word asc), integer weights,
      // sigmoid of the single double division
      val all = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      val vocab = all.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (w, c) => (-c, w) }.take(vocabSize)
        .map { case (w, _) =>
          w -> (((w.length * 31 + w.head.toInt) % 13) - 6).toLong
        }.toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = t.split(" ").filter(_.nonEmpty)
        val raw = toks.map(w => vocab.getOrElse(w, 0L)).sum
        val score = 1.0 / (1.0 +
          math.exp(-(raw / (10.0 * toks.length) - 0.1)))
        val want = (toks.length.toLong, math.rint(score * 1e6) / 1e6)
        assert(got(i.toLong) == want,
          s"round $round doc $i: ${got(i.toLong)} vs $want ('$t')")
      }
    }
  }

  test("q1 oracle precondition: the fixture corpus is BMP-only") {
    // modelQualityScore's pseudo-weight uses ascii(first char), which
    // diverges between Spark (UTF-16 high surrogate) and DuckDB (code
    // point) for astral-plane-initial words. The oracle is only sound on
    // BMP text, so pin the corpus to it: if the generator ever emits
    // emoji/CJK-ext-B, this fails loudly instead of the hash flaking.
    val docs = Tables.load(spark, sf, "documents")
    val surrogates = docs.where(
      col("text").rlike("[\\uD800-\\uDFFF]")).count()
    assert(surrogates == 0,
      "documents.text must stay BMP-only for the q1 ascii-weight oracle")
  }

  test("a20 law: cohort retention == brute-force triangle on generated logs") {
    import spark.implicits._
    val rowGen = for {
      user <- Gen.chooseNum(1L, 8L)
      day <- Gen.chooseNum(0, 6)
      sec <- Gen.chooseNum(0, 86399)
    } yield (user, day, sec)
    (0 until 3).foreach { round =>
      val rows = samples(Gen.listOfN(70, rowGen), 11 + round).last
      val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
      val df = rows.zipWithIndex.map { case ((u, d, s), i) =>
        (i.toLong, new java.sql.Timestamp(base + d * 86400000L + s * 1000L),
          u, "e", 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = ops.Aggs.cohortRetention(df).collect()
        .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2))
        .toMap
      val activeDays = rows.map { case (u, d, _) => (u, d) }.distinct
      val firstDay = activeDays.groupBy(_._1).view.mapValues(_.map(_._2).min)
      val want = activeDays
        .map { case (u, d) => (firstDay(u), d - firstDay(u)) }
        .groupBy(identity).map { case ((c, dn), xs) =>
          (java.time.LocalDate.of(2024, 5, 1).plusDays(c).toString, dn) ->
            xs.size.toLong
        }
      assert(got == want, s"round $round: $got vs $want")
    }
  }

  test("ml1 law: distributed Lloyd == driver-side Lloyd on random embeddings") {
    import spark.implicits._
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-100, 100).map(_ / 10.0f))
    (0 until 3).foreach { round =>
      val vecs = samples(Gen.listOfN(12, vecGen), 1 + round).last
        .map(_.toArray)
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val k = 3; val iters = 2
      val got = ops.Clustering.kmeansAssign(df, k, iters).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // driver-side Lloyd with the same contract: smallest-id init,
      // squared L2, smallest-cid ties, round(mean,6), empty drop
      val pts = vecs.map(_.map(_.toDouble))
      def nearest(cents: Seq[(Int, Array[Double])], p: Array[Double]): Int =
        cents.map { case (cid, c) =>
          (p.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
        }.minBy(identity)._2
      var cents: Seq[(Int, Array[Double])] =
        (0 until k).map(i => (i, pts(i)))
      (1 to iters).foreach { _ =>
        val asg = pts.map(p => nearest(cents, p))
        cents = asg.zip(pts).groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (cid, grp) =>
            val n = grp.size
            (cid, (0 until 4).map(d =>
              BigDecimal(grp.map(_._2(d)).sum / n)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              .toArray)
          }
      }
      val want = pts.zipWithIndex
        .map { case (p, i) => i.toLong -> nearest(cents, p) }.toMap
      assert(got == want, s"round $round: $got vs $want")
    }
    graft.ops.Memo.clearAll() // drop the random-frame memos
  }

  test("PNG law: encode -> inflate -> unfilter recovers the exact bitmap") {
    // THE pixel-decode gate: for arbitrary bitmaps and dims, the full
    // real round trip (per-row filtering with all 5 PNG filter types,
    // zlib deflate, multi-IDAT chunking | chunk walk, CRC check, bounded
    // Inflater, filter reversal) must return the identical pixels. A
    // wrong Paeth predictor, a misapplied Up row, or an off-by-one in
    // the scanline stride all break this on the first random bitmap.
    import graft.ops.Multimodal
    val bmpGen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 40)
      nf <- Gen.chooseNum(0, 4) // 0 = plain PNG, else an nf-frame APNG
      frames <- Gen.listOfN(math.max(nf, 1),
        Gen.listOfN(w * h, Gen.chooseNum(-128, 127).map(_.toByte))
          .map(_.toArray))
    } yield (w, h, nf, frames)
    samples(bmpGen, 200).foreach { case (w, h, nf, frames) =>
      val bytes =
        if (nf == 0) Multimodal.pngBytes(w, h, frames.head)
        else Multimodal.apngBytes(w, h, frames)
      val p = Multimodal.decodePng(bytes)
        .getOrElse(fail(s"round trip failed at ${w}x$h frames=$nf"))
      assert(p.w == w && p.h == h && p.animated == (nf > 0))
      assert(p.frames.length == frames.length,
        s"frame count diverged at ${w}x$h: ${p.frames.length}")
      // EVERY frame's zlib stream must inflate+unfilter to its exact
      // input bitmap — the per-frame sibling of the still-image law
      frames.zip(p.frames).zipWithIndex.foreach { case ((in, out), k) =>
        assert(out.sameElements(in.map(_ & 0xff)),
          s"frame $k pixels diverged at ${w}x$h")
      }
    }
    // and a corrupted DEFLATE byte (inside an IDAT body, not a header)
    // must make the payload undecodable — headers alone can't vouch
    val png = Multimodal.pngBytes(12, 10,
      Array.tabulate(120)(i => (i * 7).toByte))
    val off = 8 + 25 + 8 // sig + IHDR chunk + first IDAT len/type
    val bad = png.clone(); bad(off) = (bad(off) ^ 0x55).toByte
    assert(Multimodal.decodePixels(bad).isEmpty
        || !Multimodal.decodePixels(bad).get._3
          .sameElements(Array.tabulate(120)(i => (i * 7) & 0xff)),
      "a corrupt IDAT byte must not decode to the original pixels")
  }

  test("text parsers are total on adversarial strings") {
    // the tokenizer and dictionary segmenter sit on the UDTF path every
    // raw document crosses — arbitrary UTF-16 (lone surrogates, control
    // chars, astral pairs, empty) must tokenize, never throw, and both
    // must agree on the total-coverage law (concatenated CJK output
    // covers the CJK input; Latin tokens lowercase)
    import graft.functions.{Text, DictSegment}
    val dict = DictSegment.buildDict(Seq("数据", "仓库"))
    val sGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.chooseNum(1, 0xFFFF).map(_.toChar),      // any BMP unit,
        Gen.chooseNum(0xD800, 0xDFFF).map(_.toChar), // surrogates incl. lone
        Gen.oneOf(' ', '\t', '\n', '数', '据', 'a', 'Z', '0')))
        .map(_.mkString))
    samples(sGen, 400).foreach { s =>
      val toks = Text.tokenize(s)     // must not throw
      val segs = DictSegment.segment(dict, s)
      (toks ++ segs).foreach(t => assert(t.nonEmpty, "no empty tokens"))
      assert(toks.sameElements(Text.tokenize(s)), "determinism")
      assert(segs.sameElements(DictSegment.segment(dict, s)))
    }
  }

  test("PNG/WAV conformance: the JDK's own decoders agree byte-for-byte") {
    // differential gate against INDEPENDENT reference implementations
    // that ship in the JDK: javax.imageio's PNG plugin must decode our
    // encoder's payloads to the same gray values our decoder returns,
    // and javax.sound.sampled must parse our WAVs to the same format and
    // sample bytes — so "real PNG/WAV" is certified by a codec we did
    // not write, in both structure and content
    import graft.ops.Multimodal
    val bmpGen = for {
      w <- Gen.chooseNum(1, 32)
      h <- Gen.chooseNum(1, 32)
      px <- Gen.listOfN(w * h, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield (w, h, px.toArray)
    samples(bmpGen, 60).foreach { case (w, h, px) =>
      val png = Multimodal.pngBytes(w, h, px)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img != null, s"ImageIO rejected our PNG at ${w}x$h")
      assert(img.getWidth == w && img.getHeight == h)
      val ours = Multimodal.decodePixels(png).get._3
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == ours(y * w + x),
          s"ImageIO and decodePixels disagree at ($x,$y) in ${w}x$h")
    }
    // APNG: ImageIO has no animation support, but acTL/fcTL/fdAT are
    // ANCILLARY chunks — a conformant still-PNG reader must skip them
    // and decode the default image, which our encoder makes frame 0.
    // That certifies the APNG chunk layout against a codec we didn't
    // write (a critical-chunk or length mistake would make ImageIO
    // throw or misread).
    val aframes = Array.tabulate(3)(k =>
      Array.tabulate(80)(i => ((i * 7 + k * 31) % 256).toByte))
    val apng = Multimodal.apngBytes(10, 8, aframes)
    val aimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(apng))
    assert(aimg != null && aimg.getWidth == 10 && aimg.getHeight == 8,
      "ImageIO rejected our APNG")
    for (y <- 0 until 8; x <- 0 until 10)
      assert(aimg.getRaster.getSample(x, y, 0) ==
        (aframes(0)(y * 10 + x) & 0xff),
        s"ImageIO's APNG default image diverged from frame 0 at ($x,$y)")
    // and the reverse: a PNG ImageIO encoded (its own filter choices,
    // its own IDAT chunking) must decode through OUR pipeline
    val src = new java.awt.image.BufferedImage(9, 7,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 7; x <- 0 until 9)
      src.getRaster.setSample(x, y, 0, (x * 29 + y * 57) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "png", bos))
    Multimodal.decodePixels(bos.toByteArray) match {
      case Some((w, h, ours)) =>
        assert(w == 9 && h == 7)
        for (y <- 0 until 7; x <- 0 until 9)
          assert(ours(y * 9 + x) == src.getRaster.getSample(x, y, 0),
            s"our decoder misread ImageIO's PNG at ($x,$y)")
      case None =>
        // acceptable only if ImageIO wrote a non-grayscale-8 variant our
        // decoder declares out of scope — make that visible, not silent
        val colorType = bos.toByteArray()(25)
        assert(colorType != 0,
          "our decoder rejected a grayscale-8 PNG ImageIO produced")
    }
    // WAV: format fields and PCM bytes through javax.sound.sampled
    val pcm = Array.tabulate(300)(i => ((i * 37 + 11) % 256).toByte)
    val wav = Multimodal.wavBytes(pcm)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 8,
      s"AudioSystem parsed a different format: $fmt")
    val heard = ais.readAllBytes()
    assert(heard.sameElements(pcm),
      "AudioSystem heard different samples than we wrote")
    assert(Multimodal.wavDataBody(wav).get.sameElements(pcm))
  }

  test("dHash law: a same-length single-char edit flips at most 2 bits") {
    // the prefix render maps text position p to pixel p (no wrap), so a
    // substituted character changes exactly ONE pixel -> ONE grid cell's
    // mean, and a cell participates in at most two horizontal-gradient
    // comparisons — the locality property that makes dHash a NEAR-dup
    // hash (and what the d21 planted-pair spec relies on).
    import graft.ops.Multimodal
    def hash(s: String, w: Int, h: Int): Long =
      Multimodal.dHash56(Multimodal.grayGrid(w, h,
        Multimodal.textPixels(s, w * h).map(_ & 0xff)))
    val strGen = for {
      n <- Gen.chooseNum(10, 600)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
      pos <- Gen.chooseNum(0, n - 1)
      c <- Gen.alphaNumChar
      w <- Gen.chooseNum(8, 31)
      h <- Gen.chooseNum(8, 23)
    } yield (cs.mkString, pos, c, w, h)
    samples(strGen, 300).foreach { case (s, pos, c, w, h) =>
      val edited = s.updated(pos, c)
      val hm = java.lang.Long.bitCount(hash(s, w, h) ^ hash(edited, w, h))
      assert(hm <= 2, s"edit at $pos flipped $hm bits (${w}x$h)")
    }
  }

  test("render law: per code point, prefix-aligned, zero-padded") {
    // reference implementation over the CODE-POINT array (a different
    // iteration API than the operator's codePoints stream): a per-UTF-16
    // -unit walk would emit the high and low surrogate as two pixels and
    // shift every later position — exactly what non-BMP text on the
    // public phashIngestSink path would hit. This also matches the
    // oracle's per-character `unicode()` walk.
    import graft.ops.Multimodal
    def ref(s: String, n: Int): Array[Byte] = {
      val cps = s.codePoints().toArray
      Array.tabulate(n)(p =>
        if (p < cps.length) (cps(p) % 256).toByte else 0.toByte)
    }
    val gClef = new String(Character.toChars(0x1D11E)) // non-BMP
    val cases = Seq(
      "a" + gClef + "b", gClef * 70, ("mixed " + gClef) * 13,
      "𝄞 tail", "head 𝄞", "",
      "ascii only stays ascii only")
    for (s <- cases; n <- Seq(0, 1, 64, 500))
      assert(Multimodal.textPixels(s, n).sameElements(ref(s, n)),
        s"render contract violated on '${s.take(20)}' n=$n")
    // suffix-append locality: adding characters never changes pixels
    // below the old length (the planted "+ dup" near-dup premise)
    val base = "shared prefix body of the clip"
    val grown = base + " dup"
    val a = Multimodal.textPixels(base, 200)
    val b = Multimodal.textPixels(grown, 200)
    assert(a.take(base.length).sameElements(b.take(base.length)),
      "prefix pixels must survive a suffix append")
    // frame-scroll law: video frame k pixel p = the single-frame render
    // at position k·w + p (one row advance per frame), frame 0 IS the
    // still render — and the suffix-append locality carries over frames
    for (s <- cases; (w, h) <- Seq((5, 4), (12, 10)); nf <- Seq(1, 3, 7)) {
      val frames = Multimodal.textFrames(s, w, h, nf)
      val flat = Multimodal.textPixels(s, (nf - 1) * w + w * h)
      assert(frames.length == nf)
      assert(frames(0).sameElements(Multimodal.textPixels(s, w * h)))
      for (k <- 0 until nf; p <- 0 until w * h)
        assert(frames(k)(p) == flat(k * w + p),
          s"frame $k pixel $p broke the scroll law on '${s.take(12)}'")
    }
  }

  test("majority-vote clip signature: algebraic laws on random stacks") {
    import graft.ops.Multimodal
    val stackGen = for {
      bits <- Gen.oneOf(31, 56)
      n <- Gen.chooseNum(1, 9)
      sigs <- Gen.listOfN(n,
        Gen.chooseNum(Long.MinValue, Long.MaxValue)
          .map(_ & ((1L << bits) - 1)))
    } yield (bits, sigs)
    samples(stackGen, 300).foreach { case (bits, sigs) =>
      val m = Multimodal.majorityHash(sigs, bits)
      // stays inside the signature width
      assert((m & ~((1L << bits) - 1)) == 0L)
      // a single frame IS its own majority
      assert(Multimodal.majorityHash(Seq(sigs.head), bits) == sigs.head)
      // frame order never matters (fdAT sequencing is validated
      // upstream; the vote itself is a multiset operation)
      assert(Multimodal.majorityHash(sigs.reverse, bits) == m)
      // duplicating the whole stack preserves every vote (2c>2n <=> c>n)
      assert(Multimodal.majorityHash(sigs ++ sigs, bits) == m)
      // appending the current majority as one more frame is absorbing:
      // set bits gain a vote, unset bits gain an abstention
      assert(Multimodal.majorityHash(sigs :+ m, bits) == m)
      // strict-majority tie rule: on an even stack of s and its
      // complement, no bit reaches a strict majority
      val comp = ~sigs.head & ((1L << bits) - 1)
      assert(Multimodal.majorityHash(Seq(sigs.head, comp), bits) == 0L)
    }
  }

  test("media parsers never throw on arbitrary bytes; valid prefixes don't fool them") {
    import graft.ops.Multimodal
    val byteGen = Gen.chooseNum(-128, 127).map(_.toByte)
    // raw fuzz: arbitrary buffers (including empty/tiny) parse to None
    // rather than throwing — a corrupt object-store blob must degrade to
    // "not this modality", never kill the ingest task
    val bufGen = Gen.chooseNum(0, 64)
      .flatMap(n => Gen.listOfN(n, byteGen).map(_.toArray))
    samples(bufGen, 300).foreach { b =>
      Multimodal.wavDataBody(b) // must not throw
      Multimodal.decodePixels(b) // nor the full pixel path
      Multimodal.decode(Multimodal.MediaRecord(0L, "x", b, 0, 0))
      ()
    }
    // a REAL two-frame APNG truncated/garbled at every byte position:
    // the whole decode stack (chunk walk, CRC, acTL/fcTL/fdAT sequence
    // validation, per-frame inflate, unfilter) must degrade to None,
    // never throw — the per-byte sweep covers every frame-control and
    // frame-data byte, catching off-by-ones no random buffer ever hits
    val goodPng = Multimodal.apngBytes(5, 4, Seq(
      Array.tabulate(20)(i => (i * 13).toByte),
      Array.tabulate(20)(i => (i * 29 + 7).toByte)))
    assert(Multimodal.decodePng(goodPng).exists(_.frames.length == 2))
    (0 until goodPng.length).foreach { i =>
      // truncation can only lose structure, never decode
      assert(Multimodal.decodePng(goodPng.take(i)).isEmpty,
        s"a $i-byte truncation must not decode")
      val flip = goodPng.clone(); flip(i) = (flip(i) ^ 0xff).toByte
      // EVERY byte of the payload is covered by the signature check, a
      // chunk CRC, or a length field whose corruption misaligns the
      // walk into CRC garbage — a single flipped byte anywhere must
      // reject, never silently decode (and never throw)
      assert(Multimodal.decodePng(flip).isEmpty,
        s"a flipped byte at $i must make the payload undecodable")
      Multimodal.decodePixels(flip) // and the frame-0 projection
      ()
    }
    // the same sweep over a real WAV through the full audio stack
    val goodWav = Multimodal.wavBytes(
      Array.tabulate(40)(i => (i * 7).toByte))
    (0 until goodWav.length).foreach { i =>
      Multimodal.wavDataBody(goodWav.take(i))
      Multimodal.decode(Multimodal.MediaRecord(0L, "x",
        goodWav.take(i), 0, 0))
      val flip = goodWav.clone(); flip(i) = (flip(i) ^ 0xff).toByte
      Multimodal.wavDataBody(flip)
      Multimodal.decode(Multimodal.MediaRecord(0L, "x", flip, 0, 0))
      ()
    }
    // structured fuzz: a correct RIFF/WAVE magic followed by garbage
    // chunks must still reject (truncated declared lengths)
    val riffGen = Gen.listOfN(24, byteGen).map { tail =>
      "RIFF".getBytes ++ Array[Byte](1, 0, 0, 0) ++
        "WAVE".getBytes ++ tail.toArray
    }
    samples(riffGen, 200).foreach { b =>
      val r = Multimodal.wavDataBody(b)
      // absent a well-formed PCM fmt + fully-contained data chunk the
      // walk must return None; if it parsed, the body must be real bytes
      r.foreach(body => assert(body.length <= b.length - 20))
    }
    // envHash31 is total on arbitrary PCM buffers (empty included) and
    // stays within 31 bits
    val pcmGen = Gen.chooseNum(0, 700)
      .flatMap(n => Gen.listOfN(n, byteGen).map(_.toArray))
    samples(pcmGen, 200).foreach { s =>
      val h = Multimodal.envHash31(s)
      assert((h & ~((1L << 31) - 1)) == 0L,
        s"envelope hash must pack into 31 bits: $h")
      assert(h == Multimodal.envHash31(s), "determinism")
      // prefix alignment: a single appended sample flips at most the
      // boundary window's two gradient bits
      if (s.length < 512) {
        val hm = java.lang.Long.bitCount(
          h ^ Multimodal.envHash31(s :+ 42.toByte))
        assert(hm <= 2, s"append flipped $hm bits at len ${s.length}")
      }
    }
  }

  test("two-level law: coarse=k assignment == flat on random corpora") {
    import spark.implicits._
    // random float frames across dims/k/sizes: the coarse=k configuration
    // must reproduce the flat argmin EXACTLY on any input (the d22
    // oracle's premise, here stressed beyond the fixture) — including
    // duplicate vectors (coarse-group merges) and argmin ties
    val vecGen = for {
      dims <- Gen.chooseNum(2, 6)
      n <- Gen.chooseNum(5, 40)
      rows <- Gen.listOfN(n * dims,
        Gen.chooseNum(-8, 8).map(_.toFloat / 4.0f))
    } yield (dims, rows.grouped(dims).map(_.toArray).toSeq)
    samples(vecGen, 6).zipWithIndex.foreach { case ((_, vecs), i) =>
      val emb = vecs.zipWithIndex
        .map { case (v, id) => (id.toLong, v) }
        .toDF("vec_id", "embedding")
      val k = math.min(1 + i, vecs.size)
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val flat = toMap(ops.Clustering.kmeansAssign(emb, k, 2))
      val two = toMap(ops.Clustering.kmeansAssignScalable(emb, k, 2,
        trainCap = Long.MaxValue, maxModelCentroids = 0,
        coarseCentroids = k))
      assert(two == flat, s"sample $i (k=$k): two-level != flat")
    }
    graft.ops.Memo.clearAll()
  }

  test("PPJoin law: prefix-filtered jaccard == direct join on skewed random corpora") {
    import spark.implicits._
    // tiny vocabulary + a stopword injected into most docs => hot shingles,
    // the regime the fixed test corpus never exercises
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = for {
      n <- Gen.chooseNum(6, 14)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
      hot <- Gen.chooseNum(0, 2)
    } yield (List.fill(hot)("the") ++ ws).mkString(" ")
    (0 until 3).foreach { round =>
      val texts = samples(Gen.listOfN(40, docGen), 1).head
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val direct = ops.Dedup.jaccardPairsDirect(df, 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val prefix = ops.Dedup.jaccardPairs(df, 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(prefix == direct, s"round $round: $prefix vs $direct")
    }
  }
}
