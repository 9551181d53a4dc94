package graft

import org.apache.spark.sql.functions._

/** SQL function surface: native Generator + vector expressions usable from
  * spark.sql after registration. */
class FunctionsSpec extends GraftSuite {

  test("tokenCharClass matches a string iff tokenize emits a token") {
    import graft.functions.Text
    val re = Text.tokenCharClass.r
    // boundary-only, ASCII, CJK (run + lone + range endpoints), the two
    // non-ASCII simple-lowercase preimages, and the classic
    // lowercase-outside-[a-z] boundary chars
    val cases = Seq("", "!!! ??? ...", ";;;   ;;;", "abc", "  a  ", "A9",
      "中", "。中。", "中文", "a中b", "㐀", "鿿", "぀",
      "ヿ", "가", "힯", "豈", "﫿",
      "K", "xKy", "İ", "À", "Ω", "Ａ", "ſ", "Å",
      "١٢", "κ")
    cases.foreach { s =>
      assert(Text.tokenize(s).nonEmpty == re.findFirstIn(s).isDefined,
        s"tokenCharClass and tokenize disagree on '$s'")
    }
  }

  test("kwsplit Generator works in SQL via LATERAL VIEW") {
    functions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "documents").createOrReplaceTempView("docs_v")
    val got = spark.sql(
      """SELECT doc_id, kw.keyword, kw.kw_len
        |FROM docs_v LATERAL VIEW kwsplit(text) kw AS keyword, kw_len
        |WHERE doc_id < 10""".stripMargin)
    assert(got.count() > 0)
    // per-row dedup like the reference's HashSet (KwSplit.java:16-19)
    val dups = got.groupBy("doc_id", "keyword").count()
      .where(col("count") > 1).count()
    assert(dups == 0)
    // lengths consistent
    assert(got.where(length(col("keyword")) =!= col("kw_len")).count() == 0)
    // same keyword set as the UDF+explode path
    val viaUdf = Tables.load(spark, sf, "documents").where(col("doc_id") < 10)
      .select(col("doc_id"), explode(array_distinct(
        functions.Text.tokenizeUdf(col("text")))).as("keyword"))
    assert(got.select("doc_id", "keyword").except(viaUdf).count() == 0)
    assert(viaUdf.except(got.select("doc_id", "keyword")).count() == 0)
  }

  test("NFC expression + normalizeText: planted NFD, control, whitespace") {
    import spark.implicits._
    // fixture chars built programmatically so the source file stays clean
    // ASCII: NUL/VT/FF are stripped to spaces, U+0301 composes, U+00E9 is
    // the precomposed e-acute
    val nul = 0.toChar; val vt = 11.toChar; val ff = 12.toChar
    val acute = 0x0301.toChar; val eAcute = 0xE9.toChar
    val docs = Seq(
      // NFD e + combining acute must compose to precomposed e-acute
      (1L, s"cafe$acute crema"),
      // controls become spaces, whitespace runs collapse, ends trim
      (2L, s"  a${nul}b\tc$vt${ff}d  \r\n e  "),
      // pure ASCII already clean: fast path, changed=false
      (3L, "plain ascii text"),
      // already-NFC non-ASCII: isNormalized probe, no change
      (4L, s"caf$eAcute"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = ops.TextAnalysis.normalizeText(docs)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == s"caf$eAcute crema", s"NFD not composed: ${got(1L)}")
    assert(got(2L) == "a b c d e", s"control/ws not cleaned: '${got(2L)}'")
    assert(got(3L) == "plain ascii text")
    assert(got(4L) == s"caf$eAcute")
    assert(got(5L) == null)
    val flags = ops.TextAnalysis.normalizeText(docs)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) null else Boolean.box(r.getBoolean(4)))).toMap
    assert(flags(1L) == Boolean.box(true))
    assert(flags(3L) == Boolean.box(false))
    assert(flags(4L) == Boolean.box(false))
    // counts are code points: NFD raw is one longer than the composed form
    val counts = ops.TextAnalysis.normalizeText(docs)
      .where(col("doc_id") === 1L)
      .select("n_chars_raw", "n_chars_clean").collect()(0)
    assert(counts.getLong(0) == 11L && counts.getLong(1) == 10L)
  }

  test("CJK-aware tokenizer: bigrams for CJK runs, words for Latin, stable mix") {
    import functions.Text.tokenize
    // pure Latin identical to lowercase [^a-z0-9]+ split
    val latin = "Hello, World-2024 test"
    assert(tokenize(latin).toSeq ==
      latin.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
    // zh run -> overlapping character bigrams (CJKAnalyzer shape)
    assert(tokenize("中文分词测试").toSeq ==
      Seq("中文", "文分", "分词", "词测", "测试"))
    // mixed Latin + CJK: boundaries split runs
    assert(tokenize("Spark大数据处理123").toSeq ==
      Seq("spark", "大数", "数据", "据处", "处理", "123"))
    // a lone CJK char between boundaries is kept as itself
    assert(tokenize("我 like 语").toSeq == Seq("我", "like", "语"))
    // kana + hangul are segmented, not dropped
    assert(tokenize("テスト 테스트").toSeq ==
      Seq("テス", "スト", "테스", "스트"))
    assert(tokenize(null).isEmpty && tokenize("!!!").isEmpty)
  }

  test("tokenizeWithOffsets: tokens identical to tokenize, spans index " +
      "the original string, CJK bigrams overlap by one char") {
    import functions.Text.{tokenize, tokenizeWithOffsets}
    val cases = Seq(
      "Hello, World-2024 test", "  leading and trailing  ",
      "one", "", "!!!", "a", "9",
      "Spark大数据处理123", "我 like 语", "中文分词测试",
      "MiXeD CaSe RUNS42x", "tab\there\nnewline")
    cases.foreach { s =>
      val ts = tokenizeWithOffsets(s)
      assert(ts.map(_.tok).toSeq == tokenize(s).toSeq,
        s"token parity on '$s'")
      ts.foreach { t =>
        assert(t.cs >= 0 && t.ce <= s.length && t.cs < t.ce,
          s"bounds on '$s': $t")
        // PER-CHAR simple lowercase, not String.toLowerCase: the U+0130
        // string mapping expands to two chars; the simple mapping is the
        // tokenizer's (and DuckDB lower()'s) 1:1 contract
        assert(s.substring(t.cs, t.ce).map(Character.toLowerCase) == t.tok,
          s"span must spell the token on '$s': $t")
      }
      // spans are non-decreasing in start (Latin disjoint; CJK bigrams
      // overlap by exactly one char)
      ts.sliding(2).foreach {
        case Array(a, b) => assert(a.cs <= b.cs, s"order on '$s'")
        case _           =>
      }
    }
    assert(tokenizeWithOffsets(null).isEmpty)
    // the overlap contract, explicitly: consecutive CJK bigram spans
    // share one char
    val cjk = tokenizeWithOffsets("中文分词")
    assert(cjk.map(t => (t.tok, t.cs, t.ce)).toSeq ==
      Seq(("中文", 0, 2), ("文分", 1, 3), ("分词", 2, 4)))
    // the simple-lowercase contract (DuckDB parity, verified against
    // DuckDB empirically): lower() maps U+212A KELVIN SIGN -> 'k' and
    // U+0130 'I-dot' -> 'i' (ONE char each) BEFORE the [a-z0-9]+ split,
    // so both are TOKEN chars in both engines -- these are the only two
    // non-ASCII chars whose simple lowercase lands in [a-z]
    assert(tokenize("3K run").toSeq == Seq("3k", "run"),
      "KELVIN SIGN folds to 'k' and joins the run, as in DuckDB lower()")
    assert(tokenize("İstanbul").toSeq == Seq("istanbul"),
      "dotted I folds to simple 'i' (1:1), as in DuckDB lower()")
    assert(tokenizeWithOffsets("3K run")
      .map(t => (t.tok, t.cs, t.ce)).toSeq ==
      Seq(("3k", 0, 2), ("run", 3, 6)))
    assert(tokenizeWithOffsets("İstanbul")
      .map(t => (t.tok, t.cs, t.ce)).toSeq == Seq(("istanbul", 0, 8)))
    // chars whose lowercase stays OUTSIDE [a-z] remain boundaries in
    // both engines (À->à, long s ſ, Ω->ω, Å->å, fullwidth Ａ)
    assert(tokenize("aÀb aſb aΩb aÅb aＡb").toSeq ==
      Seq("a", "b", "a", "b", "a", "b", "a", "b", "a", "b"))
  }

  test("foldAccents: DuckDB strip_accents semantics — precomposed and " +
      "combining forms fold alike, non-decomposables pass through") {
    import functions.Text.{foldAccents, tokenize, tokenizeWithOffsets}
    // precomposed (NFC) and combining (NFD) renderings of the same word
    // fold to the same ASCII — the seg1-style inline fixture
    assert(foldAccents("café") == "cafe")
    assert(foldAccents("café") == "cafe") // e + COMBINING ACUTE
    assert(foldAccents("naïve über señor") == "naive uber senor")
    assert(foldAccents("Ångström") == "Angstrom")
    // singleton decompositions fold (İ→I, KELVIN→K); chars with NO
    // canonical decomposition pass through — diacritic removal, not
    // transliteration (all verified == DuckDB strip_accents)
    assert(foldAccents("İstanbul 3K") == "Istanbul 3K")
    assert(foldAccents("ß ø ﬁ Ａ") == "ß ø ﬁ Ａ")
    // Hangul survives the NFD round-trip PRECOMPOSED (NFC recompose),
    // so folded CJK text stays inside the tokenizer's ranges; CJK and
    // kana are untouched
    assert(foldAccents("한국어 中文 かな") == "한국어 中文 かな")
    assert(tokenize(foldAccents("한국어")).toSeq == Seq("한국", "국어"))
    assert(foldAccents(null) == null && foldAccents("") == "")
    // the law t21 gates corpus-wide: folding an accented rendering
    // recovers the unaccented tokenization; unfolded, every diacritic
    // splits the word
    val accented = "Crème brûlée für die Straße"
    assert(tokenize(foldAccents(accented)).toSeq ==
      Seq("creme", "brulee", "fur", "die", "stra", "e"))
    assert(tokenize(accented).toSeq ==
      Seq("cr", "me", "br", "l", "e", "f", "r", "die", "stra", "e"))
    // folded-path span semantics (pinned): offsets index the FOLDED
    // string; precomposed-only input folds 1:1 per char, so spans
    // transfer to the original unchanged — combining sequences shorten
    // the string and spans index the folded form only
    val pre = "café au lait"   // precomposed: same length after fold
    val folded = foldAccents(pre)
    assert(folded.length == pre.length)
    assert(tokenizeWithOffsets(folded).map(t => (t.tok, t.cs, t.ce)).toSeq
      == Seq(("cafe", 0, 4), ("au", 5, 7), ("lait", 8, 12)))
    val comb = "café au lait" // combining: fold shortens by one
    val foldedC = foldAccents(comb)
    assert(foldedC.length == comb.length - 1)
    assert(tokenizeWithOffsets(foldedC).map(t => (t.tok, t.cs, t.ce)).toSeq
      == Seq(("cafe", 0, 4), ("au", 5, 7), ("lait", 8, 12)))
  }

  test("vec_dot and vec_norm usable from SQL") {
    functions.GraftFunctions.register(spark)
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_v")
    val r = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS dd,
        |       vec_norm(embedding) AS n
        |FROM emb_v LIMIT 20""".stripMargin).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val dd = row.getDouble(1); val n = row.getDouble(2)
      assert(math.abs(math.sqrt(dd) - n) < 1e-9)
    }
  }

  test("zvalue SQL function equals the Column form and the bit loop") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val pairs = (0 until 300).map(i =>
      ((i * 2654435761L) % 100000, (i * 40503L + 7) % 100000))
      .toDF("x", "y")
    val rows = pairs
      .selectExpr("x", "y", "zvalue(x, y) AS zs")
      .withColumn("zc", graft.ops.Layout.zValue(col("x"), col("y")))
      .collect()
    rows.foreach { r =>
      val (x, y, zs, zc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(zs == zc && zs ==
        graft.ops.Layout.zValueRef(x & 65535L, y & 65535L), s"($x, $y)")
    }
  }

  test("dictionary FMM segmentation: longest match wins, bigram fallback for OOV") {
    import graft.functions.DictSegment
    val dict = DictSegment.buildDict(
      Seq("\u4e2d\u56fd", "\u4eba\u6c11", "\u4e2d\u56fd\u4eba\u6c11", "\u94f6\u884c"))
    // "zhongguo renmin yinhang chengli le": FMM takes the 4-char compound,
    // then the bank word, then bigrams the uncovered tail
    val got = DictSegment.segment(dict,
      "\u4e2d\u56fd\u4eba\u6c11\u94f6\u884c\u6210\u7acb\u4e86").toSeq
    assert(got == Seq("\u4e2d\u56fd\u4eba\u6c11", "\u94f6\u884c",
      "\u6210\u7acb", "\u7acb\u4e86"))
    // single uncovered char between matches emits as itself
    val single = DictSegment.segment(dict,
      "\u4e2d\u56fd\u4e4b\u94f6\u884c").toSeq
    assert(single == Seq("\u4e2d\u56fd", "\u4e4b", "\u94f6\u884c"))
    // mixed script: latin runs tokenize as words around the CJK segments
    val mixed = DictSegment.segment(dict, "Abc\u4e2d\u56fddef123").toSeq
    assert(mixed == Seq("abc", "\u4e2d\u56fd", "def123"))
  }

  test("dictionary segmentation with an empty dict equals the dictionary-free tokenizer") {
    import graft.functions.{DictSegment, Text}
    val empty = DictSegment.buildDict(Nil)
    val samples = Seq(
      "hello world 42", "\u4e2d\u56fd\u4eba\u6c11\u94f6\u884c",
      "a\u4e2db\u56fdc", "\u4e2d", "", "Latin only text",
      "\u30ab\u30bf\u30ab\u30ca\u8a9e \ud55c\uad6d\uc5b4!")
    samples.foreach { s =>
      assert(DictSegment.segment(empty, s).toSeq == Text.tokenize(s).toSeq,
        s"empty-dict parity on: " + s)
    }
  }

  test("NearestCentroid bounds short vectors: only present dims contribute") {
    import graft.functions.VecExpressions
    import spark.implicits._
    val cents = Seq((0, Seq(0.0, 0.0, 10.0)), (1, Seq(5.0, 5.0, 0.0)))
    // vector shorter than the 3-dim centroids: distance must sum only the
    // 2 present dims (c0: 0+0=0 vs c1: 25+25=50 -> cluster 0), never read
    // past numElements
    val df = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(5.0f, 5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        VecExpressions.nearestCentroid(col("embedding"), cents).as("c"))
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1))
    // interpreted path agrees with codegen
    val expr = graft.functions.NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.0f, 0.0f),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      cents.flatMap(_._2).toArray, cents.map(_._1).toArray, 3)
    assert(expr.eval(null) == 0)
  }

  test("SignBitsPack equals the reference sigsUdf bit for bit") {
    import graft.functions.Vectors
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    for ((bits, tables) <- Seq((5, 12), (12, 4), (20, 8))) {
      val fast = emb.select(col("vec_id"),
        Vectors.sigsFast(col("embedding"), 64, bits, tables).as("s"))
      val slow = emb.select(col("vec_id"),
        Vectors.sigsUdf(64, bits, tables)(col("embedding")).as("s"))
      val mism = fast.toDF("vec_id", "a").join(slow.toDF("vec_id", "b"), "vec_id")
        .where(col("a") =!= col("b")).count()
      assert(mism == 0, s"bits=$bits tables=$tables: $mism mismatching rows")
    }
    // short vector: only present dims project, like the UDF's min bound
    val short = Seq((1L, Array(0.5f, -0.25f))).toDF("vec_id", "embedding")
    val f = short.select(Vectors.sigsFast(col("embedding"), 64, 6, 3).as("s"))
      .head.getSeq[Long](0)
    val u = short.select(Vectors.sigsUdf(64, 6, 3)(col("embedding")).as("s"))
      .head.getSeq[Long](0)
    assert(f == u)
  }

  test("dictionary loads from a DataFrame and segments via the broadcast UDF") {
    import graft.functions.DictSegment
    import spark.implicits._
    val words = Seq("\u4e2d\u56fd", "\u94f6\u884c").toDF("word")
    val dict = DictSegment.fromFrame(words, "word")
    assert(dict.size == 2 && dict.contains("\u4e2d\u56fd"))
    val df = Seq((1L, "\u4e2d\u56fd\u94f6\u884c")).toDF("id", "text")
    val segged = df.select(org.apache.spark.sql.functions.explode(
      DictSegment.segmentUdf(spark, dict)(org.apache.spark.sql.functions.col("text"))).as("kw"))
      .collect().map(_.getString(0)).toSeq
    assert(segged == Seq("\u4e2d\u56fd", "\u94f6\u884c"))
  }
}
