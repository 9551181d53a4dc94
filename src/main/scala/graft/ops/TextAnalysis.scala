package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis ops for a large-scale training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All narrow
  * (per-row) transforms — they scale linearly and stay in whole-stage
  * codegen except the tokenizer UDF.
  */
object TextAnalysis {

  private val tokens: Column = graft.functions.Text.tokenizeUdf(col("text"))

  /** Token-count statistics per document: whitespace tokens, alnum tokens
    * (BPE-ish regex pre-tokenization), and character count. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(split(col("text"), "\\s+")).as("n_ws_tokens"),
      size(tokens).as("n_alnum_tokens"),
      length(col("text")).as("n_chars_actual"),
      col("n_chars"))

  /** T21 — accent-folded tokenization (the multilingual-Latin close):
    * per doc, token counts of an accented rendering of the text under
    * (a) the FOLDED path — `Text.foldAccents` (DuckDB `strip_accents`
    * semantics) then tokenize — and (b) the raw path, where every
    * diacritic-bearing char is a token boundary. The accented rendering
    * is a deterministic per-char vowel→accented-vowel translate of the
    * corpus text (the sf tables are ASCII; the translate plants exactly
    * the é/ü-class chars the fold must recover, and BOTH engines derive
    * it from the same rows, so the gate stays a hash compare). The
    * folded leg recovers the original tokenization exactly — the law a
    * diacritic-bearing corpus needs for shingles/dedup/DSIR to see
    * "café" and "cafe" as one word; the raw leg measures the
    * degradation (one split per planted vowel). */
  def accentFoldedTokenStats(documents: DataFrame): DataFrame = {
    val accented = translate(col("text"), "aeiouAEIOU", "áè" +
      "îöúÀÉÎÖÜ")
    val folded = graft.functions.Text.tokenizeUdf(
      graft.functions.Text.foldAccentsUdf(accented))
    val raw = graft.functions.Text.tokenizeUdf(accented)
    documents.select(
      col("doc_id"),
      size(folded).as("n_tok_folded"),
      size(raw).as("n_tok_raw"),
      coalesce(element_at(folded, 1), lit("")).as("head_tok"))
  }

  /** Quality scoring: integer counts only (stopword hits, punctuation,
    * digits, distinct words) so the oracle comparison is exact; a composite
    * score would just be arithmetic over these. */
  def qualityStats(documents: DataFrame, stopwords: Seq[String]): DataFrame = {
    val toks = split(col("text"), " ")
    documents.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
        .as("n_stopwords"),
      size(array_distinct(toks)).as("n_distinct"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;]", "")))
        .cast("int").as("n_punct"),
      (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
        .cast("int").as("n_digits"))
  }

  /** Gopher-style composition quality rules (the Rae et al. 2021 filter
    * shape, restated over this corpus's space-separated text): per-doc
    * word count, mean word length, stopword hits, and the fraction of the
    * single most common word, plus the keep flag under the classic
    * thresholds (word count in range, mean word length in [3,10], top
    * word below a dominance cap, >= 2 stopword hits). All declarative
    * array ops — narrow, no shuffle, no UDF; the most-common-word count
    * is the longest equal run in the SORTED token array — one
    * O(n log n) sort plus one linear `aggregate` pass per row (the naive
    * distinct-x-scan form is quadratic and melts on a 100k-word doc).
    * Ratios stay DOUBLE (plain division — deterministic both sides); the
    * keep flag is cast to INT so the oracle hash is
    * representation-stable. */
  def gopherQuality(documents: DataFrame,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to"),
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxTopWordFrac: Double = 0.1, minStopwordHits: Int = 2): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks)
    val meanLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
      .cast("double") / nWords
    val nStop = size(filter(toks,
      t => t.isin(stopwords.map(lit(_)): _*)))
    // longest equal run over the sorted tokens == max word multiplicity;
    // state = (prev token, current run, best run). Init prev = "" is safe:
    // run starts at 0, so a leading "" token still counts to 1.
    val topCnt = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topFrac = topCnt.cast("double") / nWords
    documents.select(
      col("doc_id"),
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      nStop.as("n_stopwords"),
      topFrac.as("top_word_frac"),
      (nWords.between(minWords, maxWords) &&
        meanLen.between(minMeanLen, maxMeanLen) &&
        topFrac <= maxTopWordFrac &&
        nStop >= minStopwordHits).cast("int").as("keep"))
  }

  /** Per-document Shannon entropy of the word distribution (nats) —
    * the lexical-diversity score a quality filter ranks on (low entropy =
    * repetitive/templated text): H = ln(n) - (1/n) * sum_w c_w ln c_w.
    *
    * Same linear shape as [[gopherQuality]]'s top-word scan: ONE pass
    * over the sorted token array closing c*ln(c) per equal-run — narrow,
    * no shuffle, no UDF, O(n log n) per row for the sort. A run opens
    * when the previous run length is 0 (first token, including a literal
    * "" token) or the token changes. */
  def unigramEntropy(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val res = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0.0).as("acc"), lit(0).as("nd")),
      (acc, t) => {
        val isNew = (acc.getField("run") === 0L) ||
          (t =!= acc.getField("prev"))
        val run = when(isNew, lit(1L)).otherwise(acc.getField("run") + 1L)
        val closed = when(isNew && acc.getField("run") > 0L,
          acc.getField("acc") + acc.getField("run").cast("double") *
            log(acc.getField("run").cast("double")))
          .otherwise(acc.getField("acc"))
        struct(t.as("prev"), run.as("run"), closed.as("acc"),
          when(isNew, acc.getField("nd") + 1).otherwise(acc.getField("nd"))
            .as("nd"))
      },
      acc => struct(
        (when(acc.getField("run") > 0L,
          acc.getField("acc") + acc.getField("run").cast("double") *
            log(acc.getField("run").cast("double")))
          .otherwise(acc.getField("acc"))).as("sumclnc"),
        acc.getField("nd").as("nd")))
    documents
      .select(col("doc_id"), n.as("n_words"), res.as("a"))
      .select(col("doc_id"), col("n_words"),
        col("a.nd").as("n_distinct"),
        (log(col("n_words").cast("double")) -
          col("a.sumclnc") / col("n_words")).as("entropy"))
  }

  /** Language ID via marker-token voting — a deterministic n-gram/stopword
    * heuristic. Picks the language whose marker set hits the document most;
    * ties and zero-hits fall back to 'en'. Declarative (no UDF): one
    * aggregate over the exploded marker hits would shuffle, so instead the
    * per-language hit counts are computed as array intersections per row.
    */
  def languageId(documents: DataFrame): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "a"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "es" -> Seq("el", "los", "que", "y", "una"),
      "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))
    val toks = array_distinct(split(lower(col("text")), " "))
    val hitCols = markers.map { case (lang, ms) =>
      size(array_intersect(toks, array(ms.map(lit(_)): _*))).as(s"hits_$lang")
    }
    val best = markers.foldLeft(
        (lit("en"), lit(0))) { case ((bl, bh), (lang, _)) =>
      val h = col(s"hits_$lang")
      (when(h > bh, lit(lang)).otherwise(bl), greatest(h, bh))
    }._1
    documents.select(col("doc_id") +: col("lang").as("lang_true") +: hitCols: _*)
      .withColumn("lang_pred", best)
      .select("doc_id", "lang_true", "lang_pred")
  }

  /** Tokenizer fertility per predicted language — the multilingual-budget
    * report a tokenizer choice is judged by: subtokens per word
    * (`fertility`; a tokenizer that fragments one language trains that
    * language on fewer effective tokens per byte) and characters per
    * subtoken (compression). Composes two verified components: the t3
    * marker-vote [[languageId]] and the t18 fixed-merge-table BPE encoder
    * ([[Bpe.encodeUdf]]); word/char counts use the ENCODER's own split
    * (`[^a-z0-9]+` on lowered text), so fertility is exactly
    * |encode(doc)| / |words(doc)|. Zero-word docs are excluded (they have
    * no fertility). `langCol` chooses the grouping language — the corpus
    * tag by default; at crawl scale, where no trusted tag exists, join
    * [[languageId]]'s `lang_pred` in first and group on that (the
    * synthetic corpus's text is English-templated for every tag, so the
    * marker vote degenerates to one group there).
    *
    * Scale shape: one narrow pass computes per-doc (n_sub, n_words,
    * n_chars) in-row (the encoder memoizes per distinct word); the only
    * shuffle is the final |langs|-row aggregate. Ratios are two exact
    * longs divided once and rounded 6dp — engine-portable. */
  def tokenizerFertility(documents: DataFrame,
      merges: Seq[(String, String)], langCol: String = "lang"): DataFrame = {
    val spark = documents.sparkSession
    val enc = graft.ops.Bpe.encodeUdf(spark, merges)
    val words = filter(split(lower(col("text")), "[^a-z0-9]+"),
      w => length(w) > 0)
    documents
      .select(col(langCol), size(enc(col("text"))).cast("long").as("n_sub"),
        words.as("ws"))
      .select(col(langCol), col("n_sub"),
        size(col("ws")).cast("long").as("n_words"),
        aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (a, b) => a + b).as("n_chars"))
      .where(col("n_words") > 0)
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_sub")).as("ss"),
        sum(col("n_words")).as("sw"), sum(col("n_chars")).as("sc"))
      .select(col(langCol), col("n_docs"),
        round(col("ss").cast("double") / col("sw"), 6).as("fertility"),
        round(col("sc").cast("double") / col("ss"), 6)
          .as("chars_per_token"))
  }

  /** Char-trigram language-model quality score: phase 1 aggregates corpus
    * trigram frequencies (one groupBy), phase 2 scores each doc by the mean
    * add-one-smoothed log-probability of its trigrams. The corpus is
    * exploded ONCE into per-doc trigram counts and the result
    * `localCheckpoint`ed — both the corpus stats and the scoring pass read
    * that materialized frame, so no double explode and nothing stays pinned
    * after the query's plan is released. The stats side is small (bounded
    * by |alphabet|^3) => broadcast join; at 100 TB the stats come from a
    * sample and the scoring pass stays a single narrow join. Declarative
    * trigram extraction (substr over a sequence), no UDF. The per-doc mean
    * is the count-weighted sum ÷ total — identical to the per-instance avg,
    * over the far smaller (doc, tri, c) frame.
    */
  /** Shared substrate of the trigram family (t6 LM score, t8 repetition):
    * per-doc char-trigram counts computed IN ROW — one UDF pass builds the
    * (trigram, count) pairs as two parallel arrays, because per-doc counts
    * are a per-row property and never needed a shuffle. Memoized so every
    * trigram query reads one pass (same discipline as the dedup shingle
    * substrate), and checkpointed as a barrier when it cannot memoize.
    * Docs shorter than one trigram drop out, matching the old
    * explode-based substrate. */
  private def docTriArrays(documents: DataFrame): DataFrame = {
    val cnt = udf { (text: String) =>
      val s = Option(text).getOrElse("")
        .toLowerCase(java.util.Locale.ROOT)
      val m = new java.util.LinkedHashMap[String, Long]()
      var i = 0
      while (i + 3 <= s.length) {
        m.merge(s.substring(i, i + 3), 1L, (a, b) => a + b)
        i += 1
      }
      val ts = new Array[String](m.size)
      val cs = new Array[Long](m.size)
      var j = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next(); ts(j) = e.getKey; cs(j) = e.getValue; j += 1
      }
      (ts, cs)
    }
    Memo.substrate("trigrams", documents, materialize = true) {
      documents
        .select(col("doc_id"), cnt(col("text")).as("tc"))
        .select(col("doc_id"), col("tc._1").as("ts"), col("tc._2").as("cs"))
        .where(size(col("ts")) > 0)
    }
  }

  /** Shared scoring pass of the trigram-LM family: mean add-one-smoothed
    * log-probability of each doc's trigrams under a (tri, tf) stats frame.
    *
    * Two plans, picked by a size PROBE (`limit(bound+1).collect()` — one
    * action; if the stats fit the bound the probe IS the full collect):
    *  - stats within `maxDriverTf` rows (true for any lowercased-ASCII
    *    corpus, |charset|^3 ~ 50k): driver map + broadcast, scoring is a
    *    narrow UDF pass — no join, no final shuffle.
    *  - stats above the bound (CJK corpora: ~20k^3 trigram space — the
    *    driver map would be GB-scale): explode the per-doc substrate and
    *    LEFT-join the stats frame, then one groupBy(doc_id) — two
    *    shuffles, nothing driver-resident. Unseen trigrams coalesce to
    *    tf=0, matching the map path's getOrElse. */
  private def lmScoreAgainst(sub: DataFrame, statsRaw: DataFrame,
      outCol: String, maxDriverTf: Int): DataFrame = {
    // materialize the stats aggregation ONCE: the probe, the totals agg,
    // and the fallback join all read it, and Catalyst does not dedup
    // common subplans — without this the full corpus tokenize+aggregate
    // subtree would run three times on the (by definition largest) slow
    // path
    val stats = statsRaw.localCheckpoint()
    val probe = stats.limit(maxDriverTf + 1).collect()
    if (probe.length <= maxDriverTf) {
      val tf: Map[String, Long] =
        probe.map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = tf.values.sum
      val vocab = tf.size
      val bc = sub.sparkSession.sparkContext.broadcast(tf)
      val denom = (total + vocab).toDouble
      val score = udf { (ts: Seq[String], cs: Seq[Long]) =>
        val m = bc.value
        var num = 0.0
        var n = 0L
        var i = 0
        while (i < ts.length) {
          num += cs(i) * math.log((m.getOrElse(ts(i), 0L) + 1).toDouble / denom)
          n += cs(i)
          i += 1
        }
        (num / n, n)
      }
      sub.select(col("doc_id"), score(col("ts"), col("cs")).as("r"))
        .select(col("doc_id"), col("r._1").as(outCol),
          col("r._2").as("n_trigrams"))
    } else {
      val tot = stats.agg(sum(col("tf")), count(lit(1))).head()
      val denom = (tot.getLong(0) + tot.getLong(1)).toDouble
      sub.select(col("doc_id"),
          explode(arrays_zip(col("ts"), col("cs"))).as("z"))
        .select(col("doc_id"), col("z.ts").as("tri"), col("z.cs").as("c"))
        .join(stats, Seq("tri"), "left")
        .groupBy("doc_id")
        .agg(
          (sum(col("c") *
            log((coalesce(col("tf"), lit(0L)) + 1).cast("double") / denom))
            / sum(col("c"))).as(outCol),
          sum(col("c")).as("n_trigrams"))
        .select(col("doc_id"), col(outCol), col("n_trigrams"))
    }
  }

  def trigramLmScore(documents: DataFrame,
      maxDriverTf: Int = 5000000): DataFrame = {
    val sub = docTriArrays(documents)
    // global trigram frequencies: explode the pre-counted per-doc pairs
    // (map-side partial agg shrinks every partition to the trigram
    // vocabulary before one small shuffle).
    val stats = sub
      .select(explode(arrays_zip(col("ts"), col("cs"))).as("z"))
      .groupBy(col("z.ts").as("tri"))
      .agg(sum(col("z.cs")).as("tf"))
    lmScoreAgainst(sub, stats, "lm_score", maxDriverTf)
  }

  /** Cross-corpus perplexity filter (the CCNet / LLaMA-data shape): train a
    * char-trigram LM on a trusted reference stratum (here `lang = refLang`),
    * then score EVERY document by its mean add-one-smoothed log-probability
    * under that reference model. Unlike `trigramLmScore` (self-scored), the
    * stats side is a filtered subset — the standard quality-filter setup
    * where Wikipedia-like text defines "good" and the whole crawl is ranked
    * against it. Shares the memoized per-doc trigram substrate with
    * t6/t8 (one pass builds it, every trigram query reuses it); the
    * reference stats stay bounded by |alphabet|^3 so they collect and
    * broadcast, leaving scoring a narrow pass with no join and no final
    * shuffle. At 100 TB the reference stratum is sampled for stats and the
    * scoring pass is unchanged. */
  def crossPerplexity(documents: DataFrame, refLang: String = "en",
      maxDriverTf: Int = 5000000): DataFrame = {
    val sub = docTriArrays(documents)
    val refIds = documents.filter(col("lang") === refLang).select("doc_id")
    val stats = sub
      .join(refIds, Seq("doc_id"), "left_semi")
      .select(explode(arrays_zip(col("ts"), col("cs"))).as("z"))
      .groupBy(col("z.ts").as("tri"))
      .agg(sum(col("z.cs")).as("tf"))
    lmScoreAgainst(sub, stats, "xlm_score", maxDriverTf)
  }

  /** PII indicator counts per document — the scrubbing pre-pass of a
    * training-data pipeline (counts feed filtering/redaction policy).
    * Patterns stay in the RE2-compatible subset so the DuckDB oracle uses
    * the same regexes verbatim. Narrow, codegen, no shuffle. */
  def piiStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit("https?://[^ ]+"), lit(0)))
        .as("n_urls"),
      size(regexp_extract_all(col("text"),
        lit("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
        lit(0))).as("n_ips"),
      size(regexp_extract_all(col("text"), lit("\\b[0-9]{7,}\\b"), lit(0)))
        .as("n_long_numbers"))

  /** PII redaction — the actionable counterpart of `piiStats`: emails,
    * URLs, and IPs are replaced by typed placeholder tokens (the usual
    * pre-training scrub). Order matters (emails before URLs before IPs so
    * narrower patterns never split a wider match); same RE2-safe regexes
    * as the stats pass. Narrow, codegen. */
  def redactPii(documents: DataFrame): DataFrame = {
    val noEmail = regexp_replace(col("text"),
      "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>")
    val noUrl = regexp_replace(noEmail, "https?://[^ ]+", "<URL>")
    val noIp = regexp_replace(noUrl,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")
    documents.select(col("doc_id"), noIp.as("clean_text"),
      length(noIp).as("clean_len"))
  }

  /** Repetition / diversity quality signals per document over char
    * trigrams: distinct-to-total ratio (trigram type-token ratio — low
    * values flag boilerplate/spam) and the count of the most repeated
    * trigram. One explode + one groupBy pair, partial-agg friendly. */
  def repetitionStats(documents: DataFrame): DataFrame =
    docTriArrays(documents)
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_distinct"),
        aggregate(col("cs"), lit(0L), (a, b) => a + b).as("n_total"),
        array_max(col("cs")).as("max_rep"))
      .withColumn("ttr", col("n_distinct") / col("n_total"))

  /** Document fingerprint, oracle-exact flavor: md5 of normalized text
    * (lowercase, non-alnum runs -> single space, trimmed). */
  /** Overlapping passage chunks for retrieval-index construction: windows
    * of `chunkTokens` whitespace tokens every `stride` tokens, with the
    * final window shortened to cover the tail (every token lands in at
    * least one chunk; consecutive chunks overlap by chunkTokens - stride).
    * Entirely narrow — tokenize, slice, explode; the chunk table is
    * written bucketed/partitioned by whatever the retrieval layer shards
    * on. */
  def passageChunks(documents: DataFrame, chunkTokens: Int = 64,
      stride: Int = 48): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, "chunkTokens/stride >= 1")
    val toks = split(col("text"), "\\s+")
    // last start covers the tail: k = 0 .. max(ceil((len-chunk)/stride),0)
    val lastK = greatest(ceil((size(toks) - chunkTokens)
      .cast("double") / stride), lit(0.0)).cast("long")
    documents
      .where(size(toks) > 0)
      .select(col("doc_id"), toks.as("toks"),
        explode(sequence(lit(0L), lastK)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)).as("w"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("w")).as("n_tok"),
        concat_ws(" ", col("w")).as("passage"))
  }

  def normalizedFingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .as("fingerprint"))

  /** Winnowing-style rolling-hash fingerprint: one hash per window of w
    * consecutive tokens, distinct-sorted — the scale path for shingle-level
    * containment detection. Single tight-loop UDF per row (tokenize +
    * rolling 64-bit polynomial hash + dedup): one pass over the text, no
    * per-window array slicing. Not SQL-expressible => rows-only + ScalaTest.
    */
  private val winnowUdf = udf { (text: String, w: Int) =>
    if (text == null) Array.empty[Long]
    else {
      val toks = text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
      val tokHash = toks.map { t =>
        var h = 1125899906842597L // FNV-ish polynomial per token
        var i = 0
        while (i < t.length) { h = 31 * h + t.charAt(i); i += 1 }
        h
      }
      val n = math.max(tokHash.length - w + 1, if (tokHash.isEmpty) 0 else 1)
      val seen = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) {
        var h = 0L
        var j = i
        val end = math.min(i + w, tokHash.length)
        while (j < end) { h = h * 1000003L + tokHash(j); j += 1 }
        seen.add(h)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      out
    }
  }

  /** Unicode text normalization — the stage every curation pipeline runs
    * FIRST, because downstream fingerprints, shingles, and token counts
    * must not distinguish é-as-e+combining-accent from precomposed é, or
    * text littered with control characters from its clean form. Three
    * steps, each engine-portable:
    *
    *  1. NFC normalization (native codegen expression, ASCII fast path —
    *     functions/TextExpressions.scala; DuckDB `nfc_normalize` agrees,
    *     both implement UAX#15).
    *  2. C0/DEL control characters (except \t \n \r) replaced by spaces —
    *     the hex class is identical in Java regex and RE2.
    *  3. Whitespace runs collapsed to one space, ends trimmed. Step 2
    *     removes \x0B/\x0C first, so the `\s+` class difference between
    *     Java (includes \x0B) and RE2 (doesn't) can never matter.
    *
    * Emits the cleaned text plus before/after char counts and a changed
    * flag — the counts feed curation reports (how much of a crawl is
    * mojibake/control noise) without rescanning.
    *
    * Scale: one narrow projection, no shuffle, no UDF boundary; the NFC
    * fast path returns the input buffer untouched for pure-ASCII rows. */
  def normalizeText(documents: DataFrame): DataFrame = {
    val nfc = graft.functions.TextExpressions.nfc(col("text"))
    val cleaned = trim(regexp_replace(regexp_replace(nfc,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", " "),
      "\\s+", " "))
    documents.select(
      col("doc_id"),
      cleaned.as("clean_text"),
      length(col("text")).cast("long").as("n_chars_raw"),
      length(cleaned).cast("long").as("n_chars_clean"),
      (col("text") =!= cleaned).as("changed"))
  }

  /** Model-based quality scoring — the fastText-classifier shape every
    * large curation pipeline runs (CCNet/RedPajama-style "quality model"
    * pass): a linear bag-of-words model over a bounded vocabulary, scored
    * as sigmoid(w·x / |doc| + bias). The "trained" weights here are a
    * deterministic function of the word (so the DuckDB oracle can rebuild
    * the identical model); swapping in real learned weights is a one-line
    * change to the `weight` expression or an external weight table.
    * The weight uses `ascii(first char)`, so the vocabulary is restricted
    * to words whose first char has code point < U+D800: Spark's `ascii`
    * yields the UTF-16 high surrogate for an astral-plane initial while
    * other engines yield the code point, and both representations are
    * >= 0xD800 — the same `< 55296` predicate therefore selects the
    * identical word set in every engine, making the weight fully
    * engine-portable (astral-initial words simply score weight 0, like
    * any other out-of-vocab word).
    *
    * Scale shape: the model is the part that must NOT scale with the
    * corpus — vocab is capped at `vocabSize` via a global
    * TakeOrderedAndProject (count desc, word asc tie-break), then
    * broadcast to the token stream, so the big side is one explode +
    * one groupBy(doc_id) with map-side combine. Per-token weights are
    * INTEGERS (−6..6) so the per-doc sum is exact — no summation-order
    * noise ahead of the single double division + sigmoid, which makes the
    * 6dp-rounded score bit-stable across engines and partitionings. */
  def modelQualityScore(documents: DataFrame, vocabSize: Int = 1000,
      bias: Double = -0.1): DataFrame =
    // Memoized like Dedup's shingle substrate: the q1 score frame is the
    // shared input of the whole curation family (q1/q2/cal1/cal2/cur1/
    // cur3/boot1/e5/e6/audit1), and it is |docs|·3 narrow columns — the
    // first caller pays the explode+vocab build, everyone after reads the
    // persisted frame.
    scoreCache.getOrBuildElse((documents.queryExecution.analyzed
      .canonicalized, vocabSize, java.lang.Double.doubleToLongBits(bias)),
      documents) {
      modelQualityScoreUncached(documents, vocabSize, bias)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(modelQualityScoreUncached(documents, vocabSize, bias))

  private val scoreCache = new SessionMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Long),
    DataFrame](Seq(_))

  private def modelQualityScoreUncached(documents: DataFrame,
      vocabSize: Int, bias: Double): DataFrame = {
    val toks = split(col("text"), " ")
    val docToks = documents
      .select(col("doc_id"), explode(toks).as("word"))
      .where(col("word") =!= "")
    // top-V vocabulary by corpus frequency, deterministic tie-break;
    // BMP-initial words only (see class doc: keeps ascii() engine-portable)
    val vocab = docToks
      .where(ascii(substring(col("word"), 1, 1)) < 55296)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(vocabSize)
      // integer pseudo-weight in [-6, 6], derivable in any SQL engine
      .select(col("word"),
        ((length(col("word")) * 31 + ascii(substring(col("word"), 1, 1))) % 13
          - 6).cast("long").as("w"))
    val perDoc = docToks
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        coalesce(sum(col("w")), lit(0L)).as("raw"))
    perDoc.select(
      col("doc_id"), col("n_toks"),
      round(lit(1.0) / (lit(1.0) +
        exp(-(col("raw") / (lit(10.0) * col("n_toks")) + lit(bias)))), 6)
        .as("score"))
  }

  /** Config-driven blocklist filter (the C4-style "bad words" gate): per
    * document, total token count, blocklist-hit count, and a keep flag
    * requiring the blocked fraction stay at or below 1/`denom` (the
    * default denom=20 is a 5% cap). The keep comparison is INTEGER
    * arithmetic (hits · denom ≤ words), so the flag is engine-portable
    * with no float thresholds.
    *
    * Scale: one explode + one groupBy with map-side partials — the
    * blocklist membership test compiles to a codegen'd `isin` over the
    * broadcast-literal list (a blocklist is config-scale; were it a
    * table, the x3 router's broadcast-join-config pattern applies
    * instead). Zero-hit documents appear with n_blocked = 0 because the
    * conditional sum runs inside the same aggregation, not a join. */
  def blocklistFilter(documents: DataFrame, blocklist: Seq[String],
      denom: Int = 20): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    require(denom >= 1, "denom must be positive")
    documents
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("word").isin(blocklist.map(x => x: Any): _*), 1L)
          .otherwise(0L)).as("n_blocked"))
      .withColumn("keep",
        col("n_blocked") * denom <= col("n_words"))
  }

  /** Quality-threshold sweep: for each candidate cutoff, the surviving
    * document count and token mass — the keep-curve a curation run reads
    * BEFORE committing to a threshold (q1 scores the docs; cal1 bins
    * them; this answers "what does cutting at 0.4 vs 0.6 actually cost
    * in tokens"). Thresholds are i/10 for i in 1..9 — exact IEEE
    * divisions of the same integers in any engine, so the `score >= thr`
    * comparisons (on the 6dp score q1 already hash-matches) are
    * engine-portable.
    *
    * Scale shape: the per-doc score frame is |docs|·3 narrow columns;
    * the 9-way threshold fan-out happens on THAT (not on tokens), and
    * the final groupBy(thr) collapses map-side to ≤ 9 rows per
    * partition. */
  def thresholdSweep(documents: DataFrame,
      nThresholds: Int = 9): DataFrame = {
    val q = modelQualityScore(documents)
    q.select(col("score"), col("n_toks"),
        explode(array((1 to nThresholds).map(i =>
          lit(i / (nThresholds + 1).toDouble)): _*)).as("thr"))
      .groupBy("thr")
      .agg(
        count(when(col("score") >= col("thr"), 1)).as("n_kept"),
        coalesce(sum(when(col("score") >= col("thr"), col("n_toks"))),
          lit(0L)).as("toks_kept"))
  }

  /** Per-source percentile calibration of the q1 quality score: `cal` is
    * each document's percent_rank WITHIN its source — the fix for the
    * classic curation bug where one global cutoff silently keeps 90% of a
    * clean source and 2% of a noisy one. A calibrated threshold ("keep
    * the top 40% of every source") composes directly with
    * [[thresholdSweep]]/`trainingCorpus`. percent_rank = (rank-1)/(n-1)
    * depends only on the 6dp score VALUES (ties share a rank), so the
    * result is deterministic under any within-tie ordering and matches
    * any SQL engine's definition bit for bit.
    *
    * Scale: ONE exchange, partitioned by source (the natural shard key —
    * each source's rank sort is independent); the score frame is
    * |docs|·3 narrow columns, never token rows. A pathologically huge
    * single source can switch to approx-quantile calibration
    * (`DataQuality` percentiles) — same output contract, bounded sort. */
  def sourceCalibratedScore(documents: DataFrame): DataFrame = {
    val q = modelQualityScore(documents)
    q.join(documents.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("cal",
        round(percent_rank().over(
          Window.partitionBy(col("source")).orderBy(col("score"))), 6))
      .select(col("doc_id"), col("source"), col("score"), col("cal"))
  }

  def winnowingFingerprint(documents: DataFrame, w: Int): DataFrame =
    documents.select(col("doc_id"),
      winnowUdf(col("text"), lit(w)).as("fp_hashes"))
      .select(col("doc_id"), size(col("fp_hashes")).as("n_fp"),
        col("fp_hashes"))
}
