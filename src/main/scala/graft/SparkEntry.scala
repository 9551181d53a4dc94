package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.apps.Apps
import graft.ops._

/** Query contract (SURVEY.md §7): one [[SparkEntry.QuerySpec]] per
  * implemented operator from SURVEY.md §2, in one ordered `registry`.
  * Each entry holds the query's name, its build function and its check:
  * an [[SparkEntry.Oracle]] with the DuckDB SQL that `tools/check.py`
  * hash-compares against (same column names — the compare sorts columns
  * by name before hashing), or [[SparkEntry.RowsOnly]] naming the
  * hash-gated twin that verifies an approximate query. `queries` and `oracleSql` are views
  * derived from the registry, in its order.
  *
  * Numeric conventions for oracle parity (the twin rule — SURVEY.md §5):
  * money/double aggregations go through exact DECIMAL(18,2) accumulation
  * then CAST to DOUBLE; integer sums in oracle SQL are CAST to BIGINT;
  * raw nanosecond timestamps never reach output.
  */
object SparkEntry {

  /** How a query's result is verified. */
  sealed trait Check
  /** Hash-gated: DuckDB runs `sql` over the same parquet. */
  final case class Oracle(sql: String) extends Check
  /** Approximate with implementation-defined internals, so rows-only;
    * `twin` names the hash-gated query that verifies the algorithm. */
  final case class RowsOnly(twin: String) extends Check

  /** One query: `build` maps (session, data directory) to its result. */
  final case class QuerySpec(name: String,
      build: (SparkSession, String) => DataFrame, check: Check)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def events(s: SparkSession, dir: String) = t(s, dir, "events")
  private def env(s: SparkSession, dir: String) =
    Etl.toCdcEnvelope(events(s, dir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggs.dailyUniqueUsers(t(spark, "/root/testdata/sf0.001", "events"))

  /** The rrf1 query set: BM25 terms from `Corpus.defaultQueries` plus
    * each query's dense query-embedding vec_id. */
  private val rrfQueries: Seq[(String, Seq[String], Long)] = Seq(
    ("q1", Seq("spark", "stream", "batch"), 0L),
    ("q2", Seq("table", "join", "query"), 1L),
    ("q3", Seq("vector", "hash"), 2L))

  /** The FIXED merge table for `t18_bpe_encode` (rank order; shared by
    * the query and, inlined as a CASE ladder, by its recursive-CTE
    * oracle). Chosen to exercise chained merges on the corpus vocabulary:
    * (o,r) then (or,t) composes in `sort`; rank precedence makes
    * `customer` merge (e,r) before (s,t) despite position. */
  private val bpeFixedMerges: Seq[(String, String)] = Seq(
    "a" -> "t", "t" -> "h", "th" -> "e", "a" -> "n", "o" -> "r",
    "e" -> "r", "or" -> "t", "s" -> "t", "q" -> "u", "e" -> "y")

  /** The t18 oracle's rank lookup, generated from [[bpeFixedMerges]] so
    * query and oracle share one source of truth. */
  private def bpeRankCase: String = bpeFixedMerges.zipWithIndex.map {
    case ((a, b), r) => s"WHEN '$a|$b' THEN $r"
  }.mkString(" ")

  /** The t20 oracle, generated per round count: BPE TRAINING unrolled —
    * round r re-tokenizes the vocabulary under merges 1..r-1 with the
    * t18 greedy recursion (rank lookup = `list_position` over the
    * learned-merges list, a DATA table, instead of t18's literal CASE),
    * counts adjacent pairs weighted by word frequency (overlapping
    * occurrences counted, like the trainer's position loop), and picks
    * argmax with the trainer's exact tie-break — count desc, then the
    * PAIR tuple (pa, pb) ascending as two columns (comparing the joined
    * 'a|b' string would order 'a|b' after 'ab|c' and diverge). */
  private def bpeTrainSql(rounds: Int): String = {
    val head =
      """WITH RECURSIVE
        |tokd AS (SELECT unnest(string_split_regex(lower(text),
        |           '[^a-z0-9]+')) AS word
        |         FROM documents),
        |wrd AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tokd
        |        WHERE word <> '' GROUP BY 1 HAVING COUNT(*) >= 2),
        |fin0 AS (SELECT word, list_transform(range(1, length(word)+1),
        |           i -> word[i:i]) AS toks
        |         FROM wrd)""".stripMargin
    def pairRound(r: Int) =
      s"""px$r AS (SELECT word, toks,
         |          unnest(range(1, len(toks))) AS j
         |        FROM fin${r - 1}),
         |pc$r AS (SELECT p.toks[p.j] AS pa, p.toks[p.j+1] AS pb,
         |          CAST(SUM(w.n) AS BIGINT) AS c
         |        FROM px$r p JOIN wrd w USING (word) GROUP BY 1, 2),
         |b$r AS (SELECT pa, pb FROM pc$r
         |       ORDER BY c DESC, pa, pb LIMIT 1)""".stripMargin
    def lookup(ml: String) =
      s"""CASE WHEN list_position($ml.rl,
         |       e.toks[j] || '|' || e.toks[j+1]) = 0 THEN 999
         |     ELSE list_position($ml.rl,
         |       e.toks[j] || '|' || e.toks[j+1]) END""".stripMargin
    def encRound(r: Int) = {
      val pab = (1 to r).map(i => s"b$i.pa || '|' || b$i.pb").mkString(", ")
      val from = (1 to r).map(i => s"b$i").mkString(", ")
      s"""ml$r AS (SELECT [$pab] AS rl FROM $from),
         |enc$r AS (
         |  SELECT word, list_transform(range(1, length(word)+1),
         |           i -> word[i:i]) AS toks
         |  FROM wrd
         |  UNION ALL
         |  SELECT word,
         |    toks[1:bi-1] || [toks[bi] || toks[bi+1]]
         |      || toks[bi+2:len(toks)]
         |  FROM (
         |    SELECT word, toks, list_position(rks, list_min(rks)) AS bi,
         |           list_min(rks) AS mn
         |    FROM (SELECT e.word, e.toks,
         |            list_transform(range(1, len(e.toks)), j ->
         |              ${lookup(s"ml$r")}) AS rks
         |          FROM enc$r e CROSS JOIN ml$r))
         |  WHERE mn < 999),
         |fin$r AS (
         |  SELECT word, toks FROM (
         |    SELECT e.word, e.toks,
         |      list_min(list_transform(range(1, len(e.toks)), j ->
         |        ${lookup(s"ml$r")})) AS mn
         |    FROM enc$r e CROSS JOIN ml$r)
         |  WHERE mn IS NULL OR mn = 999)""".stripMargin
    }
    // round r needs fin{r-1} (tokenization under merges 1..r-1), so
    // encoder CTEs unroll for rounds 1..rounds-1 only
    val body = (1 to rounds).map { r =>
      if (r < rounds) s"${pairRound(r)},\n${encRound(r)}"
      else pairRound(r)
    }.mkString(",\n")
    val out = (1 to rounds).map(r =>
      s"SELECT CAST(${r - 1} AS INTEGER) AS rk, pa AS lhs, pb AS rhs " +
        s"FROM b$r").mkString("\nUNION ALL ")
    s"$head,\n$body\n$out\nORDER BY 1"
  }

  /** Shared CTE block for the t3/t19 oracles — the marker-vote language
    * prediction, ending in `lp(doc_id, lang_true, lang_pred)`; the CASE
    * ladder mirrors `TextAnalysis.languageId`'s strictly-greater fold
    * order exactly. */
  private val langPredCtes: String =
    """lh AS (
      |  SELECT doc_id, lang AS lang_true,
      |    len(list_intersect(list_distinct(string_split(lower(text),' ')),
      |        ['the','and','of','to','a'])) AS hits_en,
      |    len(list_intersect(list_distinct(string_split(lower(text),' ')),
      |        ['der','die','und','das','ist'])) AS hits_de,
      |    len(list_intersect(list_distinct(string_split(lower(text),' ')),
      |        ['le','la','et','les','des'])) AS hits_fr,
      |    len(list_intersect(list_distinct(string_split(lower(text),' ')),
      |        ['el','los','que','y','una'])) AS hits_es,
      |    len(list_intersect(list_distinct(string_split(lower(text),' ')),
      |        ['de5','shi4','le5','zai4','he2'])) AS hits_zh
      |  FROM documents),
      |lp AS (SELECT doc_id, lang_true,
      |  CASE WHEN hits_zh > greatest(hits_en, hits_de, hits_fr, hits_es)
      |         THEN 'zh'
      |       WHEN hits_es > greatest(hits_en, hits_de, hits_fr) THEN 'es'
      |       WHEN hits_fr > greatest(hits_en, hits_de) THEN 'fr'
      |       WHEN hits_de > hits_en THEN 'de'
      |       ELSE 'en' END AS lang_pred
      |  FROM lh)""".stripMargin

  /** The dq1 check suite (shared by query + oracle doc): a representative
    * mix of passing and violated expectations over `events`. */
  private val dqChecks: Seq[DataQuality.Check] = Seq(
    DataQuality.Check("c1", "event_id", "not_null"),
    DataQuality.Check("c2", "value", "between", lo = 0.0, hi = 400.0),
    DataQuality.Check("c3", "event_type", "in_set",
      allowed = Seq("click", "view", "purchase", "signup")),
    DataQuality.Check("c4", "props", "matches", regex = "^\\{"),
    DataQuality.Check("c5", "event_id", "unique"),
    DataQuality.Check("c6", "user_id", "not_null"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** The d30 surgical span chain (d28 bipartite flags + per-shift mass
    * floor + island merge, ending in `gs`) as ONE shared CTE block —
    * consumed verbatim by the d30/d33/e12/e15 oracles so a fix to the
    * span machinery cannot de-twin them (the kmeansCtes factoring
    * precedent; a stale copy would pin a different behavior per
    * oracle). */
  private val tkCte: String =
    """tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents)""".stripMargin

  /** The span chain BODY (ps..gs) without the `tk` head — composed into
    * [[quoteSpanCtes]] and consumed directly by oracles whose `tk`
    * arrives via [[e3DropCtes]] (e13/e16). */
  private val quoteSpanTailCtes: String =
    """ps AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ')
        |         AS shingle
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i
        |             FROM tk)),
        |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM ps GROUP BY 1),
        |fp AS (SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2, b.i AS i2
        |       FROM ps a JOIN ps b USING (shingle)
        |       WHERE a.doc_id >= 25 AND b.doc_id < 25),
        |msh AS (SELECT d1, d2, shift FROM (
        |        SELECT d1, d2, i2 - i1 AS shift,
        |          row_number() OVER (PARTITION BY d1, d2
        |            ORDER BY COUNT(*) DESC, i2 - i1) AS rn
        |        FROM fp GROUP BY d1, d2, i2 - i1) WHERE rn = 1),
        |mm AS (SELECT f.d1, f.d2, s.shift,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i1 END) AS ma,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i2 END) AS mb
        |       FROM fp f JOIN msh s ON s.d1 = f.d1 AND s.d2 = f.d2
        |       GROUP BY 1, 2, 3),
        |fl AS (SELECT mm.d1, mm.d2
        |       FROM mm JOIN np a ON mm.d1 = a.doc_id
        |                JOIN np b ON mm.d2 = b.doc_id
        |       WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8),
        |mt AS (SELECT DISTINCT fl.d1, fl.d2, f.i2 - f.i1 AS shift, f.i1
        |       FROM fl JOIN fp f ON f.d1 = fl.d1 AND f.d2 = fl.d2),
        |qs AS (SELECT d1, d2, shift FROM (
        |        SELECT d1, d2, shift, COUNT(*) AS mass,
        |          MAX(COUNT(*)) OVER (PARTITION BY d1, d2) AS mx
        |        FROM mt GROUP BY 1, 2, 3)
        |       WHERE mass >= 3 OR mass = mx),
        |mk AS (SELECT mt.d1, mt.d2, mt.shift, mt.i1
        |       FROM mt JOIN qs USING (d1, d2, shift)),
        |gg AS (SELECT d1, d2, shift, i1,
        |         CASE WHEN lag(i1) OVER w IS NULL
        |                OR i1 > lag(i1) OVER w + 3 THEN 1 ELSE 0 END AS ns
        |       FROM mk
        |       WINDOW w AS (PARTITION BY d1, d2, shift ORDER BY i1)),
        |gs AS (SELECT d1, d2, shift, i1,
        |         SUM(ns) OVER (PARTITION BY d1, d2, shift ORDER BY i1
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS sid
        |       FROM gg)""".stripMargin

  private val quoteSpanCtes: String = tkCte + ",\n" + quoteSpanTailCtes

  /** Char-offset CTEs (tg/ti/coff): token i's 0-based original-string
    * char span from cumulative token/gap lengths — splitting on
    * [a-z0-9]+ yields exactly n_tok+1 gaps, so token i starts at
    * Σ gaps[1..i] + Σ toks[1..i-1] and ends at start + len(toks[i]).
    * Shared by d33/e15/e16. Requires `tk` upstream. */
  private val charOffsetCtes: String =
    """tg AS (SELECT doc_id, toks,
        |         string_split_regex(lower(text), '[a-z0-9]+') AS gaps
        |       FROM tk JOIN documents USING (doc_id)),
        |ti AS (SELECT doc_id, i, len(toks[i]) AS tl, len(gaps[i]) AS gl
        |       FROM (SELECT doc_id, toks, gaps,
        |               unnest(range(1, len(toks)+1)) AS i FROM tg)),
        |coff AS (SELECT doc_id, i,
        |         SUM(gl) OVER w + COALESCE(SUM(tl) OVER wp, 0) AS cs,
        |         SUM(gl) OVER w + COALESCE(SUM(tl) OVER wp, 0) + tl
        |           AS ce
        |       FROM ti
        |       WINDOW w AS (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wp AS (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin

  /** e3's drop-list CTE chain (shingle sets, near/exact dups, d9
    * contamination — ending in `contam`) as ONE shared block, consumed
    * by every oracle that carried it byte-for-byte (e3/e11/e13/e14/
    * audit1/audit4 family) so a drop-stage fix cannot de-twin them. */
  private val e3DropCtes: String =
    """tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        |       FROM sh a JOIN sh b USING (shingle)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |neardups AS (SELECT DISTINCT doc2 AS doc_id FROM pr
        |             JOIN sz s1 ON doc1 = s1.doc_id
        |             JOIN sz s2 ON doc2 = s2.doc_id
        |             WHERE common / (s1.sz + s2.sz - common) >= 0.5),
        |exactdups AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY
        |        md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
        |                                'g')))) AS keeper
        |    FROM documents)
        |  WHERE doc_id <> keeper),
        |contam AS (SELECT DISTINCT doc_id FROM (
        |  SELECT c.doc_id FROM sh c JOIN sh b USING (shingle)
        |  WHERE c.doc_id >= 25 AND b.doc_id < 25
        |  GROUP BY c.doc_id, b.doc_id HAVING COUNT(*) >= 5))""".stripMargin

  /** The d31 bipartite cosine pair CTEs at the doc-aligned holdout
    * (vec_id < 25), ending in `ec(vec_id, bench_id, dot)` — shared by
    * the e14/audit4 oracles (audit3 carries its own prefixed copy at a
    * different indent). */
  private val semanticPairCtes: String =
    """enn AS (SELECT vec_id,
        |        sqrt(SUM(CAST(embedding[ii.i] AS DOUBLE)
        |          * CAST(embedding[ii.i] AS DOUBLE))) AS nrm
        |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
        |      GROUP BY 1),
        |ec AS (SELECT a.vec_id, b.vec_id AS bench_id,
        |        SUM(CAST(a.embedding[ii.i] AS DOUBLE)
        |          * CAST(b.embedding[ii.i] AS DOUBLE)) AS dot
        |      FROM embeddings a, embeddings b,
        |           (SELECT unnest(range(1, 65)) AS i) ii
        |      WHERE a.vec_id >= 25 AND b.vec_id < 25
        |      GROUP BY 1, 2)""".stripMargin

  /** Shared CTE block for the ml1/d15 oracles: two unrolled Lloyd rounds
    * ending in the final assignment `a2(vec_id, cid)`; mirrors the
    * `Clustering.kmeansAssign` determinism contract exactly. */
  private val kmeansCtes: String =
    """emb AS (SELECT vec_id,
      |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings),
      |dims AS (SELECT unnest(range(1,
      |           (SELECT len(v) FROM emb LIMIT 1) + 1)) AS i),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cen
      |       FROM emb ORDER BY vec_id LIMIT 8),
      |a0 AS (SELECT vec_id, cid FROM (
      |         SELECT e.vec_id, c.cid, row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY list_sum(list_transform(range(1, len(e.v)+1),
      |               i -> (e.v[i]-c.cen[i])*(e.v[i]-c.cen[i]))), c.cid)
      |           AS rn
      |         FROM emb e CROSS JOIN c0 c) WHERE rn = 1),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS cen FROM (
      |         SELECT a.cid, d.i, ROUND(SUM(e.v[d.i]) / COUNT(*), 6) AS m
      |         FROM a0 a JOIN emb e USING (vec_id) CROSS JOIN dims d
      |         GROUP BY 1, 2) GROUP BY 1),
      |a1 AS (SELECT vec_id, cid FROM (
      |         SELECT e.vec_id, c.cid, row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY list_sum(list_transform(range(1, len(e.v)+1),
      |               i -> (e.v[i]-c.cen[i])*(e.v[i]-c.cen[i]))), c.cid)
      |           AS rn
      |         FROM emb e CROSS JOIN c1 c) WHERE rn = 1),
      |c2 AS (SELECT cid, list(m ORDER BY i) AS cen FROM (
      |         SELECT a.cid, d.i, ROUND(SUM(e.v[d.i]) / COUNT(*), 6) AS m
      |         FROM a1 a JOIN emb e USING (vec_id) CROSS JOIN dims d
      |         GROUP BY 1, 2) GROUP BY 1),
      |a2 AS (SELECT vec_id, cid FROM (
      |         SELECT e.vec_id, c.cid, row_number() OVER (
      |             PARTITION BY e.vec_id
      |             ORDER BY list_sum(list_transform(range(1, len(e.v)+1),
      |               i -> (e.v[i]-c.cen[i])*(e.v[i]-c.cen[i]))), c.cid)
      |           AS rn
      |         FROM emb e CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin

  /** The long-tailed-vocabulary twin corpus as a DuckDB CTE — mirrors
    * `Dedup.zipfVocabularyTwin` integer for integer (same LCG word hash,
    * two-tier vocabulary, and seed-deterministic planted roles), so the
    * d2z/d17z oracles run the d2/d17 pair SQL over an identical
    * regenerated corpus. */
  private val zipfDocsCte: String = {
    def w(s: String) = {
      val h = s"((($s) * 48271 + ((j) + 1) * 16807) % 104729)"
      s"concat('w', CAST(CASE WHEN $h % 4 < 2 THEN $h % 50" +
        s" ELSE 50 + ($h % 50000) END AS VARCHAR))"
    }
    s"""zdocs AS (SELECT doc_id,
       |  CASE WHEN doc_id % 23 = 22 THEN
       |    array_to_string(list_transform(range(0, 10),
       |      j -> ${w("doc_id - 1")}), ' ')
       |  WHEN doc_id % 17 = 16 THEN
       |    array_to_string(list_transform(range(0, 20 + (doc_id - 1) % 13),
       |      j -> CASE WHEN j % 13 = 5 THEN ${w("doc_id")}
       |           ELSE ${w("doc_id - 1")} END), ' ')
       |  ELSE
       |    array_to_string(list_transform(range(0, 20 + doc_id % 13),
       |      j -> ${w("doc_id")}), ' ')
       |  END AS text
       |FROM documents)""".stripMargin
  }

  /** The d21 dHash signature derivation as a shared, prefix-namespaced
    * CTE block (psig(doc_id, ph)). The SPARK side computes this from the
    * payload bytes alone — inflate the IDAT (and, for APNG video, every
    * sequence-validated fdAT) zlib stream, reverse the per-row PNG
    * filters, 8×8 integer-mean box-sample each frame's bitmap; a video's
    * signature is the per-bit MAJORITY over its per-frame dHashes. The
    * oracle rebuilds the IDENTICAL grids from the encoder's
    * deterministic pixel function (prefix render: pixel p of frame k =
    * code point k·w + p of `text` mod 256 while text lasts, 0 past the
    * end — frame k is the still render scrolled k rows; cell
    * (r·8/h, c·8/w); cell value = floor-mean), so a wrong
    * inflate/unfilter/frame-sequencing on the Spark side breaks the hash
    * match. Every cell is populated (w, h ≥ 8 by construction), so the
    * adjacency join needs no empty-cell padding. Shared by the d21 pair
    * oracle and e8/e9's drop lists. */
  private val phashSigCtes: String =
    """pimg AS (SELECT doc_id, text, length(text) AS l,
      |           CAST((n_chars // 100) * 3 + 12 AS BIGINT) AS w,
      |           CAST((n_chars // 150) * 4 + 10 AS BIGINT) AS h
      |         FROM documents WHERE doc_id % 3 = 0),
      |ppx AS (SELECT doc_id, w, h, l, text,
      |         unnest(range(0, w * h)) AS p FROM pimg),
      |pcv AS (SELECT doc_id,
      |         ((p // w) * 8) // h * 8 + ((p % w) * 8) // w AS cell,
      |         CASE WHEN p < l
      |           THEN unicode(text[CAST(p AS INTEGER) + 1]) % 256
      |           ELSE 0 END AS v
      |        FROM ppx),
      |pgs AS (SELECT doc_id, cell, SUM(v) // COUNT(*) AS gv
      |         FROM pcv GROUP BY 1, 2),
      |isig AS (SELECT a.doc_id,
      |          CAST(COALESCE(SUM(CASE WHEN a.gv < b.gv
      |            THEN CAST(1 AS BIGINT) <<
      |              CAST((a.cell // 8) * 7 + (a.cell % 8) AS INTEGER)
      |            ELSE 0 END), 0) AS BIGINT) AS ph
      |        FROM pgs a JOIN pgs b
      |          ON b.doc_id = a.doc_id AND b.cell = a.cell + 1
      |        WHERE a.cell % 8 < 7
      |        GROUP BY 1),
      |pvm AS (SELECT doc_id, text, length(text) AS l,
      |           CAST((n_chars // 100) * 3 + 12 AS BIGINT) AS w,
      |           CAST((n_chars // 150) * 4 + 10 AS BIGINT) AS h,
      |           CAST(n_chars // 64 + 1 AS BIGINT) AS n
      |         FROM documents WHERE doc_id % 3 = 2),
      |pvq AS (SELECT doc_id, w, h, l, n, text,
      |         unnest(range(0, n * w * h)) AS q FROM pvm),
      |pvc AS (SELECT doc_id, q // (w*h) AS k,
      |         (((q % (w*h)) // w) * 8) // h * 8
      |           + (((q % (w*h)) % w) * 8) // w AS cell,
      |         CASE WHEN (q // (w*h)) * w + (q % (w*h)) < l
      |           THEN unicode(text[CAST((q // (w*h)) * w + (q % (w*h))
      |             AS INTEGER) + 1]) % 256
      |           ELSE 0 END AS v
      |        FROM pvq),
      |vgs AS (SELECT doc_id, k, cell, SUM(v) // COUNT(*) AS gv
      |         FROM pvc GROUP BY 1, 2, 3),
      |fsig AS (SELECT a.doc_id, a.k,
      |          CAST(COALESCE(SUM(CASE WHEN a.gv < b.gv
      |            THEN CAST(1 AS BIGINT) <<
      |              CAST((a.cell // 8) * 7 + (a.cell % 8) AS INTEGER)
      |            ELSE 0 END), 0) AS BIGINT) AS ph
      |        FROM vgs a JOIN vgs b
      |          ON b.doc_id = a.doc_id AND b.k = a.k
      |          AND b.cell = a.cell + 1
      |        WHERE a.cell % 8 < 7
      |        GROUP BY 1, 2),
      |vbit AS (SELECT doc_id, bb.bit,
      |          SUM(CASE WHEN (ph >> CAST(bb.bit AS INTEGER)) & 1 = 1
      |            THEN 1 ELSE 0 END) AS c,
      |          COUNT(*) AS n
      |        FROM fsig, (SELECT unnest(range(0, 56)) AS bit) bb
      |        GROUP BY 1, 2),
      |vsig AS (SELECT doc_id, CAST(SUM(CASE WHEN 2 * c > n
      |            THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
      |            ELSE 0 END) AS BIGINT) AS ph
      |         FROM vbit GROUP BY 1),
      |psig AS (SELECT * FROM isig UNION ALL SELECT * FROM vsig)""".stripMargin

  /** The d23 audio envelope signature derivation as a shared CTE block
    * (asig(doc_id, ah)) — fixed 16-sample windows over the leading 512
    * samples, 8-bit energy accumulator, gradient bits (see the d23
    * oracle note); shared by the d23 pair oracle and e9's drop list. */
  private val audioSigCtes: String =
    """aaud AS (SELECT doc_id, text FROM documents
      |              WHERE doc_id % 3 = 1),
      |ach AS (SELECT doc_id,
      |         unnest(range(1, least(length(text), 512)+1)) AS i,
      |         text FROM aaud),
      |acv AS (SELECT doc_id, CAST((i-1) // 16 AS INTEGER) AS w,
      |         abs(unicode(text[i]) % 256 - 128) AS v FROM ach),
      |ags AS (SELECT doc_id, w, SUM(v) % 256 AS gv
      |         FROM acv GROUP BY 1, 2),
      |aw32 AS (SELECT unnest(range(0, 32)) AS w),
      |agrid AS (SELECT i.doc_id, c.w, COALESCE(g.gv, 0) AS gv
      |         FROM aaud i CROSS JOIN aw32 c
      |         LEFT JOIN ags g ON g.doc_id = i.doc_id AND g.w = c.w),
      |asig AS (SELECT a.doc_id,
      |          CAST(COALESCE(SUM(CASE WHEN a.gv < b.gv
      |            THEN CAST(1 AS BIGINT) << CAST(a.w AS INTEGER)
      |            ELSE 0 END), 0) AS BIGINT) AS ah
      |        FROM agrid a JOIN agrid b
      |          ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |        WHERE a.w < 31
      |        GROUP BY 1)""".stripMargin

  /** The audit3 benchmark-health rollup, factored into its WITH-body
    * and final SELECT so the audit3 oracle stays byte-identical while
    * the audit6/r7 consumers re-wrap the select as `hlth AS (...)` and
    * decide retirement on top — the burn→action loop's oracle shares
    * ONE health derivation with the report it acts on. Body: the three
    * burn-report families (d26 media at the e10 loose budgets via
    * psig/asig, d29 quote, d32 embedding with the holdout aligned to
    * vec_id < 25), ending in `med`/`qle`/`ele`. */
  private val benchHealthBodyCtes: String =
    s"""$phashSigCtes,
       |$audioSigCtes,
       |mfl AS (
       |  SELECT t.doc_id, b.doc_id AS bench_id, 'visual' AS modality
       |  FROM psig t JOIN psig b ON t.doc_id >= 25 AND b.doc_id < 25
       |  WHERE bit_count(xor(t.ph, b.ph)) <= 5
       |  UNION ALL
       |  SELECT t.doc_id, b.doc_id AS bench_id, 'audio' AS modality
       |  FROM asig t JOIN asig b ON t.doc_id >= 25 AND b.doc_id < 25
       |  WHERE bit_count(xor(t.ah, b.ah)) <= 3),
       |med AS (SELECT bench_id,
       |          CAST(SUM(CASE WHEN modality = 'visual' THEN 1
       |            ELSE 0 END) AS BIGINT) AS n_visual,
       |          CAST(SUM(CASE WHEN modality = 'audio' THEN 1
       |            ELSE 0 END) AS BIGINT) AS n_audio,
       |          MIN(doc_id) AS m_first
       |        FROM mfl GROUP BY 1),
       |tk AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text),
       |           '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |ps AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ')
       |         AS shingle
       |       FROM (SELECT doc_id, toks,
       |               unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i
       |             FROM tk)),
       |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM ps GROUP BY 1),
       |fp AS (SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2,
       |         b.i AS i2
       |       FROM ps a JOIN ps b USING (shingle)
       |       WHERE a.doc_id >= 25 AND b.doc_id < 25),
       |msh AS (SELECT d1, d2, shift FROM (
       |        SELECT d1, d2, i2 - i1 AS shift,
       |          row_number() OVER (PARTITION BY d1, d2
       |            ORDER BY COUNT(*) DESC, i2 - i1) AS rn
       |        FROM fp GROUP BY d1, d2, i2 - i1) WHERE rn = 1),
       |mm AS (SELECT f.d1, f.d2, s.shift,
       |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
       |            <= 1 THEN f.i1 END) AS ma,
       |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
       |            <= 1 THEN f.i2 END) AS mb
       |       FROM fp f JOIN msh s ON s.d1 = f.d1 AND s.d2 = f.d2
       |       GROUP BY 1, 2, 3),
       |qfl AS (SELECT mm.d1 AS doc_id, mm.d2 AS bench_id,
       |         greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) AS containment
       |       FROM mm JOIN np a ON mm.d1 = a.doc_id
       |                JOIN np b ON mm.d2 = b.doc_id
       |       WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8),
       |qle AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_quote,
       |          MAX(containment) AS max_containment,
       |          MIN(doc_id) AS q_first
       |        FROM qfl GROUP BY 1),
       |enn AS (SELECT vec_id,
       |        sqrt(SUM(CAST(embedding[ii.i] AS DOUBLE)
       |          * CAST(embedding[ii.i] AS DOUBLE))) AS nrm
       |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
       |      GROUP BY 1),
       |ec AS (SELECT a.vec_id, b.vec_id AS bench_id,
       |        SUM(CAST(a.embedding[ii.i] AS DOUBLE)
       |          * CAST(b.embedding[ii.i] AS DOUBLE)) AS dot
       |      FROM embeddings a, embeddings b,
       |           (SELECT unnest(range(1, 65)) AS i) ii
       |      WHERE a.vec_id >= 25 AND b.vec_id < 25
       |      GROUP BY 1, 2),
       |efl AS (SELECT ec.vec_id, ec.bench_id,
       |         ROUND(ec.dot / (na.nrm * nb.nrm), 6) AS cos
       |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
       |              JOIN enn nb ON nb.vec_id = ec.bench_id
       |       WHERE na.nrm > 0 AND nb.nrm > 0
       |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
       |ele AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_embed,
       |          MAX(cos) AS max_cos, MIN(vec_id) AS e_first
       |        FROM efl GROUP BY 1)""".stripMargin

  /** The final-rollup half of the audit3 oracle (see
    * [[benchHealthBodyCtes]]): the full-outer join of the three burn
    * legs with the explicit MaxValue first_train sentinels and the
    * n_modalities count. */
  private val benchHealthSelect: String =
    """SELECT COALESCE(med.bench_id, qle.bench_id, ele.bench_id)
      |         AS bench_id,
      |       COALESCE(n_visual, 0) AS n_visual,
      |       COALESCE(n_audio, 0) AS n_audio,
      |       COALESCE(n_quote, 0) AS n_quote,
      |       COALESCE(n_embed, 0) AS n_embed,
      |       max_containment, max_cos,
      |       LEAST(COALESCE(m_first, 9223372036854775807),
      |             COALESCE(q_first, 9223372036854775807),
      |             COALESCE(e_first, 9223372036854775807))
      |         AS first_train,
      |       CAST(COALESCE(n_visual, 0) > 0 AS INTEGER)
      |         + CAST(COALESCE(n_audio, 0) > 0 AS INTEGER)
      |         + CAST(COALESCE(n_quote, 0) > 0 AS INTEGER)
      |         + CAST(COALESCE(n_embed, 0) > 0 AS INTEGER)
      |         AS n_modalities
      |FROM med
      |FULL OUTER JOIN qle ON med.bench_id = qle.bench_id
      |FULL OUTER JOIN ele
      |  ON COALESCE(med.bench_id, qle.bench_id) = ele.bench_id"""
      .stripMargin

  /** The e18 oracle, factored so the e20 fingerprint wraps the
    * IDENTICAL release SQL as a nested CTE (`WITH rel AS (...)`) — the
    * digest an audit re-derives is over exactly the rows the gated e18
    * ships. */
  private val e18OracleSql: String =
    s"""WITH $e3DropCtes,
        |$semanticPairCtes,
        |sdrop AS (SELECT DISTINCT ec.vec_id AS doc_id
        |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
        |              JOIN enn nb ON nb.vec_id = ec.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |$phashSigCtes,
        |$audioSigCtes,
        |mdrop AS (SELECT DISTINCT b.doc_id
        |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |          UNION
        |          SELECT b.doc_id
        |          FROM asig a JOIN asig b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.ah, b.ah)) <= 2),
        |cflag AS (SELECT DISTINCT t.doc_id
        |          FROM psig t JOIN psig b ON t.doc_id >= 25
        |            AND b.doc_id < 25
        |          WHERE bit_count(xor(t.ph, b.ph)) <= 5
        |          UNION
        |          SELECT t.doc_id
        |          FROM asig t JOIN asig b ON t.doc_id >= 25
        |            AND b.doc_id < 25
        |          WHERE bit_count(xor(t.ah, b.ah)) <= 3),
        |$quoteSpanTailCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |cov AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS n_redacted
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |survivors AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE doc_id >= 25 AND length(text) >= 100
        |    AND doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND doc_id NOT IN (SELECT doc_id FROM sdrop)
        |    AND doc_id NOT IN (SELECT doc_id FROM mdrop)
        |    AND doc_id NOT IN (SELECT doc_id FROM cflag)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'),
        |cnt AS (SELECT s.doc_id, s.lang,
        |          CAST(len(t.toks) AS BIGINT) AS n_tok_orig,
        |          CAST(COALESCE(c.n_redacted, 0) AS BIGINT)
        |            AS n_redacted,
        |          CAST(len(t.toks) AS BIGINT)
        |            - CAST(COALESCE(c.n_redacted, 0) AS BIGINT) AS n_tok
        |        FROM survivors s JOIN tk t ON t.doc_id = s.doc_id
        |        LEFT JOIN cov c ON c.doc_id = s.doc_id)
        |SELECT doc_id, lang, n_tok_orig, n_redacted, n_tok,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM cnt WHERE n_tok >= 1""".stripMargin

  /** The d3 oracle (exact-Jaccard pair set — see the recall note at its
    * map entry), factored so the d34 auto-banding twin gates against
    * the IDENTICAL SQL: at the corpus defaults the resolved layout is
    * d3's own, so the two queries must hash to the same rows. */
  private val d3OracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |idx AS (SELECT doc_id, toks,
      |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
      |sh AS (SELECT DISTINCT doc_id,
      |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
      |            COUNT(*) AS common
      |          FROM sh a JOIN sh b USING (shingle)
      |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc1, doc2,
      |       common / (s1.sz + s2.sz - common) AS jaccard
      |FROM pairs
      |JOIN sz s1 ON doc1 = s1.doc_id
      |JOIN sz s2 ON doc2 = s2.doc_id
      |WHERE common / (s1.sz + s2.sz - common) >= 0.5""".stripMargin


  /** [[kmeansCtes]] with the training corpus restricted by `pred` — the
    * frozen-quantizer oracle (sim11) trains the Lloyd loop on a SLICE
    * and assigns held-out rows at the final centroids. Only the `emb`
    * source CTE changes; every downstream CTE (c0 init, rounds,
    * assignments) then operates on the filtered corpus verbatim. */
  private def kmeansCtesOn(pred: String): String =
    kmeansCtes.replace("FROM embeddings)", s"FROM embeddings WHERE $pred)")

  /** The emb3 oracle, generated per round count so query and oracle share
    * one recursion: mirrors `Similarity.topPrincipalComponent` — 1e-6
    * integer quantize + center, v0 = 0.125·1e6, then per round the exact
    * int64 projection/accumulation with the same ROUND points (dq at
    * 1e-9, v at 6dp, v_int at 1e-6). Every row-spanning SUM is integer,
    * so the engines cannot diverge; the few 64-element double ops (norm,
    * ratio) run on identical integer inputs. */
  private def powerIterSql(iters: Int): String = {
    val head =
      """WITH emb AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
        |      AS xi
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS i),
        |mu AS (SELECT d.i,
        |         CAST(ROUND(CAST(SUM(e.xi[d.i]) AS DOUBLE) / COUNT(*), 0)
        |           AS BIGINT) AS m
        |       FROM emb e CROSS JOIN dims d GROUP BY 1),
        |mul AS (SELECT list(m ORDER BY i) AS ml FROM mu),
        |y AS (SELECT vec_id,
        |        list_transform(range(1, 65), i -> emb.xi[i] - mul.ml[i])
        |          AS y
        |      FROM emb CROSS JOIN mul),
        |vi0 AS (SELECT list_transform(range(1, 65),
        |          i -> CAST(125000 AS BIGINT)) AS vl)""".stripMargin
    def dq(vSrc: String) =
      s"""CAST(ROUND(CAST(list_sum(list_transform(range(1, 65),
         |      i -> y.y[i] * $vSrc.vl[i])) AS DOUBLE) / 1000000000, 0)
         |    AS BIGINT)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""d$r AS (SELECT vec_id, ${dq(s"vi${r - 1}")} AS dq
         |       FROM y CROSS JOIN vi${r - 1}),
         |w$r AS (SELECT d.i, CAST(SUM(dd.dq * yy.y[d.i]) AS BIGINT) AS w
         |       FROM d$r dd JOIN y yy USING (vec_id)
         |       CROSS JOIN dims d GROUP BY 1),
         |n$r AS (SELECT sqrt(SUM(CAST(w AS DOUBLE) * CAST(w AS DOUBLE)))
         |         AS nn FROM w$r),
         |vr$r AS (SELECT list(ROUND(CAST(w.w AS DOUBLE) / n$r.nn, 6)
         |           ORDER BY w.i) AS vl FROM w$r w CROSS JOIN n$r),
         |vi$r AS (SELECT list_transform(vl,
         |          x -> CAST(ROUND(x * 1000000, 0) AS BIGINT)) AS vl
         |        FROM vr$r)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""df AS (SELECT vec_id, ${dq(s"vi$iters")} AS dq
         |      FROM y CROSS JOIN vi$iters),
         |num AS (SELECT CAST(SUM(dq * dq) AS BIGINT) AS num FROM df),
         |den AS (SELECT CAST(SUM(list_sum(list_transform(y,
         |          a -> CAST(ROUND(CAST(a AS DOUBLE) / 1000, 0) AS BIGINT)
         |             * CAST(ROUND(CAST(a AS DOUBLE) / 1000, 0) AS BIGINT))))
         |          AS BIGINT) AS den FROM y)
         |SELECT CAST(d.i AS INTEGER) AS i, vr$iters.vl[d.i] AS pc,
         |       ROUND(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6)
         |         AS ev_ratio
         |FROM dims d CROSS JOIN vr$iters CROSS JOIN num CROSS JOIN den
         |ORDER BY 1""".stripMargin
    s"$head,\n$rounds,\n$tail"
  }

  /** Shared CTE block for the sim9 oracle: the kmeansCtes Lloyd contract
    * run independently PER SUBSPACE (m=4 slices of 16 dims, k=8, two
    * unrolled rounds) — mirrors `Similarity.portablePqTopK`'s per-slice
    * `Clustering.kmeansAssign` calls. Ends in `pa2(s, vec_id, cid)` (the
    * PQ codes) and `pc2(s, cid, cen)` (the final round-6 centroids). */
  private val pqKmeansCtes: String = pqKmeansCtesFrom(
    """SELECT vec_id,
      |           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |         FROM embeddings""".stripMargin)

  /** [[pqKmeansCtes]] with the corpus source parameterized — the sim12
    * IVFADC oracle trains/encodes the PQ stage on the RESIDUAL frame
    * (`pembBody` selects (vec_id, v) from `remb`) while sim9/sim10 keep
    * the raw embeddings. */
  private def pqKmeansCtesFrom(pembBody: String): String =
    s"""pemb AS ($pembBody),
      |sgrid AS (SELECT unnest(range(0, 4)) AS s),
      |sdims AS (SELECT unnest(range(1, 17)) AS i),
      |semb AS (SELECT g.s, e.vec_id,
      |           e.v[g.s*16+1 : g.s*16+16] AS sv
      |         FROM pemb e CROSS JOIN sgrid g),
      |pc0 AS (SELECT s, cid, cen FROM (
      |          SELECT s, row_number() OVER (
      |              PARTITION BY s ORDER BY vec_id) - 1 AS cid,
      |            sv AS cen
      |          FROM semb) WHERE cid < 8),
      |pa0 AS (SELECT s, vec_id, cid FROM (
      |          SELECT se.s, se.vec_id, c.cid, row_number() OVER (
      |              PARTITION BY se.s, se.vec_id
      |              ORDER BY list_sum(list_transform(range(1, 17),
      |                i -> (se.sv[i]-c.cen[i])*(se.sv[i]-c.cen[i]))),
      |                c.cid) AS rn
      |          FROM semb se JOIN pc0 c ON c.s = se.s) WHERE rn = 1),
      |pc1 AS (SELECT s, cid, list(m ORDER BY i) AS cen FROM (
      |          SELECT a.s, a.cid, d.i,
      |            ROUND(SUM(se.sv[d.i]) / COUNT(*), 6) AS m
      |          FROM pa0 a
      |            JOIN semb se ON se.s = a.s AND se.vec_id = a.vec_id
      |            CROSS JOIN sdims d
      |          GROUP BY 1, 2, 3) GROUP BY 1, 2),
      |pa1 AS (SELECT s, vec_id, cid FROM (
      |          SELECT se.s, se.vec_id, c.cid, row_number() OVER (
      |              PARTITION BY se.s, se.vec_id
      |              ORDER BY list_sum(list_transform(range(1, 17),
      |                i -> (se.sv[i]-c.cen[i])*(se.sv[i]-c.cen[i]))),
      |                c.cid) AS rn
      |          FROM semb se JOIN pc1 c ON c.s = se.s) WHERE rn = 1),
      |pc2 AS (SELECT s, cid, list(m ORDER BY i) AS cen FROM (
      |          SELECT a.s, a.cid, d.i,
      |            ROUND(SUM(se.sv[d.i]) / COUNT(*), 6) AS m
      |          FROM pa1 a
      |            JOIN semb se ON se.s = a.s AND se.vec_id = a.vec_id
      |            CROSS JOIN sdims d
      |          GROUP BY 1, 2, 3) GROUP BY 1, 2),
      |pa2 AS (SELECT s, vec_id, cid FROM (
      |          SELECT se.s, se.vec_id, c.cid, row_number() OVER (
      |              PARTITION BY se.s, se.vec_id
      |              ORDER BY list_sum(list_transform(range(1, 17),
      |                i -> (se.sv[i]-c.cen[i])*(se.sv[i]-c.cen[i]))),
      |                c.cid) AS rn
      |          FROM semb se JOIN pc2 c ON c.s = se.s) WHERE rn = 1)"""
    .stripMargin

  /** Shared CTE block for the q1/e5 oracles, ending in
    * `qsc(doc_id, n_toks, score)` — mirrors
    * `TextAnalysis.modelQualityScore`. */
  private val modelScoreCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents),
      |dt AS (SELECT doc_id, word FROM tok WHERE word <> ''),
      |vocab AS (
      |  SELECT word,
      |         CAST((length(word) * 31 + ascii(substring(word, 1, 1))) % 13
      |              - 6 AS BIGINT) AS w
      |  FROM (SELECT word, COUNT(*) AS cnt FROM dt
      |        WHERE ascii(substring(word, 1, 1)) < 55296
      |        GROUP BY 1
      |        ORDER BY cnt DESC, word LIMIT 1000)),
      |per AS (SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |               COALESCE(SUM(v.w), 0) AS raw
      |        FROM dt LEFT JOIN vocab v USING (word) GROUP BY 1),
      |qsc AS (SELECT doc_id, n_toks,
      |          ROUND(1.0 / (1.0 + exp(-(raw / (10.0 * n_toks) - 0.1))), 6)
      |            AS score
      |        FROM per)""".stripMargin

  /** Shared CTE block for the d14/e5 oracles, ending in
    * `dspan(doc_id, n_words, n_spans, dup_words, dup_frac)` — mirrors
    * `Dedup.dupSpans`. */
  private val dupSpanCtes: String =
    """tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |win AS (SELECT doc_id, i, array_to_string(toks[i : i+7], ' ')
      |          AS segment
      |        FROM (SELECT doc_id, toks,
      |                unnest(range(1, greatest(len(toks)-7, 0)+1)) AS i
      |              FROM tk)),
      |rep AS (SELECT segment FROM win
      |        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
      |hit AS (SELECT w.doc_id, w.i FROM win w JOIN rep USING (segment)),
      |flg AS (SELECT doc_id, i,
      |          CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i)
      |                 IS NULL
      |               OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i)
      |                 + 8 THEN 1 ELSE 0 END AS ns
      |        FROM hit),
      |sp AS (SELECT doc_id, sid, MIN(i) AS s, MAX(i) + 7 AS e
      |       FROM (SELECT doc_id, i,
      |               SUM(ns) OVER (PARTITION BY doc_id ORDER BY i) AS sid
      |             FROM flg)
      |       GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |               CAST(SUM(e - s + 1) AS BIGINT) AS dup_words
      |        FROM sp GROUP BY 1),
      |dspan AS (
      |  SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_words,
      |         COALESCE(agg.n_spans, 0) AS n_spans,
      |         COALESCE(agg.dup_words, 0) AS dup_words,
      |         CASE WHEN len(tk.toks) = 0 THEN 0.0
      |              ELSE ROUND(COALESCE(agg.dup_words, 0)
      |                     / CAST(len(tk.toks) AS DOUBLE), 6) END AS dup_frac
      |  FROM tk LEFT JOIN agg USING (doc_id))""".stripMargin

  /** SemDeDup pair CTEs (compose after `kmeansCtes`), ending in
    * `prs(vid_a, vid_b, cos_sim)` — mirrors `Clustering.semdedupPairs`
    * at threshold 0.4. */
  private val semdedupPairCtes: String =
    """ev AS (SELECT e.vec_id, a2.cid AS cluster, e.v
      |       FROM emb e JOIN a2 USING (vec_id)),
      |pr AS (SELECT x.vec_id AS vid_a, y.vec_id AS vid_b,
      |         list_sum(list_transform(range(1, len(x.v)+1),
      |           i -> x.v[i]*y.v[i])) AS dot,
      |         sqrt(list_sum(list_transform(range(1, len(x.v)+1),
      |           i -> x.v[i]*x.v[i]))) AS na,
      |         sqrt(list_sum(list_transform(range(1, len(y.v)+1),
      |           i -> y.v[i]*y.v[i]))) AS nb
      |       FROM ev x JOIN ev y
      |         ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
      |prs AS (SELECT vid_a, vid_b, ROUND(dot / (na * nb), 6) AS cos_sim
      |        FROM pr WHERE ROUND(dot / (na * nb), 6) >= 0.4)""".stripMargin

  /** Shared CTE block for the d7/cur2 oracles: transitive-closure cluster
    * assignment ending in `cl(doc_id, cluster_id)` — mirrors
    * `Dedup.dupClusters` (3-gram jaccard >= 0.5 pairs, min-label
    * components). Must be introduced by `WITH RECURSIVE`. */
  private val dupClusterCtes: String =
    """tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text),
      |           '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |idx AS (SELECT doc_id, toks,
      |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
      |sh AS (SELECT DISTINCT doc_id,
      |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
      |       FROM sh a JOIN sh b USING (shingle)
      |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT doc1, doc2 FROM pr
      |          JOIN sz s1 ON doc1 = s1.doc_id
      |          JOIN sz s2 ON doc2 = s2.doc_id
      |          WHERE common / (s1.sz + s2.sz - common) >= 0.5),
      |edges AS (SELECT doc1 AS u, doc2 AS v FROM pairs
      |          UNION ALL SELECT doc2, doc1 FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      |         FROM reach GROUP BY u),
      |cl AS (SELECT d.doc_id,
      |         CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT)
      |           AS cluster_id
      |       FROM documents d LEFT JOIN comp c USING (doc_id))""".stripMargin

  /** Shared CTE block for the e5/e6 oracles (compose after
    * `modelScoreCtes` and `dupSpanCtes`): the exact-dup keeper window
    * plus the curation predicate, ending in `kept(doc_id)` — mirrors
    * `Pipeline.curatedCorpus` at minScore 0.45 / maxDupFrac 0.5. */
  private val curationKeepCtes: String =
    """exk AS (SELECT doc_id FROM (
      |          SELECT doc_id, MIN(doc_id) OVER (PARTITION BY
      |              md5(trim(regexp_replace(lower(text),
      |                '[^a-z0-9]+', ' ', 'g')))) AS keeper
      |          FROM documents) WHERE doc_id = keeper),
      |kept AS (SELECT q.doc_id FROM qsc q JOIN dspan d USING (doc_id)
      |         JOIN exk USING (doc_id)
      |         WHERE q.score >= 0.45 AND d.dup_frac <= 0.5)""".stripMargin

  /** Shared CTE block for the r1/rrf1 oracles: the full BM25 scoring
    * chain over `Corpus.defaultQueries`, ending in the complete ranked
    * list `lexr(query_id, doc_id, score, rn)` (consumers filter to
    * their own k) — mirrors `Corpus.bm25TopK` k1=1.2, b=0.75. */
  private val bm25RankCtes: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS w
      |           FROM documents),
      |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM d),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl
      |       FROM dl),
      |q(query_id, term) AS (VALUES
      |  ('q1', 'spark'), ('q1', 'stream'), ('q1', 'batch'),
      |  ('q2', 'table'), ('q2', 'join'), ('q2', 'query'),
      |  ('q3', 'vector'), ('q3', 'hash')),
      |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |       FROM tok
      |       WHERE term IN ('spark', 'stream', 'batch', 'table', 'join',
      |                      'query', 'vector', 'hash')
      |       GROUP BY 1, 2),
      |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      |       FROM tf GROUP BY 1),
      |s AS (SELECT q.query_id, tf.doc_id,
      |        ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |          * tf.tf * (1.2 + 1)
      |          / (tf.tf + ((1 - 0.75) + dl.dl * (0.75 / st.avgdl)) * 1.2)
      |          AS s
      |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
      |           JOIN q USING (term) CROSS JOIN st),
      |sc AS (SELECT query_id, doc_id, SUM(s) AS score FROM s
      |       GROUP BY 1, 2),
      |lexr AS (SELECT query_id, doc_id, score,
      |           CAST(row_number() OVER (PARTITION BY query_id
      |                  ORDER BY score DESC, doc_id) AS INTEGER) AS rn
      |         FROM sc)""".stripMargin

  /** Shared CTE block for the rrf1/r3 oracles (composes after
    * `bm25RankCtes`): the dense sim1-form ranking `dr`, the query map
    * `qv`, and the RRF fusion ending in the complete hybrid ranking
    * `hyb(query_id, doc_id, rrf, rn)` — mirrors `Pipeline.hybridRrf`
    * kRetrieve=50, rrfK=60. */
  private val rrfFusedCtes: String =
    s"""$bm25RankCtes,
      |lex AS (SELECT query_id, doc_id, rn AS rn_lex FROM lexr
      |        WHERE rn <= 50),
      |qv(query_id, qid) AS (VALUES ('q1', 0), ('q2', 1), ('q3', 2)),
      |qe AS (SELECT vec_id AS qid, embedding AS e FROM embeddings
      |       WHERE vec_id < 3),
      |x AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
      |p AS (SELECT qid, nid,
      |        SUM(CAST(qe.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE))
      |          AS dot,
      |        SUM(CAST(qe.e[i] AS DOUBLE) * CAST(qe.e[i] AS DOUBLE))
      |          AS qq,
      |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE))
      |          AS xx
      |      FROM qe, x, (SELECT unnest(range(1, 65)) AS i)
      |      WHERE qid <> nid GROUP BY qid, nid),
      |dr AS (SELECT qid, nid, row_number() OVER
      |         (PARTITION BY qid
      |          ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
      |       FROM p WHERE qq > 0 AND xx > 0),
      |den AS (SELECT qv.query_id, dr.nid AS doc_id, dr.rn AS rn_dense
      |        FROM dr JOIN qv USING (qid) WHERE dr.rn <= 50),
      |fu AS (SELECT COALESCE(lex.query_id, den.query_id) AS query_id,
      |         COALESCE(lex.doc_id, den.doc_id) AS doc_id,
      |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + rn_lex),
      |                  CAST(0.0 AS DOUBLE))
      |           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + rn_dense),
      |                      CAST(0.0 AS DOUBLE)) AS rrf
      |       FROM lex FULL OUTER JOIN den
      |         ON lex.query_id = den.query_id
      |            AND lex.doc_id = den.doc_id),
      |hyb AS (SELECT query_id, doc_id, rrf,
      |          CAST(row_number() OVER (PARTITION BY query_id
      |                 ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn
      |        FROM fu)""".stripMargin

  /** Shared CTE block for the portable sign-LSH oracles (r4/d18/gr3):
    * 1e-6-quantized components (`lz`), integer hyperplane dots (`ld`,
    * QUADRATIC weights ((1013·y² + 2654435761·y) mod 1000003) − 500001
    * over y = p·64 + i — see `Similarity.portableWeight` for why the
    * mixing must not be linear), packed sign bits — ends in
    * `ls(vec_id, sig)`. Mirrors
    * `Similarity.portableSigCol(bits = 6, dims = 64)` exactly. */
  private val portableSigCtes: String =
    """lz AS (SELECT vec_id, ii.i AS i,
      |         CAST(ROUND(CAST(embedding[ii.i] AS DOUBLE) * 1000000)
      |              AS BIGINT) AS qc
      |       FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii),
      |ld AS (SELECT lz.vec_id, pl.p, SUM(lz.qc *
      |         (((1013 * (((pl.p * 64 + lz.i) % 1000003)
      |                    * ((pl.p * 64 + lz.i) % 1000003))
      |            + 2654435761 * ((pl.p * 64 + lz.i) % 1000003))
      |           % 1000003) - 500001))
      |         AS dot
      |       FROM lz, (SELECT unnest(range(0, 6)) AS p) pl
      |       GROUP BY 1, 2),
      |ls AS (SELECT vec_id,
      |         CAST(SUM(CASE WHEN dot >= 0
      |                  THEN CAST(POWER(2, p) AS BIGINT)
      |                  ELSE 0 END) AS BIGINT) AS sig
      |       FROM ld GROUP BY 1)""".stripMargin

  /** Shared CTE block for the sim8/sim10 oracles — the coarse IVF probe
    * (compose after `kmeansCtes`): queries 0/1/2 ranked against the
    * final-round centroids, nprobe=2 cells, fanned to members; ends in
    * `icand(qid, nid)`. */
  private val ivfProbeCtes: String =
    """ivq(qid) AS (VALUES (0), (1), (2)),
      |icd AS (SELECT e.vec_id AS qid, c.cid,
      |          row_number() OVER (PARTITION BY e.vec_id
      |            ORDER BY list_sum(list_transform(range(1, len(e.v)+1),
      |              i -> (e.v[i]-c.cen[i])*(e.v[i]-c.cen[i]))), c.cid)
      |            AS cr
      |        FROM emb e JOIN ivq ON e.vec_id = ivq.qid
      |          CROSS JOIN c2 c),
      |ipc AS (SELECT qid, cid FROM icd WHERE cr <= 2),
      |icand AS (SELECT ipc.qid, a.vec_id AS nid
      |          FROM ipc JOIN a2 a USING (cid)
      |          WHERE a.vec_id <> ipc.qid)""".stripMargin

  /** Shared CTE block for the sim9/sim10 oracles — the integer ADC
    * tables (compose after `pqKmeansCtes`): 1e-6-grid centroids and
    * query subvectors, per-(query, subspace, code) lookup sums; ends in
    * `ptab(qid, s, cid, t)`. */
  private val pqAdcCtes: String = pqAdcCtesFrom("pemb", "1e6")

  /** [[pqAdcCtes]] with the QUERY vector source and the quantization
    * scale parameterized — the sim12 IVFADC oracle keeps queries RAW
    * (`emb`, the kmeansCtes doubles) on the dyadic 2^20 scale while
    * sim9/sim10 read queries from the shared `pemb` at 1e6. */
  private def pqAdcCtesFrom(querySrc: String, scale: String): String =
    s"""pcen AS (SELECT s, cid, d.i,
      |           CAST(ROUND(cen[d.i] * $scale) AS BIGINT) AS mi
      |         FROM pc2 CROSS JOIN sdims d),
      |pqv AS (SELECT vec_id AS qid, v FROM $querySrc
      |        WHERE vec_id IN (0, 1, 2)),
      |pqs AS (SELECT qid, g.s, d.i,
      |          CAST(ROUND(v[g.s*16 + d.i] * $scale) AS BIGINT) AS qi
      |        FROM pqv CROSS JOIN sgrid g CROSS JOIN sdims d),
      |ptab AS (SELECT q.qid, q.s, c.cid,
      |           CAST(SUM(q.qi * c.mi) AS BIGINT) AS t
      |         FROM pqs q JOIN pcen c ON c.s = q.s AND c.i = q.i
      |         GROUP BY 1, 2, 3)""".stripMargin

  /** Shared CTE block generator for the gr3/gr4 oracles: in-bucket
    * exact-cosine top-`k` edges over the shared portable signature
    * (compose after [[portableSigCtes]]), ending in `edges(src, dst)` —
    * mirrors `Similarity.portableKnnEdges(bits = 6, k)`. */
  private def portableKnnEdgeCtes(k: Int): String =
    s"""nc AS (SELECT a.vec_id AS qid, b.vec_id AS nid
      |       FROM ls a JOIN ls b
      |         ON a.sig = b.sig AND a.vec_id <> b.vec_id),
      |np AS (SELECT nc.qid, nc.nid,
      |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
      |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS dot,
      |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
      |             * CAST(ea.embedding[ii.i] AS DOUBLE)) AS qq,
      |         SUM(CAST(eb.embedding[ii.i] AS DOUBLE)
      |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS xx
      |       FROM nc
      |         JOIN embeddings ea ON ea.vec_id = nc.qid
      |         JOIN embeddings eb ON eb.vec_id = nc.nid,
      |         (SELECT unnest(range(1, 65)) AS i) ii
      |       GROUP BY 1, 2),
      |nr AS (SELECT qid, nid, row_number() OVER
      |         (PARTITION BY qid
      |          ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
      |       FROM np WHERE qq > 0 AND xx > 0),
      |edges AS (SELECT qid AS src, nid AS dst FROM nr WHERE rn <= $k)""".stripMargin

  /** Shared CTE block: 5 unrolled PageRank rounds (d = 0.85) over an
    * `edges(src, dst)` CTE defined upstream — gr1 (exact kNN edges) and
    * gr3 (portable-LSH edges) compose it; ends in `r5(id, rank)`. The
    * (1 - 0.85) / n constant is written as the same double ops Spark's
    * driver performs so both engines fold it to identical bits. */
  private val pagerankCtes: String =
    """nodes AS (SELECT DISTINCT id FROM
      |          (SELECT src AS id FROM edges
      |           UNION ALL SELECT dst FROM edges)),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
      |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges
      |        GROUP BY 1),
      |r0 AS (SELECT id, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
      |i1 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |            JOIN r0 r ON r.id = e.src GROUP BY 1),
      |r1 AS (SELECT nodes.id,
      |         (1 - 0.85) / n + 0.85 * COALESCE(i1.s, 0.0) AS rank
      |       FROM nodes CROSS JOIN nn
      |            LEFT JOIN i1 ON nodes.id = i1.id),
      |i2 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |            JOIN r1 r ON r.id = e.src GROUP BY 1),
      |r2 AS (SELECT nodes.id,
      |         (1 - 0.85) / n + 0.85 * COALESCE(i2.s, 0.0) AS rank
      |       FROM nodes CROSS JOIN nn
      |            LEFT JOIN i2 ON nodes.id = i2.id),
      |i3 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |            JOIN r2 r ON r.id = e.src GROUP BY 1),
      |r3 AS (SELECT nodes.id,
      |         (1 - 0.85) / n + 0.85 * COALESCE(i3.s, 0.0) AS rank
      |       FROM nodes CROSS JOIN nn
      |            LEFT JOIN i3 ON nodes.id = i3.id),
      |i4 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |            JOIN r3 r ON r.id = e.src GROUP BY 1),
      |r4 AS (SELECT nodes.id,
      |         (1 - 0.85) / n + 0.85 * COALESCE(i4.s, 0.0) AS rank
      |       FROM nodes CROSS JOIN nn
      |            LEFT JOIN i4 ON nodes.id = i4.id),
      |i5 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |            JOIN r4 r ON r.id = e.src GROUP BY 1),
      |r5 AS (SELECT nodes.id,
      |         (1 - 0.85) / n + 0.85 * COALESCE(i5.s, 0.0) AS rank
      |       FROM nodes CROSS JOIN nn
      |            LEFT JOIN i5 ON nodes.id = i5.id)""".stripMargin

  /** [[pagerankCtes]] with the per-round dangling-mass term (gr5):
    * each round first folds the total rank parked on nodes with NO
    * out-edges to dt = S/N, then adds it inside the damped sum — the
    * recurrence of `Graph.pageRank(redistributeDangling = true)`. Spark
    * observes S as a fixed-point (decimal(38,30)) sum, DuckDB sums it in
    * double; the two differ in the last bits only, far below the 9dp
    * rounding both sides apply. Generated, so query and oracle share one
    * recursion. */
  private val pagerankDanglingCtes: String = {
    // every r_k is MATERIALIZED: unlike the leak-variant chain (one
    // consumer per round), each round here is read TWICE (dangling sum
    // + in-sum), and an inlining planner would re-evaluate the entire
    // upstream — including the O(N²) edge derivation — 2^5 times (the
    // round-9 postmortem: DuckDB spilled its temp disk to death)
    val rounds = (1 to 5).map { k =>
      s"""dk$k AS MATERIALIZED (
         |        SELECT COALESCE(SUM(rank), 0.0) / (SELECT n FROM nn)
         |          AS dt
         |        FROM r${k - 1} WHERE id NOT IN (SELECT src FROM edges)),
         |i$k AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS s
         |       FROM edges e JOIN deg d ON e.src = d.src
         |            JOIN r${k - 1} r ON r.id = e.src GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT nodes.id,
         |         (1 - 0.85) / n + 0.85 * (COALESCE(i$k.s, 0.0)
         |            + (SELECT dt FROM dk$k)) AS rank
         |       FROM nodes CROSS JOIN nn
         |            LEFT JOIN i$k ON nodes.id = i$k.id)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT DISTINCT id FROM
       |          (SELECT src AS id FROM edges
       |           UNION ALL SELECT dst FROM edges)),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |deg AS MATERIALIZED (
       |        SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges
       |        GROUP BY 1),
       |r0 AS MATERIALIZED (
       |        SELECT id, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
       |$rounds""".stripMargin
  }

  /** Every query in Bench order. Declared after the shared CTE vals: an
    * oracle string built before them would splice in `null`. */
  val registry: Seq[QuerySpec] = Seq(
    // ---- §2b projections / filters / per-record transforms ----
    QuerySpec("p1_parse_validate", (s, d) =>
      Etl.parseValidate(events(s, d), Seq("click", "view", "purchase")),
      Oracle("""SELECT event_id, user_id, event_type,
        |       CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events
        |WHERE props->>'$.k' IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IN ('click','view','purchase')""".stripMargin)),
    QuerySpec("p12_parse_rejects", (s, d) =>
      Etl.parseRejects(events(s, d), Seq("click", "view", "purchase")),
      Oracle("""SELECT event_id,
        |       CASE WHEN props->>'$.k' IS NULL THEN 'unparsable_props'
        |            WHEN user_id IS NULL THEN 'missing_user'
        |            WHEN event_type IS NULL
        |              OR event_type NOT IN ('click','view','purchase')
        |              THEN 'unknown_type' END AS reject_reason
        |FROM events
        |WHERE props->>'$.k' IS NULL OR user_id IS NULL
        |   OR event_type IS NULL
        |   OR event_type NOT IN ('click','view','purchase')""".stripMargin)),
    QuerySpec("p2_cdc_filter", (s, d) =>
      Etl.cdcFilter(env(s, d), "gmall", "cart_info", Seq("update"))
        .select("event_id", "table", "type", "ts_ms"),
      Oracle("""SELECT event_id, 'cart_info' AS "table", 'update' AS type,
        |       epoch_ms(ts) AS ts_ms
        |FROM events WHERE event_type = 'click'""".stripMargin)),
    QuerySpec("p3_map_project", (s, d) =>
      Etl.mapProject(
        Etl.cdcFilter(env(s, d), "gmall", "order_info", Seq("insert")),
        Seq("id", "user_id", "amount")),
      Oracle("""SELECT event_id,
        |       CAST(event_id AS VARCHAR) AS id,
        |       CAST(user_id AS VARCHAR) AS user_id,
        |       CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS amount
        |FROM events WHERE event_type = 'purchase'""".stripMargin)),
    QuerySpec("p4_conditional_delta", (s, d) =>
      Etl.deltaVsPrevious(events(s, d)),
      Oracle("""SELECT event_id, user_id,
        |       CAST(CASE WHEN prev IS NULL THEN cur ELSE cur - prev END
        |            AS DOUBLE) AS delta
        |FROM (SELECT event_id, user_id, CAST(value AS DECIMAL(18,2)) AS cur,
        |             lag(CAST(value AS DECIMAL(18,2))) OVER
        |               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |      FROM events)""".stripMargin)),
    QuerySpec("p5_status_transition", (s, d) =>
      Etl.statusTransition(events(s, d), "signup", "purchase"),
      Oracle("""SELECT event_id, user_id
        |FROM (SELECT event_id, user_id, event_type,
        |             lag(event_type) OVER
        |               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |      FROM events)
        |WHERE prev = 'signup' AND event_type = 'purchase'""".stripMargin)),
    QuerySpec("p6_config_prune", (s, d) =>
      Etl.pruneColumns(env(s, d), Map(
        "cart_info" -> Seq("id", "user_id"),
        "order_info" -> Seq("id", "amount"),
        "user_info" -> Seq("id"),
        "page_log" -> Seq("id"))),
      Oracle("""SELECT event_id,
        |       CASE event_type WHEN 'click' THEN 'cart_info'
        |            WHEN 'purchase' THEN 'order_info'
        |            WHEN 'signup' THEN 'user_info'
        |            WHEN 'view' THEN 'page_log' END AS "table",
        |       CASE event_type WHEN 'click' THEN 'id,user_id'
        |            WHEN 'purchase' THEN 'amount,id'
        |            WHEN 'signup' THEN 'id'
        |            WHEN 'view' THEN 'id' END AS kept_keys
        |FROM events WHERE event_type <> 'error'""".stripMargin)),
    QuerySpec("p11_debezium_filter", (s, d) => {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      Etl.toDebeziumEnvelope(events(s, d))
        .where(col("op").isin("c", "u"))
        .select(col("event_id"), col("op"),
          coalesce(col("before.amount").cast("string"), lit(""))
            .as("before_amount"),
          col("after.amount").cast("string").as("after_amount"))
    },
      Oracle("""SELECT event_id,
        |       CASE event_type WHEN 'signup' THEN 'c' ELSE 'u' END AS op,
        |       CASE WHEN event_type = 'click'
        |            THEN CAST(CAST(value AS DECIMAL(18,2)) - 2.50 AS VARCHAR)
        |            ELSE '' END AS before_amount,
        |       CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS after_amount
        |FROM events WHERE event_type IN ('signup', 'click')""".stripMargin)),
    QuerySpec("p7_snake_json", (s, d) => Etl.toSnakeJson(events(s, d)),
      Oracle("""SELECT event_id,
        |       '{"event_id":' || event_id || ',"event_type":"' || event_type
        |       || '","amount":"'
        |       || CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR)
        |       || '"}' AS payload
        |FROM events""".stripMargin)),
    QuerySpec("p8_ts_units", (s, d) => Etl.tsUnits(events(s, d)),
      Oracle("""SELECT event_id, epoch_ms(ts) AS ts_ms,
        |       CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT) AS ts_s
        |FROM events""".stripMargin)),
    QuerySpec("p9_date_formats", (s, d) => Etl.dateFormats(events(s, d)),
      Oracle("""SELECT event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt,
        |       strftime(ts, '%Y%m%d') AS d8,
        |       CAST(ts AS DATE) AS date_id
        |FROM events""".stripMargin)),
    QuerySpec("g1_string_funcs", (s, d) =>
      Etl.stringFuncs(t(s, d, "documents")),
      Oracle("""SELECT doc_id,
        |       lang || '_' || source AS lang_src,
        |       length(text) AS text_len,
        |       upper(lang) AS lang_uc,
        |       substring(text, 1, 10) AS prefix10,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
        |FROM documents""".stripMargin)),
    QuerySpec("g2_array_agg", (s, d) => {
      import org.apache.spark.sql.functions._
      events(s, d).groupBy(col("user_id"))
        .agg(
          array_join(array_sort(collect_set(col("event_type"))), ",")
            .as("types_seen"),
          count(lit(1)).as("n"))
    },
      Oracle("""SELECT user_id,
        |       array_to_string(list_sort(list_distinct(list(event_type))),
        |                       ',') AS types_seen,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin)),
    // ---- §2c splits ----
    QuerySpec("x1_split_counts", (s, d) => Splits.splitLogCounts(events(s, d)),
      Oracle("""SELECT CASE WHEN event_type IN ('view','click') THEN 'page'
        |            WHEN event_type = 'signup' THEN 'start'
        |            WHEN event_type = 'error' THEN 'err'
        |            WHEN event_type = 'purchase'
        |                 AND CAST(props->>'$.k' AS INTEGER) >= 50
        |                 THEN 'display'
        |            WHEN event_type = 'purchase'
        |                 AND (CAST(props->>'$.k' AS INTEGER) < 50
        |                      OR (props->>'$.k') IS NULL)
        |                 THEN 'action'
        |            ELSE 'dropped' END AS leg,
        |       COUNT(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("x2_explode_words", (s, d) =>
      Splits.explodeWords(t(s, d, "documents"), 200L),
      Oracle("""SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |FROM documents WHERE doc_id < 200""".stripMargin)),
    QuerySpec("x3_route_counts", (s, d) =>
      Splits.routeCounts(events(s, d), Splits.defaultRouteConfig(s)),
      Oracle("""SELECT CASE event_type WHEN 'signup' THEN 'dwd_user_register'
        |            WHEN 'purchase' THEN 'dwd_trade_order'
        |            WHEN 'click' THEN 'dwd_traffic_click'
        |            WHEN 'view' THEN 'dwd_traffic_page' END AS sink_topic,
        |       COUNT(*) AS cnt
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // CDC config event log -> CURRENT routing table: keep-last per key
    // with op='d' tombstones removing the route (the reference's
    // config-delete path, DimApp.java:85-140). The log is derived
    // deterministically from `nation` (3 generations: create all,
    // update evens, delete every third) so the oracle rebuilds it
    // verbatim
    QuerySpec("x4_config_cdc_routes", (s, d) => {
      import org.apache.spark.sql.functions._
      val nation = t(s, d, "nation")
      val gen1 = nation.select(lit("c").as("op"),
        col("n_name").as("event_type"),
        concat(lit("t_"), col("n_name")).as("sink_topic"), lit(1L).as("ts"))
      val gen2 = nation.where(col("n_nationkey") % 2 === 0)
        .select(lit("u").as("op"), col("n_name").as("event_type"),
          concat(lit("t2_"), col("n_name")).as("sink_topic"),
          lit(2L).as("ts"))
      val gen3 = nation.where(col("n_nationkey") % 3 === 0)
        .select(lit("d").as("op"), col("n_name").as("event_type"),
          lit("").as("sink_topic"), lit(3L).as("ts"))
      Splits.routeConfigFromCdc(gen1.unionByName(gen2).unionByName(gen3))
        .orderBy(col("event_type"))
    },
      // keep-last per key over the generated 3-generation CDC log, final
      // op='d' removes the key — same (ts, op, sink_topic) total order
      Oracle("""WITH log AS (
        |  SELECT 'c' AS op, n_name AS event_type,
        |         't_' || n_name AS sink_topic, 1 AS ts FROM nation
        |  UNION ALL
        |  SELECT 'u', n_name, 't2_' || n_name, 2 FROM nation
        |  WHERE n_nationkey % 2 = 0
        |  UNION ALL
        |  SELECT 'd', n_name, '', 3 FROM nation
        |  WHERE n_nationkey % 3 = 0),
        |rk AS (
        |  SELECT op, event_type, sink_topic,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY ts DESC, op DESC, sink_topic DESC) AS rn
        |  FROM log)
        |SELECT event_type, sink_topic FROM rk
        |WHERE rn = 1 AND op <> 'd'
        |ORDER BY 1""".stripMargin)),
    // ---- §2d joins ----
    QuerySpec("j1_order_revenue_by_priority", (s, d) =>
      Joins.orderRevenueByPriority(t(s, d, "orders"), t(s, d, "lineitem")),
      Oracle("""SELECT o_orderpriority, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |            AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("j2_customer_order_summary", (s, d) =>
      Joins.customerOrderSummary(t(s, d, "customer"), t(s, d, "orders")),
      Oracle("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
        |                     0) AS DOUBLE) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin)),
    QuerySpec("j3_interval_join", (s, d) =>
      Joins.purchasesWithRecentSignup(events(s, d)),
      Oracle(
        """SELECT p.event_id AS purchase_id, p.user_id, s.event_id AS signup_id
        |FROM events p JOIN events s
        |  ON p.user_id = s.user_id
        | AND s.ts >= p.ts - INTERVAL 15 MINUTE AND s.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND s.event_type = 'signup'""".stripMargin)),
    QuerySpec("j16_bucketed_interval", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = events(s, d)
      Joins.bucketedIntervalJoin(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") === "signup"))
    },
      Oracle(
        """SELECT p.event_id AS purchase_id, p.user_id, s.event_id AS signup_id
        |FROM events p JOIN events s
        |  ON p.user_id = s.user_id
        | AND s.ts >= p.ts - INTERVAL 15 MINUTE AND s.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND s.event_type = 'signup'""".stripMargin)),
    QuerySpec("j4_lookup_region", (s, d) =>
      Joins.lookupRegionName(events(s, d), t(s, d, "region")),
      Oracle("""SELECT e.event_id, r.r_name AS region_name
        |FROM events e LEFT JOIN region r ON e.user_id % 5 = r.r_regionkey""".stripMargin)),
    QuerySpec("j5_dim_route", (s, d) => {
      import s.implicits._
      Joins.dimRoute(env(s, d),
        Seq(("user_info", "info"), ("order_info", "info"))
          .toDF("table", "sink_family"))
    },
      Oracle("""SELECT CASE event_type WHEN 'signup' THEN 'user_info'
        |            WHEN 'purchase' THEN 'order_info' END AS "table",
        |       'info' AS sink_family, COUNT(*) AS cnt
        |FROM events WHERE event_type IN ('signup','purchase')
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),
    QuerySpec("j6_snowflake_enrich", (s, d) =>
      Joins.snowflakeEnrich(t(s, d, "orders"), t(s, d, "customer"),
        t(s, d, "nation"), t(s, d, "region")),
      Oracle("""SELECT r_name, n_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_spend
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("j7_star_revenue_by_region", (s, d) =>
      Joins.revenueByRegion(t(s, d, "lineitem"), t(s, d, "orders"),
        t(s, d, "customer"), t(s, d, "nation"), t(s, d, "region")),
      Oracle("""SELECT r_name,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |            AS DOUBLE) AS revenue,
        |       COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("j10_semi_join", (s, d) =>
      Joins.customersWithBigOrders(t(s, d, "customer"), t(s, d, "orders"),
        400000.0),
      Oracle("""SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000.0)""".stripMargin)),
    QuerySpec("j11_anti_join", (s, d) =>
      Joins.customersWithoutBigOrders(t(s, d, "customer"),
        t(s, d, "orders"), 400000.0),
      Oracle("""SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000.0)""".stripMargin)),
    QuerySpec("j12_full_outer", (s, d) =>
      Joins.fullOuterUserCustomer(events(s, d), t(s, d, "customer"), 200L),
      Oracle("""SELECT COALESCE(u.user_id, c.c_custkey) AS id,
        |       CASE WHEN u.user_id IS NULL THEN 0 ELSE 1 END AS has_events,
        |       CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS is_customer
        |FROM (SELECT DISTINCT user_id FROM events) u
        |FULL OUTER JOIN (SELECT c_custkey FROM customer
        |                 WHERE c_custkey < 200) c
        |  ON u.user_id = c.c_custkey""".stripMargin)),
    QuerySpec("a17_pricing_cube", (s, d) => {
      import org.apache.spark.sql.functions._
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"))
        .orderBy(col("rf"), col("ls"))
    },
      Oracle("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin)),
    QuerySpec("a16_pivot_daily_types", (s, d) => {
      import org.apache.spark.sql.functions._
      events(s, d)
        .groupBy(to_date(col("ts")).as("d"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("d"))
    },
      Oracle("""SELECT CAST(ts AS DATE) AS d,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
        |         AS click,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
        |         AS error,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
        |         AS purchase,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
        |         AS signup,
        |       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
        |         AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("j9_asof_last_signup", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = events(s, d)
      Joins.asofJoin(
        ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts")),
        ev.where(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("user_id"),
            col("ts")),
        "user_id", "ts", "ts", "purchase_id", "signup_id")
    },
      Oracle("""SELECT p.event_id AS purchase_id, p.user_id,
        |       s.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts""".stripMargin)),
    QuerySpec("j14_scd2_lookup", (s, d) =>
      Joins.scd2Lookup(events(s, d),
        Joins.makeVersionedDim(t(s, d, "region"))),
      Oracle("""SELECT e.event_id, d.r_name || '_' || d.ver AS attr
        |FROM events e
        |JOIN (SELECT r_regionkey AS dim_key, r_name, ver,
        |             CAST(f AS TIMESTAMP) AS valid_from,
        |             CAST(t AS TIMESTAMP) AS valid_to
        |      FROM region,
        |           (VALUES ('2024-01-01 00:00:00','2024-01-15 00:00:00','v1'),
        |                   ('2024-01-15 00:00:00','2024-02-01 00:00:00','v2'))
        |             AS v(f, t, ver)) d
        |  ON e.user_id % 5 = d.dim_key
        | AND e.ts >= d.valid_from AND e.ts < d.valid_to""".stripMargin)),
    QuerySpec("j17_time_to_convert", (s, d) =>
      Joins.timeToConvert(events(s, d)),
      Oracle("""SELECT signup_id, user_id, purchase_id, delay_ms FROM (
        |  SELECT s.event_id AS signup_id, s.user_id,
        |         p.event_id AS purchase_id,
        |         CAST(epoch_ms(p.ts) - epoch_ms(s.ts) AS BIGINT)
        |           AS delay_ms,
        |         row_number() OVER (PARTITION BY s.event_id
        |           ORDER BY p.ts, p.event_id) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |  JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON s.user_id = p.user_id AND p.ts >= s.ts)
        |WHERE rn = 1""".stripMargin)),
    QuerySpec("j13_asof_native", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = events(s, d)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val sg = ev.where(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("ts").as("s_ts"))
      graft.plans.AsOf.join(p, sg, "user_id", "ts", "s_ts")
        .toDF("purchase_id", "user_id", "ts", "signup_id", "u2", "s_ts")
        .select("purchase_id", "user_id", "signup_id")
    },
      Oracle("""SELECT p.event_id AS purchase_id, p.user_id,
        |       s.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts""".stripMargin)),
    QuerySpec("u1_kwsplit", (s, d) => {
      import org.apache.spark.sql.functions.{col, length}
      t(s, d, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"),
          graft.functions.Text.kwSplit(col("text")).as("keyword"))
        .withColumn("kw_len", length(col("keyword")).cast("int"))
    },
      Oracle(
        """SELECT doc_id, kw AS keyword, CAST(length(kw) AS INTEGER) AS kw_len
        |FROM (SELECT doc_id,
        |             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS kw
        |      FROM documents WHERE doc_id < 100)
        |WHERE kw <> ''""".stripMargin)),
    // ---- §2e aggregations ----
    QuerySpec("a1_hourly_count_by_type", (s, d) =>
      Aggs.hourlyCountByType(events(s, d)),
      Oracle("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
        |       event_type, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("a2_keyed_window_stats", (s, d) =>
      Aggs.keyedWindowStats(events(s, d)),
      Oracle("""WITH b AS (
        |  SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL 6 HOUR *
        |           CAST(floor(epoch_ms(ts)/21600000.0) AS BIGINT) AS ws,
        |         event_type, value
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
        |       strftime(ws + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
        |       strftime(ws, '%Y-%m-%d') AS cur_date,
        |       event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |       MIN(value) AS min_v, MAX(value) AS max_v
        |FROM b GROUP BY ws, event_type ORDER BY 1, 4""".stripMargin)),
    QuerySpec("a3_global_daily_stats", (s, d) =>
      Aggs.globalDailyStats(events(s, d)),
      Oracle(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("a4_keyword_counts", (s, d) =>
      Aggs.keywordDailyCounts(t(s, d, "documents")),
      Oracle("""SELECT kw AS keyword, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS kw
        |      FROM documents)
        |WHERE kw <> '' GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("a5_pricing_summary", (s, d) =>
      Aggs.pricingSummary(t(s, d, "lineitem")),
      Oracle("""SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |            AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) *
        |                (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))))
        |            AS DOUBLE) AS sum_charge,
        |       COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("a6_distinct_users_by_type", (s, d) =>
      Aggs.distinctUsersByType(events(s, d)),
      Oracle(
        """SELECT event_type, COUNT(DISTINCT user_id) AS uu, COUNT(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("a7_keep_last_per_user", (s, d) =>
      Aggs.keepLastPerUser(events(s, d)),
      Oracle(
        """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |       value AS last_value
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin)),
    QuerySpec("a8_daily_unique_users", (s, d) =>
      Aggs.dailyUniqueUsers(events(s, d)),
      Oracle("""SELECT CAST(ts AS DATE) AS event_date,
        |       COUNT(DISTINCT user_id) AS uu
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("a9_user_first_seen", (s, d) =>
      Aggs.userFirstSeen(events(s, d)),
      Oracle("""SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days
        |FROM events GROUP BY 1""".stripMargin)),
    // ---- §2f relational surface + S1 scan ----
    QuerySpec("s1_scan_pushdown", (s, d) =>
      Relational.scanPushdown(events(s, d)),
      Oracle("""SELECT event_id, user_id FROM events
        |WHERE event_type = 'purchase' AND value > 100.0""".stripMargin)),
    QuerySpec("s2_salted_join", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      Joins.saltedJoin(events(s, d), Splits.defaultRouteConfig(s),
          "event_type", 8, "event_id")
        .groupBy(col("sink_topic")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("sink_topic"))
    },
      Oracle("""SELECT CASE event_type WHEN 'signup' THEN 'dwd_user_register'
        |            WHEN 'purchase' THEN 'dwd_trade_order'
        |            WHEN 'click' THEN 'dwd_traffic_click'
        |            WHEN 'view' THEN 'dwd_traffic_page' END AS sink_topic,
        |       COUNT(*) AS cnt
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("f1_top_purchases", (s, d) =>
      Relational.topPurchases(events(s, d), 100),
      Oracle("""SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY value DESC, event_id LIMIT 100""".stripMargin)),
    QuerySpec("f4_topk_per_group", (s, d) => {
      import org.apache.spark.sql.functions._
      events(s, d).groupBy(col("event_type"))
        .agg(graft.functions.TopKAgg.topK(col("value"), col("event_id"), 3)
          .as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("r0", "t")))
        .select(col("event_type"), (col("r0") + 1).cast("int").as("rank"),
          col("t.id").as("event_id"), col("t.value").as("value"))
    },
      Oracle("""SELECT event_type, CAST(rn AS INTEGER) AS rank, event_id, value
        |FROM (SELECT event_type, event_id, value,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY value DESC, event_id) AS rn
        |      FROM events)
        |WHERE rn <= 3""".stripMargin)),
    QuerySpec("f2_engaged_user_days", (s, d) =>
      Relational.engagedUserDays(events(s, d)),
      Oracle("""SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |FROM events WHERE event_type = 'error'""".stripMargin)),
    QuerySpec("f3_running_totals", (s, d) =>
      Relational.runningTotals(events(s, d)),
      Oracle("""SELECT event_id, user_id,
        |       COUNT(*) OVER w AS run_n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |         AS run_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),
    QuerySpec("f5_trailing_hour_sums", (s, d) =>
      Relational.trailingHourSums(events(s, d)),
      Oracle("""SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |              (PARTITION BY user_id ORDER BY epoch_s
        |               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS hr_sum
        |FROM (SELECT event_id, user_id, value,
        |             CAST(floor(epoch_ms(ts)/1000.0) AS BIGINT) AS epoch_s
        |      FROM events)""".stripMargin)),
    QuerySpec("f6_unpivot_daily_types", (s, d) =>
      Relational.unpivotDailyTypes(
        queries("a16_pivot_daily_types")(s, d)),
      Oracle("""WITH dd AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
        |tt AS (SELECT unnest(['click','error','purchase','signup','view'])
        |         AS event_type),
        |cc AS (SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS cnt
        |       FROM events GROUP BY 1, 2)
        |SELECT dd.d, tt.event_type,
        |       CAST(COALESCE(cc.cnt, 0) AS BIGINT) AS cnt
        |FROM dd CROSS JOIN tt
        |LEFT JOIN cc ON cc.d = dd.d AND cc.event_type = tt.event_type""".stripMargin)),
    QuerySpec("f7_value_quartiles", (s, d) =>
      Relational.valueQuartiles(events(s, d)),
      Oracle("""SELECT event_id,
        |       CAST(ntile(4) OVER (PARTITION BY event_type
        |              ORDER BY value, event_id) AS INTEGER) AS quartile
        |FROM events""".stripMargin)),
    // ---- training-data pipeline: text analysis ----
    QuerySpec("t1_token_stats", (s, d) =>
      TextAnalysis.tokenStats(t(s, d, "documents")),
      Oracle("""SELECT doc_id,
        |       CAST(len(string_split_regex(text, '\s+')) AS INTEGER)
        |         AS n_ws_tokens,
        |       CAST(len(list_filter(string_split_regex(lower(text),
        |              '[^a-z0-9]+'), x -> x <> '')) AS INTEGER)
        |         AS n_alnum_tokens,
        |       CAST(length(text) AS INTEGER) AS n_chars_actual,
        |       n_chars
        |FROM documents""".stripMargin)),
    QuerySpec("t2_quality_stats", (s, d) =>
      TextAnalysis.qualityStats(t(s, d, "documents"),
        Seq("the", "a", "of", "to", "and")),
      Oracle("""SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the','a','of','to','and'))) AS INTEGER)
        |         AS n_stopwords,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
        |         AS n_distinct,
        |       CAST(length(text) -
        |            length(regexp_replace(text, '[.,!?;]', '', 'g'))
        |            AS INTEGER) AS n_punct,
        |       CAST(length(text) -
        |            length(regexp_replace(text, '[0-9]', '', 'g'))
        |            AS INTEGER) AS n_digits
        |FROM documents""".stripMargin)),
    QuerySpec("t3_language_id", (s, d) =>
      TextAnalysis.languageId(t(s, d, "documents")),
      Oracle(s"""WITH $langPredCtes
        |SELECT doc_id, lang_true, lang_pred FROM lp""".stripMargin)),
    QuerySpec("t4_doc_fingerprint", (s, d) =>
      TextAnalysis.normalizedFingerprint(t(s, d, "documents")),
      Oracle("""SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |         AS fingerprint
        |FROM documents""".stripMargin)),
    QuerySpec("t6_trigram_lm_score", (s, d) =>
      TextAnalysis.trigramLmScore(t(s, d, "documents")),
      Oracle("""WITH tris AS (
        |  SELECT doc_id, substr(lower(text), i, 3) AS tri
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-2,1)+1)) AS i
        |        FROM documents)
        |  WHERE length(substr(lower(text), i, 3)) = 3),
        |dt AS (SELECT doc_id, tri, COUNT(*) AS c FROM tris GROUP BY 1, 2),
        |stats AS (SELECT tri, SUM(c) AS tf FROM dt GROUP BY 1),
        |tot AS (SELECT SUM(tf) AS total, COUNT(*) AS vocab FROM stats)
        |SELECT doc_id,
        |       SUM(c * ln((tf + 1) / CAST(total + vocab AS DOUBLE))) / SUM(c)
        |         AS lm_score,
        |       CAST(SUM(c) AS BIGINT) AS n_trigrams
        |FROM dt JOIN stats USING (tri) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin)),
    QuerySpec("t13_cross_perplexity", (s, d) =>
      TextAnalysis.crossPerplexity(t(s, d, "documents"), "en"),
      Oracle("""WITH tris AS (
        |  SELECT doc_id, substr(lower(text), i, 3) AS tri
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-2,1)+1)) AS i
        |        FROM documents)
        |  WHERE length(substr(lower(text), i, 3)) = 3),
        |dt AS (SELECT doc_id, tri, COUNT(*) AS c FROM tris GROUP BY 1, 2),
        |stats AS (
        |  SELECT tri, SUM(c) AS tf
        |  FROM dt JOIN documents USING (doc_id)
        |  WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT SUM(tf) AS total, COUNT(*) AS vocab FROM stats)
        |SELECT doc_id,
        |       SUM(c * ln((COALESCE(tf, 0) + 1)
        |                  / CAST(total + vocab AS DOUBLE))) / SUM(c)
        |         AS xlm_score,
        |       CAST(SUM(c) AS BIGINT) AS n_trigrams
        |FROM dt LEFT JOIN stats USING (tri) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin)),
    QuerySpec("t5_winnowing_fp", (s, d) =>
      TextAnalysis.winnowingFingerprint(t(s, d, "documents"), 4)
        .select("doc_id", "n_fp"),
      // n_fp = |distinct rolling-hash values| = |distinct token windows|
      // modulo 64-bit collisions (none on this corpus; the identity spec
      // covers the hash itself)
      Oracle("""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id,
        |         array_to_string(tk[i : least(i + 3, len(tk))], chr(1)) AS win
        |  FROM (SELECT doc_id, tk,
        |          unnest(range(1, greatest(len(tk) - 3,
        |            CASE WHEN len(tk) = 0 THEN 0 ELSE 1 END) + 1)) AS i
        |        FROM toks))
        |SELECT d.doc_id, CAST(COALESCE(w.n, 0) AS INTEGER) AS n_fp
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, COUNT(DISTINCT win) AS n
        |           FROM wins GROUP BY 1) w
        |  USING (doc_id)""".stripMargin)),
    QuerySpec("t14_gopher_quality", (s, d) =>
      TextAnalysis.gopherQuality(t(s, d, "documents")),
      // thresholds mirror gopherQuality defaults; top_word_frac and
      // mean_word_len are plain double divisions of identical ints on both
      // sides, so the 6dp compare is exact
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |w AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |tc AS (SELECT doc_id, MAX(c) AS top_cnt FROM
        |       (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
        |       GROUP BY 1),
        |base AS (SELECT doc_id,
        |           CAST(len(toks) AS INTEGER) AS n_words,
        |           list_sum(list_transform(toks, x -> length(x)))
        |             / CAST(len(toks) AS DOUBLE) AS mean_word_len,
        |           CAST(len(list_filter(toks, x -> list_contains(
        |             ['the', 'a', 'and', 'of', 'to'], x))) AS INTEGER)
        |             AS n_stopwords
        |         FROM t)
        |SELECT b.doc_id, b.n_words, b.mean_word_len, b.n_stopwords,
        |       tc.top_cnt / CAST(b.n_words AS DOUBLE) AS top_word_frac,
        |       CAST(CASE WHEN b.n_words BETWEEN 50 AND 100000
        |              AND b.mean_word_len BETWEEN 3.0 AND 10.0
        |              AND tc.top_cnt / CAST(b.n_words AS DOUBLE) <= 0.1
        |              AND b.n_stopwords >= 2
        |            THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM base b JOIN tc USING (doc_id)""".stripMargin)),
    QuerySpec("t15_unigram_entropy", (s, d) =>
      TextAnalysis.unigramEntropy(t(s, d, "documents")),
      // H = ln(n) - SUM(c ln c)/n; the only cross-engine difference is the
      // summation order of c*ln(c) (~1e-15), far below the 6dp compare
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |w AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |c AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS c
        |      FROM w GROUP BY doc_id, w),
        |e AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_distinct,
        |             SUM(c * ln(c)) AS s
        |      FROM c GROUP BY 1)
        |SELECT t.doc_id, CAST(len(toks) AS INTEGER) AS n_words,
        |       e.n_distinct,
        |       ln(CAST(len(toks) AS DOUBLE)) - e.s / len(toks) AS entropy
        |FROM t JOIN e USING (doc_id)""".stripMargin)),
    // ---- training-data pipeline: corpus-level lexical stats ----
    QuerySpec("n1_bigram_topk", (s, d) =>
      Corpus.ngramTopK(t(s, d, "documents"), 100),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |b AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |            FROM w WHERE len(w) >= 2))
        |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS tf,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM b GROUP BY 1
        |ORDER BY tf DESC, bigram LIMIT 100""".stripMargin)),
    QuerySpec("n2_vocab_zipf", (s, d) =>
      Corpus.vocabZipf(t(s, d, "documents")),
      Oracle(
        """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS tf,
        |             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |      FROM t GROUP BY 1)
        |SELECT word, tf, df,
        |       CAST(row_number() OVER (ORDER BY tf DESC, word) AS INTEGER)
        |         AS rank
        |FROM v""".stripMargin)),
    QuerySpec("r1_bm25_topk", (s, d) =>
      Corpus.bm25TopK(t(s, d, "documents")),
      // constants are written as the same double OPS Spark executes
      // ((1.2 + 1), (1 - 0.75), (0.75 / avgdl)) so both engines fold them
      // to identical bits; remaining diffs are summation-order LSBs, far
      // below the 6dp compare
      Oracle(s"""WITH $bm25RankCtes
        |SELECT query_id, doc_id, score, rn FROM lexr
        |WHERE rn <= 10""".stripMargin)),
    QuerySpec("n3_pmi_bigrams", (s, d) =>
      Corpus.pmiBigrams(t(s, d, "documents"), 100, 5L),
      // pmi arithmetic mirrors Corpus.pmiBigrams op-for-op — pure per-row
      // double arithmetic on exact integers, bit-identical across engines
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |uni AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS uf
        |        FROM (SELECT unnest(w) AS w FROM t) GROUP BY 1),
        |totu AS (SELECT CAST(SUM(uf) AS DOUBLE) AS totu FROM uni),
        |totb AS (SELECT CAST(SUM(greatest(len(w) - 1, 0)) AS DOUBLE)
        |           AS totb FROM t),
        |bi AS (SELECT w[i] AS w1, w[i+1] AS w2,
        |              CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM (SELECT w, unnest(range(1, len(w))) AS i
        |             FROM t WHERE len(w) >= 2)
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, tf,
        |       ln((CAST(tf AS DOUBLE) / totb) /
        |          ((CAST(u1.uf AS DOUBLE) / totu) *
        |           (CAST(u2.uf AS DOUBLE) / totu))) AS pmi
        |FROM bi JOIN uni u1 ON bi.w1 = u1.word
        |        JOIN uni u2 ON bi.w2 = u2.word
        |        CROSS JOIN totu CROSS JOIN totb
        |ORDER BY tf DESC, w1, w2 LIMIT 100""".stripMargin)),
    QuerySpec("r2_tfidf_topterms", (s, d) =>
      Corpus.tfidfTopTerms(t(s, d, "documents"), 5),
      // smooth idf (ln((1+N)/(1+df)) + 1) — per-row arithmetic on exact
      // integers, so tfidf ties are bit-identical and the (tfidf desc,
      // term) order is engine-stable
      Oracle("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' '))
        |               AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        |       FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |        tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0) AS tfidf
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rn FROM (
        |  SELECT doc_id, term, tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                ORDER BY tfidf DESC, term) AS INTEGER) AS rn
        |  FROM s)
        |WHERE rn <= 5""".stripMargin)),
    QuerySpec("a20_cohort_retention", (s, d) =>
      Aggs.cohortRetention(events(s, d)),
      Oracle("""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |           FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY 1)
        |SELECT f.cohort, CAST(d.day - f.cohort AS INTEGER) AS day_n,
        |       CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS n_users
        |FROM d JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("a21_funnel_stages", (s, d) =>
      Aggs.funnelStages(events(s, d)),
      Oracle("""WITH base AS (SELECT user_id, event_type, ts FROM events
        |              WHERE user_id IS NOT NULL),
        |s1 AS (SELECT user_id, MIN(ts) AS t FROM base
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT b.user_id, MIN(b.ts) AS t
        |       FROM base b JOIN s1 USING (user_id)
        |       WHERE b.event_type = 'click' AND b.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT b.user_id, MIN(b.ts) AS t
        |       FROM base b JOIN s2 USING (user_id)
        |       WHERE b.event_type = 'purchase' AND b.ts > s2.t GROUP BY 1)
        |SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL
        |SELECT 'click', CAST(COUNT(*) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3""".stripMargin)),
    QuerySpec("q1_model_quality", (s, d) =>
      TextAnalysis.modelQualityScore(t(s, d, "documents")),
      // weights are INTEGER before the one double division + sigmoid, so the
      // 6dp round sits on exact inputs — same bit-stability trick as n3
      Oracle(s"""WITH $modelScoreCtes
         |SELECT doc_id, n_toks, score FROM qsc""".stripMargin)),
    // classifier calibration report: decile bins of the q1 score with
    // per-bin volume — the distribution a threshold choice is read from
    QuerySpec("cal1_score_bins", (s, d) => {
      import org.apache.spark.sql.functions._
      TextAnalysis.modelQualityScore(t(s, d, "documents"))
        .groupBy(least(floor(col("score") * 10), lit(9L)).cast("int")
          .as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_toks"),
          round(avg(col("score")), 6).as("mean_score"))
    },
      // bins sit on the 6dp-rounded score both engines hash-match in q1,
      // so floor(score*10) cannot straddle engines
      Oracle(s"""WITH $modelScoreCtes
         |SELECT CAST(LEAST(floor(score * 10), 9) AS INTEGER) AS bin,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_toks) AS BIGINT) AS total_toks,
         |       ROUND(AVG(score), 6) AS mean_score
         |FROM qsc GROUP BY 1""".stripMargin)),
    // keep-curve over candidate quality cutoffs: docs and token mass
    // surviving each threshold — the report a threshold choice reads
    QuerySpec("q2_threshold_sweep", (s, d) =>
      TextAnalysis.thresholdSweep(t(s, d, "documents")),
      // thresholds are i/10 — exact IEEE division of identical integers —
      // and the comparisons sit on the 6dp score q1 hash-matches
      Oracle(s"""WITH $modelScoreCtes,
         |thv AS (SELECT i / 10.0 AS thr
         |        FROM (SELECT unnest(range(1, 10)) AS i))
         |SELECT thr,
         |       CAST(COUNT(CASE WHEN score >= thr THEN 1 END) AS BIGINT)
         |         AS n_kept,
         |       CAST(COALESCE(SUM(CASE WHEN score >= thr THEN n_toks END),
         |                     0) AS BIGINT) AS toks_kept
         |FROM qsc CROSS JOIN thv GROUP BY 1""".stripMargin)),
    // per-source percentile calibration of the q1 score: one cutoff
    // means the same keep-rate in every source
    QuerySpec("cal2_source_calibrated", (s, d) =>
      TextAnalysis.sourceCalibratedScore(t(s, d, "documents")),
      // percent_rank = (rank-1)/(n-1) depends only on the 6dp score VALUES
      // q1 hash-matches, so the calibration is tie-order-independent
      Oracle(s"""WITH $modelScoreCtes,
         |csrc AS (SELECT q.doc_id, d.source, q.score
         |         FROM qsc q JOIN documents d USING (doc_id))
         |SELECT doc_id, source, score,
         |       ROUND(percent_rank() OVER
         |         (PARTITION BY source ORDER BY score), 6) AS cal
         |FROM csrc""".stripMargin)),
    // behavior-sequence transition matrix over user timelines: counts +
    // row-normalized probabilities (next-event training-set summary)
    QuerySpec("seq3_transition_matrix", (s, d) =>
      Aggs.transitionCounts(events(s, d)),
      // consecutive-pair lead over (user, ts, event_id); counts are exact
      // int64, p is the one double op rounded 6dp on identical ints
      Oracle("""WITH sq AS (SELECT user_id, event_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM events),
        |tc AS (SELECT event_type AS from_type, to_type,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |       FROM sq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       ROUND(CAST(n AS DOUBLE) /
        |         CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |         AS p
        |FROM tc""".stripMargin)),
    QuerySpec("d14_dup_spans", (s, d) =>
      Dedup.dupSpans(t(s, d, "documents"), 8, 2),
      Oracle(s"""WITH $dupSpanCtes
         |SELECT doc_id, n_words, n_spans, dup_words, dup_frac
         |FROM dspan""".stripMargin)),
    QuerySpec("ml1_kmeans_assign", (s, d) =>
      Clustering.kmeansAssign(t(s, d, "embeddings"), 8, 2),
      // two unrolled Lloyd rounds; centroids ROUND(mean, 6) each round on
      // both sides so parallel-sum noise cannot accumulate (Clustering.scala
      // determinism contract). The shared CTE block also powers d15.
      Oracle(s"""WITH $kmeansCtes
         |SELECT vec_id, cid AS cluster FROM a2""".stripMargin)),
    // the SAMPLED-training path of the scalable quantizer, hash-gated:
    // trainCap 256 < the 500-vector verify corpus forces Lloyd onto the
    // deterministic md5-threshold sample (fraction 0.512 — the smp1
    // predicate), final assignment covers the full corpus at the
    // sample-trained centroids (the sim11 frozen-assign shape)
    QuerySpec("ml2_kmeans_sampled", (s, d) =>
      Clustering.kmeansAssignScalable(t(s, d, "embeddings"), 8, 2,
        trainCap = 256L),
      // sampled-training Lloyd: the training CTEs run on the md5-threshold
      // sample (the smp1 predicate at fraction 256/500), the assignment
      // runs over the FULL corpus at the final sampled centroids — same
      // held-out-assign shape as sim11's oracle
      Oracle(s"""WITH ${kmeansCtesOn(
             s"substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < " +
               s"'${graft.ops.Sampling.fractionThreshold(256.0 / 500.0)}'")},
         |emball AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |asg AS (SELECT vec_id, cid FROM (
         |          SELECT e.vec_id, c.cid, row_number() OVER (
         |              PARTITION BY e.vec_id
         |              ORDER BY list_sum(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i]-c.cen[i])*(e.v[i]-c.cen[i]))), c.cid)
         |            AS rn
         |          FROM emball e CROSS JOIN c2 c) WHERE rn = 1)
         |SELECT vec_id, cid AS cluster FROM asg""".stripMargin)),
    // threshold 0.4 like d5: the synthetic embeddings carry no true
    // near-dups (max pairwise cosine ~0.51), so the demo threshold sits
    // where the data has pairs; the operator default stays the paper's
    QuerySpec("d15_semdedup_pairs", (s, d) =>
      Clustering.semdedupPairs(t(s, d, "embeddings"), 8, 2, 0.4),
      // SemDeDup: within-cluster cosine over the k-means assignment; dot and
      // norms in double over the same ordinal dim order as the Spark side
      Oracle(s"""WITH $kmeansCtes,
         |$semdedupPairCtes
         |SELECT vid_a, vid_b, cos_sim FROM prs""".stripMargin)),
    QuerySpec("smp7_cluster_sample", (s, d) =>
      Clustering.clusterBalancedSample(t(s, d, "embeddings"), 25, 8, 2),
      // cluster-balanced sample: smallest 25 vec_ids per k-means cluster
      Oracle(s"""WITH $kmeansCtes
         |SELECT vec_id, cid AS cluster FROM (
         |  SELECT vec_id, cid, row_number() OVER (
         |      PARTITION BY cid ORDER BY vec_id) AS rn FROM a2)
         |WHERE rn <= 25""".stripMargin)),
    QuerySpec("d16_semdedup_keep", (s, d) =>
      Clustering.semdedupKeep(t(s, d, "embeddings"), 8, 2, 0.4),
      // keeper list: e3's convention — the lower-id side of every surviving
      // pair keeps, the higher-id side drops
      Oracle(s"""WITH $kmeansCtes,
         |$semdedupPairCtes
         |SELECT vec_id FROM emb
         |WHERE vec_id NOT IN (SELECT vid_b FROM prs)""".stripMargin)),
    // auto-k: target cluster size 64 resolves to k=8 at the sf0.01
    // verify corpus (500 vecs), so the oracle is d15's generated k=8
    // Lloyd block verbatim — while at any larger corpus the SAME query
    // scales k with n (sf0.1 -> 32, sf1 -> 313), the posture that keeps
    // the within-cluster pair space linear in the corpus
    QuerySpec("d20_semdedup_auto", (s, d) =>
      Clustering.semdedupPairsAuto(t(s, d, "embeddings"), 2, 0.4, 64),
      // auto-k resolves to ceil(500/64) = 8 on the verify corpus — the
      // oracle is the k=8 Lloyd block verbatim (see the query entry note)
      Oracle(s"""WITH $kmeansCtes,
         |$semdedupPairCtes
         |SELECT vid_a, vid_b, cos_sim FROM prs""".stripMargin)),
    // the scalable two-level assignment forced on (maxModelCentroids=0)
    // at coarseCentroids = k, where it equals the flat argmin exactly —
    // hash-gates the broadcast-frame assign plan against the d15 oracle
    QuerySpec("d22_semdedup_twolevel", (s, d) =>
      Clustering.semdedupPairsTwoLevel(t(s, d, "embeddings"), 8, 2, 0.4,
        coarseCentroids = 8),
      // the two-level (coarse NearestCentroid + fine broadcast-frame join)
      // assignment at coarseCentroids = k is EXACTLY the flat argmin (each
      // fine centroid its own coarse cell), so the d15 oracle verifies the
      // scalable-assign machinery end to end
      Oracle(s"""WITH $kmeansCtes,
         |$semdedupPairCtes
         |SELECT vid_a, vid_b, cos_sim FROM prs""".stripMargin)),
    // ---- training-data pipeline: graph analytics ----
    // rank rounded to 9dp on BOTH sides: pagerank over a k=1 graph yields
    // terminating decimals that can sit exactly on the compare's 6dp
    // rounding boundary, where ~1e-19 summation-order noise flips the
    // rounded digit; 9dp snaps both engines to the same decimal first
    QuerySpec("gr1_knn_pagerank", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      Graph.pageRank(
        Similarity.knnGraph(t(s, d, "embeddings"), 1)
          .select(col("qid").as("src"), col("nid").as("dst")), 5)
        .select(col("id"), round(col("rank"), 9).as("rank"))
    },
      // edges CTE == the proven sim6_knn_graph oracle; then 5 unrolled
      // PageRank rounds (d = 0.85), each one join + one GROUP BY, exactly
      // the Graph.pageRank recurrence with (1 - 0.85) / n kept as the same
      // double ops Spark's driver constant performs
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings),
        |x AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
        |p AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      WHERE qid <> nid GROUP BY qid, nid),
        |r AS (SELECT qid, nid, row_number() OVER
        |        (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |      FROM p WHERE qq > 0 AND xx > 0),
        |edges AS (SELECT qid AS src, nid AS dst FROM r WHERE rn = 1),
        |$pagerankCtes
        |SELECT id, ROUND(rank, 9) AS rank FROM r5""".stripMargin)),
    // PageRank over the PORTABLE blocked kNN edges — the hash-gated gr
    // twin (gr1 = exact graph, gr2 = multi-table recall blocking, gr3 =
    // cross-engine-verified blocking)
    // triangle census + local clustering coefficient over the portable
    // top-3 edge substrate (top-1 is functional: no 3-cycles) — the
    // mirror-cluster density diagnostic next to gr3's centrality
    QuerySpec("gr4_triangle_stats", (s, d) => {
      import org.apache.spark.sql.functions.col
      Graph.triangleStats(
        Similarity.portableKnnEdges(t(s, d, "embeddings"), k = 3)
          .select(col("qid").as("src"), col("nid").as("dst")))
    },
      // triangle census over the SAME portable edge substrate at top-3
      // (top-1 gives a functional graph with no 3-cycles): ordered-wedge
      // join closed by the canonical (a, c) edge, once per triangle
      Oracle(s"""WITH $portableSigCtes,
        |${portableKnnEdgeCtes(3)},
        |und AS (SELECT DISTINCT least(src, dst) AS a,
        |          greatest(src, dst) AS b
        |        FROM edges WHERE src <> dst),
        |tri AS (SELECT e1.a, e1.b, e2.b AS c
        |        FROM und e1 JOIN und e2 ON e2.a = e1.b
        |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        |         SELECT a AS id FROM tri
        |         UNION ALL SELECT b FROM tri
        |         UNION ALL SELECT c FROM tri) GROUP BY 1),
        |dg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |         SELECT a AS id FROM und
        |         UNION ALL SELECT b FROM und) GROUP BY 1)
        |SELECT dg.id, dg.degree,
        |  COALESCE(pn.triangles, CAST(0 AS BIGINT)) AS triangles,
        |  CASE WHEN dg.degree < 2 THEN 0.0
        |       ELSE ROUND(COALESCE(pn.triangles, CAST(0 AS BIGINT)) * 2.0
        |              / (dg.degree * (dg.degree - 1)), 6) END AS clustering
        |FROM dg LEFT JOIN pn ON dg.id = pn.id
        |ORDER BY 1""".stripMargin)),
    QuerySpec("gr3_portable_pagerank", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      Graph.pageRank(
        Similarity.portableKnnEdges(t(s, d, "embeddings"))
          .select(col("qid").as("src"), col("nid").as("dst")), 5)
        .select(col("id"), round(col("rank"), 9).as("rank"))
    },
      // same 5 unrolled rounds over the PORTABLE-LSH in-bucket top-1 edges
      // (shared sign-LSH CTEs + shared pagerank CTEs)
      Oracle(s"""WITH $portableSigCtes,
        |${portableKnnEdgeCtes(1)},
        |$pagerankCtes
        |SELECT id, ROUND(rank, 9) AS rank FROM r5""".stripMargin)),
    // PageRank WITH per-round dangling-mass redistribution (true
    // stochastic normalization): the exact kNN edge set with every
    // third node's out-edges dropped, so genuine dangling nodes exist
    // and the d·S/N term is exercised, not trivially zero — closes the
    // documented mass-leak caveat of gr1/gr3 behind a hash-gated flag
    QuerySpec("gr5_pagerank_dangling", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      Graph.pageRank(
        Similarity.knnGraph(t(s, d, "embeddings"), 1)
          .select(col("qid").as("src"), col("nid").as("dst"))
          .where(col("src") % 3 =!= 0),
        5, redistributeDangling = true)
        .select(col("id"), round(col("rank"), 9).as("rank"))
    },
      // gr1's exact edge set minus every third node's out-edges (genuine
      // dangling nodes) + the per-round dangling-redistribution rounds
      Oracle(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings),
        |x AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
        |p AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      WHERE qid <> nid GROUP BY qid, nid),
        |r AS (SELECT qid, nid, row_number() OVER
        |        (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |      FROM p WHERE qq > 0 AND xx > 0),
        |edges AS MATERIALIZED (SELECT qid AS src, nid AS dst FROM r
        |          WHERE rn = 1 AND qid % 3 <> 0),
        |$pagerankDanglingCtes
        |SELECT id, ROUND(rank, 9) AS rank FROM r5""".stripMargin)),
    // ---- training-data pipeline: dedup ----
    QuerySpec("d1_exact_dedup", (s, d) =>
      Dedup.exactDuplicates(t(s, d, "documents")),
      Oracle(
        """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |         AS fingerprint,
        |       MIN(doc_id) AS keeper, COUNT(*) AS cnt
        |FROM documents GROUP BY 1""".stripMargin)),
    QuerySpec("d2_jaccard_pairs", (s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), 3, 0.5),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |            COUNT(*) AS common
        |          FROM sh a JOIN sh b USING (shingle)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc1, doc2,
        |       common / (s1.sz + s2.sz - common) AS jaccard
        |FROM pairs
        |JOIN sz s1 ON doc1 = s1.doc_id
        |JOIN sz s2 ON doc2 = s2.doc_id
        |WHERE common / (s1.sz + s2.sz - common) >= 0.5""".stripMargin)),
    QuerySpec("d3_minhash_duplicates", (s, d) =>
      Dedup.minhashDuplicates(t(s, d, "documents")),
      // d3's verified output equals the exact-Jaccard pair set whenever LSH
      // recall is 1.0 — guaranteed here: planted near-dups sit at j≈0.99, so
      // a 4-row band misses with prob (1-0.99⁴)⁸ ≈ 4e-12 (PipelineSpec
      // asserts recall == 1.0 on this generator).
      Oracle(d3OracleSql)),
    // d34: the MMDS-rule AUTO banding — the caller states the target
    // threshold and the (bands, rows) layout follows from the S-curve
    // inflection; at (0.5, 32) the rule resolves to d3's own 8x4
    // layout, so the gated result is d3's row for row — the gate pins
    // the RESOLUTION, the layout-equality spec pins the rule
    QuerySpec("d34_minhash_banding_auto", (s, d) =>
      Dedup.minhashDuplicatesAuto(t(s, d, "documents")),
      // d34: the auto layout resolves to d3's at (0.5, 32) — identical
      // oracle by construction (see d3OracleSql)
      Oracle(d3OracleSql)),
    QuerySpec("d4_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), 3),
      RowsOnly("d19_portable_simhash")),
    QuerySpec("d5_embedding_neardup", (s, d) =>
      Dedup.embeddingNearDup(t(s, d, "embeddings"), 0.4, 6, 8),
      RowsOnly("d18_portable_neardup")),
    // the HASH-GATED near-dup twin: portable sign-LSH blocking + exact
    // 6dp cosine, reproducible in DuckDB (d5 stays the multi-table
    // recall-tuned scale form)
    QuerySpec("d18_portable_neardup", (s, d) =>
      Similarity.portableNearDupPairs(t(s, d, "embeddings")),
      // portable sign-LSH near-dup pairs: bucketed candidates (a < b),
      // exact cosine rounded to 6dp on both sides before the threshold
      Oracle(s"""WITH $portableSigCtes,
        |nc AS (SELECT a.vec_id AS vid_a, b.vec_id AS vid_b
        |       FROM ls a JOIN ls b
        |         ON a.sig = b.sig AND a.vec_id < b.vec_id),
        |np AS (SELECT nc.vid_a, nc.vid_b,
        |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
        |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS dot,
        |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
        |             * CAST(ea.embedding[ii.i] AS DOUBLE)) AS qq,
        |         SUM(CAST(eb.embedding[ii.i] AS DOUBLE)
        |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS xx
        |       FROM nc
        |         JOIN embeddings ea ON ea.vec_id = nc.vid_a
        |         JOIN embeddings eb ON eb.vec_id = nc.vid_b,
        |         (SELECT unnest(range(1, 65)) AS i) ii
        |       GROUP BY 1, 2)
        |SELECT vid_a, vid_b,
        |       ROUND(dot / (sqrt(qq) * sqrt(xx)), 6) AS cos_sim
        |FROM np
        |WHERE qq > 0 AND xx > 0
        |  AND ROUND(dot / (sqrt(qq) * sqrt(xx)), 6) >= 0.4""".stripMargin)),
    // the HASH-GATED SimHash twin: polynomial token hash + quadratic
    // vote signs + 4x15 banding (pigeonhole => banded == brute force,
    // which is what makes a banded algorithm oracle-able at all); d4
    // stays the murmur-hashed form
    QuerySpec("d19_portable_simhash", (s, d) =>
      Dedup.portableSimhashPairs(t(s, d, "documents")),
      // portable SimHash: brute-force pair compare — EQUAL to the Spark
      // side's banded candidates by pigeonhole (hamming <= 3 over 4 bands);
      // every stage is exact integer arithmetic (poly-31 token hash,
      // quadratic vote signs, majority bits, bit_count of xor)
      Oracle(
        """WITH ptok AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM (SELECT doc_id,
        |               unnest(string_split(lower(text), ' ')) AS word
        |             FROM documents)
        |       WHERE word <> '' GROUP BY 1, 2),
        |pwh AS (SELECT word,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(word) + 1),
        |             i -> CAST(CASE WHEN
        |                    unicode(substring(word, CAST(i AS INTEGER), 1))
        |                      >= 55296 THEN 0
        |                  ELSE
        |                    unicode(substring(word, CAST(i AS INTEGER), 1))
        |                  END AS BIGINT))),
        |           (acc, c) -> (acc * 31 + c) % 1000003) AS h
        |        FROM (SELECT DISTINCT word FROM ptok)),
        |pcon AS (SELECT t.doc_id, pl.p,
        |          SUM(t.cnt * CASE WHEN
        |              ((1013 * (((w.h * 60 + pl.p + 1) % 1000003)
        |                        * ((w.h * 60 + pl.p + 1) % 1000003))
        |                + 2654435761 * ((w.h * 60 + pl.p + 1) % 1000003))
        |               % 1000003) - 500001 >= 0 THEN 1 ELSE -1 END) AS s
        |         FROM ptok t JOIN pwh w USING (word),
        |              (SELECT unnest(range(0, 60)) AS p) pl
        |         GROUP BY 1, 2),
        |psig AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0
        |            THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END)
        |            AS BIGINT) AS sig
        |         FROM pcon GROUP BY 1)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        |FROM psig a JOIN psig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin)),
    QuerySpec("d6_deduped_corpus", (s, d) =>
      Dedup.dedupedCorpus(t(s, d, "documents")),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |            COUNT(*) AS common
        |          FROM sh a JOIN sh b USING (shingle)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |dups AS (SELECT DISTINCT doc2 AS doc_id FROM pairs
        |         JOIN sz s1 ON doc1 = s1.doc_id
        |         JOIN sz s2 ON doc2 = s2.doc_id
        |         WHERE common / (s1.sz + s2.sz - common) >= 0.5)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin)),
    QuerySpec("d8_edit_distance_pairs", (s, d) =>
      Dedup.editDistancePairs(t(s, d, "documents")),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |pre AS (SELECT doc_id,
        |          substring(trim(regexp_replace(lower(text),
        |            '[^a-z0-9]+', ' ', 'g')), 1, 40) AS p
        |        FROM documents),
        |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |         FROM sh a JOIN sh b USING (shingle)
        |         WHERE a.doc_id < b.doc_id)
        |SELECT doc1, doc2, CAST(levenshtein(p1.p, p2.p) AS INTEGER)
        |         AS edit_dist
        |FROM cand
        |JOIN pre p1 ON doc1 = p1.doc_id
        |JOIN pre p2 ON doc2 = p2.doc_id
        |WHERE levenshtein(p1.p, p2.p) <= 10""".stripMargin)),
    QuerySpec("d11_boilerplate_segments", (s, d) =>
      Dedup.boilerplateSegments(t(s, d, "documents"), 8, 2),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, CAST(floor(len(toks)/8) AS BIGINT)+1))
        |            AS i FROM tk),
        |seg AS (SELECT DISTINCT doc_id,
        |          array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ')
        |            AS segment FROM idx)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM seg GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin)),
    QuerySpec("d12_repeated_ngrams", (s, d) =>
      Dedup.repeatedNgrams(t(s, d, "documents"), 8, 2),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-7, 0)+1)) AS i FROM tk),
        |seg AS (SELECT DISTINCT doc_id,
        |          array_to_string(toks[i : i+7], ' ') AS segment FROM idx)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM seg GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin)),
    QuerySpec("t10_boilerplate_stats", (s, d) =>
      Dedup.boilerplateStats(t(s, d, "documents"), 8, 2),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, CAST(floor(len(toks)/8) AS BIGINT)+1))
        |            AS i FROM tk),
        |seg AS (SELECT DISTINCT doc_id,
        |          array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ')
        |            AS segment FROM idx),
        |boiler AS (SELECT segment FROM seg GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg,
        |       CAST(SUM(CASE WHEN b.segment IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_boiler
        |FROM seg s LEFT JOIN boiler b ON s.segment = b.segment
        |GROUP BY 1""".stripMargin)),
    QuerySpec("t11_passage_chunks", (s, d) =>
      TextAnalysis.passageChunks(t(s, d, "documents"), 64, 48),
      Oracle("""WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(0, CAST(greatest(
        |            ceil((len(toks) - 64) / 48.0), 0) AS BIGINT) + 1))
        |            AS k
        |        FROM t WHERE len(toks) > 0)
        |SELECT doc_id, k AS chunk_idx,
        |       CAST(len(toks[k*48+1 : least(k*48+64, len(toks))])
        |         AS INTEGER) AS n_tok,
        |       array_to_string(toks[k*48+1 : least(k*48+64, len(toks))],
        |         ' ') AS passage
        |FROM idx""".stripMargin)),
    // rows-only by design: BPE training is an iterative merge loop with
    // no SQL expression; the merge sequence and encoder are spec-verified
    // against a hand-computed example and round-trip/determinism laws
    QuerySpec("t12_bpe_subwords", (s, d) =>
      Bpe.subwordStats(t(s, d, "documents"), 100, 2L),
      RowsOnly("t20_bpe_train")),
    // the HASH-GATED encoder twin of t12: the greedy lowest-rank-first
    // BPE encoder runs under a FIXED merge table (training stays
    // spec-verified — it is an iterative argmax loop with no SQL form),
    // and the DuckDB oracle replays the same one-merge-per-step recursion
    // via a recursive CTE — so the encode half of the BPE surface gets an
    // engine-external gate
    QuerySpec("t18_bpe_encode", (s, d) => {
      import org.apache.spark.sql.functions.{col, count, explode, lit}
      val enc = Bpe.encodeUdf(s, bpeFixedMerges)
      t(s, d, "documents")
        .select(explode(enc(col("text"))).as("subtoken"))
        .groupBy(col("subtoken")).agg(count(lit(1)).as("cnt"))
    },
      // greedy lowest-rank-first BPE encode under the FIXED merge table:
      // the recursive CTE replays encodeWord's exact recurrence — one merge
      // per step, at the LEFTMOST occurrence (list_position = first index)
      // of the LOWEST-rank adjacent pair — per distinct word, then final
      // states (no applicable pair) fan back out by word frequency
      Oracle(s"""WITH RECURSIVE
        |tokd AS (SELECT unnest(string_split_regex(lower(text),
        |           '[^a-z0-9]+')) AS word
        |         FROM documents),
        |wrd AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tokd
        |        WHERE word <> '' GROUP BY 1),
        |enc AS (
        |  SELECT word, list_transform(range(1, length(word)+1),
        |           i -> word[i:i]) AS toks
        |  FROM wrd
        |  UNION ALL
        |  SELECT word,
        |    toks[1:bi-1] || [toks[bi] || toks[bi+1]]
        |      || toks[bi+2:len(toks)]
        |  FROM (
        |    SELECT word, toks, list_position(rks, list_min(rks)) AS bi,
        |           list_min(rks) AS mn
        |    FROM (SELECT word, toks,
        |            list_transform(range(1, len(toks)), j ->
        |              CASE toks[j] || '|' || toks[j+1] $bpeRankCase
        |                ELSE 999 END) AS rks
        |          FROM enc))
        |  WHERE mn < 999),
        |fin AS (
        |  SELECT word, toks FROM (
        |    SELECT word, toks,
        |      list_min(list_transform(range(1, len(toks)), j ->
        |        CASE toks[j] || '|' || toks[j+1] $bpeRankCase
        |          ELSE 999 END)) AS mn
        |    FROM enc)
        |  WHERE mn IS NULL OR mn = 999),
        |ex AS (SELECT word, unnest(toks) AS subtoken FROM fin)
        |SELECT e.subtoken, CAST(SUM(w.n) AS BIGINT) AS cnt
        |FROM ex e JOIN wrd w USING (word)
        |GROUP BY 1""".stripMargin)),
    // tokenizer fertility per predicted language: t3's language vote x
    // t18's fixed-merge encoder — subtokens/word + chars/subtoken, the
    // multilingual token-budget report; oracle composes both CTE blocks
    QuerySpec("t19_tokenizer_fertility", (s, d) =>
      TextAnalysis.tokenizerFertility(t(s, d, "documents"), bpeFixedMerges),
      // fertility: the t18 recursive encoder over the DISTINCT vocabulary;
      // per-doc counts rejoin word frequencies, ratios divide exact longs
      // once; grouped on the corpus lang tag (see tokenizerFertility doc)
      Oracle(s"""WITH RECURSIVE
        |tokd AS (SELECT doc_id,
        |           unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
        |             AS word
        |         FROM documents),
        |wpd AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM tokd WHERE word <> '' GROUP BY 1, 2),
        |voc AS (SELECT DISTINCT word FROM wpd),
        |enc AS (
        |  SELECT word, list_transform(range(1, length(word)+1),
        |           i -> word[i:i]) AS toks
        |  FROM voc
        |  UNION ALL
        |  SELECT word,
        |    toks[1:bi-1] || [toks[bi] || toks[bi+1]]
        |      || toks[bi+2:len(toks)]
        |  FROM (
        |    SELECT word, toks, list_position(rks, list_min(rks)) AS bi,
        |           list_min(rks) AS mn
        |    FROM (SELECT word, toks,
        |            list_transform(range(1, len(toks)), j ->
        |              CASE toks[j] || '|' || toks[j+1] $bpeRankCase
        |                ELSE 999 END) AS rks
        |          FROM enc))
        |  WHERE mn < 999),
        |fin AS (
        |  SELECT word, toks FROM (
        |    SELECT word, toks,
        |      list_min(list_transform(range(1, len(toks)), j ->
        |        CASE toks[j] || '|' || toks[j+1] $bpeRankCase
        |          ELSE 999 END)) AS mn
        |    FROM enc)
        |  WHERE mn IS NULL OR mn = 999),
        |tl AS (SELECT word, CAST(len(toks) AS BIGINT) AS tl,
        |         CAST(length(word) AS BIGINT) AS wl FROM fin),
        |doc AS (SELECT w.doc_id, CAST(SUM(w.n * t.tl) AS BIGINT) AS n_sub,
        |          CAST(SUM(w.n) AS BIGINT) AS n_words,
        |          CAST(SUM(w.n * t.wl) AS BIGINT) AS n_chars
        |        FROM wpd w JOIN tl t USING (word) GROUP BY 1)
        |SELECT dl.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  ROUND(CAST(SUM(d.n_sub) AS DOUBLE)
        |    / CAST(SUM(d.n_words) AS DOUBLE), 6) AS fertility,
        |  ROUND(CAST(SUM(d.n_chars) AS DOUBLE)
        |    / CAST(SUM(d.n_sub) AS DOUBLE), 6) AS chars_per_token
        |FROM doc d JOIN (SELECT doc_id, lang FROM documents) dl
        |  USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // BPE TRAINING hash-gated (the last spec-only family): the first 6
    // learned merges — the oracle unrolls the rounds, re-tokenizing the
    // vocabulary under merges-so-far with the t18 recursion driven by a
    // DATA rank list; t12 stays the 100-merge scale form
    QuerySpec("t20_bpe_train", (s, d) => {
      import s.implicits._
      Bpe.train(t(s, d, "documents"), 6, 2L).zipWithIndex
        .map { case ((a, b), r) => (r, a, b) }.toDF("rk", "lhs", "rhs")
    },
      Oracle(bpeTrainSql(6))),
    QuerySpec("d13_cluster_sizes", (s, d) =>
      Dedup.clusterSizeHistogram(t(s, d, "documents")),
      Oracle("""WITH RECURSIVE tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        |       FROM sh a JOIN sh b USING (shingle)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc1, doc2 FROM pr
        |          JOIN sz s1 ON doc1 = s1.doc_id
        |          JOIN sz s2 ON doc2 = s2.doc_id
        |          WHERE common / (s1.sz + s2.sz - common) >= 0.5),
        |edges AS (SELECT doc1 AS u, doc2 AS v FROM pairs
        |          UNION ALL SELECT doc2, doc1 FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
        |         FROM reach GROUP BY u),
        |lab AS (SELECT d.doc_id,
        |          CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT)
        |            AS cluster_id
        |        FROM documents d LEFT JOIN comp c USING (doc_id)),
        |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        |       FROM lab GROUP BY 1)
        |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY 1""".stripMargin)),
    // snapshot diff: two hash-sliced corpus "versions" (10% removed, 10%
    // added, the [0.4,0.5) band content-mutated) through the normalized-
    // fingerprint full-outer diff — the recurring-ingest churn audit
    QuerySpec("dd1_snapshot_diff", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = t(s, d, "documents")
      val h = Sampling.contentHash("doc_id")
      val prev = docs.where(h < lit("e6666666"))
      val next = docs.where(h >= lit("19999999"))
        .withColumn("text",
          when(h >= lit("66666666") && h < lit("80000000"),
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      Corpus.snapshotDiff(prev, next)
    },
      // snapshot diff: same hash slices + " rev2" mutation band; change
      // detection through the d1 normalized fingerprint in both engines
      Oracle("""WITH h AS (SELECT doc_id, text,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
        |  FROM documents),
        |o AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |      AS fp_old
        |  FROM h WHERE h8 < 'e6666666'),
        |n AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(
        |        CASE WHEN h8 >= '66666666' AND h8 < '80000000'
        |          THEN text || ' rev2' ELSE text END),
        |      '[^a-z0-9]+', ' ', 'g'))) AS fp_new
        |  FROM h WHERE h8 >= '19999999')
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |       WHEN fp_new IS NULL THEN 'removed'
        |       WHEN fp_old = fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin)),
    QuerySpec("d7_dup_clusters", (s, d) =>
      Dedup.dupClusters(t(s, d, "documents")),
      Oracle(s"""WITH RECURSIVE $dupClusterCtes
         |SELECT doc_id, cluster_id FROM cl""".stripMargin)),
    // quality-aware dedup keepers: best q1 score per d7 cluster
    QuerySpec("cur2_best_of_cluster", (s, d) =>
      Dedup.bestOfCluster(t(s, d, "documents")),
      // quality-aware keeper: argmax score per cluster (6dp score is the
      // value q1 already hash-matches, so the argmax cannot straddle
      // engines); CTE names of the two shared blocks are disjoint
      Oracle(s"""WITH RECURSIVE $dupClusterCtes,
         |$modelScoreCtes,
         |jn AS (SELECT cl.cluster_id, cl.doc_id, q.score,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY q.score DESC, cl.doc_id) AS rn,
         |         COUNT(*) OVER (PARTITION BY cl.cluster_id) AS nm
         |       FROM cl JOIN qsc q USING (doc_id))
         |SELECT cluster_id, doc_id AS keeper_doc,
         |       CAST(nm AS BIGINT) AS n_members, score AS best_score
         |FROM jn WHERE rn = 1""".stripMargin)),
    // curriculum training order: q1-score decile bands consumed high
    // band first, content-hash shuffled within band, global 1-based pos
    // via the two-phase offset trick (no global-order window)
    QuerySpec("cur3_curriculum_order", (s, d) =>
      Sampling.curriculumOrder(
        TextAnalysis.modelQualityScore(t(s, d, "documents"))),
      // curriculum order: q1-score decile bands (floor on the SAME
      // 6dp-rounded score both engines hash-match), high band first,
      // md5-hash shuffle within band; global pos = higher-band mass + rank
      Oracle(s"""WITH $modelScoreCtes,
         |cb AS (SELECT doc_id,
         |         CAST(LEAST(GREATEST(floor(score * 10), 0), 9)
         |              AS BIGINT) AS band,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
         |       FROM qsc),
         |cr AS (SELECT doc_id, band,
         |         CAST(row_number() OVER (PARTITION BY band
         |                ORDER BY h, doc_id) AS BIGINT) AS rk
         |       FROM cb),
         |cn AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM cb GROUP BY 1),
         |co AS (SELECT a.band,
         |         CAST(COALESCE(SUM(b.n), 0) AS BIGINT) AS off
         |       FROM cn a LEFT JOIN cn b ON b.band > a.band GROUP BY 1)
         |SELECT cr.doc_id, cr.band, off + rk AS pos
         |FROM cr JOIN co USING (band)""".stripMargin)),
    // ---- training-data pipeline: similarity search ----
    QuerySpec("sim1_brute_top1", (s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), 100, 1)
        .select("qid", "nid"),
      Oracle("""WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings
        |           WHERE vec_id < 100),
        |x AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
        |p AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      WHERE qid <> nid GROUP BY qid, nid),
        |r AS (SELECT qid, nid, row_number() OVER
        |        (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |      FROM p WHERE qq > 0 AND xx > 0)
        |SELECT qid, nid FROM r WHERE rn = 1""".stripMargin)),
    QuerySpec("sim2_lsh_topk", (s, d) =>
      Similarity.lshTopK(t(s, d, "embeddings"), 100, 5, 5, 12),
      RowsOnly("r4_ann_qrels_mrr")),
    // sim3–sim5 are the scale forms of the one PQ/IVF kernel family over
    // query ids 0..99 (rows-only); sim8–sim12 are its hash-gated forms
    // over three queries at the default geometry
    QuerySpec("sim3_ivf_topk", (s, d) =>
      Similarity.portableIvfTopK(t(s, d, "embeddings"), 0L until 100L,
        k = 5, cells = 16, nprobe = 2),
      RowsOnly("sim8_ivf_portable")),
    QuerySpec("sim4_pq_topk", (s, d) =>
      Similarity.portablePqTopK(t(s, d, "embeddings"), 0L until 100L,
        topK = 5, m = 16, k = 32),
      RowsOnly("sim9_pq_portable")),
    QuerySpec("sim5_ivfpq_topk", (s, d) =>
      Similarity.portableIvfAdcTopK(t(s, d, "embeddings"), 0L until 100L,
        topK = 5, cells = 16, nprobe = 4, m = 16, k = 32),
      RowsOnly("sim12_ivfadc_portable")),
    // the HASH-GATED IVF form: coarse quantizer = the oracle-able Lloyd
    // loop (kmeansAssign contract), so cells, probe order, and rerank all
    // reproduce in DuckDB
    QuerySpec("sim8_ivf_portable", (s, d) =>
      Similarity.portableIvfTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L)),
      // IVF over the SAME Lloyd quantizer: rank cells by query-vs-c2
      // squared-L2 ((d, cid) tie-break, nprobe=2), candidates = a2 members
      // of the probed cells, exact-cosine rerank top-5 — every stage the
      // Spark side runs, rebuilt from the shared CTE block
      Oracle(s"""WITH $kmeansCtes,
        |$ivfProbeCtes,
        |ipr AS (SELECT icand.qid, icand.nid,
        |          SUM(CAST(q.embedding[ii.i] AS DOUBLE)
        |              * CAST(n.embedding[ii.i] AS DOUBLE)) AS dot,
        |          SUM(CAST(q.embedding[ii.i] AS DOUBLE)
        |              * CAST(q.embedding[ii.i] AS DOUBLE)) AS qq,
        |          SUM(CAST(n.embedding[ii.i] AS DOUBLE)
        |              * CAST(n.embedding[ii.i] AS DOUBLE)) AS xx
        |        FROM icand
        |          JOIN embeddings q ON q.vec_id = icand.qid
        |          JOIN embeddings n ON n.vec_id = icand.nid,
        |          (SELECT unnest(range(1, 65)) AS i) ii
        |        GROUP BY 1, 2),
        |ir AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |       FROM ipr WHERE qq > 0 AND xx > 0)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, nid
        |FROM ir WHERE rn <= 5""".stripMargin)),
    // the HASH-GATED PQ/ADC form: per-subspace codebooks from the same
    // oracle-able Lloyd loop (all subspaces trained together), encode =
    // final assignment, ADC on 1e-6 integer arithmetic
    QuerySpec("sim9_pq_portable", (s, d) =>
      Similarity.portablePqTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L)),
      // PQ/ADC over the per-subspace Lloyd codebooks: codes = pa2, ADC
      // tables and scores in exact 1e-6-quantized integer arithmetic —
      // mirrors Similarity.portablePqTopK stage for stage
      Oracle(s"""WITH $pqKmeansCtes,
        |$pqAdcCtes,
        |psc AS (SELECT t.qid, a.vec_id AS nid,
        |          CAST(SUM(t.t) AS BIGINT) AS adc
        |        FROM pa2 a JOIN ptab t ON t.s = a.s AND t.cid = a.cid
        |        WHERE a.vec_id <> t.qid
        |        GROUP BY 1, 2),
        |prk AS (SELECT qid, nid, adc, row_number() OVER
        |          (PARTITION BY qid ORDER BY adc DESC, nid) AS rn
        |        FROM psc)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, nid, adc
        |FROM prk WHERE rn <= 5""".stripMargin)),
    // the composed ANN form: sim8's oracle-able coarse probe restricting
    // sim9's integer ADC — IVF+PQ hash-gated end to end
    QuerySpec("sim10_ivfpq_portable", (s, d) =>
      Similarity.portableIvfPqTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L)),
      // the composed twin: sim8's probe (kmeansCtes + ivfProbeCtes)
      // restricts sim9's ADC scores (pqKmeansCtes + pqAdcCtes) — both CTE
      // families compose in one WITH with disjoint names
      Oracle(s"""WITH $kmeansCtes,
        |$pqKmeansCtes,
        |$ivfProbeCtes,
        |$pqAdcCtes,
        |psc AS (SELECT t.qid, a.vec_id AS nid,
        |          CAST(SUM(t.t) AS BIGINT) AS adc
        |        FROM pa2 a JOIN ptab t ON t.s = a.s AND t.cid = a.cid
        |        JOIN icand ic ON ic.qid = t.qid AND ic.nid = a.vec_id
        |        WHERE a.vec_id <> t.qid
        |        GROUP BY 1, 2),
        |prk AS (SELECT qid, nid, adc, row_number() OVER
        |          (PARTITION BY qid ORDER BY adc DESC, nid) AS rn
        |        FROM psc)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, nid, adc
        |FROM prk WHERE rn <= 5""".stripMargin)),
    // IVFADC hash-gated: sim10's composition with the corpus side
    // RESIDUAL-encoded (codes trained on v − c_cell, queries raw, the
    // exact-integer dot(q, c_cell) offset fused into the ADC score) —
    // sim5's kernel at the default geometry; sim10 stays the raw-encode
    // control at identical code size
    QuerySpec("sim12_ivfadc_portable", (s, d) =>
      Similarity.portableIvfAdcTopK(t(s, d, "embeddings"), Seq(0L, 1L, 2L)),
      // sim12 — IVFADC: sim10's composition with the PQ corpus side
      // residual-encoded. Everything rides the DYADIC 2^-20 grid, not
      // 1e-6: a residual int/1e6 is not exactly representable, so the PQ
      // Lloyd cluster-mean sums would round at ulp level in engine-
      // specific summation order and straddle the round-6 snap (measured);
      // int/2^20 is exact, making every mean sum order-free. The PQ stage
      // is the shared per-subspace Lloyd contract over the residual frame,
      // queries stay RAW, and the decomposition offset dot(q, c_cell) is
      // one exact int64 per (query, member cell) — same 2^-40 unit as the
      // ADC sum it fuses with.
      Oracle(s"""WITH $kmeansCtes,
        |ccen AS (SELECT cid, d.i,
        |           CAST(ROUND(cen[d.i] * 1048576) AS BIGINT) AS ci
        |         FROM c2 CROSS JOIN dims d),
        |remb AS (SELECT e.vec_id,
        |           list(CAST(CAST(ROUND(e.v[d.i] * 1048576) AS BIGINT)
        |                  - c.ci AS DOUBLE) / 1048576 ORDER BY d.i) AS v
        |         FROM emb e JOIN a2 ON a2.vec_id = e.vec_id
        |           CROSS JOIN dims d
        |           JOIN ccen c ON c.cid = a2.cid AND c.i = d.i
        |         GROUP BY 1),
        |${pqKmeansCtesFrom("SELECT vec_id, v FROM remb")},
        |$ivfProbeCtes,
        |${pqAdcCtesFrom("emb", "1048576")},
        |qf AS (SELECT e.vec_id AS qid, d.i,
        |         CAST(ROUND(e.v[d.i] * 1048576) AS BIGINT) AS qi
        |       FROM emb e CROSS JOIN dims d
        |       WHERE e.vec_id IN (0, 1, 2)),
        |qcd AS (SELECT qf.qid, c.cid,
        |          CAST(SUM(qf.qi * c.ci) AS BIGINT) AS cdot
        |        FROM qf JOIN ccen c ON c.i = qf.i GROUP BY 1, 2),
        |prs AS (SELECT t.qid, a.vec_id AS nid,
        |          CAST(SUM(t.t) AS BIGINT) AS adcres
        |        FROM pa2 a JOIN ptab t ON t.s = a.s AND t.cid = a.cid
        |        JOIN icand ic ON ic.qid = t.qid AND ic.nid = a.vec_id
        |        WHERE a.vec_id <> t.qid
        |        GROUP BY 1, 2),
        |psc AS (SELECT p.qid, p.nid,
        |          CAST(p.adcres + q.cdot AS BIGINT) AS adc
        |        FROM prs p JOIN a2 ON a2.vec_id = p.nid
        |          JOIN qcd q ON q.qid = p.qid AND q.cid = a2.cid),
        |prk AS (SELECT qid, nid, adc, row_number() OVER
        |          (PARTITION BY qid ORDER BY adc DESC, nid) AS rn
        |        FROM psc)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, nid, adc
        |FROM prk WHERE rn <= 5""".stripMargin)),
    // greedy k-center seeds (farthest-point-first): 4 maximally-spread
    // vectors + the coverage radius at each selection — coreset seeding
    QuerySpec("sel1_kcenter_seeds", (s, d) =>
      Similarity.kCenterSeeds(t(s, d, "embeddings"), 4),
      // greedy farthest-point unrolled 3 rounds: every cosine ROUNDS to 6dp
      // BEFORE the max/argmax (the d15 selection-replay discipline), dmin =
      // 1 - max cos, argmax ties to the smallest vec_id
      Oracle("""WITH nn AS (SELECT vec_id,
        |        SUM(CAST(embedding[ii.i] AS DOUBLE)
        |            * CAST(embedding[ii.i] AS DOUBLE)) AS qq
        |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
        |      GROUP BY 1),
        |pz AS (SELECT vec_id FROM nn WHERE qq > 0),
        |s0 AS (SELECT MIN(vec_id) AS sid FROM pz),
        |c1 AS (SELECT a.vec_id AS va, s.sid AS vb,
        |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
        |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS dot
        |       FROM pz a CROSS JOIN s0 s
        |         JOIN embeddings ea ON ea.vec_id = a.vec_id
        |         JOIN embeddings eb ON eb.vec_id = s.sid,
        |         (SELECT unnest(range(1, 65)) AS i) ii
        |       WHERE a.vec_id NOT IN (SELECT sid FROM s0)
        |       GROUP BY 1, 2),
        |m1 AS (SELECT c.va, 1.0 - MAX(ROUND(c.dot /
        |           (sqrt(na.qq) * sqrt(nb.qq)), 6)) AS dmin
        |       FROM c1 c JOIN nn na ON na.vec_id = c.va
        |         JOIN nn nb ON nb.vec_id = c.vb
        |       GROUP BY 1),
        |p1 AS (SELECT va AS sid, dmin FROM m1
        |       ORDER BY dmin DESC, va LIMIT 1),
        |s1 AS (SELECT sid FROM s0 UNION ALL SELECT sid FROM p1),
        |c2 AS (SELECT a.vec_id AS va, s.sid AS vb,
        |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
        |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS dot
        |       FROM pz a CROSS JOIN s1 s
        |         JOIN embeddings ea ON ea.vec_id = a.vec_id
        |         JOIN embeddings eb ON eb.vec_id = s.sid,
        |         (SELECT unnest(range(1, 65)) AS i) ii
        |       WHERE a.vec_id NOT IN (SELECT sid FROM s1)
        |       GROUP BY 1, 2),
        |m2 AS (SELECT c.va, 1.0 - MAX(ROUND(c.dot /
        |           (sqrt(na.qq) * sqrt(nb.qq)), 6)) AS dmin
        |       FROM c2 c JOIN nn na ON na.vec_id = c.va
        |         JOIN nn nb ON nb.vec_id = c.vb
        |       GROUP BY 1),
        |p2 AS (SELECT va AS sid, dmin FROM m2
        |       ORDER BY dmin DESC, va LIMIT 1),
        |s2 AS (SELECT sid FROM s1 UNION ALL SELECT sid FROM p2),
        |c3 AS (SELECT a.vec_id AS va, s.sid AS vb,
        |         SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
        |             * CAST(eb.embedding[ii.i] AS DOUBLE)) AS dot
        |       FROM pz a CROSS JOIN s2 s
        |         JOIN embeddings ea ON ea.vec_id = a.vec_id
        |         JOIN embeddings eb ON eb.vec_id = s.sid,
        |         (SELECT unnest(range(1, 65)) AS i) ii
        |       WHERE a.vec_id NOT IN (SELECT sid FROM s2)
        |       GROUP BY 1, 2),
        |m3 AS (SELECT c.va, 1.0 - MAX(ROUND(c.dot /
        |           (sqrt(na.qq) * sqrt(nb.qq)), 6)) AS dmin
        |       FROM c3 c JOIN nn na ON na.vec_id = c.va
        |         JOIN nn nb ON nb.vec_id = c.vb
        |       GROUP BY 1),
        |p3 AS (SELECT va AS sid, dmin FROM m3
        |       ORDER BY dmin DESC, va LIMIT 1)
        |SELECT CAST(0 AS INTEGER) AS rk, sid AS vec_id,
        |       CAST(2.0 AS DOUBLE) AS dmin FROM s0
        |UNION ALL SELECT CAST(1 AS INTEGER), sid, dmin FROM p1
        |UNION ALL SELECT CAST(2 AS INTEGER), sid, dmin FROM p2
        |UNION ALL SELECT CAST(3 AS INTEGER), sid, dmin FROM p3""".stripMargin)),
    // DSIR hashed-bigram importance weights: every non-zh doc scored by
    // how target-like (zh-slice-like) its bigram distribution is —
    // the pretraining data-selection statistic (Xie et al. 2023)
    QuerySpec("sel2_dsir_weights", (s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.dsirWeights(t(s, d, "documents"), col("lang") === "zh")
    },
      // DSIR: md5-prefix buckets (engine-identical strings, no hex->int),
      // per-bucket Laplace log-ratio quantized to 1e-6 ints, per-doc sum
      // exact int64, one final /1e6 — the portable-twin rule
      Oracle("""WITH tk AS (SELECT doc_id, (lang = 'zh') AS is_t,
        |       list_filter(string_split_regex(lower(text),
        |         '[^a-z0-9]+'), x -> x <> '') AS toks
        |     FROM documents),
        |ng AS (SELECT doc_id, is_t,
        |         substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 2)
        |           AS b
        |       FROM (SELECT doc_id, is_t, toks,
        |               unnest(range(1, greatest(len(toks)-1, 0)+1)) AS i
        |             FROM tk)),
        |c AS (SELECT b,
        |        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS ct,
        |        CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
        |          AS BIGINT) AS cr
        |      FROM ng GROUP BY 1),
        |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |        CAST(SUM(cr) AS BIGINT) AS tr FROM c),
        |w AS (SELECT b,
        |        CAST(round(ln(((ct + 1.0) / (tt + 256.0))
        |               / ((cr + 1.0) / (tr + 256.0))) * 1000000)
        |          AS BIGINT) AS wq
        |      FROM c CROSS JOIN t)
        |SELECT ng.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |       ROUND(CAST(SUM(wq) AS DOUBLE) / 1000000, 6) AS weight
        |FROM ng JOIN w USING (b) WHERE NOT is_t GROUP BY 1""".stripMargin)),
    // DSIR resampling: 50 docs drawn without replacement proportional
    // to exp(weight) via deterministic Gumbel-top-k (hash noise, no
    // RNG) — the selection half of the sel2 statistic
    QuerySpec("sel3_dsir_resample", (s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.dsirResample(t(s, d, "documents"), col("lang") === "zh",
        50)
    },
      // sel2's CTEs + the deterministic Gumbel key: u from the quadratic-
      // residue hash replay (two coprime residues of the 64-bit id feed
      // the mix — noise collides only for ids ≈ 1e12 apart), key =
      // weight/temp − ln(−ln u) rounded 6dp, top-k by (key DESC, doc_id)
      // — same fp op order
      Oracle("""WITH tk AS (SELECT doc_id, (lang = 'zh') AS is_t,
        |       list_filter(string_split_regex(lower(text),
        |         '[^a-z0-9]+'), x -> x <> '') AS toks
        |     FROM documents),
        |ng AS (SELECT doc_id, is_t,
        |         substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 2)
        |           AS b
        |       FROM (SELECT doc_id, is_t, toks,
        |               unnest(range(1, greatest(len(toks)-1, 0)+1)) AS i
        |             FROM tk)),
        |c AS (SELECT b,
        |        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS ct,
        |        CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
        |          AS BIGINT) AS cr
        |      FROM ng GROUP BY 1),
        |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |        CAST(SUM(cr) AS BIGINT) AS tr FROM c),
        |w AS (SELECT b,
        |        CAST(round(ln(((ct + 1.0) / (tt + 256.0))
        |               / ((cr + 1.0) / (tr + 256.0))) * 1000000)
        |          AS BIGINT) AS wq
        |      FROM c CROSS JOIN t),
        |dw AS (SELECT ng.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |         ROUND(CAST(SUM(wq) AS DOUBLE) / 1000000, 6) AS weight
        |       FROM ng JOIN w USING (b) WHERE NOT is_t GROUP BY 1),
        |g AS (SELECT doc_id, n_ngrams, weight,
        |        ROUND(weight / 1.0 - ln(-ln(
        |          ((((1013 * y * y + 2654435761 * y) % 1000003)
        |              + 1000003) % 1000003 + 1.0)
        |            / 1000005.0)), 6) AS key
        |      FROM (SELECT *,
        |              (((((doc_id % 1000003) + 1000003) % 1000003) * 131
        |                + ((((doc_id % 999983) + 999983) % 999983)) * 31
        |                + 17) % 1000003) AS y
        |            FROM dw))
        |SELECT doc_id, n_ngrams, weight, key FROM g
        |ORDER BY key DESC, doc_id LIMIT 50""".stripMargin)),
    // DSIR select-then-pack: the 50 selected docs concatenated in
    // doc_id order and cut into 4096-token training sequences — the
    // deployment composition of the selection family (sel3 -> e6)
    QuerySpec("sel4_dsir_pack", (s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.dsirSelectedPack(t(s, d, "documents"),
        col("lang") === "zh", 50)
    },
      // sel4: sel3's CTEs select the 50 docs, then the e3 pack windows
      // run over the selected set in doc_id order (whitespace token
      // counts — the corpus packing convention, not the DSIR scorer's)
      Oracle("""WITH tk AS (SELECT doc_id, (lang = 'zh') AS is_t,
        |       list_filter(string_split_regex(lower(text),
        |         '[^a-z0-9]+'), x -> x <> '') AS toks
        |     FROM documents),
        |ng AS (SELECT doc_id, is_t,
        |         substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 2)
        |           AS b
        |       FROM (SELECT doc_id, is_t, toks,
        |               unnest(range(1, greatest(len(toks)-1, 0)+1)) AS i
        |             FROM tk)),
        |c AS (SELECT b,
        |        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS ct,
        |        CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
        |          AS BIGINT) AS cr
        |      FROM ng GROUP BY 1),
        |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |        CAST(SUM(cr) AS BIGINT) AS tr FROM c),
        |w AS (SELECT b,
        |        CAST(round(ln(((ct + 1.0) / (tt + 256.0))
        |               / ((cr + 1.0) / (tr + 256.0))) * 1000000)
        |          AS BIGINT) AS wq
        |      FROM c CROSS JOIN t),
        |dw AS (SELECT ng.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |         ROUND(CAST(SUM(wq) AS DOUBLE) / 1000000, 6) AS weight
        |       FROM ng JOIN w USING (b) WHERE NOT is_t GROUP BY 1),
        |g AS (SELECT doc_id, n_ngrams, weight,
        |        ROUND(weight / 1.0 - ln(-ln(
        |          ((((1013 * y * y + 2654435761 * y) % 1000003)
        |              + 1000003) % 1000003 + 1.0)
        |            / 1000005.0)), 6) AS key
        |      FROM (SELECT *,
        |              (((((doc_id % 1000003) + 1000003) % 1000003) * 131
        |                + ((((doc_id % 999983) + 999983) % 999983)) * 31
        |                + 17) % 1000003) AS y
        |            FROM dw)),
        |sel AS (SELECT doc_id, weight FROM g
        |        ORDER BY key DESC, doc_id LIMIT 50),
        |dt AS (SELECT d.doc_id, s.weight,
        |         CAST(len(string_split_regex(d.text, '\s+')) AS INTEGER)
        |           AS n_tok
        |       FROM documents d JOIN sel s USING (doc_id))
        |SELECT doc_id, weight, n_tok,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM dt""".stripMargin)),
    // sel5: QUALITY-ordered token-budget selection — the "best N
    // tokens" mix: maximal prefix of the (q1 score desc, doc_id) order
    // whose running token sum fits the budget (~44% of the corpus mass
    // at 12000), two-phase decile-band cumsum (no global window)
    QuerySpec("sel5_quality_budget", (s, d) =>
      Sampling.qualityBudgetSelection(t(s, d, "documents"), 12000L),
      // sel2z: the CJK tokenizer gate — toks are the HAND-COMPUTED
      // Text.tokenize output of the inline fixture (latin runs lowercase;
      // a CJK run of length L emits its L-1 overlapping character
      // bigrams; an isolated CJK char emits itself), then sel2's DSIR
      // math verbatim over them; a tokenizer or bucketing divergence on
      // CJK input fails this hash loudly instead of hiding behind an
      // ASCII-only corpus
      // sel5: q1's qsc CTE verbatim + one global quality-ordered cumsum
      // (the (score, doc_id) order key is unique, so RANGE == ROWS and
      // both engines agree on every running sum) + the sharp budget cut
      Oracle(s"""WITH $modelScoreCtes,
        |sq AS (SELECT doc_id, score,
        |         CAST(n_toks AS BIGINT) AS n_tok,
        |         CAST(SUM(n_toks) OVER (ORDER BY score DESC, doc_id)
        |           AS BIGINT) AS cum_tok
        |       FROM qsc)
        |SELECT doc_id, score, n_tok, cum_tok FROM sq
        |WHERE cum_tok <= 12000""".stripMargin)),
    // CJK-bearing DSIR gate (the seg1 inline-fixture pattern): the
    // parquet corpus is ASCII-only, so the corpus-wide sel2 oracle's
    // Latin-only SQL tokenizer never sees the CJK character bigrams
    // Text.tokenize emits — this fixture runs the REAL operator over
    // inline CJK text while the oracle carries the hand-tokenized
    // arrays and replays the identical DSIR math over them, closing
    // the tokenizer-domain gap in the hash gate
    QuerySpec("sel2z_dsir_cjk", (s, d) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val docs = Seq(
        (1L, "zh", "中国人民热爱数据"),
        (2L, "zh", "数据处理"),
        (10L, "en", "数据处理引擎 spark"),
        (11L, "en", "big data engine 大 rocks"),
        (12L, "en", "中国人民")).toDF("doc_id", "lang", "text")
      Sampling.dsirWeights(docs, col("lang") === "zh")
    },
      Oracle("""WITH tk AS (SELECT * FROM (VALUES
        |    (1, true,  ['中国','国人','人民','民热','热爱','爱数','数据']),
        |    (2, true,  ['数据','据处','处理']),
        |    (10, false, ['数据','据处','处理','理引','引擎','spark']),
        |    (11, false, ['big','data','engine','大','rocks']),
        |    (12, false, ['中国','国人','人民']))
        |    AS t(doc_id, is_t, toks)),
        |ng AS (SELECT doc_id, is_t,
        |         substr(md5(array_to_string(toks[i:i+1], ' ')), 1, 2)
        |           AS b
        |       FROM (SELECT doc_id, is_t, toks,
        |               unnest(range(1, greatest(len(toks)-1, 0)+1)) AS i
        |             FROM tk)),
        |c AS (SELECT b,
        |        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS ct,
        |        CAST(SUM(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
        |          AS BIGINT) AS cr
        |      FROM ng GROUP BY 1),
        |t AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
        |        CAST(SUM(cr) AS BIGINT) AS tr FROM c),
        |w AS (SELECT b,
        |        CAST(round(ln(((ct + 1.0) / (tt + 256.0))
        |               / ((cr + 1.0) / (tr + 256.0))) * 1000000)
        |          AS BIGINT) AS wq
        |      FROM c CROSS JOIN t)
        |SELECT CAST(ng.doc_id AS BIGINT) AS doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
        |       ROUND(CAST(SUM(wq) AS DOUBLE) / 1000000, 6) AS weight
        |FROM ng JOIN w USING (b) WHERE NOT is_t GROUP BY 1""".stripMargin)),
    // FROZEN-QUANTIZER assignment — the index-freshness op between
    // retrains: held-out vectors (vec_id < 100) assigned to the nearest
    // FINAL centroid of a quantizer trained ONLY on the base slice
    // (vec_id >= 100), no retraining — the cross-engine gate for
    // `appendIvfIndex`'s assignment step
    QuerySpec("sim11_frozen_assign", (s, d) => {
      import org.apache.spark.sql.functions.col
      val embAll = t(s, d, "embeddings")
      Similarity.assignAtCentroids(
          embAll.where(col("vec_id") < 100),
          Clustering.kmeansCentroids(embAll.where(col("vec_id") >= 100)))
        .select(col("vec_id"), col("cid"))
        .orderBy(col("vec_id"))
    },
      // frozen-quantizer assignment: Lloyd trained on the base slice only
      // (vec_id >= 100), held-out vectors assigned at the FINAL (c2)
      // centroids by the same (d, cid) argmin — mirrors
      // Similarity.assignAtCentroids over Clustering.kmeansCentroids(base)
      Oracle(s"""WITH ${kmeansCtesOn("vec_id >= 100")},
        |held AS (SELECT vec_id,
        |           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |         FROM embeddings WHERE vec_id < 100),
        |asg AS (SELECT vec_id, cid FROM (
        |          SELECT h.vec_id, c.cid, row_number() OVER (
        |              PARTITION BY h.vec_id
        |              ORDER BY list_sum(list_transform(range(1, len(h.v)+1),
        |                i -> (h.v[i]-c.cen[i])*(h.v[i]-c.cen[i]))), c.cid)
        |            AS rn
        |          FROM held h CROSS JOIN c2 c) WHERE rn = 1)
        |SELECT vec_id, cid FROM asg ORDER BY 1""".stripMargin)),
    QuerySpec("sim6_knn_graph", (s, d) =>
      Similarity.knnGraph(t(s, d, "embeddings"), 1)
        .select("qid", "nid"),
      Oracle(
        """WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings),
        |x AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
        |p AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      WHERE qid <> nid GROUP BY qid, nid),
        |r AS (SELECT qid, nid, row_number() OVER
        |        (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |      FROM p WHERE qq > 0 AND xx > 0)
        |SELECT qid, nid FROM r WHERE rn = 1""".stripMargin)),
    // rows-only by design (like sim2–sim5): the LSH-blocked graph is the
    // 100 TB twin of sim6 — recall and rank-correlation vs the exact
    // graph are gated in PipelineSpec, not by a hash oracle. AUTO bits:
    // scaledBits resolves to the old pinned 4 at the sf0.01 verify
    // corpus (unchanged gate) and grows with n elsewhere — the measured
    // ScaleCurve protocol as the entry itself (pinned 4 bits went
    // 15x at the sf1 bench point; auto holds the family ~linear)
    QuerySpec("sim7_blocked_knn", (s, d) =>
      Similarity.knnGraphBlockedAuto(t(s, d, "embeddings"), 1)
        .select("qid", "rn", "nid"),
      RowsOnly("gr3_portable_pagerank")),
    // rows-only by design: PageRank over the LSH-blocked graph — the
    // scale-path composition of gr1 (exact-graph PageRank is the oracle
    // anchor; Spearman rho between the two rankings is spec-gated).
    // Same auto bits as sim7, so both share one memoized substrate
    QuerySpec("gr2_blocked_pagerank", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      Graph.pageRank(
        Similarity.knnGraphBlockedAuto(t(s, d, "embeddings"), 1)
          .select(col("qid").as("src"), col("nid").as("dst")), 5)
        .select(col("id"), round(col("rank"), 9).as("rank"))
    },
      RowsOnly("gr3_portable_pagerank")),
    // ---- training-data pipeline: multimodal ----
    QuerySpec("m1_media_features", (s, d) =>
      Multimodal.mediaFeatureSummary(t(s, d, "documents")),
      // every non-id column below is, on the Spark side, parsed/DECODED
      // out of the payload BYTES (PNG IHDR/acTL/fcTL/fdAT + per-frame
      // inflate + unfilter, WAV fmt/data chunks); the oracle reconstructs
      // the same values from the deterministic encoder arithmetic.
      // mean_px is the pixel-level gate: floor-mean brightness of the
      // decoded bitmap for images (prefix render: pixel p = code point p
      // mod 256, 0 past text end), floor-mean over EVERY decoded frame's
      // pixels for video (frame k = the render scrolled k rows — the
      // oracle sums each text index weighted by how many frames cover it),
      // floor-mean |sample-128| of the decoded PCM for audio; video
      // duration_ms = the sum of the decoded fcTL delays (40 ms/frame).
      // A wrong inflate/unfilter/frame-walk on the Spark side cannot
      // hash-match. byte_len (deflate output size) and checksum (CRC-32)
      // are spec-pinned, not SQL-expressible.
      Oracle("""WITH im AS (SELECT doc_id, text, length(text) AS l,
        |        CAST((n_chars // 100) * 3 + 12 AS BIGINT) AS w,
        |        CAST((n_chars // 150) * 4 + 10 AS BIGINT) AS h
        |      FROM documents WHERE doc_id % 3 = 0),
        |imx AS (SELECT doc_id, l, text,
        |         unnest(range(0, w * h)) AS p FROM im),
        |imm AS (SELECT doc_id,
        |          SUM(CASE WHEN p < l
        |            THEN unicode(text[CAST(p AS INTEGER) + 1]) % 256
        |            ELSE 0 END) // COUNT(*) AS mean_px
        |        FROM imx GROUP BY 1),
        |vim AS (SELECT doc_id, text, length(text) AS l,
        |        CAST((n_chars // 100) * 3 + 12 AS BIGINT) AS w,
        |        CAST((n_chars // 150) * 4 + 10 AS BIGINT) AS h,
        |        CAST(n_chars // 64 + 1 AS BIGINT) AS n
        |      FROM documents WHERE doc_id % 3 = 2),
        |vix AS (SELECT doc_id, l, text, w, h, n,
        |         unnest(range(0, least(l, (n-1)*w + w*h))) AS j FROM vim),
        |vmm AS (SELECT doc_id,
        |          SUM((unicode(text[CAST(j AS INTEGER) + 1]) % 256) *
        |              (least(n-1, j // w) -
        |               (CASE WHEN j < w*h THEN 0
        |                ELSE (j - w*h) // w + 1 END) + 1))
        |            // MAX(n * w * h) AS mean_px
        |        FROM vix GROUP BY 1),
        |aum AS (SELECT doc_id,
        |          SUM(abs(unicode(text[i]) % 256 - 128)) // COUNT(*)
        |            AS mean_px
        |        FROM (SELECT doc_id, text,
        |                unnest(range(1, length(text)+1)) AS i
        |              FROM documents WHERE doc_id % 3 = 1)
        |        GROUP BY 1),
        |mp AS (SELECT * FROM imm UNION ALL SELECT * FROM vmm
        |       UNION ALL SELECT * FROM aum)
        |SELECT d.doc_id,
        |       CASE CAST(d.doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(CASE WHEN d.doc_id % 3 = 1 THEN 0
        |            ELSE (d.n_chars // 100) * 3 + 12 END AS INTEGER)
        |         AS width,
        |       CAST(CASE WHEN d.doc_id % 3 = 1 THEN 0
        |            ELSE (d.n_chars // 150) * 4 + 10 END AS INTEGER)
        |         AS height,
        |       CAST(CASE CAST(d.doc_id % 3 AS INTEGER) WHEN 0 THEN 1
        |            WHEN 1 THEN length(d.text)
        |            ELSE d.n_chars // 64 + 1
        |            END AS BIGINT) AS n_frames,
        |       CAST(CASE CAST(d.doc_id % 3 AS INTEGER)
        |            WHEN 1 THEN (length(d.text) * 1000) // 8000
        |            WHEN 2 THEN 40 * (d.n_chars // 64 + 1)
        |            ELSE 0 END AS BIGINT) AS duration_ms,
        |       CAST(COALESCE(m.mean_px, 0) AS BIGINT) AS mean_px
        |FROM documents d LEFT JOIN mp m USING (doc_id)""".stripMargin)),
    // perceptual-hash near-dup image pairs: dHash over the parsed PNG
    // payloads, banded through the d4/d19 distinct-signature Hamming
    // engine (pigeonhole makes banded == brute force at maxHamming 3,
    // which is what the DuckDB oracle recomputes)
    QuerySpec("d21_phash_pairs", (s, d) =>
      Multimodal.phashPairs(t(s, d, "documents"), 3),
      // dHash image near-dups over the REAL pixel decode: Spark inflates
      // the IDAT, reverses the PNG filters, and box-samples the bitmap;
      // the oracle regenerates the same bitmap from the encoder's pixel
      // function (see phashSigCtes) and brute-forces hamming <= 3 (the
      // 4-band pigeonhole layout makes Spark's banded set equal it)
      Oracle(s"""WITH $phashSigCtes
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |       CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
         |FROM psig a JOIN psig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 3""".stripMargin)),
    // audio near-dup pairs: 31-bit energy-envelope hash over the WAV
    // payloads through the same banded Hamming engine — the audio leg
    // of the multimodal dedup bridge
    QuerySpec("d23_audio_pairs", (s, d) =>
      Multimodal.audioPairs(t(s, d, "documents"), 2),
      // audio envelope twin of d21 over the DECODED PCM samples: 32 FIXED
      // 16-sample leading windows (prefix-aligned), 8-bit energy
      // accumulator Σ|sample-128| mod 256 per window (samples = text code
      // points mod 256 by the encoder), gradient bits, brute-force hamming
      // (banded == brute by pigeonhole at maxHamming 2 over 3 bands)
      Oracle(s"""WITH $audioSigCtes
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |       CAST(bit_count(xor(a.ah, b.ah)) AS INTEGER) AS hamming
         |FROM asig a JOIN asig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ah, b.ah)) <= 2""".stripMargin)),
    // curation composed across modalities: e5's keepers minus the
    // higher-id side of every phash near-dup image pair
    QuerySpec("e8_media_curated", (s, d) =>
      Pipeline.mediaCuratedCorpus(t(s, d, "documents")),
      // e5's keepers minus the phash image drop list (shared psig CTEs)
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes,
         |$phashSigCtes,
         |pdrop AS (SELECT DISTINCT b.doc_id
         |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ph, b.ph)) <= 3)
         |SELECT q.doc_id, q.n_toks, q.score, d.dup_frac
         |FROM qsc q JOIN dspan d USING (doc_id)
         |JOIN kept USING (doc_id)
         |WHERE q.doc_id NOT IN (SELECT doc_id FROM pdrop)""".stripMargin)),
    // the ALL-MODALITY closer: e5's keepers minus BOTH the image dHash
    // and the audio envelope near-dup higher-ids (disjoint drop lists —
    // one doc_id is one modality — unioned into a single anti-join)
    QuerySpec("e9_media_curated_all", (s, d) =>
      Pipeline.fullMediaCuratedCorpus(t(s, d, "documents")),
      // e9: e8 plus the audio drop leg (shared asig CTEs); the two drop
      // lists cannot intersect (kind is keyed on doc_id % 3)
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes,
         |$phashSigCtes,
         |$audioSigCtes,
         |mdrop AS (SELECT DISTINCT b.doc_id
         |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |          UNION
         |          SELECT b.doc_id
         |          FROM asig a JOIN asig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ah, b.ah)) <= 2)
         |SELECT q.doc_id, q.n_toks, q.score, d.dup_frac
         |FROM qsc q JOIN dspan d USING (doc_id)
         |JOIN kept USING (doc_id)
         |WHERE q.doc_id NOT IN (SELECT doc_id FROM mdrop)""".stripMargin)),
    // the media DECONTAMINATION closer: e9 minus every training doc the
    // d25 probe flags as carrying benchmark media — detection became
    // enforcement (composition law: e10 == e9 − flagged train docs).
    // Contamination runs at LOOSER budgets (5/3) than the dedup legs
    // (3/2): at equal budgets the flags are subsumed by e9's near-dup
    // anti-join (bench ids < train ids, so every flagged doc is a pair's
    // higher-id side — the spec-pinned corollary); recall against eval
    // leakage is the stage's whole value
    QuerySpec("e10_decontaminated_media", (s, d) =>
      Pipeline.decontaminatedMediaCorpus(t(s, d, "documents")),
      // e10: e9 minus the d25 contamination flags (train docs carrying a
      // benchmark-media signature within the modality Hamming budget) —
      // the composition law e10 == e9 − d25-flagged train docs in SQL
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes,
         |$phashSigCtes,
         |$audioSigCtes,
         |mdrop AS (SELECT DISTINCT b.doc_id
         |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |          UNION
         |          SELECT b.doc_id
         |          FROM asig a JOIN asig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ah, b.ah)) <= 2),
         |cflag AS (SELECT DISTINCT t.doc_id
         |          FROM psig t JOIN psig b ON t.doc_id >= 25
         |            AND b.doc_id < 25
         |          WHERE bit_count(xor(t.ph, b.ph)) <= 5
         |          UNION
         |          SELECT t.doc_id
         |          FROM asig t JOIN asig b ON t.doc_id >= 25
         |            AND b.doc_id < 25
         |          WHERE bit_count(xor(t.ah, b.ah)) <= 3)
         |SELECT q.doc_id, q.n_toks, q.score, d.dup_frac
         |FROM qsc q JOIN dspan d USING (doc_id)
         |JOIN kept USING (doc_id)
         |WHERE q.doc_id NOT IN (SELECT doc_id FROM mdrop)
         |  AND q.doc_id NOT IN (SELECT doc_id FROM cflag)""".stripMargin)),
    // provenance funnel for the media pipeline: every doc attributed to
    // the first rejecting e5/e9/e10 stage (exact_dup → low_score →
    // high_dup_span → media_near_dup → media_contaminated → kept);
    // Σ n_docs = |documents| by construction, kept == e10's keep-set
    QuerySpec("audit2_media_funnel", (s, d) =>
      Pipeline.mediaFilterFunnel(t(s, d, "documents")),
      // audit2: the media funnel — one CASE over the e5/e9/e10 drop flags
      // in the documented attribution order; conservation (Σ n_docs =
      // |documents|) holds because the CASE is exhaustive and disjoint
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes,
         |$phashSigCtes,
         |$audioSigCtes,
         |mdrop AS (SELECT DISTINCT b.doc_id
         |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ph, b.ph)) <= 3
         |          UNION
         |          SELECT b.doc_id
         |          FROM asig a JOIN asig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ah, b.ah)) <= 2),
         |cflag AS (SELECT DISTINCT t.doc_id
         |          FROM psig t JOIN psig b ON t.doc_id >= 25
         |            AND b.doc_id < 25
         |          WHERE bit_count(xor(t.ph, b.ph)) <= 5
         |          UNION
         |          SELECT t.doc_id
         |          FROM asig t JOIN asig b ON t.doc_id >= 25
         |            AND b.doc_id < 25
         |          WHERE bit_count(xor(t.ah, b.ah)) <= 3),
         |att AS (SELECT d.doc_id, d.text,
         |          CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM exk)
         |                 THEN 'exact_dup'
         |               WHEN COALESCE(q.score, -1) < 0.45
         |                 THEN 'low_score'
         |               WHEN COALESCE(sp.dup_frac, 1) > 0.5
         |                 THEN 'high_dup_span'
         |               WHEN d.doc_id IN (SELECT doc_id FROM mdrop)
         |                 THEN 'media_near_dup'
         |               WHEN d.doc_id IN (SELECT doc_id FROM cflag)
         |                 THEN 'media_contaminated'
         |               ELSE 'kept' END AS stage
         |        FROM documents d LEFT JOIN qsc q USING (doc_id)
         |          LEFT JOIN dspan sp USING (doc_id))
         |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
         |         AS n_tokens
         |FROM att GROUP BY 1""".stripMargin)),
    // the unified benchmark-health rollup: d26 (media) + d29 (quote) +
    // d32 (embedding) burn evidence full-outer-joined per eval item —
    // the single "retire this item" artifact a benchmark owner reads;
    // the embedding leg shares the text/media holdout (vec_id is the
    // embedding OF doc_id)
    QuerySpec("audit3_benchmark_health", (s, d) =>
      Pipeline.benchmarkHealthReport(t(s, d, "documents"),
        t(s, d, "embeddings"), 25),
      // audit3: the three burn-report CTE families (d26 media at the e10
      // budgets, d29 quote, d32 embedding with the holdout aligned to
      // vec_id < 25) full-outer joined per eval item; the first_train
      // least() runs over explicit MaxValue sentinels so both engines
      // evaluate the identical expression
      Oracle(s"WITH $benchHealthBodyCtes\n" + benchHealthSelect)),
    // audit6: the burn-report → ACTION loop — audit3's evidence rolled
    // into the retirement DECISION over the whole 25-item eval universe
    // (clean items included): retired ⇔ burned in >= 2 independent
    // modalities
    QuerySpec("audit6_benchmark_retirement", (s, d) =>
      Pipeline.prunedBenchmark(t(s, d, "documents"),
        t(s, d, "embeddings"), 25),
      // audit6: audit3's health table — the IDENTICAL CTEs, re-wrapped as
      // hlth — left-joined onto the 25-item bench universe; retired <=>
      // n_modalities >= 2, clean items carry 0 and stay visible
      Oracle(s"WITH $benchHealthBodyCtes,\nhlth AS ($benchHealthSelect)\n" +
        """SELECT b.doc_id AS bench_id,
          |       COALESCE(h.n_modalities, 0) AS n_modalities,
          |       COALESCE(h.n_modalities, 0) >= 2 AS retired
          |FROM (SELECT doc_id FROM documents WHERE doc_id < 25) b
          |LEFT JOIN hlth h ON h.bench_id = b.doc_id""".stripMargin)),
    // r7: the action APPLIED — MRR of the portable sign-LSH retriever
    // (top-1 qrels, the r4 machinery) over the 25 bench items as
    // queries against the exact cosine top-10 run, with audit6's
    // retired items PRUNED from the qrels before scoring: the
    // retrieval-eval family stops scoring compromised items (at sf0.01
    // the decision retires 3 of 25, so the pruning is non-vacuous)
    QuerySpec("r7_pruned_benchmark_mrr", (s, d) => {
      val emb = t(s, d, "embeddings")
      val run = Similarity.bruteForceTopKIds(emb, 0L until 25L, 10)
        .select(org.apache.spark.sql.functions.col("qid")
            .as("query_id"),
          org.apache.spark.sql.functions.col("nid").as("doc_id"),
          org.apache.spark.sql.functions.col("rn"))
      val qrels = Similarity.portableLshTop1(emb, 0L until 25L)
        .select(org.apache.spark.sql.functions.col("qid")
            .as("query_id"),
          org.apache.spark.sql.functions.col("nid").as("doc_id"))
      Pipeline.retrievalEval(run,
        Pipeline.pruneQrels(qrels,
          Pipeline.prunedBenchmark(t(s, d, "documents"), emb, 25)), 10)
    },
      // r7: the retirement APPLIED to a retrieval eval — the 25 bench
      // items as queries, run = exact cosine top-10 (the dr shape over
      // the bench query set), qrels = portable sign-LSH top-1 (the r4
      // machinery, reranked through the SAME r7p cosine frame), pruned
      // by hlth's >= 2-modalities verdict before the MRR rollup
      Oracle(s"WITH $benchHealthBodyCtes,\nhlth AS ($benchHealthSelect),\n" +
        s"$portableSigCtes,\n" +
        """r7p AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
          |         SUM(CAST(q.embedding[ii.i] AS DOUBLE)
          |             * CAST(n.embedding[ii.i] AS DOUBLE)) AS dot,
          |         SUM(CAST(q.embedding[ii.i] AS DOUBLE)
          |             * CAST(q.embedding[ii.i] AS DOUBLE)) AS qq,
          |         SUM(CAST(n.embedding[ii.i] AS DOUBLE)
          |             * CAST(n.embedding[ii.i] AS DOUBLE)) AS xx
          |       FROM embeddings q JOIN embeddings n
          |           ON n.vec_id <> q.vec_id,
          |         (SELECT unnest(range(1, 65)) AS i) ii
          |       WHERE q.vec_id < 25
          |       GROUP BY 1, 2),
          |r7run AS (SELECT qid, nid, row_number() OVER (
          |            PARTITION BY qid
          |            ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid)
          |            AS rn
          |          FROM r7p WHERE qq > 0 AND xx > 0),
          |l7c AS (SELECT lsq.vec_id AS qid, ln.vec_id AS nid
          |        FROM ls lsq JOIN ls ln
          |          ON ln.sig = lsq.sig AND ln.vec_id <> lsq.vec_id
          |        WHERE lsq.vec_id < 25),
          |l7r AS (SELECT c.qid, c.nid, row_number() OVER (
          |          PARTITION BY c.qid
          |          ORDER BY p.dot / (sqrt(p.qq) * sqrt(p.xx)) DESC,
          |            c.nid) AS rn
          |        FROM l7c c JOIN r7p p
          |          ON p.qid = c.qid AND p.nid = c.nid
          |        WHERE p.qq > 0 AND p.xx > 0),
          |r7q AS (SELECT qid, nid FROM l7r WHERE rn = 1
          |        AND qid NOT IN (SELECT bench_id FROM hlth
          |                        WHERE n_modalities >= 2)),
          |r7h AS (SELECT q.qid, MIN(r.rn) AS first_hit
          |        FROM r7q q LEFT JOIN
          |          (SELECT * FROM r7run WHERE rn <= 10) r
          |          ON r.qid = q.qid AND r.nid = q.nid
          |        GROUP BY 1)
          |SELECT qid AS query_id,
          |       ROUND(COALESCE(CAST(1.0 AS DOUBLE) / first_hit,
          |                      CAST(0.0 AS DOUBLE)), 6) AS rr,
          |       first_hit IS NOT NULL AS hit
          |FROM r7h""".stripMargin)),
    // ---- E2 SQL entry path ----
    QuerySpec("e2_sql_revenue_by_year", (s, d) =>
      graft.sql.SqlJobs.revenueByYear(s, d),
      Oracle(graft.sql.SqlJobs.revenueByYearSql)),
    QuerySpec("e2_sql_kwsplit_counts", (s, d) =>
      graft.sql.SqlJobs.keywordCounts(s, d),
      Oracle("""SELECT kw AS keyword, COUNT(*) AS cnt
        |FROM (SELECT DISTINCT doc_id,
        |        unnest(list_distinct(list_filter(
        |          string_split_regex(lower(text), '[^a-z0-9]+'),
        |          x -> x <> ''))) AS kw
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("e2_sql_corr_scalar", (s, d) =>
      graft.sql.SqlJobs.maxSpendPerCustomer(s, d),
      Oracle(graft.sql.SqlJobs.maxSpendPerCustomerSql)),
    // SQL text through the registered native zvalue expression — the
    // function-registry path of the Layout family (z1 gates the Column
    // form; this gates the registry + SQL parse route)
    QuerySpec("e2_sql_zorder_counts", (s, d) =>
      graft.sql.SqlJobs.zorderBucketCounts(s, d),
      // the z1 spread chain reduced to bucket counts (the SQL-path twin)
      Oracle("""WITH b AS (
        |  SELECT (user_id & 255) AS x,
        |    (CAST(floor(value) AS BIGINT) & 255) AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |s0 AS (SELECT x, y, x AS sx, y AS sy FROM b),
        |s1 AS (SELECT x, y, ((sx | (sx << 8)) & 16711935) AS sx,
        |              ((sy | (sy << 8)) & 16711935) AS sy FROM s0),
        |s2 AS (SELECT x, y, ((sx | (sx << 4)) & 252645135) AS sx,
        |              ((sy | (sy << 4)) & 252645135) AS sy FROM s1),
        |s3 AS (SELECT x, y, ((sx | (sx << 2)) & 858993459) AS sx,
        |              ((sy | (sy << 2)) & 858993459) AS sy FROM s2),
        |s4 AS (SELECT x, y, ((sx | (sx << 1)) & 1431655765) AS sx,
        |              ((sy | (sy << 1)) & 1431655765) AS sy FROM s3),
        |z AS (SELECT ((sx << 1) | sy) AS z FROM s4)
        |SELECT (z >> 8) AS bucket, count(*) AS n
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ---- window-family extensions ----
    QuerySpec("a11_session_windows", (s, d) =>
      Aggs.userSessions(events(s, d)),
      Oracle("""WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       user_id, COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sid ORDER BY user_id, 1""".stripMargin)),
    QuerySpec("a12_sliding_windows", (s, d) =>
      Aggs.slidingHourlyCounts(events(s, d)),
      Oracle("""SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR * o,
        |                '%Y-%m-%d %H:%M:%S') AS wstart,
        |       COUNT(*) AS cnt
        |FROM events, (SELECT unnest(range(0, 2)) AS o)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("a13_pricing_rollup", (s, d) =>
      Aggs.pricingRollup(t(s, d, "lineitem")),
      Oracle("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin)),
    QuerySpec("m2_frame_samples", (s, d) => {
      import org.apache.spark.sql.functions.{col, element_at, size}
      Multimodal.sampleFrames(
          Multimodal.toMediaTable(t(s, d, "documents")), 224, 4)
        .select(col("doc_id"), col("kind"), col("out_w"), col("out_h"),
          size(col("frame_offsets")).as("n_sampled"),
          // the (n-1)·stride endpoint gates the decoded-length/stride
          // arithmetic itself, not just the sample count
          element_at(col("frame_offsets"), -1).as("last_off"))
    },
      // out_w/out_h mirror the aspect-preserving resize plan over the
      // PARSED dims; n_sampled = max(1, min(maxFrames, DECODED frame
      // count)) — image 1 frame, audio one "frame" per PCM sample, video
      // the fcTL/fdAT-validated count n_chars//64+1. Offsets are
      // FRAME-ALIGNED for image/video: sampled frame i is frame
      // i*floor(n_frames/n_sampled), at byte offset frame_idx*(w*h) in the
      // concatenated decoded bitmap stream, so last_off gates the
      // per-frame layout arithmetic; audio strides through the PCM
      // samples as before
      Oracle("""SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       224 AS out_w,
        |       CAST(CASE WHEN doc_id % 3 = 1 THEN 1
        |            ELSE greatest(trunc(((n_chars // 150) * 4 + 10) *
        |              (224.0 / ((n_chars // 100) * 3 + 12))), 1)
        |            END AS INTEGER) AS out_h,
        |       CAST(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 1
        |            WHEN 1 THEN greatest(1, least(4, length(text)))
        |            ELSE greatest(1, least(4, n_chars // 64 + 1))
        |            END AS INTEGER) AS n_sampled,
        |       CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |            WHEN 0 THEN 0
        |            WHEN 1 THEN (greatest(1, least(4, length(text))) - 1)
        |              * greatest(1, length(text)
        |                  // greatest(1, least(4, length(text))))
        |            ELSE (greatest(1, least(4, n_chars // 64 + 1)) - 1)
        |              * greatest(1, (n_chars // 64 + 1)
        |                  // greatest(1, least(4, n_chars // 64 + 1)))
        |              * ((n_chars // 100) * 3 + 12)
        |              * ((n_chars // 150) * 4 + 10)
        |            END AS BIGINT) AS last_off
        |FROM documents""".stripMargin)),
    // the direct per-frame-pixel gate: one row per DECODED video frame,
    // floor-mean brightness of that frame's inflated+unfiltered bitmap —
    // a decoder that poster-framed frame k or mis-sequenced the fdAT
    // streams cannot hash-match the oracle's per-frame render
    QuerySpec("m3_video_frame_means", (s, d) =>
      Multimodal.videoFrameMeans(t(s, d, "documents")),
      // per-frame means from the encoder arithmetic: frame k of a video is
      // the prefix render scrolled k rows (pixel p = code point k*w + p,
      // 0 past text end), mean = floor over the w*h frame bitmap
      Oracle("""WITH vm AS (SELECT doc_id, text, length(text) AS l,
        |        CAST((n_chars // 100) * 3 + 12 AS BIGINT) AS w,
        |        CAST((n_chars // 150) * 4 + 10 AS BIGINT) AS h,
        |        CAST(n_chars // 64 + 1 AS BIGINT) AS n
        |      FROM documents WHERE doc_id % 3 = 2),
        |vq AS (SELECT doc_id, w, h, l, n, text,
        |        unnest(range(0, n * w * h)) AS q FROM vm)
        |SELECT doc_id, CAST(q // (w*h) AS INTEGER) AS frame,
        |       CAST(SUM(CASE WHEN (q // (w*h)) * w + (q % (w*h)) < l
        |         THEN unicode(text[CAST((q // (w*h)) * w + (q % (w*h))
        |           AS INTEGER) + 1]) % 256
        |         ELSE 0 END) // MAX(w * h) AS BIGINT) AS mean_px
        |FROM vq GROUP BY 1, 2""".stripMargin)),
    // clip containment via frame-level near-dup matching (the d17 shape
    // for video): two clips pair when >= 80% of either clip's frames
    // have a hamming<=3 partner frame in the other AT THE PAIR'S
    // DOMINANT TEMPORAL OFFSET (±1 frame) — sub-clip detection a
    // whole-clip majority signature dilutes, and a shuffled bag of the
    // same frames scatters across shifts and never pairs; the any-order
    // fraction stays as the containment_any diagnostic; banded == brute
    // by the d21 pigeonhole, so the oracle recomputes the frame pairs
    QuerySpec("d24_video_containment", (s, d) =>
      Multimodal.videoContainmentPairs(t(s, d, "documents"), 3, 0.8),
      // frame-level brute-force hamming (== Spark's banded set by the
      // pigeonhole at maxHamming 3 over 4 bands), rolled up to clip pairs:
      // containment = max matched-frame fraction of either side counting
      // ONLY matches within ±1 of the pair's dominant shift (temporal
      // consistency — a shuffled bag of the same frames never pairs);
      // containment_any keeps the any-order fraction as the diagnostic.
      // fsig (per video frame dHash signatures) comes from the phash CTEs.
      Oracle(s"""WITH $phashSigCtes,
         |fpair AS (SELECT a.doc_id AS d1, a.k AS k1,
         |            b.doc_id AS d2, b.k AS k2
         |          FROM fsig a JOIN fsig b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.ph, b.ph)) <= 3),
         |nf AS (SELECT doc_id, COUNT(*) AS n FROM fsig GROUP BY 1),
         |msh AS (SELECT d1, d2, shift FROM (
         |        SELECT d1, d2, k2 - k1 AS shift,
         |          row_number() OVER (PARTITION BY d1, d2
         |            ORDER BY COUNT(*) DESC, k2 - k1) AS rn
         |        FROM fpair GROUP BY d1, d2, k2 - k1) WHERE rn = 1),
         |mm AS (SELECT f.d1, f.d2, s.shift,
         |          COUNT(DISTINCT CASE WHEN abs(f.k2 - f.k1 - s.shift)
         |            <= 1 THEN f.k1 END) AS ma,
         |          COUNT(DISTINCT CASE WHEN abs(f.k2 - f.k1 - s.shift)
         |            <= 1 THEN f.k2 END) AS mb,
         |          COUNT(DISTINCT f.k1) AS ma_any,
         |          COUNT(DISTINCT f.k2) AS mb_any
         |       FROM fpair f JOIN msh s ON s.d1 = f.d1 AND s.d2 = f.d2
         |       GROUP BY 1, 2, 3)
         |SELECT mm.d1 AS doc1, mm.d2 AS doc2,
         |       greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) AS containment,
         |       greatest(ma_any * 1.0 / a.n, mb_any * 1.0 / b.n)
         |         AS containment_any,
         |       CAST(mm.shift AS INTEGER) AS shift
         |FROM mm JOIN nf a ON mm.d1 = a.doc_id JOIN nf b ON mm.d2 = b.doc_id
         |WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8""".stripMargin)),
    // media decontamination (the d9 shape over perceptual fingerprints):
    // eval-holdout media (doc_id < 25) flagged when a training doc of
    // the same modality is within the d21/d23 Hamming budgets —
    // bipartite banded blocking, benchmark side broadcast
    QuerySpec("d25_media_contamination", (s, d) =>
      Multimodal.mediaContaminationSplitCheck(t(s, d, "documents"), 25),
      // bipartite brute-force hamming (== Spark's banded set by the same
      // pigeonhole as d21/d23) over the shared psig/asig signature CTEs
      Oracle(s"""WITH $phashSigCtes,
         |$audioSigCtes
         |SELECT t.doc_id, b.doc_id AS bench_id, 'visual' AS modality,
         |       CAST(bit_count(xor(t.ph, b.ph)) AS INTEGER) AS hamming
         |FROM psig t JOIN psig b ON t.doc_id >= 25 AND b.doc_id < 25
         |WHERE bit_count(xor(t.ph, b.ph)) <= 3
         |UNION ALL
         |SELECT t.doc_id, b.doc_id AS bench_id, 'audio' AS modality,
         |       CAST(bit_count(xor(t.ah, b.ah)) AS INTEGER) AS hamming
         |FROM asig t JOIN asig b ON t.doc_id >= 25 AND b.doc_id < 25
         |WHERE bit_count(xor(t.ah, b.ah)) <= 2""".stripMargin)),
    // EMBEDDING-space contamination (the modality the shingle/pixel
    // probes can't see — a semantic paraphrase of an eval item): train
    // vectors within cosine 0.4 of the eval holdout (vec_id < 100),
    // eval side broadcast, one codegen cosine pass
    QuerySpec("d31_embedding_contamination", (s, d) =>
      Similarity.embeddingContaminationSplitCheck(
        t(s, d, "embeddings"), 100),
      // d31: brute bipartite cosine (the sel1/emb-family SUM-then-round
      // arithmetic), flag on the 6dp-rounded value — train >= 100 vs
      // eval holdout < 100
      Oracle("""WITH nn AS (SELECT vec_id,
        |        sqrt(SUM(CAST(embedding[ii.i] AS DOUBLE)
        |          * CAST(embedding[ii.i] AS DOUBLE))) AS nrm
        |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
        |      GROUP BY 1),
        |c AS (SELECT a.vec_id, b.vec_id AS bench_id,
        |        SUM(CAST(a.embedding[ii.i] AS DOUBLE)
        |          * CAST(b.embedding[ii.i] AS DOUBLE)) AS dot
        |      FROM embeddings a, embeddings b,
        |           (SELECT unnest(range(1, 65)) AS i) ii
        |      WHERE a.vec_id >= 100 AND b.vec_id < 100
        |      GROUP BY 1, 2)
        |SELECT c.vec_id, c.bench_id,
        |       ROUND(c.dot / (na.nrm * nb.nrm), 6) AS cos
        |FROM c JOIN nn na ON na.vec_id = c.vec_id
        |       JOIN nn nb ON nb.vec_id = c.bench_id
        |WHERE na.nrm > 0 AND nb.nrm > 0
        |  AND ROUND(c.dot / (na.nrm * nb.nrm), 6) >= 0.4""".stripMargin)),
    // the embedding burn report: d31's flags per eval item — the
    // d26/d29 twin for the semantic modality
    QuerySpec("d32_embedding_burn", (s, d) =>
      Similarity.embeddingBurnReport(t(s, d, "embeddings"), 100),
      // d32: d31's CTEs + the per-bench-item rollup
      Oracle("""WITH nn AS (SELECT vec_id,
        |        sqrt(SUM(CAST(embedding[ii.i] AS DOUBLE)
        |          * CAST(embedding[ii.i] AS DOUBLE))) AS nrm
        |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
        |      GROUP BY 1),
        |c AS (SELECT a.vec_id, b.vec_id AS bench_id,
        |        SUM(CAST(a.embedding[ii.i] AS DOUBLE)
        |          * CAST(b.embedding[ii.i] AS DOUBLE)) AS dot
        |      FROM embeddings a, embeddings b,
        |           (SELECT unnest(range(1, 65)) AS i) ii
        |      WHERE a.vec_id >= 100 AND b.vec_id < 100
        |      GROUP BY 1, 2),
        |fl AS (SELECT c.vec_id, c.bench_id,
        |         ROUND(c.dot / (na.nrm * nb.nrm), 6) AS cos
        |       FROM c JOIN nn na ON na.vec_id = c.vec_id
        |              JOIN nn nb ON nb.vec_id = c.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(c.dot / (na.nrm * nb.nrm), 6) >= 0.4)
        |SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_train,
        |       MAX(cos) AS max_cos,
        |       MIN(vec_id) AS first_train
        |FROM fl GROUP BY 1""".stripMargin)),
    // the INDEXED d31 — the web-scale form: each eval vector probes its
    // nprobe=2 nearest IVF cells (oracle-able Lloyd quantizer trained on
    // the training side only) and the cosine flag runs inside those
    // cells; output ⊆ d31, == d31 at nprobe = cells (spec-pinned); the
    // WHOLE approximate path is hash-gated, not rows-only
    QuerySpec("d31z_indexed_contamination", (s, d) =>
      Similarity.embeddingContaminationIvf(t(s, d, "embeddings"), 100),
      // d31z: the indexed probe — the shared Lloyd CTEs trained on the
      // training slice (vec_id >= 100), every eval vector ranks the
      // final-round centroids by squared-L2 ((d, cid) argmin) and keeps
      // nprobe = 2 cells, candidates = those cells' assigned members,
      // then the d31 cosine flag on the candidate pairs only
      Oracle(s"""WITH ${kmeansCtesOn("vec_id >= 100")},
         |bq AS (SELECT vec_id AS bench_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings WHERE vec_id < 100),
         |qc AS (SELECT bench_id, cid FROM (
         |        SELECT b.bench_id, c.cid, row_number() OVER (
         |            PARTITION BY b.bench_id
         |            ORDER BY list_sum(list_transform(range(1, len(b.v)+1),
         |              i -> (b.v[i]-c.cen[i])*(b.v[i]-c.cen[i]))), c.cid)
         |          AS rn
         |        FROM bq b CROSS JOIN c2 c) WHERE rn <= 2),
         |cand AS (SELECT a.vec_id, q.bench_id
         |         FROM qc q JOIN a2 a USING (cid)),
         |nn AS (SELECT vec_id,
         |        sqrt(SUM(CAST(embedding[ii.i] AS DOUBLE)
         |          * CAST(embedding[ii.i] AS DOUBLE))) AS nrm
         |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
         |      GROUP BY 1),
         |cd AS (SELECT cand.vec_id, cand.bench_id,
         |        SUM(CAST(a.embedding[ii.i] AS DOUBLE)
         |          * CAST(b.embedding[ii.i] AS DOUBLE)) AS dot
         |      FROM cand JOIN embeddings a ON a.vec_id = cand.vec_id
         |           JOIN embeddings b ON b.vec_id = cand.bench_id,
         |           (SELECT unnest(range(1, 65)) AS i) ii
         |      GROUP BY 1, 2)
         |SELECT cd.vec_id, cd.bench_id,
         |       ROUND(cd.dot / (na.nrm * nb.nrm), 6) AS cos
         |FROM cd JOIN nn na ON na.vec_id = cd.vec_id
         |        JOIN nn nb ON nb.vec_id = cd.bench_id
         |WHERE na.nrm > 0 AND nb.nrm > 0
         |  AND ROUND(cd.dot / (na.nrm * nb.nrm), 6) >= 0.4""".stripMargin)),
    // the benchmark BURN report: d25's flags at e10's loose enforcement
    // budgets rolled up per eval item — which benchmark docs are
    // compromised, by how many training docs, and how closely
    QuerySpec("d26_benchmark_burn", (s, d) =>
      Multimodal.benchmarkBurnReport(t(s, d, "documents"), 25),
      // d26: the d25 bipartite flags at the loose (5/3) enforcement
      // budgets, rolled up per benchmark item
      Oracle(s"""WITH $phashSigCtes,
         |$audioSigCtes,
         |fl AS (
         |  SELECT t.doc_id, b.doc_id AS bench_id, 'visual' AS modality,
         |         CAST(bit_count(xor(t.ph, b.ph)) AS INTEGER) AS hamming
         |  FROM psig t JOIN psig b ON t.doc_id >= 25 AND b.doc_id < 25
         |  WHERE bit_count(xor(t.ph, b.ph)) <= 5
         |  UNION ALL
         |  SELECT t.doc_id, b.doc_id AS bench_id, 'audio' AS modality,
         |         CAST(bit_count(xor(t.ah, b.ah)) AS INTEGER) AS hamming
         |  FROM asig t JOIN asig b ON t.doc_id >= 25 AND b.doc_id < 25
         |  WHERE bit_count(xor(t.ah, b.ah)) <= 3)
         |SELECT bench_id, modality, CAST(COUNT(*) AS BIGINT) AS n_train,
         |       MIN(hamming) AS min_hamming, MIN(doc_id) AS first_train
         |FROM fl GROUP BY 1, 2""".stripMargin)),
    // ALIGNED text containment (the d24 temporal law on token-shingle
    // positions): quote/extraction detection — a reordered bag of the
    // same shingles scores ~1.0 SET containment (d17) but never pairs
    // here, because its matches scatter across offsets
    QuerySpec("d27_aligned_containment", (s, d) =>
      Dedup.alignedContainmentPairs(t(s, d, "documents"), 3, 0.8),
      // d27: brute-force positional-shingle matching (the Spark side's
      // positional-prefix blocking is exact by pigeonhole, so banded ==
      // brute), dominant offset, ±1-consistent vs any-order fractions —
      // the d24 rollup on token positions
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |ps AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ')
        |         AS shingle
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i
        |             FROM tk)),
        |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM ps GROUP BY 1),
        |fp AS (SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2, b.i AS i2
        |       FROM ps a JOIN ps b USING (shingle)
        |       WHERE a.doc_id < b.doc_id),
        |msh AS (SELECT d1, d2, shift FROM (
        |        SELECT d1, d2, i2 - i1 AS shift,
        |          row_number() OVER (PARTITION BY d1, d2
        |            ORDER BY COUNT(*) DESC, i2 - i1) AS rn
        |        FROM fp GROUP BY d1, d2, i2 - i1) WHERE rn = 1),
        |mm AS (SELECT f.d1, f.d2, s.shift,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i1 END) AS ma,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i2 END) AS mb,
        |          COUNT(DISTINCT f.i1) AS ma_any,
        |          COUNT(DISTINCT f.i2) AS mb_any
        |       FROM fp f JOIN msh s ON s.d1 = f.d1 AND s.d2 = f.d2
        |       GROUP BY 1, 2, 3)
        |SELECT mm.d1 AS doc1, mm.d2 AS doc2,
        |       greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) AS containment,
        |       greatest(ma_any * 1.0 / a.n, mb_any * 1.0 / b.n)
        |         AS containment_any,
        |       CAST(mm.shift AS INTEGER) AS shift
        |FROM mm JOIN np a ON mm.d1 = a.doc_id JOIN np b ON mm.d2 = b.doc_id
        |WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8""".stripMargin)),
    // quote-level decontamination: d27's aligned-containment precision
    // applied bipartitely against the eval holdout (bench side
    // broadcast) — a train doc quoting a benchmark doc verbatim flags,
    // where d9's set-overlap test also fires on topical shingle soup
    QuerySpec("d28_quote_contamination", (s, d) =>
      Dedup.quoteContaminationSplitCheck(t(s, d, "documents"), 25),
      // d28: the d27 brute rollup restricted bipartitely (train >= 25 vs
      // bench < 25) — quote-level decontamination
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |ps AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ')
        |         AS shingle
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i
        |             FROM tk)),
        |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM ps GROUP BY 1),
        |fp AS (SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2, b.i AS i2
        |       FROM ps a JOIN ps b USING (shingle)
        |       WHERE a.doc_id >= 25 AND b.doc_id < 25),
        |msh AS (SELECT d1, d2, shift FROM (
        |        SELECT d1, d2, i2 - i1 AS shift,
        |          row_number() OVER (PARTITION BY d1, d2
        |            ORDER BY COUNT(*) DESC, i2 - i1) AS rn
        |        FROM fp GROUP BY d1, d2, i2 - i1) WHERE rn = 1),
        |mm AS (SELECT f.d1, f.d2, s.shift,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i1 END) AS ma,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i2 END) AS mb,
        |          COUNT(DISTINCT f.i1) AS ma_any,
        |          COUNT(DISTINCT f.i2) AS mb_any
        |       FROM fp f JOIN msh s ON s.d1 = f.d1 AND s.d2 = f.d2
        |       GROUP BY 1, 2, 3)
        |SELECT mm.d1 AS doc_id, mm.d2 AS bench_id,
        |       greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) AS containment,
        |       greatest(ma_any * 1.0 / a.n, mb_any * 1.0 / b.n)
        |         AS containment_any,
        |       CAST(mm.shift AS INTEGER) AS shift
        |FROM mm JOIN np a ON mm.d1 = a.doc_id JOIN np b ON mm.d2 = b.doc_id
        |WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8""".stripMargin)),
    // d28's flags rolled up per benchmark item — the text twin of the
    // media burn report (d26): which eval items are quote-compromised,
    // by how many training docs, and since which doc
    QuerySpec("d29_quote_burn", (s, d) =>
      Dedup.quoteBurnReport(t(s, d, "documents"), 25),
      // d29: the d28 flag set rolled up per benchmark item (n_train,
      // max_containment, first_train) — CTEs are d28's verbatim
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |ps AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ')
        |         AS shingle
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i
        |             FROM tk)),
        |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM ps GROUP BY 1),
        |fp AS (SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2, b.i AS i2
        |       FROM ps a JOIN ps b USING (shingle)
        |       WHERE a.doc_id >= 25 AND b.doc_id < 25),
        |msh AS (SELECT d1, d2, shift FROM (
        |        SELECT d1, d2, i2 - i1 AS shift,
        |          row_number() OVER (PARTITION BY d1, d2
        |            ORDER BY COUNT(*) DESC, i2 - i1) AS rn
        |        FROM fp GROUP BY d1, d2, i2 - i1) WHERE rn = 1),
        |mm AS (SELECT f.d1, f.d2, s.shift,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i1 END) AS ma,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i2 END) AS mb
        |       FROM fp f JOIN msh s ON s.d1 = f.d1 AND s.d2 = f.d2
        |       GROUP BY 1, 2, 3),
        |fl AS (SELECT mm.d1 AS doc_id, mm.d2 AS bench_id,
        |         greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) AS containment
        |       FROM mm JOIN np a ON mm.d1 = a.doc_id
        |                JOIN np b ON mm.d2 = b.doc_id
        |       WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8)
        |SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_train,
        |       MAX(containment) AS max_containment,
        |       MIN(doc_id) AS first_train
        |FROM fl GROUP BY 1""".stripMargin)),
    // surgical decontamination: the exact token span of each quoted
    // run inside the flagged training doc (cut the span, keep the
    // prose — the alternative to e11's whole-doc drop)
    QuerySpec("d30_redaction_spans", (s, d) =>
      Dedup.quoteRedactionSpans(t(s, d, "documents"), 25),
      // d30: d28's flagged pairs joined back into the positional frame;
      // matched positions grouped per EXACT shift, every shift with >= 3
      // distinct-matched positions qualifies PLUS the pair's dominant
      // (max-mass) shift always does (a flagged short quote must never
      // emit zero spans), and within a shift the positions island-merge
      // (new span when i1 > prev + n) — d28's CTEs + the surgical rollup
      Oracle(s"""WITH $quoteSpanCtes
        |SELECT d1 AS doc_id, d2 AS bench_id,
        |       CAST(shift AS INTEGER) AS shift,
        |       MIN(i1) AS span_start,
        |       MAX(i1) + 2 AS span_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_positions
        |FROM gs GROUP BY d1, d2, shift, sid""".stripMargin)),
    // d33: the d30 plan lifted to CHAR space — each span with the
    // original-string char range of its covered tokens (0-based cs
    // inclusive / ce exclusive), so the text holder can actually
    // splice; offsets are deterministic, the whole output hash-gated
    QuerySpec("d33_redaction_char_spans", (s, d) =>
      Dedup.quoteRedactionCharSpans(t(s, d, "documents"), 25),
      // d33: d30's CTEs + char offsets rebuilt from cumulative token/gap
      // lengths — splitting lower(text) on [a-z0-9]+ yields exactly
      // n_tok + 1 gap pieces (maximal runs cannot touch), so token i
      // starts at Σ gaps[1..i] + Σ toks[1..i-1] (0-based) and ends at
      // start + len(toks[i]) (exclusive); spans then join the offset
      // table at their first and last covered token
      Oracle((s"""WITH $quoteSpanCtes,
        |sp AS (SELECT d1 AS doc_id, d2 AS bench_id,
        |         CAST(shift AS INTEGER) AS shift,
        |         MIN(i1) AS span_start,
        |         MAX(i1) + 2 AS span_end,
        |         CAST(COUNT(*) AS BIGINT) AS n_positions
        |       FROM gs GROUP BY d1, d2, shift, sid),
        |$charOffsetCtes
        |SELECT sp.doc_id, sp.bench_id, sp.shift, sp.span_start,
        |       sp.span_end, sp.n_positions,
        |       CAST(c1.cs AS INTEGER) AS char_start,
        |       CAST(c2x.ce AS INTEGER) AS char_end
        |FROM sp
        |JOIN coff c1 ON c1.doc_id = sp.doc_id AND c1.i = sp.span_start
        |JOIN coff c2x ON c2x.doc_id = sp.doc_id
        |  AND c2x.i = sp.span_end""").stripMargin)),
    // e15: the redacted TEXT itself — char ranges interval-unioned per
    // doc and excised from the original string; output is the redaction
    // delta (flagged docs only; unflagged docs ship verbatim)
    QuerySpec("e15_redacted_text", (s, d) =>
      Pipeline.redactedText(t(s, d, "documents")),
      // e15: d30's span chain + per-doc TOKEN-space interval union (the
      // SAME islands the e12/e13 manifests count — token-touching spans
      // merge) lifted to char ranges through the offset table, + the
      // splice — kept pieces of the ORIGINAL text concatenated in order
      // via string_agg, tail piece appended. The Spark side's CJK shrink
      // and joint separators are outside this oracle's [a-z0-9] token
      // space (inert on ASCII corpora) — documented in Pipeline.scala
      Oracle((s"""WITH $quoteSpanCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |mgt AS (SELECT doc_id, gid, MIN(s) AS ms_t, MAX(e) AS me_t
        |       FROM u2 GROUP BY 1, 2),
        |$charOffsetCtes,
        |mg AS (SELECT t.doc_id, t.gid, c1.cs AS ms, c2x.ce AS me
        |       FROM mgt t
        |       JOIN coff c1 ON c1.doc_id = t.doc_id AND c1.i = t.ms_t
        |       JOIN coff c2x ON c2x.doc_id = t.doc_id
        |         AND c2x.i = t.me_t),
        |pieces AS (SELECT doc_id, ms, me,
        |         COALESCE(MAX(me) OVER (PARTITION BY doc_id ORDER BY ms
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS pos
        |       FROM mg),
        |fin AS (SELECT p.doc_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_spans,
        |         CAST(SUM(me - ms) AS BIGINT) AS n_chars_cut,
        |         string_agg(substr(d.text, CAST(pos + 1 AS INTEGER),
        |           CAST(ms - pos AS INTEGER)), '' ORDER BY ms) AS head,
        |         MAX(me) AS last_e
        |       FROM pieces p JOIN documents d USING (doc_id)
        |       GROUP BY p.doc_id)
        |SELECT f.doc_id, f.n_spans, f.n_chars_cut,
        |       f.head || substr(d.text, CAST(f.last_e + 1 AS INTEGER))
        |         AS redacted_text
        |FROM fin f JOIN documents d USING (doc_id)""").stripMargin)),
    // e11: the text enforcement closer — e3's pipeline with the d28
    // quote flags as an extra drop stage BEFORE sampling/packing (a
    // short benchmark item quoted verbatim ships through d9's >= 5-
    // shared-shingles stage; the aligned probe catches it)
    QuerySpec("e11_quote_decontaminated", (s, d) =>
      Pipeline.trainingCorpus(t(s, d, "documents"),
        quoteThreshold = Some(0.8)),
      // e11: e3's CTEs verbatim + the d28 quote-flag drop applied to the
      // survivor set BEFORE the packing windows (offsets repack over the
      // kept docs); the quote CTEs are d28's verbatim
      Oracle(s"""WITH $e3DropCtes,
        |ps AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ')
        |         AS shingle
        |       FROM (SELECT doc_id, toks,
        |               unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i
        |             FROM tk)),
        |npq AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM ps GROUP BY 1),
        |fpq AS (SELECT a.doc_id AS d1, a.i AS i1, b.doc_id AS d2,
        |          b.i AS i2
        |        FROM ps a JOIN ps b USING (shingle)
        |        WHERE a.doc_id >= 25 AND b.doc_id < 25),
        |mshq AS (SELECT d1, d2, shift FROM (
        |         SELECT d1, d2, i2 - i1 AS shift,
        |           row_number() OVER (PARTITION BY d1, d2
        |             ORDER BY COUNT(*) DESC, i2 - i1) AS rn
        |         FROM fpq GROUP BY d1, d2, i2 - i1) WHERE rn = 1),
        |mmq AS (SELECT f.d1, f.d2,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i1 END) AS ma,
        |          COUNT(DISTINCT CASE WHEN abs(f.i2 - f.i1 - s.shift)
        |            <= 1 THEN f.i2 END) AS mb
        |        FROM fpq f JOIN mshq s ON s.d1 = f.d1 AND s.d2 = f.d2
        |        GROUP BY 1, 2),
        |qflags AS (SELECT DISTINCT mmq.d1 AS doc_id
        |           FROM mmq JOIN npq a ON mmq.d1 = a.doc_id
        |                    JOIN npq b ON mmq.d2 = b.doc_id
        |           WHERE greatest(ma * 1.0 / a.n, mb * 1.0 / b.n) >= 0.8),
        |survivors AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id >= 25 AND length(text) >= 100
        |    AND doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND doc_id NOT IN (SELECT doc_id FROM qflags)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |SELECT doc_id, lang,
        |       CAST(len(string_split_regex(text, '\\s+')) AS INTEGER)
        |         AS n_tok,
        |       CAST(COALESCE(SUM(len(string_split_regex(text, '\\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(len(string_split_regex(text, '\\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM survivors""".stripMargin)),
    // e12: the SURGICAL release path — d30's spans APPLIED: quoted
    // runs cut from each flagged doc's token stream (interval-unioned
    // per doc), survivors repacked over post-redaction counts; the
    // alternative to e11's whole-doc drop when the prose is valuable
    QuerySpec("e12_redacted_corpus", (s, d) =>
      Pipeline.redactedCorpus(t(s, d, "documents")),
      // e12: d30's surgical spans APPLIED — span CTEs are d30's verbatim,
      // then per-doc interval union (running-max lag merge), counts in
      // the tokenize space the spans index, survivors (n_tok >= 1)
      // repacked with the e3 offset windows over the REDACTED counts
      Oracle(s"""WITH $quoteSpanCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |cov AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS n_redacted
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |cnt AS (SELECT t.doc_id,
        |          CAST(len(t.toks) AS BIGINT) AS n_tok_orig,
        |          CAST(COALESCE(c.n_redacted, 0) AS BIGINT)
        |            AS n_redacted,
        |          CAST(len(t.toks) AS BIGINT)
        |            - CAST(COALESCE(c.n_redacted, 0) AS BIGINT) AS n_tok
        |        FROM tk t LEFT JOIN cov c ON c.doc_id = t.doc_id
        |        WHERE t.doc_id >= 25)
        |SELECT doc_id, n_tok_orig, n_redacted, n_tok,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM cnt WHERE n_tok >= 1""".stripMargin)),
    // e13: the FULL surgical release — e3's dedup/contamination/sample
    // stages with the quote stage handled by redaction instead of
    // e11's whole-doc drop: surviving flagged docs repack at their
    // post-redaction counts (tokenize space — the space the spans cut)
    QuerySpec("e13_surgical_corpus", (s, d) =>
      Pipeline.surgicalCorpus(t(s, d, "documents")),
      // e13: e3's drop-list CTEs verbatim (length floor, exact/near dups,
      // d9 contamination, sampling hash) + d30's span CTEs + the e12
      // interval union — survivors repack at tokenize-space counts minus
      // their unioned span mass (the surgical alternative to e11's drop)
      Oracle(s"""WITH $e3DropCtes,
        |$quoteSpanTailCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |cov AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS n_redacted
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |survivors AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE doc_id >= 25 AND length(text) >= 100
        |    AND doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'),
        |cnt AS (SELECT s.doc_id, s.lang,
        |          CAST(len(t.toks) AS BIGINT) AS n_tok_orig,
        |          CAST(COALESCE(c.n_redacted, 0) AS BIGINT)
        |            AS n_redacted,
        |          CAST(len(t.toks) AS BIGINT)
        |            - CAST(COALESCE(c.n_redacted, 0) AS BIGINT) AS n_tok
        |        FROM survivors s JOIN tk t ON t.doc_id = s.doc_id
        |        LEFT JOIN cov c ON c.doc_id = s.doc_id)
        |SELECT doc_id, lang, n_tok_orig, n_redacted, n_tok,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM cnt WHERE n_tok >= 1""".stripMargin)),
    // e17: the FULL release — every enforced defense in one
    // composition: e3's curation + the d31 semantic drop (e14's stage)
    // + surgical quote redaction (e13's stage); a doc carrying eval
    // SEMANTICS leaves wholesale, a doc QUOTING eval text ships
    // redacted, everything else packs as e3 would; == e13 minus the
    // d31 flag set (spec-pinned commutation law)
    QuerySpec("e17_full_release", (s, d) =>
      Pipeline.fullRelease(t(s, d, "documents"), t(s, d, "embeddings")),
      // e17: e13's CTEs + the d31 semantic drop in the survivor predicate
      // — the commutation law (e17 == e13 minus the flag set) is pinned
      // in PipelineSpec
      Oracle(s"""WITH $e3DropCtes,
        |$semanticPairCtes,
        |sdrop AS (SELECT DISTINCT ec.vec_id AS doc_id
        |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
        |              JOIN enn nb ON nb.vec_id = ec.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |$quoteSpanTailCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |cov AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS n_redacted
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |survivors AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE doc_id >= 25 AND length(text) >= 100
        |    AND doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND doc_id NOT IN (SELECT doc_id FROM sdrop)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'),
        |cnt AS (SELECT s.doc_id, s.lang,
        |          CAST(len(t.toks) AS BIGINT) AS n_tok_orig,
        |          CAST(COALESCE(c.n_redacted, 0) AS BIGINT)
        |            AS n_redacted,
        |          CAST(len(t.toks) AS BIGINT)
        |            - CAST(COALESCE(c.n_redacted, 0) AS BIGINT) AS n_tok
        |        FROM survivors s JOIN tk t ON t.doc_id = s.doc_id
        |        LEFT JOIN cov c ON c.doc_id = s.doc_id)
        |SELECT doc_id, lang, n_tok_orig, n_redacted, n_tok,
        |       CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM cnt WHERE n_tok >= 1""".stripMargin)),
    // e16: the SPLICED surgical release — the actual (doc_id, lang,
    // text) corpus a trainer loads: every e13 survivor with its
    // post-splice text (redacted where flagged, verbatim otherwise);
    // per doc, tokenize(text).length == e13.n_tok (spec-pinned law)
    QuerySpec("e16_spliced_corpus", (s, d) =>
      Pipeline.surgicalCorpusText(t(s, d, "documents")),
      // e16: the spliced surgical release — e13's survivor/keep logic
      // (drop CTEs + token-space cov for the n_tok >= 1 rule) + e15's
      // char-offset splice, coalesced over the original text
      Oracle(s"""WITH $e3DropCtes,
        |$quoteSpanTailCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |cov AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS n_redacted
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |keepers AS (
        |  SELECT d.doc_id, d.lang, d.text FROM documents d
        |  JOIN tk t ON t.doc_id = d.doc_id
        |  LEFT JOIN cov c ON c.doc_id = d.doc_id
        |  WHERE d.doc_id >= 25 AND length(d.text) >= 100
        |    AND d.doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < '80000000'
        |    AND CAST(len(t.toks) AS BIGINT)
        |        - COALESCE(c.n_redacted, 0) >= 1),
        |$charOffsetCtes,
        |cmg AS (SELECT t.doc_id, c1.cs AS ms, c2x.ce AS me
        |       FROM (SELECT doc_id, gid, MIN(s) AS ms_t, MAX(e) AS me_t
        |             FROM u2 GROUP BY 1, 2) t
        |       JOIN coff c1 ON c1.doc_id = t.doc_id AND c1.i = t.ms_t
        |       JOIN coff c2x ON c2x.doc_id = t.doc_id
        |         AND c2x.i = t.me_t),
        |pieces AS (SELECT doc_id, ms, me,
        |         COALESCE(MAX(me) OVER (PARTITION BY doc_id ORDER BY ms
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS pos
        |       FROM cmg),
        |fin AS (SELECT p.doc_id,
        |         string_agg(substr(d.text, CAST(pos + 1 AS INTEGER),
        |           CAST(ms - pos AS INTEGER)), '' ORDER BY ms) AS head,
        |         MAX(me) AS last_e
        |       FROM pieces p JOIN documents d USING (doc_id)
        |       GROUP BY p.doc_id)
        |SELECT k.doc_id, k.lang,
        |       CASE WHEN f.doc_id IS NULL THEN k.text
        |            ELSE f.head
        |              || substr(k.text, CAST(f.last_e + 1 AS INTEGER))
        |       END AS text
        |FROM keepers k LEFT JOIN fin f USING (doc_id)""".stripMargin)),
    // e14: SEMANTIC decontamination enforced — e3's pipeline with the
    // d31 embedding-contamination flags as one more pre-sampling drop
    // stage (a paraphrase of an eval item shares no shingles and no
    // pixels; only the embedding probe sees it — and from here it no
    // longer ships); vec_id is the embedding OF doc_id
    QuerySpec("e14_semantic_decontaminated", (s, d) =>
      Pipeline.semanticDecontaminatedCorpus(t(s, d, "documents"),
        t(s, d, "embeddings")),
      // e14: e3's CTEs verbatim + the d31 semantic drop (embedding cosine
      // vs the vec_id < 25 holdout — the audit3 alignment) applied BEFORE
      // sampling/packing; pack windows are e3's whitespace verbatim
      Oracle(s"""WITH $e3DropCtes,
        |$semanticPairCtes,
        |sdrop AS (SELECT DISTINCT ec.vec_id AS doc_id
        |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
        |              JOIN enn nb ON nb.vec_id = ec.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |survivors AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id >= 25 AND length(text) >= 100
        |    AND doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND doc_id NOT IN (SELECT doc_id FROM sdrop)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |SELECT doc_id, lang,
        |       CAST(len(string_split_regex(text, '\\s+')) AS INTEGER)
        |         AS n_tok,
        |       CAST(COALESCE(SUM(len(string_split_regex(text, '\\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(len(string_split_regex(text, '\\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM survivors""".stripMargin)),
    // audit4: the e14 funnel — audit1's stages + the semantic stage
    // (benchmark → too_short → exact_dup → near_dup → contaminated →
    // semantic → sampled_out → kept); Σ n_docs = |documents|, kept ==
    // e14's survivor set
    QuerySpec("audit4_semantic_funnel", (s, d) =>
      Pipeline.semanticFilterFunnel(t(s, d, "documents"),
        t(s, d, "embeddings")),
      // audit4: audit1's CTEs + the d31 semantic drop leg, with the
      // `semantic` stage between contaminated and sampled_out
      Oracle(s"""WITH $e3DropCtes,
        |$semanticPairCtes,
        |sdrop AS (SELECT DISTINCT ec.vec_id AS doc_id
        |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
        |              JOIN enn nb ON nb.vec_id = ec.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |staged AS (
        |  SELECT d.text,
        |    CASE WHEN d.doc_id < 25 THEN 'benchmark'
        |         WHEN length(d.text) < 100 THEN 'too_short'
        |         WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
        |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN sd.doc_id IS NOT NULL THEN 'semantic'
        |         WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |           >= '80000000' THEN 'sampled_out'
        |         ELSE 'kept' END AS stage
        |  FROM documents d
        |  LEFT JOIN exactdups e ON d.doc_id = e.doc_id
        |  LEFT JOIN neardups nd ON d.doc_id = nd.doc_id
        |  LEFT JOIN contam c ON d.doc_id = c.doc_id
        |  LEFT JOIN sdrop sd ON d.doc_id = sd.doc_id)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
        |         AS n_tokens
        |FROM staged GROUP BY 1""".stripMargin)),
    // e18: the full MULTIMODAL release — e17 (curation + semantic drop
    // + surgical quote redaction) with the media legs enforced in the
    // same composition: d21/d23 near-dup higher-ids and d25
    // contamination flags (loose e10 budgets) join e17's pre-sampling
    // anti-join chain; == e17 minus the media drop lists (spec-pinned
    // commutation law, the e17-vs-e13 pattern one modality wider)
    QuerySpec("e18_multimodal_release", (s, d) =>
      Pipeline.fullMultimodalRelease(t(s, d, "documents"),
        t(s, d, "embeddings")),
      // e18: e17's CTEs + the media drop lists (d21/d23 near-dup
      // higher-ids at the dedup budgets, d25 contamination at the loose
      // e10 budgets) in the survivor predicate — the commutation law
      // (e18 == e17 minus the media drops) is pinned in PipelineSpec
      Oracle(e18OracleSql)),
    // audit5: the SURGICAL provenance funnel — e18's conservation-law
    // audit where redaction is a first-class non-drop stage (benchmark
    // → too_short → empty → exact_dup → near_dup → contaminated →
    // semantic → media_near_dup → media_contaminated → sampled_out →
    // fully_redacted → redacted → kept); kept ∪ redacted == e18's doc
    // set, Σ n_docs = |documents|, and n_tok_cut reconciles against
    // e18's n_redacted (all spec-pinned)
    QuerySpec("audit5_surgical_funnel", (s, d) =>
      Pipeline.surgicalFilterFunnel(t(s, d, "documents"),
        t(s, d, "embeddings")),
      // audit5: audit4's CTEs + the media drop legs + the d30 token-union
      // cover mass, with redaction accounted as a first-class non-drop
      // stage; n_tok_cut is carried only by the two redaction stages
      Oracle(s"""WITH $e3DropCtes,
        |$semanticPairCtes,
        |sdrop AS (SELECT DISTINCT ec.vec_id AS doc_id
        |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
        |              JOIN enn nb ON nb.vec_id = ec.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |$phashSigCtes,
        |$audioSigCtes,
        |mdrop AS (SELECT DISTINCT b.doc_id
        |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |          UNION
        |          SELECT b.doc_id
        |          FROM asig a JOIN asig b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.ah, b.ah)) <= 2),
        |cflag AS (SELECT DISTINCT t.doc_id
        |          FROM psig t JOIN psig b ON t.doc_id >= 25
        |            AND b.doc_id < 25
        |          WHERE bit_count(xor(t.ph, b.ph)) <= 5
        |          UNION
        |          SELECT t.doc_id
        |          FROM asig t JOIN asig b ON t.doc_id >= 25
        |            AND b.doc_id < 25
        |          WHERE bit_count(xor(t.ah, b.ah)) <= 3),
        |$quoteSpanTailCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |covq AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS covered
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |staged AS (
        |  SELECT d.text, COALESCE(cv.covered, 0) AS covered,
        |    CASE WHEN d.doc_id < 25 THEN 'benchmark'
        |         WHEN length(d.text) < 100 THEN 'too_short'
        |         WHEN len(t.toks) = 0 THEN 'empty'
        |         WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
        |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN sd.doc_id IS NOT NULL THEN 'semantic'
        |         WHEN d.doc_id IN (SELECT doc_id FROM mdrop)
        |           THEN 'media_near_dup'
        |         WHEN d.doc_id IN (SELECT doc_id FROM cflag)
        |           THEN 'media_contaminated'
        |         WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |           >= '80000000' THEN 'sampled_out'
        |         WHEN cv.covered IS NOT NULL
        |              AND CAST(len(t.toks) AS BIGINT) - cv.covered < 1
        |           THEN 'fully_redacted'
        |         WHEN cv.covered IS NOT NULL THEN 'redacted'
        |         ELSE 'kept' END AS stage
        |  FROM documents d
        |  JOIN tk t ON t.doc_id = d.doc_id
        |  LEFT JOIN exactdups e ON d.doc_id = e.doc_id
        |  LEFT JOIN neardups nd ON d.doc_id = nd.doc_id
        |  LEFT JOIN contam c ON d.doc_id = c.doc_id
        |  LEFT JOIN sdrop sd ON d.doc_id = sd.doc_id
        |  LEFT JOIN covq cv ON d.doc_id = cv.doc_id)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
        |         AS n_tokens,
        |       CAST(SUM(CASE WHEN stage IN ('redacted', 'fully_redacted')
        |         THEN covered ELSE 0 END) AS BIGINT) AS n_tok_cut
        |FROM staged GROUP BY 1""".stripMargin)),
    // e20: the release fingerprint — one (n_docs, n_tokens, digest)
    // row pinning e18 for data versioning: md5-derived 60-bit ints of
    // "doc_id:n_tok" folded by bit-XOR (order-independent, no sort, no
    // single-partition funnel; engine-portable by md5)
    QuerySpec("e20_release_fingerprint", (s, d) =>
      Pipeline.releaseFingerprint(
        Pipeline.fullMultimodalRelease(t(s, d, "documents"),
          t(s, d, "embeddings"))),
      // e20: the e18 release SQL verbatim as a nested CTE + the
      // order-independent md5/bit_xor digest (both engines implement md5
      // and 60-bit hex-to-int identically, so the fingerprint is
      // engine-portable by construction)
      Oracle(s"WITH rel AS (\n$e18OracleSql)\n" +
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          |       bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
          |           || ':' || CAST(n_tok AS VARCHAR)), 1, 15)
          |         AS BIGINT)) AS digest
          |FROM rel""".stripMargin)),
    // e19: the spliced text of the full multimodal release — the
    // (doc_id, lang, text) corpus a trainer loads when the drop is
    // e18: every e18 survivor with its post-splice text; doc set ==
    // e18's, per doc tokenize(text).length == e18.n_tok, and e19 ==
    // e16 minus the semantic + media drops ROW-IDENTICAL including
    // text (the splice is survivor-set independent) — all spec-pinned
    QuerySpec("e19_multimodal_corpus_text", (s, d) =>
      Pipeline.fullMultimodalReleaseText(t(s, d, "documents"),
        t(s, d, "embeddings")),
      // e19: e18's survivor predicate (every drop list) + e16's splice
      // tail verbatim — the spliced text form of the full multimodal
      // release; the splice CTEs are survivor-set independent, so only
      // the keeper predicate differs from e16
      Oracle(s"""WITH $e3DropCtes,
        |$semanticPairCtes,
        |sdrop AS (SELECT DISTINCT ec.vec_id AS doc_id
        |       FROM ec JOIN enn na ON na.vec_id = ec.vec_id
        |              JOIN enn nb ON nb.vec_id = ec.bench_id
        |       WHERE na.nrm > 0 AND nb.nrm > 0
        |         AND ROUND(ec.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |$phashSigCtes,
        |$audioSigCtes,
        |mdrop AS (SELECT DISTINCT b.doc_id
        |          FROM psig a JOIN psig b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |          UNION
        |          SELECT b.doc_id
        |          FROM asig a JOIN asig b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.ah, b.ah)) <= 2),
        |cflag AS (SELECT DISTINCT t.doc_id
        |          FROM psig t JOIN psig b ON t.doc_id >= 25
        |            AND b.doc_id < 25
        |          WHERE bit_count(xor(t.ph, b.ph)) <= 5
        |          UNION
        |          SELECT t.doc_id
        |          FROM asig t JOIN asig b ON t.doc_id >= 25
        |            AND b.doc_id < 25
        |          WHERE bit_count(xor(t.ah, b.ah)) <= 3),
        |$quoteSpanTailCtes,
        |sp AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT d1 AS doc_id, MIN(i1) AS s, MAX(i1) + 2 AS e
        |        FROM gs GROUP BY d1, d2, shift, sid)),
        |u1 AS (SELECT doc_id, s, e,
        |         CASE WHEN MAX(e) OVER wp IS NULL
        |                OR s > MAX(e) OVER wp + 1 THEN 1 ELSE 0 END AS ns
        |       FROM sp
        |       WINDOW wp AS (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT doc_id, s, e,
        |         SUM(ns) OVER (PARTITION BY doc_id ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS gid
        |       FROM u1),
        |cov AS (SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT)
        |          AS n_redacted
        |        FROM (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
        |              FROM u2 GROUP BY 1, 2) GROUP BY 1),
        |keepers AS (
        |  SELECT d.doc_id, d.lang, d.text FROM documents d
        |  JOIN tk t ON t.doc_id = d.doc_id
        |  LEFT JOIN cov c ON c.doc_id = d.doc_id
        |  WHERE d.doc_id >= 25 AND length(d.text) >= 100
        |    AND d.doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM sdrop)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM mdrop)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM cflag)
        |    AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < '80000000'
        |    AND CAST(len(t.toks) AS BIGINT)
        |        - COALESCE(c.n_redacted, 0) >= 1),
        |$charOffsetCtes,
        |cmg AS (SELECT t.doc_id, c1.cs AS ms, c2x.ce AS me
        |       FROM (SELECT doc_id, gid, MIN(s) AS ms_t, MAX(e) AS me_t
        |             FROM u2 GROUP BY 1, 2) t
        |       JOIN coff c1 ON c1.doc_id = t.doc_id AND c1.i = t.ms_t
        |       JOIN coff c2x ON c2x.doc_id = t.doc_id
        |         AND c2x.i = t.me_t),
        |pieces AS (SELECT doc_id, ms, me,
        |         COALESCE(MAX(me) OVER (PARTITION BY doc_id ORDER BY ms
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS pos
        |       FROM cmg),
        |fin AS (SELECT p.doc_id,
        |         string_agg(substr(d.text, CAST(pos + 1 AS INTEGER),
        |           CAST(ms - pos AS INTEGER)), '' ORDER BY ms) AS head,
        |         MAX(me) AS last_e
        |       FROM pieces p JOIN documents d USING (doc_id)
        |       GROUP BY p.doc_id)
        |SELECT k.doc_id, k.lang,
        |       CASE WHEN f.doc_id IS NULL THEN k.text
        |            ELSE f.head
        |              || substr(k.text, CAST(f.last_e + 1 AS INTEGER))
        |       END AS text
        |FROM keepers k LEFT JOIN fin f USING (doc_id)""".stripMargin)),
    // ---- sketches ----
    QuerySpec("a14_approx_quantiles", (s, d) => {
      import org.apache.spark.sql.functions._
      events(s, d).groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50"),
          percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95"))
        .orderBy(col("event_type"))
    },
      // percentile_approx(accuracy=10000) is EXACT whenever a group holds
      // fewer than `accuracy` values (the sketch keeps every value), and its
      // nearest-rank answer == DuckDB's quantile_disc. Oracle valid at the
      // verify gate's sf0.01 (2k rows/group); at larger SF it reverts to a
      // sketch by design.
      Oracle("""SELECT event_type,
        |       quantile_disc(value, 0.5) AS p50,
        |       quantile_disc(value, 0.95) AS p95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // HLL approx-distinct, made HASH-GATEABLE: the raw estimate differs
    // across HLL implementations (DuckDB's internals are not Spark's),
    // so the query emits the EXACT count plus a bound flag — estimate
    // within 3x the configured 5% rsd — and the oracle asserts the flag
    // is 1. A broken approx_count_distinct (or a broken exact leg)
    // hash-mismatches; the estimate's own value is additionally
    // tolerance-pinned in OpsSpec.
    QuerySpec("a10_approx_distinct", (s, d) => {
      import org.apache.spark.sql.functions._
      events(s, d).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_uu"),
          countDistinct(col("user_id")).as("exact_uu"))
        .select(col("event_type"), col("exact_uu"),
          (abs(col("approx_uu").cast("double") / col("exact_uu") - 1.0)
            <= 0.15).cast("int").as("hll_in_bound"))
        .orderBy(col("event_type"))
    },
      // a10/a15: the HLL ESTIMATE is engine-internal (DuckDB's HLL is not
      // Spark's), so the oracle checks the exact leg value-for-value and
      // asserts the bound flag is 1 — the strongest cross-engine gate an
      // approximate sketch admits (estimate tolerance itself is OpsSpec's)
      Oracle("""SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_uu,
        |       CAST(1 AS INTEGER) AS hll_in_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // mergeable-sketch rollup: daily HLL sketches unioned to a per-type
    // estimate — the OLAP pattern where day partitions keep sketches and
    // period queries merge them without rescanning raw data; bound-gated
    // against the exact rollup like a10
    QuerySpec("a15_hll_rollup", (s, d) => {
      import org.apache.spark.sql.functions._
      val merged = events(s, d)
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("daily_sketch"))
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("daily_sketch")))
          .as("merged_uu"))
      val exact = events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_uu"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"), col("exact_uu"),
          (abs(col("merged_uu").cast("double") / col("exact_uu") - 1.0)
            <= 0.15).cast("int").as("merged_in_bound"))
        .orderBy(col("event_type"))
    },
      Oracle("""SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_uu,
        |       CAST(1 AS INTEGER) AS merged_in_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // portable KMV twin of a10 — the hash-verifiable approx-distinct:
    // k smallest distinct portable hashes per type, (k-1)·M/h_(k) estimator
    // (exact when a group has < k distinct hashes). HLL stays the scale
    // form (a10/a15); this is its externally-verified sibling.
    QuerySpec("a22_kmv_distinct", (s, d) => {
      import org.apache.spark.sql.functions._
      Sketches.kmvEstimate(
          Sketches.kmvSketch(events(s, d), Seq("event_type"), "user_id", 64),
          Seq("event_type"), 64)
        .orderBy(col("event_type"))
    },
      // KMV: h = the shared portable quadratic mix (Similarity.portableWeight
      // shifted to [0, M)); estimator numerator 63000189.0 = (k-1)·M pinned
      // as a literal so both engines divide the identical double
      Oracle("""WITH hs AS (
        |  SELECT DISTINCT event_type,
        |    ((1013*(user_id%1000003)*(user_id%1000003)
        |      + 2654435761*(user_id%1000003)) % 1000003) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rk AS (SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |       FROM hs)
        |SELECT event_type, max(h) AS kth_min,
        |       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |            ELSE 63000189.0 / CAST(max(h)+1 AS DOUBLE) END AS kmv_uu
        |FROM rk WHERE rn <= 64 GROUP BY 1 ORDER BY 1""".stripMargin)),
    // portable KMV twin of a15's sketch rollup — daily k-min sets merged
    // per type; KMV merge is EXACT (the k smallest of the unioned daily
    // k-min sets equal the global k-min set), so the rollup answer hashes
    // identically to the direct sketch and DuckDB replays both
    QuerySpec("a23_kmv_rollup", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Sketches.kmvSketch(
        events(s, d).withColumn("event_date", to_date(col("ts"))),
        Seq("event_date", "event_type"), "user_id", 64)
      Sketches.kmvEstimate(
          Sketches.kmvMerge(daily, Seq("event_type"), 64),
          Seq("event_type"), 64)
        .orderBy(col("event_type"))
    },
      Oracle("""WITH hs AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS event_date,
        |    event_type,
        |    ((1013*(user_id%1000003)*(user_id%1000003)
        |      + 2654435761*(user_id%1000003)) % 1000003) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |daily AS (
        |  SELECT event_date, event_type, h FROM (
        |    SELECT event_date, event_type, h,
        |      row_number() OVER (PARTITION BY event_date, event_type
        |                         ORDER BY h) AS rn
        |    FROM hs) WHERE rn <= 64),
        |mg AS (SELECT DISTINCT event_type, h FROM daily),
        |rk AS (SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |       FROM mg)
        |SELECT event_type, max(h) AS kth_min,
        |       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |            ELSE 63000189.0 / CAST(max(h)+1 AS DOUBLE) END AS kmv_uu
        |FROM rk WHERE rn <= 64 GROUP BY 1 ORDER BY 1""".stripMargin)),
    // KMV audience-overlap: intersection estimates for every unordered
    // event-type pair from the same bounded k-min sketches — exact
    // integer selection + one double multiply, so DuckDB replays it
    QuerySpec("a26_kmv_overlap", (s, d) =>
      Sketches.kmvOverlapPairs(events(s, d), "event_type", "user_id", 64),
      // KMV pair overlap: the k smallest of each pair's unioned k-min sets
      // (exact by mergeability), Jaccard = fraction present in both
      // sketches, overlap = Jaccard x the a22 union estimator — every
      // step integer selection plus one double multiply
      Oracle("""WITH hs AS (
        |  SELECT DISTINCT event_type,
        |    ((1013*(user_id%1000003)*(user_id%1000003)
        |      + 2654435761*(user_id%1000003)) % 1000003) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rk AS (SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |       FROM hs),
        |sk AS (SELECT event_type, h FROM rk WHERE rn <= 64),
        |ty AS (SELECT DISTINCT event_type FROM sk),
        |prs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |        FROM ty a JOIN ty b ON a.event_type < b.event_type),
        |un AS (SELECT type_a, type_b, h,
        |         MAX(CASE WHEN s.event_type = type_a THEN 1 ELSE 0 END)
        |           AS in_a,
        |         MAX(CASE WHEN s.event_type = type_b THEN 1 ELSE 0 END)
        |           AS in_b
        |       FROM prs JOIN sk s
        |         ON s.event_type = type_a OR s.event_type = type_b
        |       GROUP BY 1, 2, 3),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY type_a, type_b
        |                                    ORDER BY h) AS rn FROM un),
        |ag AS (SELECT type_a, type_b, COUNT(*) AS ku, MAX(h) AS kth_min,
        |         CAST(SUM(in_a * in_b) AS BIGINT) AS matches
        |       FROM r2 WHERE rn <= 64 GROUP BY 1, 2)
        |SELECT type_a, type_b, ku, kth_min, matches,
        |       CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
        |            ELSE 63000189.0 / CAST(kth_min + 1 AS DOUBLE) END
        |         AS est_union,
        |       ROUND(CAST(matches AS DOUBLE) / ku, 6) AS est_jaccard,
        |       ROUND(CAST(matches AS DOUBLE) / ku *
        |         CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
        |              ELSE 63000189.0 / CAST(kth_min + 1 AS DOUBLE) END, 6)
        |         AS est_overlap
        |FROM ag""".stripMargin)),
    // Z-order layout stats: per-Morton-bucket bounding boxes of
    // (user_id, value) at 8 bits per dimension — the all-integer
    // queryable form of the space-filling-curve layout's two-dimensional
    // pruning promise
    QuerySpec("z1_zorder_stats", (s, d) => {
      import org.apache.spark.sql.functions._
      // floor-then-long, matching the oracle's CAST(floor(value) AS
      // BIGINT): a bare .cast("long") truncates toward zero in Spark
      // while the oracle floors, and the twins would split on negative
      // non-integer values
      Layout.zOrderStats(events(s, d), col("user_id"),
          floor(col("value")), 8, 8)
        .orderBy(col("bucket"))
    },
      // Morton z-value via the 4-step mask-doubling spread, mirrored as
      // chained CTEs; all-integer so the compare is exact. floor-then-cast
      // (NOT a bare CAST, which rounds in DuckDB but truncates in Spark)
      Oracle("""WITH b AS (
        |  SELECT (user_id & 255) AS x,
        |    (CAST(floor(value) AS BIGINT) & 255) AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |s0 AS (SELECT x, y, x AS sx, y AS sy FROM b),
        |s1 AS (SELECT x, y, ((sx | (sx << 8)) & 16711935) AS sx,
        |              ((sy | (sy << 8)) & 16711935) AS sy FROM s0),
        |s2 AS (SELECT x, y, ((sx | (sx << 4)) & 252645135) AS sx,
        |              ((sy | (sy << 4)) & 252645135) AS sy FROM s1),
        |s3 AS (SELECT x, y, ((sx | (sx << 2)) & 858993459) AS sx,
        |              ((sy | (sy << 2)) & 858993459) AS sy FROM s2),
        |s4 AS (SELECT x, y, ((sx | (sx << 1)) & 1431655765) AS sx,
        |              ((sy | (sy << 1)) & 1431655765) AS sy FROM s3),
        |z AS (SELECT x, y, ((sx << 1) | sy) AS z FROM s4)
        |SELECT (z >> 8) AS bucket, count(*) AS n,
        |       min(x) AS x_min, max(x) AS x_max,
        |       min(y) AS y_min, max(y) AS y_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),
    // sampled-quantile sketch: bottom-k content-hash sample (mergeable,
    // bounded, deterministic) + nearest-rank selection — the hash-gated
    // sibling of a14's percentile_approx (t-digest internals can't be
    // oracled; a uniform-sample nearest-rank estimator can). est values
    // are input values, so the compare is exact.
    QuerySpec("a24_sampled_quantiles", (s, d) => {
      import org.apache.spark.sql.functions._
      Sketches.sampledQuantiles(events(s, d), Seq("event_type"), "value",
          "event_id", 256, Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q"))
    },
      // sampled quantiles: bottom-256 md5-prefix sample per type, nearest
      // rank (ceil(q*m), floor 1) — selection only, est values are input
      // values so the hash compare is exact
      Oracle("""WITH s AS (
        |  SELECT event_type, value, event_id FROM (
        |    SELECT event_type, value, event_id,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY substr(md5(CAST(event_id AS VARCHAR)), 1, 8),
        |                 event_id) AS rn
        |    FROM events WHERE value IS NOT NULL) WHERE rn <= 256),
        |r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY value, event_id) AS vr,
        |        count(*) OVER (PARTITION BY event_type) AS m
        |      FROM s),
        |q AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                     CAST(0.99 AS DOUBLE)]) AS q)
        |SELECT event_type, q.q AS q, value AS est
        |FROM r CROSS JOIN q
        |WHERE vr = greatest(1, CAST(ceil(q.q * m) AS BIGINT))
        |ORDER BY 1, 2""".stripMargin)),
    // quantile rollup: per-day bottom-k samples merged to per-type by the
    // k-min rule (exact — the a23 shape for quantiles), then the same
    // nearest-rank estimate; equals a24 bit-for-bit because the merged
    // sample IS the global bottom-k, and the oracle derives it
    // independently through the daily route
    QuerySpec("a25_quantile_rollup", (s, d) => {
      import org.apache.spark.sql.functions._
      val daily = Sketches.bottomKSample(
        events(s, d).where(col("value").isNotNull)
          .withColumn("event_date", to_date(col("ts"))),
        Seq("event_date", "event_type"), "event_id", 256)
      Sketches.sampledQuantiles(daily, Seq("event_type"), "value",
          "event_id", 256, Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q"))
    },
      // rollup route: daily bottom-256, re-min to per-type, same nearest
      // rank — the k-min merge law makes this equal a24
      Oracle("""WITH h AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
        |    event_type, value, event_id,
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS h8
        |  FROM events WHERE value IS NOT NULL),
        |daily AS (SELECT event_type, value, event_id, h8 FROM (
        |    SELECT *, row_number() OVER (
        |        PARTITION BY event_date, event_type
        |        ORDER BY h8, event_id) AS rn
        |    FROM h) WHERE rn <= 256),
        |mg AS (SELECT event_type, value, event_id FROM (
        |    SELECT event_type, value, event_id,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY h8, event_id) AS rn
        |    FROM daily) WHERE rn <= 256),
        |r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY value, event_id) AS vr,
        |        count(*) OVER (PARTITION BY event_type) AS m
        |      FROM mg),
        |q AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                     CAST(0.99 AS DOUBLE)]) AS q)
        |SELECT event_type, q.q AS q, value AS est
        |FROM r CROSS JOIN q
        |WHERE vr = greatest(1, CAST(ceil(q.q * m) AS BIGINT))
        |ORDER BY 1, 2""".stripMargin)),
    // exact-verified heavy hitters: Misra-Gries candidates + count-min
    // prune + exact count of the survivors — the output is the EXACT
    // top-20 words (hash-oracled), produced without ever shuffling the
    // full key universe
    QuerySpec("cms1_heavy_hitters", (s, d) => {
      import org.apache.spark.sql.functions._
      val words = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
      Sketches.verifiedTopKeys(words, "word", 20)
    },
      // cms1's sketch path (Misra-Gries candidates + CMS prune + exact
      // verify) must land on the plain exact top-k — the oracle IS that
      // exact top-k, same tokenization as n2
      Oracle("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
        |           FROM documents)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM w GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 20""".stripMargin)),
    // dictionary-driven CJK segmentation (the reference's IK-analyzer
    // capability): dictionary and corpus are inline literals so the FMM
    // path gets a deterministic hash oracle (the expected segmentation,
    // hand-computed, lives in the oracle as VALUES) — the parquet corpus
    // is ASCII-only and cannot exercise CJK
    QuerySpec("seg1_dict_segment", (s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      val dict = graft.functions.DictSegment.fromFrame(
        Seq("中国", "人民", "共和国", "中华人民共和国", "数据", "处理",
          "引擎").toDF("w"), "w")
      val docs = Seq(
        (1L, "中华人民共和国的数据处理引擎"),
        (2L, "中国人民热爱数据"),
        (3L, "spark引擎处理大数据 big data engine")).toDF("id", "s")
      docs.select(explode(
          graft.functions.DictSegment.segmentUdf(s, dict)(col("s")))
          .as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    },
      // seg1 runs FMM segmentation over inline CJK literals (the parquet
      // corpus is ASCII-only); the oracle carries the hand-computed
      // expected segmentation: 中华人民共和国 wins over 中国 at position 0
      // (longest match), 热爱/大 are bigram/single OOV fallbacks, latin
      // runs tokenize as lowercase words
      Oracle("""SELECT token, CAST(cnt AS BIGINT) AS cnt FROM (VALUES
        |  ('中华人民共和国', 1), ('的', 1), ('数据', 3), ('处理', 2),
        |  ('引擎', 2), ('中国', 1), ('人民', 1), ('热爱', 1), ('大', 1),
        |  ('spark', 1), ('big', 1), ('data', 1), ('engine', 1))
        |  AS t(token, cnt)""".stripMargin)),
    // ---- assembled DWS apps (reference job compositions) ----
    QuerySpec("a18_order_uu_new", (s, d) => Apps.dwsTradeOrder(s, d),
      Oracle("""WITH p AS (SELECT user_id, CAST(ts AS DATE) AS event_date
        |           FROM events WHERE event_type = 'purchase'),
        |fs AS (SELECT user_id, MIN(event_date) AS first_date
        |       FROM p GROUP BY 1),
        |d AS (SELECT DISTINCT user_id, event_date FROM p)
        |SELECT event_date,
        |       CAST(COUNT(*) AS BIGINT) AS order_uu,
        |       CAST(SUM(CASE WHEN event_date = first_date THEN 1 ELSE 0 END)
        |            AS BIGINT) AS order_new_user_ct
        |FROM d JOIN fs USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("a19_paysuc_uu_new", (s, d) => Apps.dwsTradePaymentSuc(s, d),
      Oracle("""WITH ps AS (
        |  SELECT DISTINCT p.user_id, CAST(p.ts AS DATE) AS event_date
        |  FROM events p JOIN events s
        |    ON p.user_id = s.user_id
        |   AND s.ts >= p.ts - INTERVAL 15 MINUTE AND s.ts <= p.ts
        |  WHERE p.event_type = 'purchase' AND s.event_type = 'signup'),
        |fs AS (SELECT user_id, MIN(event_date) AS first_date
        |       FROM ps GROUP BY 1)
        |SELECT event_date,
        |       CAST(COUNT(*) AS BIGINT) AS pay_suc_uu,
        |       CAST(SUM(CASE WHEN event_date = first_date THEN 1 ELSE 0 END)
        |            AS BIGINT) AS pay_suc_new_user_ct
        |FROM ps JOIN fs USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("j15_refund_window", (s, d) => Apps.dwsTradeUserRefund(s, d),
      Oracle("""SELECT c.c_custkey, n.n_name, r.r_name,
        |       CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT)
        |         AS refund_order_ct,
        |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS refund_amount
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3""".stripMargin)),
    // ---- text quality / scrubbing (training-pipeline ops) ----
    QuerySpec("t7_pii_stats", (s, d) =>
      TextAnalysis.piiStats(t(s, d, "documents")),
      Oracle("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER)
        |    AS n_urls,
        |  CAST(len(regexp_extract_all(text,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
        |    AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{7,}\b')) AS INTEGER)
        |    AS n_long_numbers
        |FROM documents""".stripMargin)),
    QuerySpec("t8_repetition_stats", (s, d) =>
      TextAnalysis.repetitionStats(t(s, d, "documents")),
      Oracle("""WITH tris AS (
        |  SELECT doc_id, substr(lower(text), i, 3) AS tri
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text)-2,1)+1)) AS i
        |        FROM documents)
        |  WHERE length(substr(lower(text), i, 3)) = 3),
        |dt AS (SELECT doc_id, tri, COUNT(*) AS c FROM tris GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |       CAST(SUM(c) AS BIGINT) AS n_total,
        |       CAST(MAX(c) AS BIGINT) AS max_rep,
        |       COUNT(*) / CAST(SUM(c) AS DOUBLE) AS ttr
        |FROM dt GROUP BY doc_id""".stripMargin)),
    QuerySpec("t9_pii_redact", (s, d) =>
      TextAnalysis.redactPii(t(s, d, "documents")),
      Oracle("""SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
        |    'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>',
        |    'g') AS clean_text,
        |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
        |    'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>',
        |    'g')) AS INTEGER) AS clean_len
        |FROM documents""".stripMargin)),
    QuerySpec("d10_incremental_dedup", (s, d) =>
      // corpus = everything but the first 100 ids; batch = those 100 —
      // the realistic shape (small new batch vs large standing corpus);
      // the split form derives every shingle frame from the parent
      // substrate shared with the rest of the d-family
      Dedup.incrementalDedupSplit(t(s, d, "documents"), 100),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        |       FROM sh a JOIN sh b USING (shingle)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT doc1, doc2 FROM pr
        |          JOIN sz s1 ON doc1 = s1.doc_id
        |          JOIN sz s2 ON doc2 = s2.doc_id
        |          WHERE common / (s1.sz + s2.sz - common) >= 0.5),
        |fp AS (SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
        |                                 'g'))) AS f
        |       FROM documents),
        |exactp AS (
        |  SELECT b.doc_id, c.doc_id AS partner
        |  FROM fp b JOIN fp c ON b.f = c.f AND b.doc_id <> c.doc_id
        |  WHERE b.doc_id < 100 AND (c.doc_id >= 100 OR c.doc_id < b.doc_id)),
        |nearp AS (
        |  SELECT doc_id, partner FROM (
        |    SELECT doc2 AS doc_id, doc1 AS partner FROM pairs
        |    UNION ALL
        |    SELECT doc1 AS doc_id, doc2 AS partner FROM pairs)
        |  WHERE doc_id < 100 AND (partner >= 100 OR partner < doc_id)),
        |agg AS (
        |  SELECT doc_id, BOOL_OR(is_exact) AS any_exact,
        |         MIN(partner) AS dup_of
        |  FROM (SELECT doc_id, partner, TRUE AS is_exact FROM exactp
        |        UNION ALL
        |        SELECT doc_id, partner, FALSE FROM nearp)
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CASE WHEN a.any_exact THEN 'exact_dup'
        |            WHEN a.dup_of IS NOT NULL THEN 'near_dup'
        |            ELSE 'keep' END AS decision,
        |       a.dup_of
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
        |LEFT JOIN agg a USING (doc_id)""".stripMargin)),
    QuerySpec("d9_contamination", (s, d) =>
      // id-split form: corpus and benchmark shingles are both filters of
      // the parent corpus substrate (shared with the rest of the d-family)
      Dedup.contaminationSplitCheck(t(s, d, "documents"), 25),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx)
        |SELECT c.doc_id, b.doc_id AS bench_id,
        |       CAST(COUNT(*) AS BIGINT) AS overlap
        |FROM sh c JOIN sh b USING (shingle)
        |WHERE c.doc_id >= 25 AND b.doc_id < 25 AND c.doc_id <> b.doc_id
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 5""".stripMargin)),
    // ---- sketch pushdown: bloom pre-filtered anti-join ----
    QuerySpec("s3_bloom_antijoin", (s, d) => {
      import org.apache.spark.sql.functions.col
      val ev = events(s, d)
      val dropKeys = ev.select(col("user_id")).distinct()
        .where(col("user_id") % 3 === 0)
      Sketches.bloomAntiJoin(ev, dropKeys, "user_id", 10000L)
        .select("event_id", "user_id", "event_type")
    },
      // anti-join vs the distinct %3==0 key set == the complement predicate;
      // null user_ids never match an anti-join key, so they survive
      Oracle("""SELECT event_id, user_id, event_type FROM events
        |WHERE user_id IS NULL OR user_id % 3 <> 0""".stripMargin)),
    // ---- flagship end-to-end training-corpus pipeline ----
    QuerySpec("e3_training_corpus", (s, d) =>
      Pipeline.trainingCorpus(t(s, d, "documents")),
      Oracle(s"""WITH $e3DropCtes,
        |survivors AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id >= 25 AND length(text) >= 100
        |    AND doc_id NOT IN (SELECT doc_id FROM neardups)
        |    AND doc_id NOT IN (SELECT doc_id FROM exactdups)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |SELECT doc_id, lang,
        |       CAST(len(string_split_regex(text, '\\s+')) AS INTEGER)
        |         AS n_tok,
        |       CAST(COALESCE(SUM(len(string_split_regex(text, '\\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(len(string_split_regex(text, '\\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM survivors""".stripMargin)),
    QuerySpec("e4_corpus_report", (s, d) =>
      Pipeline.corpusReport(t(s, d, "documents")),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        |       FROM sh a JOIN sh b USING (shingle)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |neardups AS (SELECT DISTINCT doc2 AS doc_id FROM pr
        |             JOIN sz s1 ON doc1 = s1.doc_id
        |             JOIN sz s2 ON doc2 = s2.doc_id
        |             WHERE common / (s1.sz + s2.sz - common) >= 0.5)
        |SELECT lang, source,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |         AS total_tokens,
        |       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |       CAST(SUM(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_near_dup
        |FROM documents d LEFT JOIN neardups nd USING (doc_id)
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("e5_curated_corpus", (s, d) =>
      Pipeline.curatedCorpus(t(s, d, "documents")),
      // e5: the curation composition over the model score, dup spans, and
      // exact keepers — every predicate compares the same 6dp-rounded value
      // both engines already hash-match individually
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes
         |SELECT q.doc_id, q.n_toks, q.score, d.dup_frac
         |FROM qsc q JOIN dspan d USING (doc_id)
         |JOIN kept USING (doc_id)""".stripMargin)),
    // flagship composition v3: curate (e5 predicate) then PACK the kept
    // corpus into fixed 2048-token training sequences — the pipeline's
    // final artifact is the dataloader manifest itself
    QuerySpec("e6_packed_corpus", (s, d) => {
      val docs = t(s, d, "documents")
      val kept = Pipeline.curatedCorpus(docs).select("doc_id")
      Sampling.packedSequences(docs.join(kept, "doc_id"), 2048)
    },
      // e6: the e5 keep-set fed through the pack1 cumsum — the composed
      // filter compares 6dp values both engines hash-match, and the pack
      // arithmetic is all-integer, so the composition is oracle-exact
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes,
         |pn AS (SELECT d.doc_id,
         |         CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT)
         |           AS n_tok
         |       FROM documents d JOIN kept USING (doc_id)),
         |pc AS (SELECT doc_id, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS BIGINT) AS s
         |       FROM pn),
         |pe AS (SELECT doc_id, n_tok, s,
         |         unnest(range(s // 2048, (s + n_tok - 1) // 2048 + 1))
         |           AS seq_id
         |       FROM pc)
         |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |       CAST(SUM(LEAST(2048 * (seq_id + 1), s + n_tok)
         |              - GREATEST(2048 * seq_id, s)) AS BIGINT)
         |         AS n_tokens
         |FROM pe GROUP BY seq_id""".stripMargin)),
    // e6's padding-variant sibling: the curated keep-set fed through the
    // pack2 length-bucketed batching manifest — the pipeline ends in
    // whichever dataloader contract the training run uses
    QuerySpec("e7_bucketed_corpus", (s, d) => {
      val docs = t(s, d, "documents")
      val kept = Pipeline.curatedCorpus(docs).select("doc_id")
      Sampling.lengthBuckets(docs.join(kept, "doc_id"), 64, 16)
    },
      // the same curated keep-set through the pack2 bucket/batch window
      Oracle(s"""WITH $modelScoreCtes,
         |$dupSpanCtes,
         |$curationKeepCtes,
         |bn AS (SELECT d.doc_id,
         |         CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT)
         |           AS n_tok,
         |         substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS h
         |       FROM documents d JOIN kept USING (doc_id)),
         |bb AS (SELECT doc_id, n_tok,
         |         CAST(floor((n_tok - 1) / 64) AS BIGINT) AS bucket, h
         |       FROM bn),
         |br AS (SELECT bucket, n_tok,
         |         row_number() OVER (PARTITION BY bucket
         |                            ORDER BY h, doc_id) AS rn
         |       FROM bb)
         |SELECT bucket,
         |       CAST(floor((rn - 1) / 16) AS BIGINT) AS batch_id,
         |       count(*) AS n_docs,
         |       max(n_tok) AS max_tok,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
         |       count(*) * max(n_tok) - CAST(sum(n_tok) AS BIGINT)
         |         AS pad_waste
         |FROM br GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // embedding outlier score: cosine to the label centroid (6dp-rounded
    // centroid components, kmeansAssign determinism contract)
    QuerySpec("out1_centroid_outliers", (s, d) =>
      Clustering.centroidOutliers(t(s, d, "embeddings")),
      // label centroids ROUND(avg, 6) before the cosine so parallel-mean
      // summation order cannot reach the 6dp-rounded score
      Oracle("""WITH e AS (SELECT vec_id, label,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM embeddings),
        |comp AS (SELECT vec_id, label, i, v[i] AS x
        |         FROM e, (SELECT unnest(range(1,
        |           (SELECT len(v) FROM e LIMIT 1) + 1)) AS i)),
        |cen AS (SELECT label, i, ROUND(AVG(x), 6) AS c
        |        FROM comp GROUP BY 1, 2),
        |agg AS (SELECT comp.vec_id, comp.label,
        |          SUM(x * c) AS dot, SUM(x * x) AS xx, SUM(c * c) AS cc
        |        FROM comp JOIN cen USING (label, i) GROUP BY 1, 2)
        |SELECT vec_id, label,
        |       ROUND(dot / (sqrt(xx) * sqrt(cc)), 6) AS centroid_cos
        |FROM agg""".stripMargin)),
    // ---- reproducible data selection (training-pipeline ops) ----
    QuerySpec("smp1_hash_sample", (s, d) =>
      Sampling.deterministicSample(t(s, d, "documents"), "doc_id", 0.25)
        .select("doc_id", "lang"),
      Oracle("""SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      < '40000000'""".stripMargin)),
    QuerySpec("smp4_stratified_sample", (s, d) =>
      Sampling.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.8, "zh" -> 0.2), 0.5)
        .select("doc_id", "lang"),
      // thresholds: 0.8 -> cccccccc, 0.2 -> 33333333, default 0.5 -> 80000000
      Oracle("""SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      CASE lang WHEN 'en' THEN 'cccccccc'
        |                WHEN 'zh' THEN '33333333'
        |                ELSE '80000000' END""".stripMargin)),
    QuerySpec("smp5_token_budget", (s, d) =>
      Sampling.tokenBudgetSample(t(s, d, "documents"), 15000L),
      Oracle("""WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(text, '\s+')) AS INTEGER)
        |           AS n_tok,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |        SUM(n_tok) OVER (ORDER BY h, doc_id) AS cum FROM t)
        |SELECT doc_id, n_tok FROM c WHERE cum <= 15000""".stripMargin)),
    QuerySpec("smp6_weighted_mix", (s, d) =>
      Sampling.mixWithWeights(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 1.5, "zh" -> 0.25), 1.0)
        .select("doc_id", "lang", "replica"),
      // en w=1.5: whole 1 + extra for hash < 0.5 -> '80000000'; zh w=0.25:
      // whole 0 + copy only for hash < '40000000'; default w=1.0: exactly 1
      Oracle("""WITH w AS (
        |  SELECT doc_id, lang,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |  FROM documents),
        |n AS (SELECT doc_id, lang,
        |        CASE lang
        |          WHEN 'en' THEN 1 + CASE WHEN h < '80000000'
        |                                  THEN 1 ELSE 0 END
        |          WHEN 'zh' THEN CASE WHEN h < '40000000'
        |                              THEN 1 ELSE 0 END
        |          ELSE 1 END AS copies
        |      FROM w)
        |SELECT doc_id, lang,
        |       CAST(unnest(range(1, copies + 1)) AS BIGINT) AS replica
        |FROM n WHERE copies >= 1""".stripMargin)),
    QuerySpec("smp2_split_counts", (s, d) =>
      Sampling.trainValTestSplit(t(s, d, "documents"), "doc_id")
        .groupBy(org.apache.spark.sql.functions.col("split"),
          org.apache.spark.sql.functions.col("lang"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")),
      Oracle("""SELECT CASE WHEN h < 'cccccccc' THEN 'train'
        |            WHEN h < 'e6666666' THEN 'val'
        |            ELSE 'test' END AS split,
        |       lang, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h, lang
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("smp3_token_offsets", (s, d) =>
      Sampling.tokenOffsets(t(s, d, "documents"), 4096),
      Oracle("""SELECT doc_id,
        |       CAST(len(string_split_regex(text, '\s+')) AS INTEGER)
        |         AS n_tok,
        |       CAST(COALESCE(SUM(len(string_split_regex(text, '\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) AS BIGINT) AS start_offset,
        |       CAST(floor(COALESCE(SUM(len(string_split_regex(text, '\s+')))
        |           OVER (ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 4096) AS BIGINT) AS chunk_id
        |FROM documents""".stripMargin)),
    // packed-sequence manifest: the per-sequence contract a dataloader
    // reads (docs spanned, slots filled) over the doc_id-ordered corpus
    QuerySpec("pack1_packed_sequences", (s, d) =>
      Sampling.packedSequences(t(s, d, "documents"), 2048),
      // per-sequence packing manifest over the doc_id-ordered token stream;
      // overlap arithmetic is all-integer so the hash compare is exact
      Oracle("""WITH n AS (SELECT doc_id,
        |        CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
        |          AS n_tok
        |      FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |        CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0) AS BIGINT) AS s
        |      FROM n),
        |e AS (SELECT doc_id, n_tok, s,
        |        unnest(range(s // 2048, (s + n_tok - 1) // 2048 + 1))
        |          AS seq_id
        |      FROM c)
        |SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |       CAST(SUM(LEAST(2048 * (seq_id + 1), s + n_tok)
        |              - GREATEST(2048 * seq_id, s)) AS BIGINT) AS n_tokens
        |FROM e GROUP BY seq_id""".stripMargin)),
    // length-bucketed batching manifest: pack1's padding-based sibling —
    // per (length-bucket, batch) filled/padded slot accounting; all-integer
    // so the compare is exact
    QuerySpec("pack2_length_buckets", (s, d) =>
      Sampling.lengthBuckets(t(s, d, "documents"), 64, 16),
      // length buckets: floor((n_tok-1)/64) buckets, md5-prefix order,
      // batches of 16 — the oracle's plain per-bucket window equals the
      // engine's two-phase (cell + offset) rank because the cell is a
      // prefix of the ordering hash
      Oracle("""WITH n AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |  FROM documents),
        |b AS (SELECT doc_id, n_tok,
        |        CAST(floor((n_tok - 1) / 64) AS BIGINT) AS bucket, h
        |      FROM n),
        |r AS (SELECT bucket, n_tok,
        |        row_number() OVER (PARTITION BY bucket
        |                           ORDER BY h, doc_id) AS rn
        |      FROM b)
        |SELECT bucket,
        |       CAST(floor((rn - 1) / 16) AS BIGINT) AS batch_id,
        |       count(*) AS n_docs,
        |       max(n_tok) AS max_tok,
        |       CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |       count(*) * max(n_tok) - CAST(sum(n_tok) AS BIGINT)
        |         AS pad_waste
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // per-doc n-gram novelty of the 20% hash-held-out slice vs the 80%
    // reference slice — shares the d-family shingle substrate
    QuerySpec("nov1_ngram_novelty", (s, d) =>
      Dedup.ngramNovelty(t(s, d, "documents"), 0.8, 3),
      // novelty of the 20% held-out slice vs the 80% reference slice; the
      // hash split mirrors Sampling.fractionThreshold(0.8) -> 'cccccccc';
      // shingle form matches the d9 oracle (3-gram, lower, non-alnum split)
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx
        |       WHERE array_to_string(toks[i:i+2], ' ') <> ''),
        |t AS (SELECT doc_id, shingle,
        |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |          AS is_ref
        |      FROM sh),
        |ref AS (SELECT DISTINCT shingle FROM t WHERE is_ref),
        |ev AS (SELECT doc_id, shingle FROM t WHERE NOT is_ref)
        |SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(COALESCE(SUM(CASE WHEN r.shingle IS NOT NULL
        |           THEN 1 END), 0) AS BIGINT) AS n_seen,
        |       ROUND(1.0 - CAST(COALESCE(SUM(CASE WHEN r.shingle IS NOT
        |           NULL THEN 1 END), 0) AS DOUBLE) / COUNT(*), 6)
        |         AS novelty
        |FROM ev LEFT JOIN ref r ON ev.shingle = r.shingle
        |GROUP BY ev.doc_id""".stripMargin)),
    // cross-source shingle-overlap matrix: which corpus components
    // mirror each other (pair fan-out bounded by |sources|, never df)
    QuerySpec("xsrc1_source_overlap", (s, d) =>
      Dedup.sourceOverlap(t(s, d, "documents"), 3),
      // shingle CTE matches the d9 oracle; the pair count is per-distinct
      // (source, shingle), so document frequency cannot inflate it
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx
        |       WHERE array_to_string(toks[i:i+2], ' ') <> ''),
        |ss AS (SELECT DISTINCT d.source, sh.shingle
        |       FROM sh JOIN documents d USING (doc_id))
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(COUNT(*) AS BIGINT) AS shared_shingles
        |FROM ss a JOIN ss b
        |  ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin)),
    // T5-style temperature mixing (alpha=0.7, half-corpus target):
    // per-source rates derived in-plan, applied as md5 thresholds
    QuerySpec("mix2_temperature_mix", (s, d) =>
      Sampling.temperatureMix(t(s, d, "documents"), "doc_id", "source",
        0.7, 0.5).select("doc_id", "source"),
      // rate_s = min(1, targetFrac * N * n_s^(alpha-1) / sum n_t^alpha),
      // alpha 0.7, targetFrac 0.5; thresholds printf'd to the same 8-hex
      // form as Sampling.fractionThreshold
      Oracle("""WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_s
        |           FROM documents GROUP BY source),
        |z AS (SELECT SUM(pow(n_s, 0.7)) AS z, SUM(n_s) AS n_tot FROM c),
        |t AS (SELECT source, printf('%08x',
        |         LEAST(CAST(floor(LEAST(1.0,
        |             0.5 * z.n_tot * pow(c.n_s, -0.3) / z.z)
        |           * 4294967296.0) AS BIGINT), 4294967295)) AS thr
        |      FROM c, z)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN t USING (source)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < t.thr""".stripMargin)),
    // uniform-token-budget mixture weights: the per-source sampling
    // fractions (capped at 1) that hit an equal token share per source
    QuerySpec("mix3_budget_weights", (s, d) =>
      Sampling.budgetWeights(t(s, d, "documents"), 100000L),
      // exact integer token totals; target = floor(budget/n_sources) on
      // identical ints; frac is the one double op, rounded 6dp
      Oracle("""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |          AS n_toks
        |      FROM documents GROUP BY 1),
        |tw AS (SELECT *, COUNT(*) OVER () AS n_sources FROM per)
        |SELECT source, n_docs, n_toks,
        |       CAST(100000 // n_sources AS BIGINT) AS target_toks,
        |       ROUND(LEAST(1.0,
        |         CAST(CAST(100000 // n_sources AS BIGINT) AS DOUBLE)
        |           / n_toks), 6) AS frac
        |FROM tw""".stripMargin)),
    // multi-epoch repeat plan for under-budget sources (repeats capped
    // at 4), all-integer: epochs, planned tokens, unfillable shortfall
    QuerySpec("mix4_epoch_plan", (s, d) =>
      Sampling.epochPlan(t(s, d, "documents"), 60000L, 4),
      // all-integer epoch plan: target = mix3's floor(budget/n_sources)
      // convention, ceildiv via (a + b - 1) // b, LEAST caps — no floats
      Oracle("""WITH per AS (SELECT source,
        |        CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |          AS n_toks
        |      FROM documents GROUP BY 1),
        |tw AS (SELECT *, COUNT(*) OVER () AS n_sources FROM per),
        |pl AS (SELECT source, n_toks,
        |         CAST(60000 // n_sources AS BIGINT) AS target_toks
        |       FROM tw),
        |ep AS (SELECT *, LEAST(CAST(4 AS BIGINT),
        |         (target_toks + n_toks - 1) // n_toks) AS epochs FROM pl)
        |SELECT source, n_toks, target_toks, CAST(epochs AS BIGINT) AS epochs,
        |       CAST(LEAST(target_toks, epochs * n_toks) AS BIGINT)
        |         AS planned_toks,
        |       CAST(target_toks - LEAST(target_toks, epochs * n_toks)
        |         AS BIGINT) AS shortfall
        |FROM ep""".stripMargin)),
    // fixed-size per-stratum sample: exactly 50 docs per language,
    // chosen by the content hash (unbiased eval-set construction)
    QuerySpec("smp8_fixed_stratum", (s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.perGroupCap(t(s, d, "documents"), "lang",
        Seq(Sampling.contentHash("doc_id"), col("doc_id")), 50)
        .select("doc_id", "lang", "grp_rank")
    },
      Oracle("""WITH r AS (SELECT doc_id, lang, row_number() OVER
        |    (PARTITION BY lang
        |     ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |    AS grp_rank FROM documents)
        |SELECT doc_id, lang, CAST(grp_rank AS INTEGER) AS grp_rank
        |FROM r WHERE grp_rank <= 50""".stripMargin)),
    // CCNet-style domain cap: at most 40 docs per source, longest first
    QuerySpec("cur1_source_cap", (s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.perGroupCap(t(s, d, "documents"), "source",
        Seq(col("n_chars").desc, col("doc_id")), 40)
        .select("doc_id", "source", "n_chars", "grp_rank")
    },
      Oracle("""WITH r AS (SELECT doc_id, source, n_chars, row_number() OVER
        |    (PARTITION BY source ORDER BY n_chars DESC, doc_id)
        |    AS grp_rank FROM documents)
        |SELECT doc_id, source, n_chars,
        |       CAST(grp_rank AS INTEGER) AS grp_rank
        |FROM r WHERE grp_rank <= 40""".stripMargin)),
    // deterministic global shuffle ordinals (two-phase rank, no global
    // window) — the reproducible epoch order a dataloader consumes
    QuerySpec("smp9_shuffle_positions", (s, d) =>
      Sampling.shufflePositions(t(s, d, "documents"), "doc_id"),
      Oracle("""SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |  - 1 AS BIGINT) AS position
        |FROM documents""".stripMargin)),
    // leakage-safe split: near-dup cluster members inherit the split of
    // their cluster representative, so dups never straddle train/test
    QuerySpec("smp10_leakage_split", (s, d) =>
      Sampling.leakageSafeSplit(t(s, d, "documents")),
      // leakage-safe split: the smp2 hash thresholds applied to the d7
      // CLUSTER id, so every member of a near-dup component lands in its
      // representative's split
      Oracle(s"""WITH RECURSIVE $dupClusterCtes
         |SELECT doc_id, cluster_id,
         |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
         |         < 'cccccccc' THEN 'train'
         |       WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
         |         < 'e6666666' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM cl""".stripMargin)),
    // corpus-release provenance funnel: every doc attributed to the
    // first trainingCorpus stage that rejects it, with token mass
    QuerySpec("audit1_filter_funnel", (s, d) =>
      Pipeline.filterFunnel(t(s, d, "documents")),
      // provenance funnel over e3's stages: first-rejecting-stage
      // attribution in the documented order benchmark -> too_short ->
      // exact_dup -> near_dup -> contaminated -> sampled_out -> kept;
      // drop-list CTEs are e3's verbatim
      Oracle(s"""WITH $e3DropCtes,
        |staged AS (
        |  SELECT d.text,
        |    CASE WHEN d.doc_id < 25 THEN 'benchmark'
        |         WHEN length(d.text) < 100 THEN 'too_short'
        |         WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
        |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |         WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |         WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |           >= '80000000' THEN 'sampled_out'
        |         ELSE 'kept' END AS stage
        |  FROM documents d
        |  LEFT JOIN exactdups e ON d.doc_id = e.doc_id
        |  LEFT JOIN neardups nd ON d.doc_id = nd.doc_id
        |  LEFT JOIN contam c ON d.doc_id = c.doc_id)
        |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
        |         AS n_tokens
        |FROM staged GROUP BY 1""".stripMargin)),
    // Efraimidis-Spirakis weighted sample: 100 docs, char-count weights
    // (token-uniform coverage), pure-integer key hash
    QuerySpec("es1_weighted_sample", (s, d) =>
      Sampling.weightedSample(t(s, d, "documents"), "doc_id", "n_chars",
        100).select("doc_id", "n_chars"),
      // ln((knuth_hash + 0.5) / 2^32) / weight is the Efraimidis-Spirakis
      // key; the hash is pure int64 arithmetic so both engines agree
      Oracle("""WITH k AS (SELECT doc_id, n_chars,
        |    ln(((((doc_id % 2147483648) * 2654435761) % 4294967296)
        |        + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, n_chars FROM k
        |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin)),
    // contrastive hard negatives: exact top-5 cross-label cosine
    QuerySpec("hn1_hard_negatives", (s, d) =>
      Similarity.hardNegatives(t(s, d, "embeddings"), 100, 5),
      // exact top-5 cross-label cosine (contrastive hard negatives); same
      // dot/norm arithmetic and tie order as the sim1/sim6 oracles
      Oracle("""WITH q AS (SELECT vec_id AS qid, label AS ql, embedding AS e
        |           FROM embeddings WHERE vec_id < 100),
        |x AS (SELECT vec_id AS nid, label AS nl, embedding AS e
        |      FROM embeddings),
        |p AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      WHERE qid <> nid AND q.ql <> x.nl GROUP BY qid, nid),
        |r AS (SELECT qid, nid, row_number() OVER
        |        (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |      FROM p WHERE qq > 0 AND xx > 0)
        |SELECT qid, CAST(rn AS INTEGER) AS rn, nid FROM r
        |WHERE rn <= 5""".stripMargin)),
    // kNN majority-vote classification over the vec_id >= 100 train slice
    QuerySpec("knn2_label_vote", (s, d) =>
      Similarity.knnClassify(t(s, d, "embeddings"), 100, 5),
      // kNN majority vote over the vec_id >= 100 train slice; vote ties
      // break toward the smaller label, neighbor ties toward the smaller nid
      Oracle("""WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings
        |           WHERE vec_id < 100),
        |x AS (SELECT vec_id AS nid, label, embedding AS e FROM embeddings
        |      WHERE vec_id >= 100),
        |p AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      GROUP BY qid, nid),
        |r AS (SELECT qid, nid, row_number() OVER
        |        (PARTITION BY qid
        |         ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |      FROM p WHERE qq > 0 AND xx > 0),
        |v AS (SELECT r.qid, x.label, COUNT(*) AS votes
        |      FROM r JOIN x ON r.nid = x.nid WHERE r.rn <= 5
        |      GROUP BY r.qid, x.label),
        |w AS (SELECT qid, label, votes, row_number() OVER
        |        (PARTITION BY qid ORDER BY votes DESC, label) AS wr
        |      FROM v)
        |SELECT qid, CAST(label AS INTEGER) AS pred_label,
        |       CAST(votes AS BIGINT) AS votes FROM w
        |WHERE wr = 1""".stripMargin)),
    // Deequ-style single-scan expectation suite: the admission gate a
    // corpus drop passes before entering the training pipeline
    QuerySpec("dq1_expectations", (s, d) =>
      DataQuality.expectations(events(s, d), dqChecks),
      Oracle(
        """WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events)
        |SELECT 'c1' AS check_id, 'event_id' AS col_name,
        |       'not_null' AS kind,
        |       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS violations,
        |       (SELECT total FROM tot) AS total
        |FROM events
        |UNION ALL
        |SELECT 'c2', 'value', 'between',
        |       CAST(SUM(CASE WHEN value < 0.0 OR value > 400.0
        |                     THEN 1 ELSE 0 END) AS BIGINT),
        |       (SELECT total FROM tot)
        |FROM events
        |UNION ALL
        |SELECT 'c3', 'event_type', 'in_set',
        |       CAST(SUM(CASE WHEN event_type NOT IN
        |                       ('click','view','purchase','signup')
        |                     THEN 1 ELSE 0 END) AS BIGINT),
        |       (SELECT total FROM tot)
        |FROM events
        |UNION ALL
        |SELECT 'c4', 'props', 'matches',
        |       CAST(SUM(CASE WHEN NOT regexp_matches(props, '^\{')
        |                     THEN 1 ELSE 0 END) AS BIGINT),
        |       (SELECT total FROM tot)
        |FROM events
        |UNION ALL
        |SELECT 'c5', 'event_id', 'unique',
        |       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT),
        |       (SELECT total FROM tot)
        |FROM events
        |UNION ALL
        |SELECT 'c6', 'user_id', 'not_null',
        |       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       (SELECT total FROM tot)
        |FROM events""".stripMargin)),
    // per-column profile (null/distinct/min/max) in one scan
    QuerySpec("dq2_column_profile", (s, d) =>
      DataQuality.columnProfile(events(s, d),
        Seq("event_id", "user_id", "event_type", "value")),
      Oracle("""SELECT 'event_id' AS col_name,
        |       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_null,
        |       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |       ROUND(CAST(MIN(event_id) AS DOUBLE), 6) AS min_num,
        |       ROUND(CAST(MAX(event_id) AS DOUBLE), 6) AS max_num
        |FROM events
        |UNION ALL
        |SELECT 'user_id',
        |       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT),
        |       ROUND(CAST(MIN(user_id) AS DOUBLE), 6),
        |       ROUND(CAST(MAX(user_id) AS DOUBLE), 6)
        |FROM events
        |UNION ALL
        |SELECT 'event_type',
        |       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       CAST(COUNT(DISTINCT event_type) AS BIGINT),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM events
        |UNION ALL
        |SELECT 'value',
        |       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT),
        |       CAST(COUNT(DISTINCT value) AS BIGINT),
        |       ROUND(CAST(MIN(value) AS DOUBLE), 6),
        |       ROUND(CAST(MAX(value) AS DOUBLE), 6)
        |FROM events""".stripMargin)),
    // behavioral-pretraining sequences: first 20 events per user in
    // (ts, event_id) order as one training example
    QuerySpec("seq1_user_sequences", (s, d) =>
      Pipeline.userEventSequences(events(s, d), 20),
      // floor(epoch(ts)) mirrors Spark's unix_timestamp second truncation
      // (events are post-1970, so floor == truncation on both engines)
      Oracle("""WITH r AS (SELECT user_id, ts, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS rn
        |           FROM events)
        |SELECT user_id,
        |       string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(floor(epoch(MAX(ts))) - floor(epoch(MIN(ts)))
        |            AS BIGINT) AS span_sec
        |FROM r WHERE rn <= 20 GROUP BY user_id""".stripMargin)),
    // overlap-coefficient containment pairs: small-doc-quoted-in-large
    // near-dups that Jaccard's union term hides
    QuerySpec("d17_containment_pairs", (s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), 3, 0.8),
      Oracle("""WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text),
        |           '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents),
        |idx AS (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
        |sh AS (SELECT DISTINCT doc_id,
        |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx
        |       WHERE array_to_string(toks[i:i+2], ' ') <> ''),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |            COUNT(*) AS common
        |          FROM sh a JOIN sh b USING (shingle)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc1, doc2,
        |       common / least(s1.sz, s2.sz) AS containment
        |FROM pairs
        |JOIN sz s1 ON doc1 = s1.doc_id
        |JOIN sz s2 ON doc2 = s2.doc_id
        |WHERE common / least(s1.sz, s2.sz) >= 0.8""".stripMargin)),
    // the long-tailed-vocabulary twins: same operators, regenerated
    // corpus where shingles are mostly rare — the fixture that lets the
    // PPJoin prefix filter show its designed selectivity (d2/d17 on the
    // 31-word test corpus are the documented degenerate anchors)
    QuerySpec("d2z_zipf_jaccard", (s, d) =>
      Dedup.jaccardPairs(
        Dedup.zipfVocabularyTwin(t(s, d, "documents")), 3, 0.5),
      // d2/d17 over the regenerated long-tail corpus: identical pair SQL,
      // zdocs CTE instead of the stored table
      Oracle(s"""WITH $zipfDocsCte,
         |tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text),
         |           '[^a-z0-9]+'), x -> x <> '') AS toks
         |  FROM zdocs),
         |idx AS (SELECT doc_id, toks,
         |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
         |sh AS (SELECT DISTINCT doc_id,
         |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |            COUNT(*) AS common
         |          FROM sh a JOIN sh b USING (shingle)
         |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc1, doc2,
         |       common / (s1.sz + s2.sz - common) AS jaccard
         |FROM pairs
         |JOIN sz s1 ON doc1 = s1.doc_id
         |JOIN sz s2 ON doc2 = s2.doc_id
         |WHERE common / (s1.sz + s2.sz - common) >= 0.5""".stripMargin)),
    QuerySpec("d17z_zipf_containment", (s, d) =>
      Dedup.containmentPairs(
        Dedup.zipfVocabularyTwin(t(s, d, "documents")), 3, 0.8),
      Oracle(s"""WITH $zipfDocsCte,
         |tk AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text),
         |           '[^a-z0-9]+'), x -> x <> '') AS toks
         |  FROM zdocs),
         |idx AS (SELECT doc_id, toks,
         |          unnest(range(1, greatest(len(toks)-2,1)+1)) AS i FROM tk),
         |sh AS (SELECT DISTINCT doc_id,
         |         array_to_string(toks[i:i+2], ' ') AS shingle FROM idx
         |       WHERE array_to_string(toks[i:i+2], ' ') <> ''),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |            COUNT(*) AS common
         |          FROM sh a JOIN sh b USING (shingle)
         |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc1, doc2,
         |       common / least(s1.sz, s2.sz) AS containment
         |FROM pairs
         |JOIN sz s1 ON doc1 = s1.doc_id
         |JOIN sz s2 ON doc2 = s2.doc_id
         |WHERE common / least(s1.sz, s2.sz) >= 0.8""".stripMargin)),
    // PSI distribution drift between two corpus drops (even/odd event_id
    // slices), 10 equal-width value bins over [0, 400)
    QuerySpec("drift1_psi", (s, d) => {
      import org.apache.spark.sql.functions.col
      DataQuality.psi(events(s, d), "value",
        col("event_id") % 2 === 0, 10, 0.0, 400.0)
    },
      // Laplace-smoothed PSI over 10 equal-width bins of `value`, even vs
      // odd event_id as the reference/current drops; arithmetic mirrors
      // DataQuality.psi exactly (clamped floor bin, (n+1)/(N+10), ln)
      Oracle("""WITH b AS (
        |  SELECT least(greatest(CAST(floor((value - 0.0) / 40.0)
        |           AS BIGINT), 0), 9) AS bin,
        |         (event_id % 2 = 0) AS is_ref
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT bin,
        |        CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_ref,
        |        CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_cur
        |      FROM b GROUP BY 1),
        |sp AS (SELECT unnest(range(0, 10)) AS bin),
        |f AS (SELECT sp.bin, COALESCE(n_ref, 0) AS n_ref,
        |        COALESCE(n_cur, 0) AS n_cur
        |      FROM sp LEFT JOIN c ON sp.bin = c.bin),
        |t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
        |        CAST(SUM(n_cur) AS DOUBLE) AS t_cur FROM f)
        |SELECT bin, n_ref, n_cur,
        |       ROUND(((n_ref + 1.0) / (t_ref + 10.0)
        |               - (n_cur + 1.0) / (t_cur + 10.0))
        |             * ln(((n_ref + 1.0) / (t_ref + 10.0))
        |                  / ((n_cur + 1.0) / (t_cur + 10.0))), 6)
        |         AS psi_term
        |FROM f CROSS JOIN t""".stripMargin)),
    // per-dimension Wasserstein-1 drift between two corpus drops'
    // EMBEDDING distributions (even/odd vec_id slices) — the
    // vector-space member of the drift family
    QuerySpec("drift3_embedding_w1", (s, d) => {
      import org.apache.spark.sql.functions.col
      DataQuality.embeddingW1(t(s, d, "embeddings"),
        col("vec_id") % 2 === 0)
    },
      // per-dim W1 between even/odd vec_id slices over the merged 1e-6
      // support: |cr·tc − cc·tr|·Δx summed exactly (HUGEINT == Spark's
      // decimal(38)), two float divisions at the end in the same order
      Oracle("""WITH e AS (SELECT vec_id, CAST(i.i AS INTEGER) AS dim,
        |             CAST(embedding[i.i] AS DOUBLE) AS x
        |           FROM embeddings,
        |                (SELECT unnest(range(1, 65)) AS i) i),
        |q AS (SELECT dim, (vec_id % 2 = 0) AS is_ref,
        |        CAST(round(x * 1000000) AS BIGINT) AS qx FROM e),
        |c AS (SELECT dim, qx,
        |        CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_ref,
        |        CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_cur
        |      FROM q GROUP BY 1, 2),
        |w AS (SELECT dim, qx, n_ref, n_cur,
        |        SUM(n_ref) OVER (PARTITION BY dim ORDER BY qx) AS cr,
        |        SUM(n_cur) OVER (PARTITION BY dim ORDER BY qx) AS cc,
        |        SUM(n_ref) OVER (PARTITION BY dim) AS tr,
        |        SUM(n_cur) OVER (PARTITION BY dim) AS tc,
        |        LEAD(qx) OVER (PARTITION BY dim ORDER BY qx) AS nx
        |      FROM c)
        |SELECT dim, CAST(tr AS BIGINT) AS n_ref,
        |       CAST(tc AS BIGINT) AS n_cur,
        |       ROUND(CAST(SUM(ABS(CAST(cr AS HUGEINT) * tc
        |                          - CAST(cc AS HUGEINT) * tr)
        |                      * COALESCE(nx - qx, 0)) AS DOUBLE)
        |             / (CAST(tr AS DOUBLE) * CAST(tc AS DOUBLE))
        |             / 1000000, 6) AS w1
        |FROM w GROUP BY dim, tr, tc
        |HAVING tr > 0 AND tc > 0""".stripMargin)),
    // Matryoshka truncation fidelity: does the exact top-1 neighbor
    // survive truncation to the first 16 of 64 dims?
    QuerySpec("emb1_matryoshka", (s, d) =>
      Similarity.matryoshkaTop1(t(s, d, "embeddings"), 100, 16),
      // full-dim vs first-16-dim exact top-1 per query; both rankings are
      // the proven sim1 all-pairs form (cos desc, nid tie-break)
      Oracle("""WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings
        |           WHERE vec_id < 100),
        |x AS (SELECT vec_id AS nid, embedding AS e FROM embeddings),
        |pf AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 65)) AS i)
        |      WHERE qid <> nid GROUP BY qid, nid),
        |rf AS (SELECT qid, nid, row_number() OVER
        |         (PARTITION BY qid
        |          ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |       FROM pf WHERE qq > 0 AND xx > 0),
        |pt AS (SELECT qid, nid,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS dot,
        |        SUM(CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)) AS qq,
        |        SUM(CAST(x.e[i] AS DOUBLE) * CAST(x.e[i] AS DOUBLE)) AS xx
        |      FROM q, x, (SELECT unnest(range(1, 17)) AS i)
        |      WHERE qid <> nid GROUP BY qid, nid),
        |rt AS (SELECT qid, nid, row_number() OVER
        |         (PARTITION BY qid
        |          ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |       FROM pt WHERE qq > 0 AND xx > 0)
        |SELECT f.qid, f.nid AS nid_full, t.nid AS nid_trunc,
        |       f.nid = t.nid AS agree
        |FROM rf f JOIN rt t ON f.qid = t.qid
        |WHERE f.rn = 1 AND t.rn = 1""".stripMargin)),
    // BM25 + dense cosine retrieval fused by reciprocal-rank fusion
    QuerySpec("rrf1_hybrid_topk", (s, d) =>
      Pipeline.hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"),
        rrfQueries),
      // RRF fusion of the shared BM25 ranking (lexr) and the sim1-form
      // dense ranking; score is pure rational arithmetic over ranks
      Oracle(s"""WITH $rrfFusedCtes
        |SELECT query_id, doc_id, ROUND(rrf, 6) AS rrf, rn FROM hyb
        |WHERE rn <= 10""".stripMargin)),
    // MMR diverse rerank: greedy 0.7·(1/rank) − 0.3·max-cos over the
    // bm25 top-8 candidates, 3 picks per query
    QuerySpec("r6_mmr_rerank", (s, d) =>
      Pipeline.mmrRerank(t(s, d, "documents"), t(s, d, "embeddings")),
      // MMR unrolled 3 greedy rounds over the bm25 top-8: candidate-pair
      // cosines ROUND 6dp before any argmax; (1 - 0.7) is COMPUTED so the
      // redundancy weight is the identical IEEE double both engines use;
      // argmax ties to the smallest doc_id
      Oracle(s"""WITH $bm25RankCtes,
        |mcand AS (SELECT query_id, doc_id, rn FROM lexr WHERE rn <= 8),
        |mnq AS (SELECT vec_id,
        |         SUM(CAST(embedding[ii.i] AS DOUBLE)
        |             * CAST(embedding[ii.i] AS DOUBLE)) AS qq
        |       FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
        |       GROUP BY 1),
        |ce AS (SELECT c.query_id, c.doc_id, c.rn, sqrt(n.qq) AS nrm
        |       FROM mcand c JOIN mnq n ON n.vec_id = c.doc_id
        |       WHERE n.qq > 0),
        |ccp AS (SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
        |          ROUND(SUM(CAST(ea.embedding[ii.i] AS DOUBLE)
        |              * CAST(eb.embedding[ii.i] AS DOUBLE))
        |            / (a.nrm * b.nrm), 6) AS cos
        |        FROM ce a JOIN ce b ON b.query_id = a.query_id
        |          AND b.doc_id <> a.doc_id
        |          JOIN embeddings ea ON ea.vec_id = a.doc_id
        |          JOIN embeddings eb ON eb.vec_id = b.doc_id,
        |          (SELECT unnest(range(1, 65)) AS i) ii
        |        GROUP BY 1, 2, 3, a.nrm, b.nrm),
        |mm1 AS (SELECT query_id, doc_id FROM (
        |          SELECT query_id, doc_id, row_number() OVER (
        |            PARTITION BY query_id ORDER BY rn) AS rk FROM ce)
        |        WHERE rk = 1),
        |mp2 AS (SELECT c.query_id, c.doc_id, c.rn, MAX(x.cos) AS pen
        |        FROM ce c JOIN mm1 ON mm1.query_id = c.query_id
        |          JOIN ccp x ON x.query_id = c.query_id
        |            AND x.da = c.doc_id AND x.db = mm1.doc_id
        |        WHERE c.doc_id <> mm1.doc_id
        |        GROUP BY 1, 2, 3),
        |mr2 AS (SELECT query_id, doc_id FROM (
        |          SELECT query_id, doc_id, row_number() OVER (
        |            PARTITION BY query_id
        |            ORDER BY 0.7 / rn - (1 - 0.7) * pen DESC, doc_id)
        |            AS rk FROM mp2) WHERE rk = 1),
        |msel2 AS (SELECT query_id, doc_id FROM mm1
        |          UNION ALL SELECT query_id, doc_id FROM mr2),
        |mp3 AS (SELECT c.query_id, c.doc_id, c.rn, MAX(x.cos) AS pen
        |        FROM ce c
        |          JOIN msel2 s ON s.query_id = c.query_id
        |          JOIN ccp x ON x.query_id = c.query_id
        |            AND x.da = c.doc_id AND x.db = s.doc_id
        |          LEFT JOIN msel2 me ON me.query_id = c.query_id
        |            AND me.doc_id = c.doc_id
        |        WHERE me.doc_id IS NULL
        |        GROUP BY 1, 2, 3),
        |mr3 AS (SELECT query_id, doc_id FROM (
        |          SELECT query_id, doc_id, row_number() OVER (
        |            PARTITION BY query_id
        |            ORDER BY 0.7 / rn - (1 - 0.7) * pen DESC, doc_id)
        |            AS rk FROM mp3) WHERE rk = 1)
        |SELECT query_id, CAST(1 AS INTEGER) AS step, doc_id FROM mm1
        |UNION ALL SELECT query_id, CAST(2 AS INTEGER), doc_id FROM mr2
        |UNION ALL SELECT query_id, CAST(3 AS INTEGER), doc_id FROM mr3"""
        .stripMargin)),
    // supervised next-action pairs: every prefix of the first 10 events
    // per user becomes (context, label)
    QuerySpec("seq2_next_event_pairs", (s, d) =>
      Pipeline.nextEventPairs(events(s, d), 10),
      // QUALIFY (not WHERE) so position-1 rows stay visible to the
      // string_agg frame while emitting no example themselves
      Oracle("""WITH r AS (SELECT user_id, ts, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS rn
        |           FROM events),
        |c AS (SELECT user_id, event_type, rn FROM r WHERE rn <= 10)
        |SELECT user_id, CAST(rn AS INTEGER) AS pos,
        |       string_agg(event_type, ',') OVER (PARTITION BY user_id
        |         ORDER BY rn
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         AS context,
        |       event_type AS label
        |FROM c QUALIFY rn >= 2""".stripMargin)),
    // per-dimension embedding health: quantized-integer mean/variance
    // catches dead dims and collapsed encoders
    QuerySpec("emb2_dim_stats", (s, d) =>
      Similarity.dimStats(t(s, d, "embeddings")),
      // quantized-integer sums (x·1e6 as BIGINT) make mean/variance exact
      // and engine-portable; arithmetic order mirrors Similarity.dimStats
      Oracle("""WITH e AS (SELECT CAST(i.i AS INTEGER) AS dim,
        |             CAST(embedding[i.i] AS DOUBLE) AS x
        |           FROM embeddings,
        |                (SELECT unnest(range(1, 65)) AS i) i),
        |q AS (SELECT dim, CAST(round(x * 1000000) AS BIGINT) AS qx
        |      FROM e)
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(CAST(SUM(qx) AS DOUBLE) / COUNT(*) / 1000000, 6)
        |         AS mean,
        |       ROUND(CAST(SUM(qx * qx) AS DOUBLE) / COUNT(*)
        |               / 1000000000000
        |             - POWER(CAST(SUM(qx) AS DOUBLE) / COUNT(*)
        |                       / 1000000, 2), 6) AS variance
        |FROM q GROUP BY dim""".stripMargin)),
    // per-dimension int8 quantization error report: exact min/max plus
    // RMSE/max-abs reconstruction error in exact 1/(255e6) units — the
    // float32->int8 storage-migration planning statistic
    QuerySpec("emb4_int8_quant", (s, d) =>
      Similarity.int8QuantStats(t(s, d, "embeddings")),
      // int8 quantization error: codes and errors in exact 1/(255e6)
      // units (E = 255*(qx-mn) - code*(mx-mn), int); only the final
      // rmse/max_abs_err divisions are float, on identical exact sums
      Oracle("""WITH e AS (SELECT CAST(i.i AS INTEGER) AS dim,
        |             CAST(embedding[i.i] AS DOUBLE) AS x
        |           FROM embeddings,
        |                (SELECT unnest(range(1, 65)) AS i) i),
        |q AS (SELECT dim, CAST(round(x * 1000000) AS BIGINT) AS qx
        |      FROM e),
        |b AS (SELECT dim, COUNT(*) AS n, MIN(qx) AS mn, MAX(qx) AS mx
        |      FROM q GROUP BY 1),
        |c AS (SELECT q.dim, n, mn, mx, qx,
        |        CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
        |             ELSE CAST(round(CAST(qx - mn AS DOUBLE) * 255.0
        |                    / CAST(mx - mn AS DOUBLE)) AS BIGINT)
        |        END AS code
        |      FROM q JOIN b USING (dim)),
        |r AS (SELECT dim, n, mn, mx,
        |        255 * (qx - mn) - code * (mx - mn) AS er
        |      FROM c)
        |SELECT dim, CAST(n AS BIGINT) AS n,
        |       ROUND(CAST(mn AS DOUBLE) / 1e6, 6) AS min_v,
        |       ROUND(CAST(mx AS DOUBLE) / 1e6, 6) AS max_v,
        |       ROUND(sqrt(CAST(SUM(CAST(er AS HUGEINT) * er) AS DOUBLE)
        |               / n) / 255e6, 6) AS rmse,
        |       ROUND(CAST(MAX(abs(er)) AS DOUBLE) / 255e6, 6)
        |         AS max_abs_err
        |FROM r GROUP BY dim, n, mn, mx""".stripMargin)),
    // whole-corpus mean pairwise cosine in ONE pass (sum-vector
    // identity, no n^2 join): the isotropy diagnostic
    QuerySpec("emb5_mean_cosine", (s, d) =>
      Similarity.meanCosine(t(s, d, "embeddings")),
      // sum-vector identity twin: normalized components quantize to 1e-6
      // ints (HALF_UP on identical doubles), both row-spanning sums exact
      // integers (HUGEINT), one final float ratio rounded 6dp
      Oracle("""WITH nn AS (SELECT vec_id,
        |        sqrt(SUM(CAST(embedding[ii.i] AS DOUBLE)
        |                 * CAST(embedding[ii.i] AS DOUBLE))) AS nrm
        |      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii
        |      GROUP BY 1),
        |vq AS (SELECT ii.i,
        |         CAST(round(CAST(e.embedding[ii.i] AS DOUBLE) / n.nrm
        |           * 1000000) AS BIGINT) AS qd
        |       FROM embeddings e JOIN nn n USING (vec_id),
        |         (SELECT unnest(range(1, 65)) AS i) ii
        |       WHERE n.nrm > 0),
        |per AS (SELECT i, CAST(SUM(qd) AS BIGINT) AS sd,
        |          SUM(CAST(qd AS HUGEINT) * qd) AS dd,
        |          CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM vq GROUP BY 1),
        |tot AS (SELECT SUM(CAST(sd AS HUGEINT) * sd) AS crossv,
        |          SUM(dd) AS diag, MAX(cnt) AS n FROM per)
        |SELECT n, ROUND(CAST(crossv - diag AS DOUBLE)
        |       / CAST(n * (n - 1) AS DOUBLE) / 1e12, 6) AS mean_cos
        |FROM tot""".stripMargin)),
    // portable power-iteration top principal component + anisotropy
    // (ev_ratio): all row-spanning sums are exact int64, so the 4-round
    // recursion replays bit-for-bit in the oracle's unrolled CTEs
    QuerySpec("emb3_top_pc", (s, d) =>
      Similarity.topPrincipalComponent(t(s, d, "embeddings"), 4),
      Oracle(powerIterSql(4))),
    // MRR/hit@10 of the hybrid retriever, ground truth = each query
    // vector's exact full-dim top-1 neighbor
    QuerySpec("r3_mrr_eval", (s, d) => {
      import s.implicits._
      val qrels = Similarity
        .bruteForceTopKIds(t(s, d, "embeddings"), rrfQueries.map(_._3), 1)
        .join(org.apache.spark.sql.functions.broadcast(
          rrfQueries.map(q => (q._1, q._3)).toDF("query_id", "qid")),
          "qid")
        .select($"query_id", $"nid".as("doc_id"))
      Pipeline.retrievalEval(
        Pipeline.hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"),
          rrfQueries),
        qrels, 10)
    },
      // qrels = each query vector's exact full-dim top-1 (dr rn=1);
      // rr = 1/first relevant rank in the hybrid top-10, 0 on a miss
      Oracle(s"""WITH $rrfFusedCtes,
        |qrel AS (SELECT qv.query_id, dr.nid AS doc_id
        |         FROM dr JOIN qv USING (qid) WHERE dr.rn = 1),
        |hits AS (SELECT qrel.query_id, MIN(h.rn) AS first_hit
        |         FROM qrel LEFT JOIN
        |           (SELECT * FROM hyb WHERE rn <= 10) h
        |           ON qrel.query_id = h.query_id
        |              AND qrel.doc_id = h.doc_id
        |         GROUP BY 1)
        |SELECT query_id,
        |       ROUND(COALESCE(CAST(1.0 AS DOUBLE) / first_hit,
        |                      CAST(0.0 AS DOUBLE)), 6) AS rr,
        |       first_hit IS NOT NULL AS hit
        |FROM hits""".stripMargin)),
    // MRR/hit@10 of the hybrid retriever against qrels built by the
    // ENGINE-PORTABLE blocked ANN (integer-quantized sign-LSH top-1) —
    // the oracle rebuilds the blocking bit-for-bit, so the rows-only ANN
    // family gains a hash-gated consumer
    QuerySpec("r4_ann_qrels_mrr", (s, d) => {
      import s.implicits._
      val qrels = Similarity
        .portableLshTop1(t(s, d, "embeddings"), rrfQueries.map(_._3))
        .join(org.apache.spark.sql.functions.broadcast(
          rrfQueries.map(q => (q._1, q._3)).toDF("query_id", "qid")),
          "qid")
        .select($"query_id", $"nid".as("doc_id"))
      Pipeline.retrievalEval(
        Pipeline.hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"),
          rrfQueries),
        qrels, 10)
    },
      // qrels from the ENGINE-PORTABLE sign-LSH: integer hyperplane weights
      // from the shared quadratic mix (Similarity.portableWeight — the
      // single source of truth for the formula) over 1e-6-quantized
      // components make every sign bit an exact integer comparison, so the
      // blocking reproduces bit-for-bit (Similarity.portableLshTop1,
      // bits=6); rerank + MRR mirror r3
      Oracle(s"""WITH $rrfFusedCtes,
        |$portableSigCtes,
        |lc AS (SELECT qv.query_id, qv.qid, ln.vec_id AS nid
        |       FROM qv
        |         JOIN ls lsq ON lsq.vec_id = qv.qid
        |         JOIN ls ln ON ln.sig = lsq.sig AND ln.vec_id <> qv.qid),
        |lp AS (SELECT lc.query_id, lc.nid,
        |         SUM(CAST(eq.embedding[ii.i] AS DOUBLE)
        |             * CAST(en.embedding[ii.i] AS DOUBLE)) AS dot,
        |         SUM(CAST(eq.embedding[ii.i] AS DOUBLE)
        |             * CAST(eq.embedding[ii.i] AS DOUBLE)) AS qq,
        |         SUM(CAST(en.embedding[ii.i] AS DOUBLE)
        |             * CAST(en.embedding[ii.i] AS DOUBLE)) AS xx
        |       FROM lc
        |         JOIN embeddings eq ON eq.vec_id = lc.qid
        |         JOIN embeddings en ON en.vec_id = lc.nid,
        |         (SELECT unnest(range(1, 65)) AS i) ii
        |       GROUP BY 1, 2),
        |lr AS (SELECT query_id, nid, row_number() OVER
        |         (PARTITION BY query_id
        |          ORDER BY dot / (sqrt(qq) * sqrt(xx)) DESC, nid) AS rn
        |       FROM lp WHERE qq > 0 AND xx > 0),
        |lqrel AS (SELECT query_id, nid AS doc_id FROM lr WHERE rn = 1),
        |lhits AS (SELECT lqrel.query_id, MIN(h.rn) AS first_hit
        |          FROM lqrel LEFT JOIN
        |            (SELECT * FROM hyb WHERE rn <= 10) h
        |            ON lqrel.query_id = h.query_id
        |               AND lqrel.doc_id = h.doc_id
        |          GROUP BY 1)
        |SELECT query_id,
        |       ROUND(COALESCE(CAST(1.0 AS DOUBLE) / first_hit,
        |                      CAST(0.0 AS DOUBLE)), 6) AS rr,
        |       first_hit IS NOT NULL AS hit
        |FROM lhits""".stripMargin)),
    // nDCG@10 of the same hybrid run under graded qrels (exact cosine
    // top-3 per query graded 3/2/1) — the whole-page companion to r3's
    // first-hit MRR; terms quantized to 1e-6 ints so the DCG sums are
    // exact and engine-portable
    QuerySpec("r5_ndcg_eval", (s, d) => {
      import s.implicits._
      val qrels = Similarity
        .bruteForceTopKIds(t(s, d, "embeddings"), rrfQueries.map(_._3), 3)
        .join(org.apache.spark.sql.functions.broadcast(
          rrfQueries.map(q => (q._1, q._3)).toDF("query_id", "qid")),
          "qid")
        .select($"query_id", $"nid".as("doc_id"),
          (org.apache.spark.sql.functions.lit(4) - $"rn").as("grade"))
      Pipeline.retrievalNdcg(
        Pipeline.hybridRrf(t(s, d, "documents"), t(s, d, "embeddings"),
          rrfQueries),
        qrels, 10)
    },
      // graded qrels = exact cosine top-3 (grade 4-rn); DCG/IDCG terms
      // quantized to 1e-6 ints so the sums are exact — only the final
      // ratio is float, mirrored op-for-op
      Oracle(s"""WITH $rrfFusedCtes,
        |gqrel AS (SELECT qv.query_id, dr.nid AS doc_id,
        |            4 - dr.rn AS grade
        |          FROM dr JOIN qv USING (qid) WHERE dr.rn <= 3),
        |gdcg AS (SELECT g.query_id,
        |           CAST(SUM(CAST(round((POWER(2, g.grade) - 1)
        |                  / log2(h.rn + 1) * 1e6) AS BIGINT)) AS BIGINT)
        |             AS dcg_q
        |         FROM gqrel g JOIN
        |           (SELECT * FROM hyb WHERE rn <= 10) h
        |           ON g.query_id = h.query_id AND g.doc_id = h.doc_id
        |         GROUP BY 1),
        |gidcg AS (SELECT query_id,
        |            CAST(SUM(CAST(round((POWER(2, grade) - 1)
        |                   / log2(pos + 1) * 1e6) AS BIGINT)) AS BIGINT)
        |              AS idcg_q
        |          FROM (SELECT query_id, grade,
        |                  row_number() OVER (PARTITION BY query_id
        |                    ORDER BY grade DESC, doc_id) AS pos
        |                FROM gqrel)
        |          WHERE pos <= 10 GROUP BY 1)
        |SELECT i.query_id,
        |       ROUND(CAST(COALESCE(d.dcg_q, 0) AS DOUBLE) / 1e6, 6)
        |         AS dcg,
        |       ROUND(CAST(i.idcg_q AS DOUBLE) / 1e6, 6) AS idcg,
        |       CASE WHEN i.idcg_q > 0 THEN
        |         ROUND(CAST(COALESCE(d.dcg_q, 0) AS DOUBLE) / i.idcg_q, 6)
        |       ELSE 0.0 END AS ndcg
        |FROM gidcg i LEFT JOIN gdcg d USING (query_id)""".stripMargin)),
    // C4-style config-driven blocklist gate: per-doc hit counts and an
    // integer-arithmetic keep flag at a 5% blocked-fraction cap
    QuerySpec("t16_blocklist", (s, d) =>
      TextAnalysis.blocklistFilter(t(s, d, "documents"),
        Seq("slow", "merge", "stream"), 20),
      Oracle("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS word FROM d)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |       CAST(SUM(CASE WHEN word IN ('slow', 'merge', 'stream')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
        |       (CAST(SUM(CASE WHEN word IN ('slow', 'merge', 'stream')
        |                      THEN 1 ELSE 0 END) AS BIGINT) * 20
        |         <= CAST(COUNT(*) AS BIGINT)) AS keep
        |FROM tok GROUP BY doc_id""".stripMargin)),
    // Unicode NFC + control-strip + whitespace-collapse normalization —
    // the first stage of every curation pipeline, oracle-gated against
    // DuckDB's nfc_normalize (both sides implement UAX#15)
    QuerySpec("t17_normalize_text", (s, d) =>
      TextAnalysis.normalizeText(t(s, d, "documents")),
      // NFC via DuckDB's nfc_normalize (UAX#15, agrees with
      // java.text.Normalizer); control-strip before \s+ collapse so the
      // Java-vs-RE2 \x0B class difference can never matter
      Oracle("""WITH c AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |       CAST(length(text) AS BIGINT) AS n_chars_raw,
        |       CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
        |       text <> clean_text AS changed
        |FROM c""".stripMargin)),
    // accent-folded tokenization (Text.foldAccents == DuckDB
    // strip_accents): the folded leg recovers the unaccented
    // tokenization, the raw leg shows each planted diacritic splitting
    // the word — hash-gated on both legs
    QuerySpec("t21_accent_fold_tokens", (s, d) =>
      TextAnalysis.accentFoldedTokenStats(t(s, d, "documents")),
      // the accented rendering is the same per-char translate on both
      // engines; folded leg = strip_accents (utf8proc) == Text.foldAccents
      // (NFD - marks - NFC), raw leg treats each accented char as a
      // boundary in both tokenizers
      Oracle(("""WITH a AS (SELECT doc_id,
        |  translate(text, 'aeiouAEIOU', 'áèîöúÀÉÎÖÜ') AS atext
        |  FROM documents),
        |t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(strip_accents(atext)),
        |    '[^a-z0-9]+'), x -> x <> '') AS ftoks,
        |  list_filter(string_split_regex(lower(atext),
        |    '[^a-z0-9]+'), x -> x <> '') AS rtoks
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(ftoks) AS INTEGER) AS n_tok_folded,
        |  CAST(len(rtoks) AS INTEGER) AS n_tok_raw,
        |  COALESCE(ftoks[1], '') AS head_tok
        |FROM t""").stripMargin)),
    // Jensen-Shannon categorical drift over event_type, even vs odd
    // event_id slices (the categorical companion of drift1's PSI)
    QuerySpec("drift2_js_categorical", (s, d) => {
      import org.apache.spark.sql.functions.col
      DataQuality.jsDivergence(events(s, d), "event_type",
        col("event_id") % 2 === 0)
    },
      // smoothing arithmetic mirrors DataQuality.jsDivergence exactly;
      // K = observed category count, m recomputed inline as (p+q)/2
      Oracle(
        """WITH b AS (SELECT event_type AS cat, (event_id % 2 = 0) AS is_ref
        |           FROM events WHERE event_type IS NOT NULL),
        |c AS (SELECT cat,
        |        CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_ref,
        |        CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_cur
        |      FROM b GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
        |        CAST(SUM(n_cur) AS DOUBLE) AS t_cur,
        |        CAST(COUNT(*) AS DOUBLE) AS k FROM c),
        |pq AS (SELECT cat, n_ref, n_cur,
        |        (n_ref + 1.0) / (t_ref + k) AS p,
        |        (n_cur + 1.0) / (t_cur + k) AS q
        |       FROM c CROSS JOIN t)
        |SELECT cat AS event_type, n_ref, n_cur,
        |       ROUND(0.5 * p * ln(p / ((p + q) / 2))
        |             + 0.5 * q * ln(q / ((p + q) / 2)), 6) AS js_term
        |FROM pq""".stripMargin)),
    // whole-schema referential-integrity gate over three fact->dim
    // relations (clean data reports zero orphans; the spec proves
    // detection on planted violations)
    QuerySpec("dq3_ref_integrity", (s, d) =>
      DataQuality.refIntegrity(events(s, d), "user_id",
          t(s, d, "customer"), "c_custkey",
          "events.user_id->customer.c_custkey")
        .union(DataQuality.refIntegrity(t(s, d, "orders"), "o_custkey",
          t(s, d, "customer"), "c_custkey",
          "orders.o_custkey->customer.c_custkey"))
        .union(DataQuality.refIntegrity(t(s, d, "lineitem"), "l_partkey",
          t(s, d, "part"), "p_partkey",
          "lineitem.l_partkey->part.p_partkey")),
      Oracle("""SELECT 'events.user_id->customer.c_custkey' AS relation,
        |       CAST(COUNT(*) AS BIGINT) AS n_child,
        |       CAST(COALESCE(SUM(CASE WHEN p.pk IS NULL
        |                              THEN 1 ELSE 0 END), 0)
        |            AS BIGINT) AS n_orphans
        |FROM (SELECT user_id AS ck FROM events
        |      WHERE user_id IS NOT NULL) c
        |LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p
        |  ON c.ck = p.pk
        |UNION ALL
        |SELECT 'orders.o_custkey->customer.c_custkey',
        |       CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(CASE WHEN p.pk IS NULL
        |                              THEN 1 ELSE 0 END), 0)
        |            AS BIGINT)
        |FROM (SELECT o_custkey AS ck FROM orders
        |      WHERE o_custkey IS NOT NULL) c
        |LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p
        |  ON c.ck = p.pk
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part.p_partkey',
        |       CAST(COUNT(*) AS BIGINT),
        |       CAST(COALESCE(SUM(CASE WHEN p.pk IS NULL
        |                              THEN 1 ELSE 0 END), 0)
        |            AS BIGINT)
        |FROM (SELECT l_partkey AS ck FROM lineitem
        |      WHERE l_partkey IS NOT NULL) c
        |LEFT JOIN (SELECT DISTINCT p_partkey AS pk FROM part) p
        |  ON c.ck = p.pk""".stripMargin)),
    // winsorized per-type moments of events.value: exact p05/p95 clip
    // bounds (integer-quantized), then exact-integer clipped mean/std
    QuerySpec("dq4_winsorized_stats", (s, d) =>
      DataQuality.winsorizedStats(events(s, d), "event_type", "value"),
      // winsorized moments: values quantized to 1e-6 ints, exact
      // interpolated percentiles rounded back to integer clip bounds, so
      // both row-spanning sums are exact integers (squared sum in int128);
      // mean/std are single double ops on identical exact inputs
      Oracle("""WITH q AS (SELECT event_type,
        |             CAST(round(value * 1e6) AS BIGINT) AS qv
        |           FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type,
        |        CAST(round(quantile_cont(qv, 0.05)) AS BIGINT) AS lo_q,
        |        CAST(round(quantile_cont(qv, 0.95)) AS BIGINT) AS hi_q
        |      FROM q GROUP BY 1),
        |c AS (SELECT q.event_type, lo_q, hi_q,
        |        LEAST(GREATEST(qv, lo_q), hi_q) AS cq
        |      FROM q JOIN b USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(CAST(MIN(lo_q) AS DOUBLE) / 1e6, 6) AS p_lo,
        |       ROUND(CAST(MIN(hi_q) AS DOUBLE) / 1e6, 6) AS p_hi,
        |       ROUND(CAST(SUM(cq) AS DOUBLE) / COUNT(*) / 1e6, 6)
        |         AS win_mean,
        |       ROUND(sqrt((CAST(SUM(CAST(cq AS HUGEINT) * cq) AS DOUBLE)
        |           - CAST(SUM(cq) AS DOUBLE) * SUM(cq) / COUNT(*))
        |           / (COUNT(*) - 1)) / 1e6, 6) AS win_std
        |FROM c GROUP BY 1""".stripMargin)),
    // deterministic Poisson-bootstrap CI for the corpus mean quality
    // score: replicate weights from the shared quadratic-residue hash,
    // exact int64 weighted sums, order-statistic interval
    QuerySpec("boot1_score_ci", (s, d) =>
      DataQuality.bootstrapScoreCi(t(s, d, "documents")),
      // Poisson-bootstrap replay: weights from the shared quadratic mix
      // mod 1000003 (inverse-CDF thresholds at 1e-6 Poisson(1) cum.
      // probabilities), weighted sums exact int64, order-stat CI on the
      // 32-row replicate-mean frame
      Oracle(s"""WITH $modelScoreCtes,
        |bqs AS (SELECT doc_id,
        |          CAST(round(score * 1000000) AS BIGINT) AS qs FROM qsc),
        |bw AS (SELECT bb.b, qs,
        |         (doc_id * 131 + bb.b) % 1000003 AS y
        |       FROM bqs CROSS JOIN
        |         (SELECT unnest(range(0, 32)) AS b) bb),
        |bu AS (SELECT b, qs,
        |         (1013 * y * y + 2654435761 * y) % 1000003 AS u FROM bw),
        |bp AS (SELECT b, qs,
        |         CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |              WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |              ELSE 4 END AS w FROM bu),
        |br AS (SELECT b, CAST(SUM(w * qs) AS BIGINT) AS sws,
        |         CAST(SUM(w) AS BIGINT) AS sw FROM bp GROUP BY 1),
        |bm AS (SELECT b, CAST(sws AS DOUBLE) / sw / 1e6 AS m
        |       FROM br WHERE sw > 0),
        |brk AS (SELECT m, row_number() OVER (ORDER BY m) AS rn,
        |          COUNT(*) OVER () AS mm FROM bm),
        |bnd AS (SELECT GREATEST(1, CAST(ceil(mm * 0.025) AS BIGINT)) AS lo,
        |          LEAST(mm, GREATEST(
        |            GREATEST(1, CAST(ceil(mm * 0.025) AS BIGINT)),
        |            CAST(floor(mm * 0.975) AS BIGINT))) AS hi
        |        FROM brk LIMIT 1),
        |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |           CAST(SUM(qs) AS BIGINT) AS sqs FROM bqs)
        |SELECT n_docs, CAST(32 AS BIGINT) AS n_reps,
        |       ROUND(CAST(sqs AS DOUBLE) / n_docs / 1e6, 6) AS mean_score,
        |       ROUND((SELECT m FROM brk, bnd WHERE rn = lo), 6) AS lo95,
        |       ROUND((SELECT m FROM brk, bnd WHERE rn = hi), 6) AS hi95
        |FROM btot""".stripMargin)),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    ListMap.from(registry.map(q => q.name -> q.build))

  val oracleSql: Map[String, String] = ListMap.from(registry.collect {
    case QuerySpec(name, _, Oracle(sql)) => name -> sql
  })

  /** The registry entries named in a comma-separated list (all of them
    * for `None`), in registry order. An unknown name throws: a misspelled
    * subset must fail, not silently run or dump nothing. */
  def select(names: Option[String]): Seq[QuerySpec] = names match {
    case None => registry
    case Some(list) =>
      val wanted = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = wanted.filterNot(queries.contains)
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      registry.filter(q => wanted(q.name))
  }
}
