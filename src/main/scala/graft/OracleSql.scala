package graft

import graft.functions.{Dates, Strings}
import graft.pipeline.{Sampling, Similarity, TextAnalysis}

/** DuckDB-equivalent SQL for each SparkEntry query. Where a query
  * depends on engine constants (holiday calendar, stopword list,
  * language markers, state map, LSH hyperplanes), the SQL is GENERATED
  * from the same Scala values the operators use, so oracle and engine
  * cannot drift. EVERY query has an entry — no rows-only checks.
  */
object OracleSql {

  // ---- shared fragments -------------------------------------------

  private lazy val holidaySqlList: String =
    Dates.usTradingHolidays(1960, 2040).map(d => s"'$d'").mkString(", ")

  /** cal2: every day 1960-2040 with ord0 = ordinal of the latest
    * trading day <= it; td: ordinal -> trading day. Mirrors
    * Dates.calendarWithOrdinals (ordinals start at 0 on 1960-01-04's
    * predecessor convention: first trading day has ord 0).
    */
  private lazy val calendarCtes: String = {
    val istd = s"(dayofweek(day) NOT IN (0, 6) AND strftime(day, '%Y-%m-%d') NOT IN ($holidaySqlList))"
    s"""days AS (SELECT CAST(unnest(generate_series(DATE '1960-01-01', DATE '2040-12-31', INTERVAL 1 DAY)) AS DATE) AS day),
cal2 AS (SELECT day, $istd AS istd, sum(CASE WHEN $istd THEN 1 ELSE 0 END) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS ord0 FROM days),
td AS (SELECT ord0 AS ord, day FROM cal2 WHERE istd)"""
  }

  /** Normalization used by fingerprintMd5 / exact dedup. */
  private val fpNorm =
    "regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9\\p{L}]+', ' ', 'g')), '\\s+', ' ', 'g')"

  /** Word list used by wordShingles (minhash / jaccard). */
  private val wordsSql =
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

  /** n-gram word-shingle list mirroring Dedup.wordShingles(n). */
  /** Distinct char-window list over the normalized column `t`,
    * mirroring Contamination.charDigests' arithmetic (grid windows at
    * `stride`, tail window flush with the end, short texts whole).
    */
  /** The winnowing replay CTE chain ending in
    * `sel(doc_id, t, pos, h)` — gram hashes (base-31 mod-prime over
    * the q_rolling_hash normalization) and the per-window-start
    * rightmost-min selection, parameterized on (k, w).
    */
  private def winnowCtes(k: Int, w: Int): String =
    s"""norm AS (
  SELECT doc_id, regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+', ' ', 'g') AS t
  FROM documents),
cs AS (
  SELECT doc_id, list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS c
  FROM norm WHERE len(t) >= $k),
gh0 AS (SELECT doc_id, unnest(range(0, len(c) - ${k - 1})) AS j, c FROM cs),
gh AS (
  SELECT doc_id, j,
         list_reduce(list_prepend(CAST(0 AS BIGINT), c[j+1:j+$k]), (acc, x) -> (acc * 31 + x) % ${TextAnalysis.rollingHashMod}) AS h
  FROM gh0),
ng AS (SELECT doc_id, count(*) AS n FROM gh GROUP BY 1),
st AS (SELECT doc_id, unnest(range(0, greatest(n - $w, 0) + 1)) AS t, n FROM ng),
wj AS (
  SELECT s.doc_id, s.t, s.t + o.o AS j
  FROM st s CROSS JOIN range(0, $w) o(o)
  WHERE s.t + o.o <= s.n - 1),
wm AS (
  SELECT w.doc_id, w.t, min(g.h) AS mh
  FROM wj w JOIN gh g ON g.doc_id = w.doc_id AND g.j = w.j
  GROUP BY 1, 2),
sel AS (
  SELECT m.doc_id, m.t, max(w.j) AS pos, m.mh AS h
  FROM wm m JOIN wj w ON w.doc_id = m.doc_id AND w.t = m.t
  JOIN gh g ON g.doc_id = w.doc_id AND g.j = w.j
  WHERE g.h = m.mh
  GROUP BY 1, 2, 4)"""

  private def charWindowsSql(window: Int, stride: Int): String =
    s"""CASE
  WHEN length(t) = 0 THEN []
  WHEN length(t) <= $window THEN [t]
  ELSE list_distinct(list_append(
    list_transform(range(0, CAST(floor((length(t) - $window) / $stride.0) + 1 AS BIGINT)),
      i -> substring(t, CAST(i * $stride + 1 AS INT), $window)),
    substring(t, length(t) - ${window - 1}, $window))) END"""

  private def shinglesSql(n: Int): String = {
    val gram = (0 until n).map(k => s"$wordsSql[i+$k]").mkString(" || ' ' || ")
    s"(CASE WHEN len($wordsSql) - ${n - 1} > 0 THEN list_transform(range(1, len($wordsSql) - ${n - 2}), i -> $gram) ELSE [] END)"
  }

  private lazy val shingles3 = shinglesSql(3)

  /** Alphanumeric word list used by simhash / rolling hash. */
  private val alnumWords =
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"

  /** Replay of ZOrder.withZBucket over events (value, user_id): exact
    * equi-depth quantile cuts per column rounded to 6 dp, bucket =
    * #cuts <= v, bit-interleaved z, then exact z-quantile file
    * buckets — the deterministic row->file mapping of
    * Sink.writeZOrdered, cell for cell.
    */
  private def zorderSql(bits: Int, nBuckets: Int): String = {
    val n = 1 << bits
    val ps0 = (1 until n).map(i => s"$i.0/$n").mkString(", ")
    val psf = (1 until nBuckets).map(i => s"$i.0/$nBuckets").mkString(", ")
    val inter = (0 until bits).flatMap(j => Seq(
      s"(((b0 >> $j) & 1) << ${2 * j})", s"(((b1 >> $j) & 1) << ${2 * j + 1})"))
      .mkString(" | ")
    s"""WITH c0 AS (SELECT list_transform(quantile_cont(value, [$ps0]), c -> round(c, 6)) AS cuts FROM events),
c1 AS (SELECT list_transform(quantile_cont(CAST(user_id AS DOUBLE), [$ps0]), c -> round(c, 6)) AS cuts FROM events),
b AS (SELECT event_id,
len(list_filter(c0.cuts, c -> c <= value)) AS b0,
len(list_filter(c1.cuts, c -> c <= CAST(user_id AS DOUBLE))) AS b1
FROM events CROSS JOIN c0 CROSS JOIN c1),
z AS (SELECT event_id, $inter AS zvalue FROM b),
zc AS (SELECT list_transform(quantile_cont(CAST(zvalue AS DOUBLE), [$psf]), c -> round(c, 6)) AS cuts FROM z)
SELECT z.event_id, z.zvalue, len(list_filter(zc.cuts, c -> c <= CAST(z.zvalue AS DOUBLE))) AS zbucket
FROM z CROSS JOIN zc"""
  }

  private val portfolioCuts5 =
    """c AS (SELECT l_returnflag,
quantile_cont(l_extendedprice, 0.2) AS c1, quantile_cont(l_extendedprice, 0.4) AS c2,
quantile_cont(l_extendedprice, 0.6) AS c3, quantile_cont(l_extendedprice, 0.8) AS c4
FROM lineitem GROUP BY 1)"""

  private val portfolioAssign5 =
    "1 + CAST(l_extendedprice > c1 AS INT) + CAST(l_extendedprice > c2 AS INT) + CAST(l_extendedprice > c3 AS INT) + CAST(l_extendedprice > c4 AS INT)"

  private val asofCtes =
    """r AS (SELECT user_id AS o_custkey, CAST(ts AS DATE) AS edate, round(max(value), 6) AS val FROM events GROUP BY 1, 2),
l AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS odate FROM orders)"""

  private val ffillBase =
    """b AS (SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value), 6) AS mval FROM events GROUP BY 1, 2),
s AS (SELECT u.user_id, m.day FROM (SELECT DISTINCT user_id FROM b) u CROSS JOIN (SELECT DISTINCT day FROM b) m),
j AS (SELECT s.user_id, s.day, b.mval FROM s LEFT JOIN b USING (user_id, day))"""

  // ---- generated fragments ----------------------------------------

  private lazy val stateCaseSql: String = {
    val whens = Strings.stateToAbbrev.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '${k.replace("'", "''")}' THEN '$v'" }
      .mkString(" ")
    s"CASE n_name $whens ELSE n_name END"
  }

  private lazy val corrPairsSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val parts = for {
      i <- cols.indices
      j <- cols.indices
      if j >= i
    } yield s"SELECT '${cols(i)}' AS col1, '${cols(j)}' AS col2, round(corr(${cols(i)}, ${cols(j)}), 6) AS corr FROM lineitem"
    parts.mkString("\nUNION ALL\n")
  }

  private lazy val qualitySql: String = {
    val punctRe = """[\.,;:!\?''"\(\)]""" // '' = escaped quote inside SQL literal
    val stopHits = TextAnalysis.defaultStopwords
      .map(w => s"(length(text) - length(regexp_replace(text, '(?i)\\b$w\\b', '', 'g'))) / ${w.length}")
      .mkString(" + ")
    s"""WITH b AS (SELECT doc_id, text, CAST(length(text) AS INT) AS chars,
CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS toks
FROM documents)
SELECT doc_id, chars AS q_chars, toks AS q_tokens,
round(CASE WHEN toks > 0 THEN CAST(chars - (toks - 1) AS DOUBLE) / toks ELSE 0.0 END, 6) AS q_mean_tok_len,
round(CASE WHEN chars > 0 THEN CAST(length(text) - length(regexp_replace(text, '$punctRe', '', 'g')) AS DOUBLE) / chars ELSE 0.0 END, 6) AS q_punct_ratio,
round(CASE WHEN chars > 0 THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / chars ELSE 0.0 END, 6) AS q_digit_ratio,
round(CASE WHEN chars > 0 THEN CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / chars ELSE 0.0 END, 6) AS q_upper_ratio,
round(CASE WHEN toks > 0 THEN CAST($stopHits AS DOUBLE) / toks ELSE 0.0 END, 6) AS q_stop_ratio
FROM b"""
  }

  /** Overlapping word-window chunks mirroring
    * TextAnalysis.chunkDocuments(chunkSize, overlap): starts at
    * multiples of step while `start + overlap < nWords` (start 0
    * always), chunk_id = start / step (dropped starts are always a
    * suffix, so positions survive the filter).
    */
  private def chunkSql(chunkSize: Int, overlap: Int): String = {
    val step = chunkSize - overlap
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents WHERE length(trim(text)) > 0),
sel AS (SELECT doc_id, ws, unnest(list_filter(range(0, CAST(len(ws) AS BIGINT), $step), s -> s = 0 OR s + $overlap < len(ws))) AS s FROM w)
SELECT doc_id, CAST(s // $step AS INT) AS chunk_id,
array_to_string(list_slice(ws, CAST(s + 1 AS INT), CAST(s + $chunkSize AS INT)), ' ') AS chunk,
CAST(least(len(ws) - s, $chunkSize) AS INT) AS n_tokens
FROM sel"""
  }

  /** Gopher quality rules mirroring TextAnalysis.gopherQuality —
    * stopword terms generated from the SAME Scala constant the
    * operator uses. Every ratio is an exact int/int double division
    * on both engines, so the unrounded keep comparisons agree.
    */
  private def gopherSql(minWords: Int, maxWords: Int): String = {
    val stopSum = TextAnalysis.gopherStopwords
      .map(sw => s"CAST(list_contains(lws, '$sw') AS INT)")
      .mkString(" + ")
    s"""WITH b AS (SELECT doc_id, text,
CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS toks,
regexp_split_to_array(trim(text), '\\s+') AS ws,
list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> lower(w)) AS lws,
string_split(text, chr(10)) AS lines
FROM documents),
m AS (SELECT doc_id, toks,
CASE WHEN toks > 0 THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / toks ELSE 0.0 END AS mean_word_len,
CASE WHEN toks > 0 THEN ((length(text) - length(replace(text, '#', ''))) / 1 + (length(text) - length(replace(text, '...', ''))) / 3) / toks ELSE 0.0 END AS symbol_ratio,
CAST(len(list_filter(lines, l -> substring(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS DOUBLE) / len(lines) AS bullet_frac,
CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE) / len(lines) AS ellipsis_frac,
CASE WHEN toks > 0 THEN CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / toks ELSE 0.0 END AS alpha_frac,
CAST($stopSum AS INT) AS n_stop
FROM b)
SELECT doc_id, toks AS n_words,
round(mean_word_len, 6) AS mean_word_len,
round(symbol_ratio, 6) AS symbol_ratio,
round(bullet_frac, 6) AS bullet_frac,
round(ellipsis_frac, 6) AS ellipsis_frac,
round(alpha_frac, 6) AS alpha_frac,
n_stop,
CAST((toks >= $minWords AND toks <= $maxWords
  AND mean_word_len >= 3 AND mean_word_len <= 10
  AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
  AND alpha_frac >= 0.8 AND n_stop >= 2) AS INT) AS keep
FROM m"""
  }

  private lazy val langIdSql: String = {
    // score columns, then the exact argmax fold of TextAnalysis.langId
    // (first language wins ties, later languages only replace on
    // strictly-greater score)
    val p = "(' ' || lower(text) || ' ')"
    val scores = TextAnalysis.langMarkers.map { case (lang, ws) =>
      val terms = ws.map { w =>
        val esc = w.replace("'", "''")
        s"(length($p) - length(replace($p, '$esc', ''))) / ${w.length}"
      }.mkString(" + ")
      lang -> terms
    }
    val scoreCols = scores.map { case (l, e) => s"($e) AS s_$l" }.mkString(",\n")
    var bl = s"'${scores.head._1}'"
    var bs = s"s_${scores.head._1}"
    for ((l, _) <- scores.tail) {
      val nbl = s"(CASE WHEN s_$l > $bs THEN '$l' ELSE $bl END)"
      val nbs = s"(CASE WHEN s_$l > $bs THEN s_$l ELSE $bs END)"
      bl = nbl
      bs = nbs
    }
    s"""WITH s0 AS (SELECT doc_id,
$scoreCols
FROM documents)
SELECT doc_id, $bl AS lang_pred FROM s0"""
  }

  /** `bits`-wide simhash bit-string over a word-list column `ws` —
    * mirrors Dedup.simhashFromMd5s(transform(ws, md5), bits).
    */
  private def simhashBitsExpr(bits: Int): String = {
    val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f").map(h => s"'$h'").mkString(", ")
    (0 until bits).map { i =>
      s"(CASE WHEN list_sum(list_transform(ws, x -> CASE WHEN substring(md5(x), ${i + 1}, 1) IN ($hexHigh) THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
  }

  private lazy val simhashSql: String =
    s"""WITH w AS (SELECT doc_id, $alnumWords AS ws FROM documents)
SELECT doc_id, ${simhashBitsExpr(16)} AS sh FROM w"""

  /** Banded simhash candidates + exact hamming — mirrors
    * Dedup.simhashCandidates(bits=32, bands=4, maxHamming=3,
    * maxBucketSize=100) including the hot-bucket cap.
    */
  private lazy val simhashCandidatesSql: String = {
    val bandsigs = (0 until 4).map(b => s"substring(sh, ${b * 8 + 1}, 8)").mkString(", ")
    val hamming = (1 to 32)
      .map(i => s"(CASE WHEN substring(a.sh, $i, 1) <> substring(b2.sh, $i, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, $alnumWords AS ws FROM documents),
s AS (SELECT doc_id, ${simhashBitsExpr(32)} AS sh FROM w),
banded0 AS (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS b, unnest([$bandsigs]) AS bandsig FROM s),
banded AS (SELECT * FROM banded0 QUALIFY count(*) OVER (PARTITION BY b, bandsig) <= 100),
cand AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, count(*) AS n_band_matches, min($hamming) AS hamming
FROM banded a JOIN banded b2 ON a.b = b2.b AND a.bandsig = b2.bandsig AND a.doc_id < b2.doc_id
GROUP BY 1, 2)
SELECT id_a, id_b, n_band_matches, CAST(hamming AS INT) AS hamming FROM cand WHERE hamming <= 3"""
  }

  /** Shared CTE chain: shingles -> minhash signature -> banded LSH
    * candidate pairs (mirrors Dedup.minhashCandidates exactly,
    * INCLUDING the maxBucketSize=1000 hot-bucket cap — no bucket at
    * the test SFs reaches it, but oracle and engine must agree by
    * construction at any scale, not by luck).
    */
  private lazy val minhashCtes: String = {
    // lane k = min over shingles of hex chars [8*(k%4)+1, 8) of
    // md5(s || '#'*(k/4)) — mirrors Dedup.minhashSignature's
    // slice-per-lane family (4 lanes per digest)
    val mins = (0 until 8).map { k =>
      val src = if (k < 4) "s" else "s || '#'"
      s"list_min(list_transform(sg, s -> substring(md5($src), ${(k % 4) * 8 + 1}, 8)))"
    }.mkString(", ")
    val bandsigs = (0 until 4).map(b => s"sig[${2 * b + 1}] || '|' || sig[${2 * b + 2}]").mkString(", ")
    s"""sh AS (SELECT doc_id, $shingles3 AS sg FROM documents),
sig AS (SELECT doc_id, [$mins] AS sig FROM sh WHERE len(sg) > 0),
banded0 AS (SELECT doc_id, unnest([0, 1, 2, 3]) AS b, unnest([$bandsigs]) AS bandsig FROM sig),
banded AS (SELECT * FROM banded0 QUALIFY count(*) OVER (PARTITION BY b, bandsig) <= 1000),
cand AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, count(*) AS n_band_matches
FROM banded a JOIN banded b2 ON a.b = b2.b AND a.bandsig = b2.bandsig AND a.doc_id < b2.doc_id
GROUP BY 1, 2)"""
  }

  private lazy val minhashSql: String =
    s"""WITH $minhashCtes
SELECT id_a, id_b, n_band_matches FROM cand"""

  /** Cross-corpus (bipartite) banded MinHash — mirrors
    * Dedup.crossCorpusCandidates over the %37 eval/train split: same
    * signature lanes as [[minhashCtes]] but EIGHT one-hash bands
    * (numHashes=8, bands=8 — the gated parameterization, sized so the
    * sf0.01 gate hashes tens of rows rather than one), the bucket cap
    * counts the COMBINED sides, and the pair join crosses sides only.
    * Shared CTE prefix for the candidate and verified queries.
    */
  private lazy val crossCandCtes: String = {
    val mins = (0 until 8).map { k =>
      val src = if (k < 4) "s" else "s || '#'"
      s"list_min(list_transform(sg, s -> substring(md5($src), ${(k % 4) * 8 + 1}, 8)))"
    }.mkString(", ")
    // rowsPerBand = 1: each band signature is a single lane value
    val bandsigs = (0 until 8).map(b => s"sig[${b + 1}]").mkString(", ")
    s"""shx AS (SELECT doc_id, $shingles3 AS sg,
CASE WHEN doc_id % 37 = 0 THEN 0 ELSE 1 END AS side FROM documents),
sig AS (SELECT doc_id, side, [$mins] AS sig FROM shx WHERE len(sg) > 0),
banded0 AS (SELECT doc_id, side, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS b, unnest([$bandsigs]) AS bandsig FROM sig),
banded AS (SELECT * FROM banded0 QUALIFY count(*) OVER (PARTITION BY b, bandsig) <= 1000),
cand AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b, count(*) AS n_band_matches
FROM banded a JOIN banded b2 ON a.b = b2.b AND a.bandsig = b2.bandsig
WHERE a.side = 0 AND b2.side = 1
GROUP BY 1, 2)"""
  }

  private lazy val crossMinhashSql: String =
    s"""WITH $crossCandCtes
SELECT id_a, id_b, n_band_matches FROM cand"""

  /** The fuzzy-decontamination DECISION — mirrors
    * Dedup.crossCorpusVerifiedWithCleanup: exact word-shingle Jaccard
    * on the bipartite candidates, `dropped` = jac >= 0.5 computed on
    * the UNROUNDED ratio exactly like the engine.
    */
  private lazy val crossVerifiedSql: String = {
    val jacExpr =
      """CASE WHEN len(list_distinct(list_concat(a.sg, b.sg))) > 0
THEN CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg, b.sg))) AS DOUBLE)
ELSE 0.0 END"""
    s"""WITH $crossCandCtes,
shd AS (SELECT doc_id, list_distinct(sg) AS sg FROM shx)
SELECT c.id_a, c.id_b, c.n_band_matches,
round($jacExpr, 6) AS jac,
CAST($jacExpr >= 0.5 AS INT) AS dropped
FROM cand c JOIN shd a ON c.id_a = a.doc_id JOIN shd b ON c.id_b = b.doc_id"""
  }

  /** Sign-LSH ANN — mirrors Similarity.lshTopK(k=5, dims=64, planes=8,
    * probes=2). The hyperplane values are EMBEDDED from the very
    * planeMatrix the operator evaluates (anti-drift by construction);
    * UNION dedups (query, neighbor) pairs across probes exactly like
    * the engine's dropDuplicates (score is deterministic per pair).
    */
  private lazy val annLshSql: String = {
    def bucketExpr(seed: Int): String =
      Similarity.planeMatrix(8, 64, seed).map { plane =>
        val lst = plane.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> emb[i] * ($lst)[i])) >= 0 THEN '1' ELSE '0' END)"
      }.mkString(" || ")
    val probes = (0 until 2).map { probe =>
      val seed = 42 + probe
      s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, round(list_cosine_similarity(q.emb, c.emb), 4) AS score
FROM (SELECT vec_id, emb, ${bucketExpr(seed)} AS b FROM e WHERE vec_id % 50 = 0) q
JOIN (SELECT vec_id, emb, ${bucketExpr(seed)} AS b FROM e) c ON q.b = c.b AND q.vec_id <> c.vec_id"""
    }.mkString("\nUNION\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
allp AS ($probes),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS "rank" FROM allp)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5"""
  }

  /** Lloyd k-means mirroring Similarity.kmeansCentroids +
    * kmeansAssign cell-for-cell: md5-ordered init draw, per-iteration
    * (rounded cosine desc, cent_id asc) rank-1 assignment, and
    * per-dimension means rounded to 6 decimals reassembled in
    * dimension order — the iterations are UNROLLED as one CTE pair
    * per round, so the oracle replays the exact training trajectory.
    */
  /** FLAT rank-1 corpus-assignment CTE — mirrors
    * Similarity.ivfAssign(keep = 1) as the cell route: the engine
    * takes this route whenever the centroid set has fewer than
    * Similarity.TwoLevelMinNlist (64) rows. Emits `ca` carrying
    * ($outId, emb, cent_id).
    */
  private def flatCaCte(cents: String, src: String, outId: String,
                        out: String = "ca", srcAlias: String = "f0"): String =
    s"""$out AS (SELECT $outId, emb, cent_id FROM (
SELECT $srcAlias.vec_id AS $outId, $srcAlias.emb, cent_id,
row_number() OVER (PARTITION BY $srcAlias.vec_id ORDER BY round(list_cosine_similarity($srcAlias.emb, cemb), 4) DESC, cent_id) AS cr
FROM $src $srcAlias CROSS JOIN $cents) t WHERE cr = 1)"""

  /** ROUTED IVF corpus-assignment replay — mirrors
    * Similarity.ivfAssignTwoLevel's route switch exactly: FLAT rank-1
    * when count($cents) < 64 (Similarity.TwoLevelMinNlist) AND
    * count($src) < 100000 (Similarity.TwoLevelMinRows), TWO-LEVEL
    * otherwise (⌈√nlist⌉ super-centroids by the md5-order draw FROM
    * the centroid set, rank-1 centroid→super membership, then each
    * vector ranks the LIVE supers and only the winner group's
    * members; every rank = rounded-cosine desc, id asc). Both
    * branches are always planned but each filters its SOURCE rows on
    * the count guard, so the inactive branch's cross joins run over
    * zero rows — structural pruning, no reliance on the optimizer
    * constant-folding the scalar subqueries. Emits CTEs `nlr, nvr,
    * cfl, caf, ctl, sups0, mem, sups, va, ca2, ca`; `ca` carries
    * ($outId, emb, cent_id). Used by every IVF cell-routing oracle
    * (auto-sized AND fixed-quantizer — the fitted query's route
    * depends on the corpus size, so even a static nlist needs the
    * runtime branch). kmeans/semdedup stay on the flat
    * [[kmeansAssignCte]] (Lloyd assignment is the algorithm, not a
    * routing shortcut).
    */
  /** One recallReport config row as a self-contained query: the
    * brute-force top-k truth and the routed-IVF top-k both re-derive
    * inside one WITH chain (the standard nonzero/centroid/route CTEs),
    * then recall = |bf ∩ iv| / |bf| and
    * probed_fraction = least(1, nprobe / resolved) — both single IEEE
    * divisions of exact integer counts, so the engine's
    * `hits.toDouble / total` matches bit-for-bit.
    */
  private def recallConfigSql(
      k: Int,
      qmod: Int,
      nlistSql: String,
      nprobe: Int,
      nlistOut: Int
  ): String =
    s"""SELECT * FROM (
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % $qmod = 0),
bfs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, round(list_cosine_similarity(q.emb, c.emb), 4) AS score FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
bf AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rk FROM bfs) t WHERE rk <= $k),
res AS (SELECT CAST(least($nlistSql, (SELECT count(*) FROM c)) AS BIGINT) AS resolved),
cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= (SELECT resolved FROM res)),
${routedCaCtes("cents", "c", "neighbor_id")},
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= $nprobe),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) WHERE qa.query_id <> ca.neighbor_id),
iv AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM s) t WHERE rk <= $k)
SELECT CAST($nlistOut AS INT) AS nlist, CAST($nprobe AS INT) AS nprobe,
  CAST((SELECT resolved FROM res) AS INT) AS resolved_nlist,
  least(1.0, CAST($nprobe AS DOUBLE) / (SELECT resolved FROM res)) AS probed_fraction,
  (SELECT count(*) FROM bf JOIN iv USING (query_id, neighbor_id)) * 1.0 / (SELECT count(*) FROM bf) AS recall_at_k
) cfg_${nlistOut}_$nprobe"""

  private def routedCaCtes(cents: String, src: String, outId: String): String =
    s"""nlr AS (SELECT count(*) AS nl FROM $cents),
nvr AS (SELECT count(*) AS nv FROM $src),
cfl AS (SELECT * FROM $src WHERE (SELECT nl FROM nlr) < ${graft.pipeline.Similarity.TwoLevelMinNlist} AND (SELECT nv FROM nvr) < ${graft.pipeline.Similarity.TwoLevelMinRows}),
${flatCaCte(cents, "cfl", outId, out = "caf")},
ctl AS (SELECT * FROM $src WHERE NOT ((SELECT nl FROM nlr) < ${graft.pipeline.Similarity.TwoLevelMinNlist} AND (SELECT nv FROM nvr) < ${graft.pipeline.Similarity.TwoLevelMinRows})),
sups0 AS (SELECT cent_id AS sup_id, cemb AS semb FROM $cents
QUALIFY row_number() OVER (ORDER BY md5(CAST(cent_id AS VARCHAR)), cent_id)
  <= CAST(ceil(sqrt((SELECT count(*) FROM $cents))) AS BIGINT)),
mem AS (SELECT cent_id, cemb, sup_id FROM (
SELECT cn.cent_id, cn.cemb, sup_id,
row_number() OVER (PARTITION BY cn.cent_id ORDER BY round(list_cosine_similarity(cn.cemb, semb), 4) DESC, sup_id) AS sr
FROM $cents cn CROSS JOIN sups0) t WHERE sr = 1),
sups AS (SELECT sup_id, semb FROM sups0 WHERE sup_id IN (SELECT sup_id FROM mem)),
va AS (SELECT vec_id, emb, sup_id FROM (
SELECT s0.vec_id, s0.emb, sup_id,
row_number() OVER (PARTITION BY s0.vec_id ORDER BY round(list_cosine_similarity(s0.emb, semb), 4) DESC, sup_id) AS sr
FROM ctl s0 CROSS JOIN sups) t WHERE sr = 1),
ca2 AS (SELECT $outId, emb, cent_id FROM (
SELECT va.vec_id AS $outId, va.emb, mem.cent_id,
row_number() OVER (PARTITION BY va.vec_id ORDER BY round(list_cosine_similarity(va.emb, mem.cemb), 4) DESC, mem.cent_id) AS cr
FROM va JOIN mem ON va.sup_id = mem.sup_id) t WHERE cr = 1),
ca AS (SELECT $outId, emb, cent_id FROM caf UNION ALL SELECT $outId, emb, cent_id FROM ca2)"""

  /** Rank-1 nearest-centroid assignment CTE — the oracle mirror of
    * Similarity.ivfAssign(keep = 1), shared by the kmeans and
    * semdedup oracles.
    */
  private def kmeansAssignCte(out: String, cents: String, src: String = "c"): String =
    s"""$out AS (SELECT vec_id, emb, cent_id FROM (
SELECT $src.vec_id, $src.emb, cent_id,
row_number() OVER (PARTITION BY $src.vec_id ORDER BY round(list_cosine_similarity($src.emb, cemb), 4) DESC, cent_id) AS cr
FROM $src CROSS JOIN $cents) t WHERE cr = 1)"""

  /** Lloyd-training CTE chain mirroring Similarity.kmeansCentroids:
    * md5-ordered init draw, then per iteration a rank-1 assignment
    * and per-dimension means rounded to 6 decimals reassembled in
    * dimension order. Assumes a CTE `c(vec_id, emb)` is in scope;
    * ends by defining `cents$iters`.
    */
  private def kmeansTrainCtes(k: Int, iters: Int, dims: Int,
                              src: String = "c", pfx: String = ""): String = {
    val rounds = (0 until iters).map { i =>
      s"""${kmeansAssignCte(s"${pfx}a$i", s"${pfx}cents$i", src)},
${pfx}m$i AS (SELECT cent_id, d, round(avg(emb[d]), 6) AS m FROM ${pfx}a$i CROSS JOIN (SELECT unnest(range(1, ${dims + 1})) AS d) dims GROUP BY cent_id, d),
${pfx}cents${i + 1} AS (SELECT cent_id, list(m ORDER BY d) AS cemb FROM ${pfx}m$i GROUP BY cent_id)"""
    }.mkString(",\n")
    s"""${pfx}cents0 AS (SELECT vec_id AS cent_id, emb AS cemb FROM $src ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
$rounds"""
  }

  /** IVF-PQ mirroring Similarity.pqTopK stage-for-stage: the exact
    * ivf coarse pruning (md5 centroid draw, rank-1 corpus cells,
    * nprobe query cells), then per-subspace Lloyd trainings (the
    * kmeansTrainCtes chain, CTE-prefixed per subspace over the
    * sliced vectors), rank-1 PQ encoding, reconstruction norms from
    * codeword squared norms, a per-query LUT of partial dot
    * products, and the ADC score
    * `sum_s part / (|q| * |x_hat|)` rounded + ranked like every
    * other ANN oracle.
    */
  /** The IVF centroid CTE for `nlist = Similarity.AutoNlist`:
    * re-derives max(16, ceil(sqrt(n))) over the same nonzero set `c`
    * the engine counts, then takes the md5-order draw — shared by
    * every auto-sized IVF oracle.
    */
  private val autoCentsCte: String =
    """cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
  <= greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT)))"""

  /** Rank-1 SQUARED-L2 codeword assignment CTE — the oracle mirror of
    * the residual-PQ metric of graft.plans.PqArgBestExpr (l2 = true):
    * round(dot(v,v) − 2·dot(v,c) + dot(c,c), 4) ASC, cent_id ASC. The
    * same three-dot expansion the kernel computes, term for term.
    */
  private def l2AssignCte(out: String, cents: String, src: String): String =
    s"""$out AS (SELECT vec_id, emb, cent_id FROM (
SELECT $src.vec_id, $src.emb, cent_id,
row_number() OVER (PARTITION BY $src.vec_id ORDER BY round(list_dot_product($src.emb, $src.emb) - 2 * list_dot_product($src.emb, cemb) + list_dot_product(cemb, cemb), 4) ASC, cent_id) AS cr
FROM $src CROSS JOIN $cents) t WHERE cr = 1)"""

  /** Lloyd training chain under the L2 assignment — the residual-PQ
    * mirror of kmeansTrainCtes: init draw JOINED from a shared
    * `rvinit` id CTE (the md5-lowest NONZERO residuals — the coarse
    * centroids' own rows have exactly-zero residuals and would seed
    * ksub zero codewords), then per round an L2 rank-1 assignment and
    * 6-decimal-rounded per-dimension means.
    */
  private def l2TrainCtes(k: Int, iters: Int, dims: Int,
                          src: String, pfx: String): String = {
    val rounds = (0 until iters).map { i =>
      s"""${l2AssignCte(s"${pfx}a$i", s"${pfx}cents$i", src)},
${pfx}m$i AS (SELECT cent_id, d, round(avg(emb[d]), 6) AS m FROM ${pfx}a$i CROSS JOIN (SELECT unnest(range(1, ${dims + 1})) AS d) dims GROUP BY cent_id, d),
${pfx}cents${i + 1} AS (SELECT cent_id, list(m ORDER BY d) AS cemb FROM ${pfx}m$i GROUP BY cent_id)"""
    }.mkString(",\n")
    val init =
      s"""${pfx}cents0 AS (SELECT s.vec_id AS cent_id, s.emb AS cemb FROM $src s JOIN rvinit ON s.vec_id = rvinit.vec_id)"""
    if (iters == 0) init else s"$init,\n$rounds"
  }

  /** Residual IVF-PQ (IVFADC) mirroring Similarity.pqTopK(residual =
    * true) stage-for-stage: the routed coarse assignment, residuals
    * `r = x − c_cell(x)`, per-subspace L2 Lloyd over the residual
    * slices (shared nonzero-filtered init draw), L2 encoding, the
    * FULL reconstruction `x̂ = c_cell + r̂` and its norm, and the ADC
    * score `(dot(q, c_cell) + Σ_s part) / (|q| · |x̂|)` — the extra
    * per-(query, probed-cell) dot term is what distinguishes the
    * residual decomposition from the raw mode.
    */
  /** `labelEq` (r18): the filtered variant — the payload predicate
    * joins into the pairs CTE before the rank window, mirroring the
    * engine's pushed probed-cell predicate (see [[pqSql]]).
    */
  private def pqResidualSql(k: Int, dims: Int, m: Int, ksub: Int, iters: Int,
                            nlist: Int, nprobe: Int, labelEq: Option[Int] = None,
                            adaptiveBase: Option[Int] = None,
                            refine: Option[Int] = None): String = {
    require(adaptiveBase.isEmpty || labelEq.isDefined,
      "adaptiveBase replays the FILTERED adaptive serve; labelEq is required")
    val sub = dims / m
    val labCte = labelEq.map(_ => "lab AS (SELECT vec_id, label FROM embeddings),\n").getOrElse("")
    val labJoin = labelEq
      .map(v => s" JOIN lab ON lab.vec_id = ca.neighbor_id AND lab.label = $v")
      .getOrElse("")
    // the same estimate→widen replay as pqSql's adaptive mode (see
    // there) — the residual decomposition changes scoring, not probing
    val adaptCtes = adaptiveBase.map { base =>
      s"""qa0 AS (SELECT query_id, cent_id FROM (
SELECT q.vec_id AS query_id, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= $base),
probe AS (SELECT DISTINCT cent_id FROM qa0),
sel AS (SELECT count(*) AS n, count(CASE WHEN lab.label = ${labelEq.get} THEN 1 END) AS m
FROM ca JOIN probe USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id),
wid AS (SELECT CASE WHEN m = 0 OR n = 0 THEN (SELECT count(*) FROM cents)
ELSE least((SELECT count(*) FROM cents), CAST(ceil($base * 1.0 * n / m) AS BIGINT)) END AS w FROM sel),
"""
    }.getOrElse("")
    val qaBound = if (adaptiveBase.isDefined) "(SELECT w FROM wid)" else s"$nprobe"
    val subCtes = (0 until m).map { s =>
      s"""s${s}c AS (SELECT vec_id, emb[${s * sub + 1}:${(s + 1) * sub}] AS emb FROM rv),
${l2TrainCtes(ksub, iters, sub, src = s"s${s}c", pfx = s"s$s")},
${l2AssignCte(s"s${s}enc", s"s${s}cents$iters", src = s"s${s}c")}"""
    }.mkString(",\n")
    val codesUnion = (0 until m).map(s =>
      s"SELECT vec_id, $s AS sub_id, cent_id AS code_id FROM s${s}enc").mkString("\nUNION ALL\n")
    val cbUnion = (0 until m).map(s =>
      s"SELECT $s AS sub_id, cent_id, cemb FROM s${s}cents$iters").mkString("\nUNION ALL\n")
    val centsCte =
      if (nlist == 0) autoCentsCte // Similarity.AutoNlist replay
      else s"cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nlist)"
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
$centsCte,
${routedCaCtes("cents", "c", "neighbor_id")},
rv AS (SELECT ca.neighbor_id AS vec_id, list_transform(range(1, ${dims + 1}), i -> ca.emb[i] - cents.cemb[i]) AS emb, ca.cent_id AS ccell
FROM ca JOIN cents USING (cent_id)),
rvinit AS (SELECT vec_id FROM rv WHERE list_dot_product(emb, emb) > 0 AND NOT isnan(list_dot_product(emb, emb))
ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $ksub),
$labCte${adaptCtes}qa AS (SELECT query_id, cent_id, qcd FROM (
SELECT q.vec_id AS query_id, cent_id, list_dot_product(q.emb, cemb) AS qcd,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= $qaBound),
$subCtes,
codes AS ($codesUnion),
cb AS ($cbUnion),
rhat AS (SELECT codes.vec_id, flatten(list(cemb ORDER BY codes.sub_id)) AS rh
FROM codes JOIN cb ON cb.sub_id = codes.sub_id AND cb.cent_id = codes.code_id GROUP BY codes.vec_id),
xnorm AS (SELECT t.vec_id, sqrt(list_dot_product(t.xh, t.xh)) AS xn FROM (
SELECT rhat.vec_id, list_transform(range(1, ${dims + 1}), i -> cents.cemb[i] + rhat.rh[i]) AS xh
FROM rhat JOIN rv ON rv.vec_id = rhat.vec_id JOIN cents ON cents.cent_id = rv.ccell) t),
qn AS (SELECT vec_id, sqrt(list_sum(list_transform(emb, x -> x * x))) AS qn FROM q),
lut AS (SELECT q.vec_id AS query_id, cb.sub_id, cb.cent_id AS code_id,
list_sum(list_transform(range(1, ${sub + 1}), i -> q.emb[cb.sub_id * $sub + i] * cemb[i])) AS part
FROM q CROSS JOIN cb),
pairs AS (SELECT qa.query_id, ca.neighbor_id, qa.qcd FROM qa JOIN ca USING (cent_id)$labJoin WHERE qa.query_id <> ca.neighbor_id),
sc AS (SELECT p.query_id, p.neighbor_id, p.qcd + sum(lut.part) AS num
FROM pairs p JOIN codes ON codes.vec_id = p.neighbor_id
JOIN lut ON lut.query_id = p.query_id AND lut.sub_id = codes.sub_id AND lut.code_id = codes.code_id
GROUP BY p.query_id, p.neighbor_id, p.qcd),
s AS (SELECT sc.query_id, sc.neighbor_id, round(sc.num / (qn.qn * xnorm.xn), 4) AS score
FROM sc JOIN qn ON qn.vec_id = sc.query_id JOIN xnorm ON xnorm.vec_id = sc.neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)${pqRefineTail(k, refine)}"""
  }

  /** The REFINE tail shared by [[pqSql]] and [[pqResidualSql]] (r19):
    * with `refine = Some(R)` the ADC rank window becomes a SHORTLIST
    * of R candidates per query, each re-scored by exact int8 cosine —
    * the same quantize-round-trip CTE the int8 oracles use (codes =
    * round(x / (max|x|/127)), score = integer dot over the codes) —
    * and the final window re-ranks the re-scored shortlist to top-k.
    * Mirrors IvfIndex.searchTopKPq's refine branch stage for stage.
    * The produced text CONTINUES the caller's WITH list after its
    * `r` CTE (ADC ranks), so it starts with "," in the refine case.
    */
  private def pqRefineTail(k: Int, refine: Option[Int]): String = refine match {
    case None => s"""
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= $k"""
    case Some(rf) => s""",
cand8 AS (SELECT query_id, neighbor_id FROM r WHERE "rank" <= $rf),
cz8 AS (SELECT vec_id,
  CASE WHEN zs = 0 THEN list_transform(emb, x -> 0.0)
       ELSE list_transform(emb, x -> round(x / zs)) END AS qv
  FROM (SELECT vec_id, list_max(list_transform(emb, x -> abs(x))) / 127.0 AS zs, emb FROM c) t8),
rs8 AS (SELECT cand8.query_id, cand8.neighbor_id,
  round(list_dot_product(zq.qv, zn.qv) /
        (sqrt(list_dot_product(zq.qv, zq.qv)) * sqrt(list_dot_product(zn.qv, zn.qv))), 4) AS score
  FROM cand8 JOIN cz8 zq ON zq.vec_id = cand8.query_id JOIN cz8 zn ON zn.vec_id = cand8.neighbor_id),
r8 AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM rs8)
SELECT query_id, neighbor_id, score, "rank" FROM r8 WHERE "rank" <= $k"""
  }

  /** `labelEq` (r18) is the filtered-ANN variant: the payload
    * predicate applies to CANDIDATES before the rank window (a `lab`
    * join in the pairs CTE) — the engine pushes the same predicate
    * into its probed-cell parquet scan, so k fills from matching rows
    * on both sides (the q_ann_filtered recipe, on the PQ oracle).
    */
  /** `adaptiveBase` (r19): replay [[graft.pipeline.IvfIndex
    * .searchTopKAdaptive]] over the PQ store — the base-nprobe probed
    * cells, the filter's selectivity counted over their rows, nprobe
    * widened to `min(nlist, ceil(base·n/m))` (full probe on a
    * zero-match estimate), then the SAME filtered ADC serve at the
    * widened probe. Requires `labelEq` (the adaptive path exists for
    * filtered serving).
    */
  private def pqSql(k: Int, dims: Int, m: Int, ksub: Int, iters: Int,
                    nlist: Int, nprobe: Int, labelEq: Option[Int] = None,
                    adaptiveBase: Option[Int] = None,
                    refine: Option[Int] = None): String = {
    require(adaptiveBase.isEmpty || labelEq.isDefined,
      "adaptiveBase replays the FILTERED adaptive serve; labelEq is required")
    val sub = dims / m
    val labCte = labelEq.map(_ => ",\nlab AS (SELECT vec_id, label FROM embeddings)").getOrElse("")
    val labJoin = labelEq
      .map(v => s" JOIN lab ON lab.vec_id = ca.neighbor_id AND lab.label = $v")
      .getOrElse("")
    val adaptCtes = adaptiveBase.map { base =>
      s"""qa0 AS (SELECT query_id, cent_id FROM (
SELECT q.vec_id AS query_id, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= $base),
probe AS (SELECT DISTINCT cent_id FROM qa0),
sel AS (SELECT count(*) AS n, count(CASE WHEN lab.label = ${labelEq.get} THEN 1 END) AS m
FROM ca JOIN probe USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id),
wid AS (SELECT CASE WHEN m = 0 OR n = 0 THEN (SELECT count(*) FROM cents)
ELSE least((SELECT count(*) FROM cents), CAST(ceil($base * 1.0 * n / m) AS BIGINT)) END AS w FROM sel),
"""
    }.getOrElse("")
    val qaBound = if (adaptiveBase.isDefined) "(SELECT w FROM wid)" else s"$nprobe"
    val subCtes = (0 until m).map { s =>
      s"""s${s}c AS (SELECT vec_id, emb[${s * sub + 1}:${(s + 1) * sub}] AS emb FROM c),
${kmeansTrainCtes(ksub, iters, sub, src = s"s${s}c", pfx = s"s$s")},
${kmeansAssignCte(s"s${s}enc", s"s${s}cents$iters", src = s"s${s}c")}"""
    }.mkString(",\n")
    val codesUnion = (0 until m).map(s =>
      s"SELECT vec_id, $s AS sub_id, cent_id AS code_id FROM s${s}enc").mkString("\nUNION ALL\n")
    val cbUnion = (0 until m).map(s =>
      s"SELECT $s AS sub_id, cent_id, cemb FROM s${s}cents$iters").mkString("\nUNION ALL\n")
    val centsCte =
      if (nlist == 0) autoCentsCte // Similarity.AutoNlist replay
      else s"cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nlist)"
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
$centsCte,
${routedCaCtes("cents", "c", "neighbor_id")}$labCte,
${adaptCtes}qa AS (SELECT query_id, cent_id FROM (
SELECT q.vec_id AS query_id, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= $qaBound),
$subCtes,
codes AS ($codesUnion),
cb AS ($cbUnion),
xnorm AS (SELECT codes.vec_id, sqrt(sum(list_sum(list_transform(cemb, x -> x * x)))) AS xn
FROM codes JOIN cb ON cb.sub_id = codes.sub_id AND cb.cent_id = codes.code_id GROUP BY codes.vec_id),
qn AS (SELECT vec_id, sqrt(list_sum(list_transform(emb, x -> x * x))) AS qn FROM q),
lut AS (SELECT q.vec_id AS query_id, cb.sub_id, cb.cent_id AS code_id,
list_sum(list_transform(range(1, ${sub + 1}), i -> q.emb[cb.sub_id * $sub + i] * cemb[i])) AS part
FROM q CROSS JOIN cb),
pairs AS (SELECT qa.query_id, ca.neighbor_id FROM qa JOIN ca USING (cent_id)$labJoin WHERE qa.query_id <> ca.neighbor_id),
sc AS (SELECT p.query_id, p.neighbor_id, sum(lut.part) AS num
FROM pairs p JOIN codes ON codes.vec_id = p.neighbor_id
JOIN lut ON lut.query_id = p.query_id AND lut.sub_id = codes.sub_id AND lut.code_id = codes.code_id
GROUP BY 1, 2),
s AS (SELECT sc.query_id, sc.neighbor_id, round(sc.num / (qn.qn * xnorm.xn), 4) AS score
FROM sc JOIN qn ON qn.vec_id = sc.query_id JOIN xnorm ON xnorm.vec_id = sc.neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)${pqRefineTail(k, refine)}"""
  }

  /** PageRank mirroring Graph.pageRank round-for-round over the
    * closed-form fixture graph: per iteration a dangling-mass scalar,
    * an edge-contribution agg, and the rounded damped update — the
    * kmeans unrolled-CTE recipe applied to link analysis. The
    * (1 - damping) subtraction is left to the engine on BOTH sides so
    * the IEEE result is identical by construction.
    */
  private def pageRankSql(iters: Int, damping: Double, decimals: Int): String =
    pageRankSqlOver(
      """s AS (SELECT i FROM range(0, 100) t(i) WHERE i % 10 <> 7),
e AS (SELECT CAST(i AS VARCHAR) AS src, CAST((i * 3 + 1) % 100 AS VARCHAR) AS dst FROM s
UNION ALL SELECT CAST(i AS VARCHAR), CAST((i * 7 + 2) % 100 AS VARCHAR) FROM s)""",
      iters, damping, decimals)

  /** [[pageRankSql]] generalized over a caller-supplied CTE block
    * that must define `e(src, dst)` — the same power iteration then
    * replays over any fixture graph (page-level, host-level). Both
    * routes of Graph.pageRankWithCleanup mirror it term for term: the
    * distributed loop as Catalyst expressions, the driver route
    * (at most Graph.DriverEdgeCap edges) as Scala arithmetic.
    */
  private def pageRankSqlOver(edgesCtes: String, iters: Int, damping: Double,
                              decimals: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""d$t AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM r${t - 1} WHERE deg = 0),
c$t AS (SELECT e.dst AS node, sum(r.rank / r.deg) AS inp FROM e JOIN r${t - 1} r ON r.node = e.src GROUP BY 1),
r$t AS (SELECT b.node, b.deg, round((1 - $damping) / n.n + $damping * (coalesce(c.inp, 0.0) + d.dm / n.n), $decimals) AS rank
FROM base b CROSS JOIN n CROSS JOIN d$t d LEFT JOIN c$t c ON b.node = c.node)"""
    }.mkString(",\n")
    s"""WITH $edgesCtes,
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) t2),
deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
base AS (SELECT nodes.node, coalesce(deg.deg, 0) AS deg FROM nodes LEFT JOIN deg USING (node)),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
r0 AS (SELECT b.node, b.deg, round(1.0 / n.n, $decimals) AS rank FROM base b CROSS JOIN n),
$rounds
SELECT node, rank FROM r$iters"""
  }

  /** Host-graph PageRank: the q_pagerank fixture pages re-labeled
    * with URLs on 12 hosts, collapsed to the distinct inter-host edge
    * list (Graph.hostEdges), then the same unrolled power iteration.
    */
  private def pageRankHostSql(iters: Int, damping: Double, decimals: Int): String =
    pageRankSqlOver(
      """s AS (SELECT i FROM range(0, 100) t(i) WHERE i % 10 <> 7),
hp AS (SELECT i % 12 AS hs, ((i * 3 + 1) % 100) % 12 AS hd FROM s
UNION ALL SELECT i % 12, ((i * 7 + 2) % 100) % 12 FROM s),
e AS (SELECT DISTINCT 'host' || CAST(hs AS VARCHAR) || '.example.com' AS src,
'host' || CAST(hd AS VARCHAR) || '.example.com' AS dst FROM hp WHERE hs <> hd)""",
      iters, damping, decimals)

  /** Unrolled-CTE replay of TextAnalysis.logisticQualityScores: the
    * 3-feature frame, `steps` full-batch GD steps from w=0 with the
    * per-step gradient rounded to `gradDecimals` (lr 1.0 so the
    * update is an exact subtraction), then the fitted sigmoid scores.
    * Feature arithmetic and the margin's association order mirror the
    * engine expression tree term for term, so the IEEE trajectory is
    * identical by construction.
    */
  private def logisticFitSql(steps: Int, gradDecimals: Int, scoreDecimals: Int): String = {
    val rounds = (1 to steps).map { t =>
      s"""s$t AS (SELECT min(q.b) - round(avg(q.p - q.y), $gradDecimals) AS b,
min(q.w1) - round(avg((q.p - q.y) * q.x1), $gradDecimals) AS w1,
min(q.w2) - round(avg((q.p - q.y) * q.x2), $gradDecimals) AS w2,
min(q.w3) - round(avg((q.p - q.y) * q.x3), $gradDecimals) AS w3
FROM (SELECT f.*, w.b, w.w1, w.w2, w.w3,
1.0 / (1.0 + exp(-(w.b + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3))) AS p
FROM f CROSS JOIN s${t - 1} w) q)"""
    }.mkString(",\n")
    s"""WITH f AS (SELECT doc_id,
len(ws) / 100.0 AS x1,
length(text) / 300.0 AS x2,
CASE WHEN len(ws) = 0 THEN 0.0 ELSE len(list_filter(ws, w -> w IN ('the', 'a'))) / CAST(len(ws) AS DOUBLE) END AS x3,
CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
FROM (SELECT doc_id, text, lang, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents) t0),
s0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
$rounds
SELECT f.doc_id, round(1.0 / (1.0 + exp(-(w.b + f.x1 * w.w1 + f.x2 * w.w2 + f.x3 * w.w3))), $scoreDecimals) AS score
FROM f CROSS JOIN s$steps w"""
  }

  /** Lloyd k-means mirroring Similarity.kmeansCentroids +
    * kmeansAssign cell-for-cell — the iterations are UNROLLED as one
    * CTE pair per round, so the oracle replays the exact training
    * trajectory.
    */
  private def kmeansSql(k: Int, iters: Int, dims: Int): String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE embedding IS NOT NULL),
${kmeansTrainCtes(k, iters, dims)},
${kmeansAssignCte("afin", s"cents$iters")}
SELECT vec_id, cent_id FROM afin"""

  /** SemDeDup mirroring Dedup.semDedup with TRAINED centroids and the
    * hot-cell cap: kmeans CTE chain for the quantizer, rank-1 cell
    * assignment, QUALIFY saturation cap (only the maxCellSize
    * lowest-id rows of a cell participate in duplicate detection —
    * exactly the engine's rule), lower-id similar row within a kept
    * cell marks a duplicate.
    */
  private def semdedupSql(k: Int, iters: Int, dims: Int, threshold: Double, maxCellSize: Int): String =
    s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${kmeansTrainCtes(k, iters, dims)},
${kmeansAssignCte("cellraw", s"cents$iters")},
cell AS (SELECT vec_id, emb, cent_id FROM cellraw QUALIFY row_number() OVER (PARTITION BY cent_id ORDER BY vec_id) <= $maxCellSize),
dup AS (SELECT DISTINCT b.vec_id FROM cell a JOIN cell b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= $threshold)
SELECT vec_id, label FROM c WHERE vec_id NOT IN (SELECT vec_id FROM dup)"""

  /** DSIR importance weights mirroring Sampling.dsirLogWeights:
    * unigram+bigram grams of the (empty-token-filtered) word list,
    * md5-uint32 bucket hash, add-one-smoothed per-side bucket models
    * over a full bucket spine, per-doc score = sum over buckets of
    * (count x logratio) — the SAME grouped formulation the engine
    * uses, so the doubles agree pre-rounding. Target = the
    * `doc_id % 37 = 0` eval slice the contamination queries use.
    */
  private def dsirSql(buckets: Int): String = {
    val bucket = (g: String) => s"CAST(('0x' || substring(md5($g), 1, 8))::BIGINT % $buckets AS INT)"
    def grams(tbl: String, pred: String): String =
      s"""(SELECT doc_id, unnest(list_concat(ws, list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS g
FROM (SELECT doc_id, list_filter($wordsSql, w -> w <> '') AS ws FROM $tbl WHERE $pred) t)"""
    s"""WITH tg AS ${grams("documents", "doc_id % 37 = 0")},
rg AS ${grams("documents", "doc_id % 37 <> 0")},
tb AS (SELECT ${bucket("g")} AS b, count(*) AS c FROM tg GROUP BY 1),
rb AS (SELECT ${bucket("g")} AS b, count(*) AS c FROM rg GROUP BY 1),
tt AS (SELECT CAST(COALESCE(sum(c), 0) AS DOUBLE) AS t FROM tb),
rt AS (SELECT CAST(COALESCE(sum(c), 0) AS DOUBLE) AS t FROM rb),
spine AS (SELECT CAST(unnest(range(0, $buckets)) AS INT) AS b),
lr AS (SELECT spine.b,
  ln((COALESCE(tb.c, 0) + 1.0) / (tt.t + $buckets)) - ln((COALESCE(rb.c, 0) + 1.0) / (rt.t + $buckets)) AS lr
FROM spine LEFT JOIN tb ON spine.b = tb.b LEFT JOIN rb ON spine.b = rb.b CROSS JOIN tt CROSS JOIN rt),
rdb AS (SELECT doc_id, ${bucket("g")} AS b, count(*) AS c FROM rg GROUP BY 1, 2),
sc AS (SELECT rdb.doc_id, sum(rdb.c * lr.lr) AS logw FROM rdb JOIN lr ON rdb.b = lr.b GROUP BY 1)
SELECT d.doc_id, round(COALESCE(sc.logw, 0.0), 6) AS logw
FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d LEFT JOIN sc ON d.doc_id = sc.doc_id"""
  }

  // ---- the map ----------------------------------------------------

  /** Shared by q_ann_ivf_int8 (in-memory ivfInt8TopK) and
    * q_ann_ivf_store_int8 (the persisted int8 index): the stored path
    * writes the SAME codes and code norms the in-memory operator
    * derives (quantization round-trips the int codes exactly and the
    * norm is an integer-sum sqrt, bit-stable), so one SQL gates both.
    */
  private lazy val annIvfInt8Sql: String =
    s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
$autoCentsCte,
${routedCaCtes("cents", "c", "neighbor_id")},
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
qa AS (SELECT query_id, cent_id FROM (
SELECT q.vec_id AS query_id, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= 4),
cz AS (SELECT vec_id,
  CASE WHEN s = 0 THEN list_transform(emb, x -> 0.0)
       ELSE list_transform(emb, x -> round(x / s)) END AS qv
  FROM (SELECT vec_id, list_max(list_transform(emb, x -> abs(x))) / 127.0 AS s, emb FROM c) t),
s2 AS (SELECT qa.query_id, ca.neighbor_id,
  round(list_dot_product(zq.qv, zn.qv) /
        (sqrt(list_dot_product(zq.qv, zq.qv)) * sqrt(list_dot_product(zn.qv, zn.qv))), 4) AS score
  FROM qa JOIN ca USING (cent_id)
  JOIN cz zq ON zq.vec_id = qa.query_id
  JOIN cz zn ON zn.vec_id = ca.neighbor_id
  WHERE qa.query_id <> ca.neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS "rank" FROM s2)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5"""

  lazy val all: Map[String, String] = Map(
    "q_kmeans" -> kmeansSql(k = 8, iters = 2, dims = 64),
    // nlist = 0 replays Similarity.AutoNlist (sqrt-sized coarse cells)
    "q_ann_pq" -> pqSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4),

    "q_ann_pq_residual" ->
      pqResidualSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4),

    // the stored residual-PQ path replays the same fit + ADC math
    "q_ann_ivf_store_pq_residual" ->
      pqResidualSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4),
    // the PQ-compressed persisted index serves pqSearch's ADC math
    // from disk (codes + codebooks + recon norms round-trip parquet
    // exactly), so the stored path replays the same SQL
    "q_ann_ivf_store_pq" -> pqSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4),
    // filtered ANN over the COMPRESSED layouts (r18): the PQ replays
    // with the payload predicate on candidates before the rank window
    "q_ann_filtered_pq" ->
      pqSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4,
        labelEq = Some(3)),
    "q_ann_filtered_pq_residual" ->
      pqResidualSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4,
        labelEq = Some(3)),
    // selectivity-aware probing over the COMPRESSED layouts (r19,
    // VERDICT r18 top-next): the estimate→widen→filtered-ADC chain
    // replays term-for-term on the PQ and residual stores — the
    // compressed + filtered + auto-nprobe serve a 100 TB pipeline
    // actually runs
    "q_ann_adaptive_pq" ->
      pqSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 2,
        labelEq = Some(3), adaptiveBase = Some(2)),
    "q_ann_adaptive_pq_residual" ->
      pqResidualSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 2,
        labelEq = Some(3), adaptiveBase = Some(2)),
    // IVFPQ+REFINE (r19): the ADC rank window shortlists 20, the int8
    // quantize-round-trip rescoring re-ranks to 5 — both stages replay
    "q_ann_pq_refine" ->
      pqSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4,
        refine = Some(20)),
    "q_ann_pq_refine_residual" ->
      pqResidualSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 4,
        refine = Some(20)),
    // the FULL production serve (r19): estimate → widen → filtered
    // ADC → exact int8 re-rank, one hash-checked chain
    "q_ann_refine_full" ->
      pqSql(k = 5, dims = 64, m = 4, ksub = 8, iters = 1, nlist = 0, nprobe = 2,
        labelEq = Some(3), adaptiveBase = Some(2), refine = Some(20)),
    // the REALISTIC PQ shape (r18): m=8 subspaces x 256 codewords —
    // the tinyint(-128) rank path and the 256-codeword Lloyd,
    // hash-checked end-to-end instead of only spec-pinned
    "q_ann_ivf_store_pq_big" ->
      pqSql(k = 5, dims = 64, m = 8, ksub = 256, iters = 1, nlist = 0, nprobe = 4),
    "q_pagerank" -> pageRankSql(iters = 3, damping = 0.85, decimals = 6),
    "q_pagerank_host" -> pageRankHostSql(iters = 3, damping = 0.85, decimals = 6),
    "q_zorder" -> zorderSql(bits = 4, nBuckets = 8),
    "q_upsert" ->
      """SELECT doc_id, lang,
CASE WHEN doc_id % 2 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
FROM documents WHERE doc_id % 3 <> 2 OR doc_id % 2 = 0""",
    "q_delete_keys" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 <> 0",
    "q_quality_fit" -> logisticFitSql(steps = 5, gradDecimals = 9, scoreDecimals = 6),
    "q_dsir" -> dsirSql(buckets = 256),
    "q_groupby_merge_max" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
max(l_quantity) OVER (PARTITION BY l_returnflag) AS l_quantity_max
FROM lineitem""",

    "q_groupby_merge_std" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
round(stddev_samp(l_extendedprice) OVER (PARTITION BY l_returnflag, l_linestatus), 4) AS price_std
FROM lineitem""",

    "q_groupby_transform_sum" ->
      """SELECT l_orderkey, l_linenumber,
round(sum(l_quantity) OVER (PARTITION BY l_orderkey), 6) AS qty_sum
FROM lineitem""",

    "q_groupby_index" ->
      """SELECT o_orderkey, o_custkey,
CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1 AS INT) AS group_index
FROM orders""",

    "q_averages" ->
      """WITH b AS (SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice, l_discount,
CAST(count(l_quantity) OVER (PARTITION BY l_returnflag, l_linestatus) AS DOUBLE) AS l_quantity_count
FROM lineitem)
SELECT l_returnflag, l_linestatus,
round(avg(l_quantity) - 1e-9, 4) + 0.0 AS l_quantity,
round(avg(l_extendedprice) - 1e-9, 4) + 0.0 AS l_extendedprice,
round(avg(l_quantity_count) - 1e-9, 0) + 0.0 AS l_quantity_count,
round(sum(l_quantity * l_discount) / sum(l_discount) - 1e-9, 4) + 0.0 AS l_quantity_wavg,
round(sum(l_extendedprice * l_discount) / sum(l_discount) - 1e-9, 4) + 0.0 AS l_extendedprice_wavg,
round(sum(l_quantity_count * l_discount) / sum(l_discount) - 1e-9, 0) + 0.0 AS l_quantity_count_wavg
FROM b GROUP BY l_returnflag, l_linestatus""",

    "q_var_change" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 6) AS o_totalprice_change
FROM orders""",

    "q_cumulate_between" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice / 1000000.0 AS ret,
row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS rn FROM orders),
w AS (SELECT *, CASE WHEN rn <= 0 THEN 0 WHEN rn <= 2 THEN 1 ELSE 2 END AS wid FROM base)
SELECT o_orderkey, o_custkey,
round(product(1 + ret) OVER (PARTITION BY o_custkey, wid ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 - 1e-9, 4) + 0.0 AS cum_ret
FROM w""",

    "q_cumulate_first" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice / 1000000.0 AS ret,
CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders) THEN 0 ELSE 1 END AS wid FROM orders)
SELECT o_orderkey, o_custkey,
round(product(1 + ret) OVER (PARTITION BY o_custkey, wid ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 - 1e-9, 4) + 0.0 AS cum_ret
FROM base""",

    "q_winsorize_by" ->
      """WITH h AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem GROUP BY 1),
l2 AS (SELECT l_returnflag, quantile_cont(CASE WHEN l_extendedprice > hi THEN hi ELSE l_extendedprice END, 0.05) AS lo
FROM lineitem JOIN h USING (l_returnflag) GROUP BY l_returnflag)
SELECT l_orderkey, l_linenumber, l_returnflag,
round(CASE WHEN l_extendedprice > hi THEN hi WHEN l_extendedprice < lo THEN lo ELSE l_extendedprice END, 4) AS price_w
FROM lineitem JOIN h USING (l_returnflag) JOIN l2 USING (l_returnflag)""",

    "q_winsorize_all" ->
      """WITH h AS (SELECT quantile_cont(l_quantity, 0.99) AS qhi, quantile_cont(l_extendedprice, 0.99) AS phi FROM lineitem),
l2 AS (SELECT quantile_cont(CASE WHEN l_quantity > qhi THEN qhi ELSE l_quantity END, 0.01) AS qlo,
quantile_cont(CASE WHEN l_extendedprice > phi THEN phi ELSE l_extendedprice END, 0.01) AS plo
FROM lineitem CROSS JOIN h)
SELECT l_orderkey, l_linenumber,
round(CASE WHEN l_quantity > qhi THEN qhi WHEN l_quantity < qlo THEN qlo ELSE l_quantity END, 6) AS qty_w,
round(CASE WHEN l_extendedprice > phi THEN phi WHEN l_extendedprice < plo THEN plo ELSE l_extendedprice END, 4) AS price_w
FROM lineitem CROSS JOIN h CROSS JOIN l2""",

    // DDSketch replay: same γ, same ceil(ln/ln γ) buckets, same
    // round(p*(n-1)) rank walk, same 2γ^b/(γ+1) midpoint — the
    // sketch is deterministic so the oracle reproduces it exactly
    "q_approx_quantiles" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
bk AS (SELECT l_returnflag, CAST(ceil(ln(v) / ln((1.0+0.01)/(1.0-0.01))) AS INT) AS b, count(*) AS cnt FROM c GROUP BY 1, 2),
tot AS (SELECT l_returnflag, sum(cnt) AS n FROM bk GROUP BY 1),
cum AS (SELECT l_returnflag, b, sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS cm FROM bk),
ps AS (SELECT * FROM (VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.95)) AS t(p_idx, p)),
r AS (SELECT tot.l_returnflag, p_idx, round(p * (n - 1)) AS rnk FROM tot CROSS JOIN ps),
sel AS (SELECT r.l_returnflag, r.p_idx, min(cum.b) AS b
FROM r JOIN cum ON cum.l_returnflag = r.l_returnflag AND cum.cm > r.rnk GROUP BY 1, 2)
SELECT l_returnflag, p_idx,
round(2 * pow((1.0+0.01)/(1.0-0.01), b) / ((1.0+0.01)/(1.0-0.01) + 1), 4) AS q
FROM sel""",

    "q_portfolio_by" ->
      s"""WITH $portfolioCuts5
SELECT l_orderkey, l_linenumber, l_returnflag,
$portfolioAssign5 AS portfolio
FROM lineitem JOIN c USING (l_returnflag)""",

    "q_portfolio_hard" ->
      """SELECT l_orderkey, l_linenumber,
1 + CAST(l_extendedprice >= 20000.0 AS INT) + CAST(l_extendedprice >= 60000.0 AS INT) AS portfolio
FROM lineitem""",

    "q_portfolio_averages" ->
      s"""WITH $portfolioCuts5,
p AS (SELECT l_returnflag, l_quantity, $portfolioAssign5 AS portfolio FROM lineitem JOIN c USING (l_returnflag))
SELECT l_returnflag, portfolio, round(avg(l_quantity), 4) AS l_quantity
FROM p GROUP BY 1, 2""",

    // FULL OUTER alignment mirrors pandas' index-aligned `long - short`
    // (and the engine's conditional aggregation): a byvars group with
    // only one side still appears, with a NULL return
    "q_long_short" ->
      s"""WITH $portfolioCuts5,
p AS (SELECT l_returnflag, l_quantity, $portfolioAssign5 AS portfolio FROM lineitem JOIN c USING (l_returnflag)),
pa AS (SELECT l_returnflag, portfolio, avg(l_quantity) AS l_quantity FROM p GROUP BY 1, 2)
SELECT coalesce(a.l_returnflag, b.l_returnflag) AS l_returnflag, round(a.l_quantity - b.l_quantity, 4) AS l_quantity
FROM (SELECT * FROM pa WHERE portfolio = (SELECT max(portfolio) FROM pa)) a
FULL JOIN (SELECT * FROM pa WHERE portfolio = (SELECT min(portfolio) FROM pa)) b
ON a.l_returnflag = b.l_returnflag""",

    "q_asof_join" ->
      s"""WITH $asofCtes,
m AS (SELECT lk.o_custkey, lk.odate, max(r.edate) AS edate
FROM (SELECT DISTINCT o_custkey, odate FROM l) lk
JOIN r ON lk.o_custkey = r.o_custkey AND r.edate <= lk.odate GROUP BY 1, 2)
SELECT l.o_orderkey, l.o_custkey, strftime(l.odate, '%Y-%m-%d') AS odate, strftime(m.edate, '%Y-%m-%d') AS edate, r.val
FROM l LEFT JOIN m ON l.o_custkey = m.o_custkey AND l.odate = m.odate
LEFT JOIN r ON m.o_custkey = r.o_custkey AND m.edate = r.edate""",

    "q_asof_offset" ->
      s"""WITH $asofCtes,
m AS (SELECT lk.o_custkey, lk.odate, max(r.edate) AS edate
FROM (SELECT DISTINCT o_custkey, odate FROM l) lk
JOIN r ON lk.o_custkey = r.o_custkey AND r.edate <= lk.odate AND r.edate >= lk.odate - INTERVAL 30 DAY GROUP BY 1, 2)
SELECT l.o_orderkey, l.o_custkey, strftime(l.odate, '%Y-%m-%d') AS odate, strftime(m.edate, '%Y-%m-%d') AS edate, r.val
FROM l LEFT JOIN m ON l.o_custkey = m.o_custkey AND l.odate = m.odate
LEFT JOIN r ON m.o_custkey = r.o_custkey AND m.edate = r.edate""",

    "q_long_to_wide" -> {
      val qcols = (1 to 7).map(i => s"max(CASE WHEN l_linenumber = $i THEN l_quantity END) AS l_quantity$i").mkString(",\n")
      val dcols = (1 to 7).map(i => s"max(CASE WHEN l_linenumber = $i THEN l_discount END) AS l_discount$i").mkString(",\n")
      s"""SELECT l_orderkey,
$qcols,
$dcols
FROM lineitem GROUP BY l_orderkey"""
    },

    "q_expand_time_m" ->
      """SELECT o_orderkey, s.shift, strftime(CAST(o_orderdate + to_months(CAST(s.shift AS INT)) AS DATE), '%Y-%m-%d') AS shift_date
FROM orders CROSS JOIN (SELECT unnest([1, 6, 12]) AS shift) s""",

    "q_expand_time_td" ->
      s"""WITH $calendarCtes,
s AS (SELECT unnest([1, 5, 22]) AS shift)
SELECT o.o_orderkey, s.shift, strftime(t.day, '%Y-%m-%d') AS shift_date
FROM orders o CROSS JOIN s
LEFT JOIN cal2 c ON CAST(o.o_orderdate AS DATE) = c.day
LEFT JOIN td t ON t.ord = c.ord0 + s.shift""",

    "q_expand_months" ->
      s"""SELECT o_orderkey, strftime(daily_date, '%Y-%m-%d') AS daily_date FROM (
SELECT o_orderkey, CAST(unnest(generate_series(date_trunc('month', o_orderdate), CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS daily_date
FROM orders) t
WHERE dayofweek(daily_date) NOT IN (0, 6) AND strftime(daily_date, '%Y-%m-%d') NOT IN ($holidaySqlList)""",

    "q_fill_excluded" ->
      """WITH a AS (SELECT c_mktsegment, c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1, 2),
s AS (SELECT m.c_mktsegment, n.c_nationkey FROM (SELECT DISTINCT c_mktsegment FROM a) m CROSS JOIN (SELECT DISTINCT c_nationkey FROM a) n)
SELECT s.c_mktsegment, s.c_nationkey, coalesce(a.n_cust, 0) AS n_cust
FROM s LEFT JOIN a USING (c_mktsegment, c_nationkey)""",

    "q_add_missing_ffill" ->
      s"""WITH $ffillBase
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, coalesce(mval, last_value(mval IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mval FROM j""",

    "q_ffill_limit" ->
      s"""WITH $ffillBase,
r1 AS (SELECT user_id, day, mval, row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM j),
r2 AS (SELECT user_id, day, mval, rn,
last_value(CASE WHEN mval IS NOT NULL THEN rn END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnn,
last_value(mval IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM r1)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, CASE WHEN mval IS NOT NULL THEN mval WHEN rn - lnn <= 1 THEN filled END AS mval FROM r2""",

    "q_fillna_groups" ->
      """WITH b AS (SELECT user_id, event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v FROM events)
SELECT user_id, event_id, round(coalesce(v, avg(v) OVER (PARTITION BY user_id)) - 1e-9, 4) + 0.0 AS v FROM b""",

    "q_drop_missing_rows" ->
      """SELECT user_id, event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
FROM events WHERE event_type <> 'error'""",

    "q_sas_dates" ->
      """SELECT l_orderkey, l_linenumber, strftime(DATE '1960-01-01' + CAST(floor(l_quantity) AS INT), '%Y-%m-%d') AS sasdate FROM lineitem""",

    "q_year_month" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS "Year", CAST(month(o_orderdate) AS INT) AS "Month" FROM orders""",

    "q_state_abbrev" ->
      s"""SELECT n_nationkey, $stateCaseSql AS n_name FROM nation""",

    "q_join_col_strings" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
l_returnflag || '_' || l_linestatus AS flag_status FROM lineitem""",

    "q_select_rows" ->
      """SELECT l_orderkey, l_linenumber, l_discount, l_tax FROM lineitem WHERE l_discount > 0.05 OR l_tax > 0.05""",

    "q_sql_binding" ->
      """SELECT c.c_mktsegment, count(*) AS cnt FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment""",

    "q_corr_pairs" -> corrPairsSql,

    "q_regby" ->
      """SELECT l_returnflag, l_linestatus,
round(CASE WHEN count(*) >= 3 THEN regr_intercept(l_extendedprice, l_quantity) END, 3) AS const,
round(CASE WHEN count(*) >= 3 THEN regr_slope(l_extendedprice, l_quantity) END, 3) AS coef_l_quantity
FROM lineitem GROUP BY 1, 2""",

    "q_apply_unique" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym FROM orders""",

    "q_read_file" ->
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1""",

    "q_interval_overlap" ->
      """SELECT a.o_orderkey AS a_orderkey, b.o_orderkey AS b_orderkey
FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
AND a.o_orderkey % 13 = 0 AND b.o_orderkey % 17 = 0
AND a.o_orderdate <= b.o_orderdate + INTERVAL 10 DAY
AND b.o_orderdate <= a.o_orderdate + INTERVAL 10 DAY""",

    // the range join's semantic spec is the plain BETWEEN join —
    // DuckDB plans it however it likes; the engine side must produce
    // identical pairs through the bucketized equi join
    "q_range_join" ->
      """SELECT a.o_orderkey, b.o_orderkey AS window_orderkey
FROM orders a JOIN orders b
ON a.o_custkey = b.o_custkey AND b.o_orderkey % 97 = 0
AND a.o_orderdate >= b.o_orderdate
AND a.o_orderdate <= b.o_orderdate + INTERVAL 14 DAY""",

    // the engine side writes documents through the partitioned sink
    // and reads the layout back; the oracle is the source table —
    // any row lost, duplicated, or mangled by the write/read cycle
    // breaks the hash
    "q_sink_roundtrip" ->
      """SELECT doc_id, text, n_chars, lang, source FROM documents""",

    // closed form of graft.testing.SasFixture: the engine writes this
    // table as a real sas7bdat file and parses it back through the
    // page reader; the oracle regenerates the same rows directly.
    // CASTs keep the arithmetic in DOUBLE (DuckDB's bare 0.25 literal
    // is DECIMAL) and the date math in INT days.
    // four copies of the closed-form fixture: uncompressed + RLE +
    // RDC through the page parser, and the RDC file again through the
    // DataSourceV2 "sas7bdat" format
    "q_load_sas" ->
      """SELECT CAST(i % 500 AS DOUBLE) AS id,
CASE WHEN i % 500 % 7 = 3 THEN NULL ELSE CAST(i % 500 AS DOUBLE) * 0.25 - 10 END AS ret,
strftime(DATE '2000-01-01' + CAST(i % 500 AS INT), '%Y-%m-%d') AS evtdate,
CASE WHEN i % 500 % 11 = 5 THEN NULL ELSE 'T' || CAST(i % 500 % 97 AS VARCHAR) END AS ticker
FROM range(0, 2000) t(i)""",

    "q_token_count" ->
      """SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_tok FROM documents""",

    "q_regex_token_count" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_tok_re FROM documents""",

    "q_quality" -> qualitySql,

    "q_chunk" -> chunkSql(chunkSize = 16, overlap = 4),

    "q_gopher" -> gopherSql(minWords = 20, maxWords = 1000),

    "q_lang_id" -> langIdSql,

    "q_fingerprint" ->
      s"""SELECT doc_id, md5($fpNorm) AS fp FROM documents""",

    // winnowing replayed in SQL: the same normalization + base-31
    // mod-prime gram hash as q_rolling_hash, then per-window-start
    // min with the rightmost tie rule (max j among h = min), distinct
    // by selected position — the kernel's deque computes exactly this
    "q_winnow" ->
      s"""WITH ${winnowCtes(5, 4)}
SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, h AS gram_hash FROM sel""",

    // the winnow family composed with the q_ngram_jaccard verify
    // tail: candidates from shared fingerprints, exact word-shingle
    // Jaccard on the candidate pairs only
    "q_winnow_verified" ->
      s"""WITH ${winnowCtes(20, 16)},
fp AS (SELECT DISTINCT doc_id, h FROM sel),
ok AS (SELECT h FROM fp GROUP BY 1 HAVING count(*) <= 100),
fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h)),
cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM fpc a JOIN fpc b USING (h) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
shd AS (SELECT doc_id, list_distinct($shingles3) AS sg FROM documents)
SELECT c.id_a, c.id_b, c.n_shared,
round(CASE WHEN len(list_distinct(list_concat(a.sg, b.sg))) > 0
THEN CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg, b.sg))) AS DOUBLE)
ELSE 0.0 END, 6) AS jac
FROM cand c JOIN shd a ON c.id_a = a.doc_id JOIN shd b ON c.id_b = b.doc_id""",

    // the MOSS candidate join on the same replay at near-dup scale
    // (k=20, w=16): distinct fingerprint hashes per doc, hashes held
    // by more than 100 docs dropped whole, pairs by shared-hash
    // count >= 2 — mirrors Dedup.winnowCandidatesWithCleanup exactly
    "q_winnow_candidates" ->
      s"""WITH ${winnowCtes(20, 16)},
fp AS (SELECT DISTINCT doc_id, h FROM sel),
ok AS (SELECT h FROM fp GROUP BY 1 HAVING count(*) <= 100),
fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN ok USING (h))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fpc a JOIN fpc b USING (h)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2""",

    "q_rolling_hash" ->
      s"""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+', ' ', 'g'), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % ${TextAnalysis.rollingHashMod}) AS rhash FROM documents""",

    // Gopher-style repetition signals: dup-line / dup-word fractions
    // are per-row list expressions; the top-bigram coverage mirrors
    // the engine's explode -> count -> window-top-1 aggregation
    "q_repetition" ->
      s"""WITH base AS (SELECT doc_id,
CASE WHEN len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) > 0
THEN CAST(len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) - len(list_distinct(list_filter(string_split(text, chr(10)), x -> trim(x) <> ''))) AS DOUBLE) / len(list_filter(string_split(text, chr(10)), x -> trim(x) <> ''))
ELSE 0.0 END AS dup_line_frac,
CASE WHEN length(trim(text)) = 0 THEN 0.0
WHEN len(regexp_split_to_array(trim(text), '\\s+')) > 0
THEN CAST(len(regexp_split_to_array(trim(text), '\\s+')) - len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+'))
ELSE 0.0 END AS dup_word_frac,
length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS tc FROM documents),
g AS (SELECT doc_id, unnest(${shinglesSql(2)}) AS g FROM documents),
c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
top AS (SELECT doc_id, c * length(g) AS cov FROM c
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) = 1)
SELECT base.doc_id, round(dup_line_frac, 6) AS dup_line_frac, round(dup_word_frac, 6) AS dup_word_frac,
round(coalesce(CAST(cov AS DOUBLE) / tc, 0.0), 6) AS top_ngram_char_frac
FROM base LEFT JOIN top ON base.doc_id = top.doc_id""",

    // PII redaction: patterns come from the SAME Scala constants the
    // operator uses (TextAnalysis.piiPatterns); counts are taken on
    // the progressively-redacted text exactly like piiCounts, and the
    // 'g' flag matches Spark's replace-all semantics
    "q_pii_redact" -> {
      val pats = TextAnalysis.piiPatterns
      val (email, emailR) = pats(0); val (ip, ipR) = pats(1); val (phone, phoneR) = pats(2)
      s"""WITH a AS (SELECT doc_id,
text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 or call 555-123-4567' AS t
FROM documents),
e AS (SELECT doc_id, CAST(len(regexp_extract_all(t, '$email')) AS INT) AS pii_email,
regexp_replace(t, '$email', '$emailR', 'g') AS t FROM a),
i AS (SELECT doc_id, pii_email, CAST(len(regexp_extract_all(t, '$ip')) AS INT) AS pii_ip,
regexp_replace(t, '$ip', '$ipR', 'g') AS t FROM e),
p AS (SELECT doc_id, pii_email, pii_ip, CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS pii_phone,
regexp_replace(t, '$phone', '$phoneR', 'g') AS t FROM i)
SELECT doc_id, pii_email, pii_ip, pii_phone, md5(t) AS red_fp FROM p"""
    },

    // benchmark decontamination: distinct 3-gram overlap between the
    // corpus (doc_id % 37 <> 0) and the eval slice (doc_id % 37 = 0)
    "q_contaminated" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct($shingles3) AS sg FROM documents),
ex AS (SELECT doc_id, unnest(sg) AS g FROM sh),
ev AS (SELECT DISTINCT g FROM ex WHERE doc_id % 37 = 0),
co AS (SELECT doc_id, g FROM ex WHERE doc_id % 37 <> 0)
SELECT doc_id, count(*) AS n_overlap FROM co JOIN ev USING (g) GROUP BY 1""",

    "q_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct($shingles3) AS sg FROM documents),
ex AS (SELECT doc_id, unnest(sg) AS g FROM sh),
ev AS (SELECT DISTINCT g FROM ex WHERE doc_id % 37 = 0),
bad AS (SELECT DISTINCT co.doc_id FROM ex co JOIN ev USING (g) WHERE co.doc_id % 37 <> 0)
SELECT doc_id FROM documents WHERE doc_id % 37 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""",

    // char-window contamination: same normalization and window/
    // stride arithmetic as the engine (corpus strides at 10, eval
    // enumerates every offset, tail window flush with the end, short
    // texts contribute themselves); overlap counted on raw windows
    // where the engine counts their xxhash64 digests
    "q_char_contam" ->
      s"""WITH t0 AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
cw AS (SELECT doc_id, ${charWindowsSql(40, 10)} AS ws FROM t0 WHERE doc_id % 37 <> 0),
ew AS (SELECT doc_id, ${charWindowsSql(40, 1)} AS ws FROM t0 WHERE doc_id % 37 = 0),
ev AS (SELECT DISTINCT unnest(ws) AS w FROM ew),
co AS (SELECT doc_id, unnest(ws) AS w FROM cw)
SELECT doc_id, count(*) AS n_overlap FROM co JOIN ev USING (w) GROUP BY 1""",

    // bigram-LM cross-entropy (perplexity-proxy quality score):
    // add-0.5 smoothing, corpus unigram counts, vocab-size V — exact
    // integer counts up to the final log, so only the averaged log
    // needs rounding
    "q_bigram_xent" ->
      s"""WITH sh AS (SELECT doc_id, ${shinglesSql(2)} AS sg FROM documents),
g AS (SELECT doc_id, unnest(sg) AS bg FROM sh),
g2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM g),
bc AS (SELECT bg, count(*) AS cbg FROM g2 GROUP BY 1),
wds AS (SELECT unnest($wordsSql) AS w1 FROM documents),
uc AS (SELECT w1, count(*) AS cw FROM wds WHERE length(w1) > 0 GROUP BY 1),
v AS (SELECT count(DISTINCT w1) AS v FROM uc)
SELECT doc_id, round(-avg(ln((cbg + 0.5) / (cw + 0.5 * v))), 6) AS xent
FROM g2 JOIN bc USING (bg) JOIN uc USING (w1) CROSS JOIN v GROUP BY 1""",

    // gap-based session numbering; epoch_us on both sides sidesteps
    // the events table's nanosecond-timestamp formatting differences
    "q_sessionize" ->
      """WITH b AS (SELECT user_id, ts, value,
  CASE WHEN lag(ts) OVER w IS NULL
       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000 THEN 1 ELSE 0 END AS nb
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
SELECT user_id, epoch_us(ts) AS ts_us, value,
CAST(sum(nb) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
FROM b""",

    // per-source corpus report; tokens mirror q_token_count's word
    // rule, quantile_cont matches Spark's exact interpolating
    // percentile
    "q_corpus_stats" ->
      """WITH b AS (SELECT source,
  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc,
  length(text) AS lc FROM documents)
SELECT source, count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS n_tokens,
round(avg(tc), 6) AS avg_tokens,
round(quantile_cont(lc, 0.5), 4) AS p50_chars,
round(quantile_cont(lc, 0.9), 4) AS p90_chars,
round(quantile_cont(lc, 0.99), 4) AS p99_chars
FROM b GROUP BY 1""",

    // unicode normalization: the decomposed suffix (chr(769) =
    // U+0301 combining acute, chr(776) = U+0308 combining diaeresis)
    // matches the Spark side's literal; nfc_normalize/strip_accents
    // are DuckDB's independent implementations of the same standard
    "q_normalize" ->
      """WITH a AS (SELECT doc_id,
  text || ' cafe' || chr(769) || ' nai' || chr(776) || 've ' || CAST(doc_id AS VARCHAR) AS aug
FROM documents)
SELECT doc_id, length(aug) AS n_raw, length(nfc_normalize(aug)) AS n_nfc,
md5(nfc_normalize(aug)) AS nfc_fp, md5(strip_accents(aug)) AS ascii_fp FROM a""",

    // C4 cleaning over the derived lined corpus (5-word lines, '.'
    // on even lines — the same derivation as the Spark side): line
    // filters (terminal punct, >=5 words, no javascript) then the
    // doc-level minKeptLines floor
    "q_c4_clean" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
ln0 AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT)), i ->
  array_to_string(ws[(i*5+1):(i*5+5)], ' ') || CASE WHEN i % 2 = 0 THEN '.' ELSE '' END) AS ls FROM w),
d AS (SELECT doc_id, array_to_string(ls, chr(10)) AS text FROM ln0),
l0 AS (SELECT doc_id, string_split(text, chr(10)) AS lsx FROM d
  WHERE NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum')),
l AS (SELECT doc_id, unnest(list_transform(range(1, len(lsx) + 1), j -> {'j': j, 'line': trim(lsx[j])})) AS s FROM l0),
k AS (SELECT doc_id, s.j AS j, s.line AS line FROM l
  WHERE (s.line LIKE '%.' OR s.line LIKE '%!' OR s.line LIKE '%?' OR s.line LIKE '%"')
    AND len(regexp_split_to_array(s.line, '\\s+')) >= 5
    AND NOT contains(lower(s.line), 'javascript')),
r AS (SELECT doc_id, count(*) AS n_lines_kept, string_agg(line, chr(10) ORDER BY j) AS text_clean FROM k GROUP BY 1)
SELECT doc_id, n_lines_kept, text_clean FROM r WHERE n_lines_kept >= 3""",

    // mixture resampling: per-source copy counts = floor(weight) +
    // one fractional deterministic draw, from the same hash family
    // and threshold constants the operator embeds
    "q_mixture" ->
      s"""WITH b AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR) || chr(1) || 'm1') AS dg FROM documents),
c AS (SELECT doc_id, source, CASE source
  WHEN 'src0' THEN 2 + CASE WHEN dg < '${Sampling.fractionThresholdHex(0.5)}' THEN 1 ELSE 0 END
  WHEN 'src1' THEN 0 + CASE WHEN dg < '${Sampling.fractionThresholdHex(0.25)}' THEN 1 ELSE 0 END
  WHEN 'src2' THEN 0
  ELSE 1 END AS copies FROM b)
SELECT doc_id, source, unnest(range(copies)) AS copy FROM c WHERE copies > 0""",

    // concat-and-chunk packing: the oracle is the naive single
    // global cumsum the operator's distributed prefix sum must equal
    "q_shuffle_rank" ->
      """WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || chr(1) || 'epoch1') AS ok FROM documents)
SELECT doc_id, CAST(row_number() OVER (ORDER BY ok, doc_id) - 1 AS BIGINT) AS shuffle_rank FROM b""",

    "q_pack" ->
      s"""WITH b AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR) || chr(1) || 'p1') AS ok FROM documents),
c AS (SELECT doc_id, n_chars,
  CAST(sum(n_chars) OVER (ORDER BY ok, doc_id ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS st FROM b)
SELECT doc_id, n_chars, st // 2048 AS pack_id, st % 2048 AS pack_offset FROM c""",

    // corpus TF-IDF, top-3 words per doc on exact-integer ordering
    "q_tfidf" ->
      s"""WITH wds AS (SELECT doc_id, unnest($wordsSql) AS word FROM documents),
wf AS (SELECT doc_id, word, count(*) AS tf FROM wds WHERE length(word) > 0 GROUP BY 1, 2),
dfq AS (SELECT word, count(*) AS df FROM wf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
SELECT doc_id, word, tf, df, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
FROM wf JOIN dfq USING (word) CROSS JOIN n
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, word ASC) <= 3""",

    "q_dedup_exact_groups" ->
      s"""SELECT md5($fpNorm) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY 1""",

    "q_dedup_exact" ->
      s"""SELECT doc_id FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5($fpNorm))""",

    "q_minhash_candidates" -> minhashSql,
    "q_cross_neardup" -> crossMinhashSql,
    "q_cross_neardup_verified" -> crossVerifiedSql,

    // incremental dedup parity: batch-A-store + batch-B == one shot.
    // The oracle is deliberately the SAME full-corpus minhash replay —
    // the engine's store round-trip must be invisible in the result
    "q_dedup_incremental" -> minhashSql,

    "q_simhash" -> simhashSql,

    // Jaccard verified on LSH candidate pairs only — mirrors the
    // engine's minhashCandidates -> exact-verify composition
    "q_ngram_jaccard" ->
      s"""WITH $minhashCtes,
shd AS (SELECT doc_id, list_distinct(sg) AS sg FROM sh)
SELECT c.id_a, c.id_b,
round(CASE WHEN len(list_distinct(list_concat(a.sg, b.sg))) > 0
THEN CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg, b.sg))) AS DOUBLE)
ELSE 0.0 END, 6) AS jac
FROM cand c JOIN shd a ON c.id_a = a.doc_id JOIN shd b ON c.id_b = b.doc_id""",

    // transitive closure over the jaccard-verified candidate edges:
    // cluster = min reachable doc id; singletons keep their own id
    "q_neardup_groups" ->
      s"""WITH RECURSIVE $minhashCtes,
shd AS (SELECT doc_id, list_distinct(sg) AS sg FROM sh),
e AS (SELECT c.id_a, c.id_b FROM cand c
JOIN shd a ON c.id_a = a.doc_id JOIN shd b ON c.id_b = b.doc_id
WHERE len(list_distinct(list_concat(a.sg, b.sg))) > 0
AND CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg, b.sg))) AS DOUBLE) >= 0.5),
sym AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
reach(node, r) AS (
SELECT src, src FROM sym
UNION
SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node),
lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
SELECT d.doc_id, coalesce(lab.cluster, d.doc_id) AS cluster
FROM documents d LEFT JOIN lab ON d.doc_id = lab.node""",

    // same transitive closure, then keep the longest document per
    // cluster (ties to the smaller id) — mirrors nearDupRepresentatives
    "q_neardup_keep" ->
      s"""WITH RECURSIVE $minhashCtes,
shd AS (SELECT doc_id, list_distinct(sg) AS sg FROM sh),
e AS (SELECT c.id_a, c.id_b FROM cand c
JOIN shd a ON c.id_a = a.doc_id JOIN shd b ON c.id_b = b.doc_id
WHERE len(list_distinct(list_concat(a.sg, b.sg))) > 0
AND CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sg, b.sg))) AS DOUBLE) >= 0.5),
sym AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
reach(node, r) AS (
SELECT src, src FROM sym
UNION
SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.node),
lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
full_lab AS (SELECT d.doc_id, length(d.text) AS tl, coalesce(lab.cluster, d.doc_id) AS cluster
FROM documents d LEFT JOIN lab ON d.doc_id = lab.node)
SELECT doc_id, cluster FROM full_lab
QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY tl DESC, doc_id ASC) = 1""",

    "q_simhash_candidates" -> simhashCandidatesSql,

    // the maxBlockSize=30 participation cap replays as a per-label
    // lowest-id rank filter before the pair join
    "q_embed_neardups" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id) <= 30)
SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.25""",

    // SemDeDup: trained-quantizer cells + hot-cell cap, mirroring the
    // engine's kmeansCentroids(k=16, iters=1) + maxCellSize=1000
    "q_semdedup" -> semdedupSql(k = 16, iters = 1, dims = 64, threshold = 0.25, maxCellSize = 1000),

    // compressed IVF: float cell routing (the q_ann_ivf CTEs), int8
    // scoring — same quantization replay as q_ann_int8
    "q_ann_ivf_int8" -> annIvfInt8Sql,

    // the PERSISTED int8 index serves the exact in-memory ivfInt8TopK
    // math: float routing into stored cells, quantized codes + stored
    // code norms scoring inside the probed partitions — one oracle
    "q_ann_ivf_store_int8" -> annIvfInt8Sql,

    // int8 quantization replay: codes as DOUBLE lists (integer-exact
    // sums), scales cancel in the cosine ratio
    "q_ann_int8" ->
      """WITH c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
z AS (SELECT vec_id, list_max(list_transform(emb, x -> abs(x))) / 127.0 AS s, emb FROM c0),
cz AS (SELECT vec_id,
  CASE WHEN s = 0 THEN list_transform(emb, x -> 0.0)
       ELSE list_transform(emb, x -> round(x / s)) END AS q FROM z),
qq AS (SELECT vec_id, q FROM cz WHERE vec_id % 50 = 0),
sc AS (SELECT qq.vec_id AS query_id, cz.vec_id AS neighbor_id,
  round(list_dot_product(qq.q, cz.q) /
        (sqrt(list_dot_product(qq.q, qq.q)) * sqrt(list_dot_product(cz.q, cz.q))), 4) AS score
  FROM qq CROSS JOIN cz WHERE qq.vec_id <> cz.vec_id),
r AS (SELECT query_id, neighbor_id, score,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS "rank" FROM sc)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    "q_ann_bruteforce" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, round(list_cosine_similarity(q.emb, c.emb), 4) AS score FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
r AS (SELECT query_id, neighbor_id, score, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    "q_ann_lsh" -> annLshSql,

    // recallReport replay: per (nlist, nprobe) config, brute-force
    // ground truth and the routed IVF serving both re-derive in SQL,
    // recall = |intersection| / |truth| (exact int counts, one IEEE
    // division on each side), probed_fraction = nprobe / resolved.
    // One self-contained WITH chain per config, UNION ALL'd.
    "q_recall_report" -> Seq(
      ("16", 2, 16), ("16", 4, 16),
      ("greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT))", 4, 0)
    ).map { case (nlistSql, nprobe, nlistOut) =>
      recallConfigSql(k = 5, qmod = 50, nlistSql = nlistSql, nprobe = nprobe, nlistOut = nlistOut)
    }.mkString("\nUNION ALL\n"),

    // JL projection replay: same md5-derived planes (embedded as
    // literals from the SAME planeMatrix call), same left-to-right
    // sum, same /sqrt(k) division
    "q_rand_proj" -> {
      val m = Similarity.planeMatrix(8, 64, 7)
      val comps = (0 until 8).map { p =>
        val lst = m(p).mkString("[", ", ", "]")
        // + 0.0 canonicalizes IEEE signed zero (matches the Spark side)
        s"round(list_sum(list_transform(range(1, 65), i -> emb[i] * ($lst)[i])) / sqrt(8.0 / 3.0), 6) + 0.0 AS c$p"
      }.mkString(",\n")
      s"""SELECT vec_id,
$comps
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"""
    },

    // IVF mirrors the engine cell-for-cell: md5-ordered centroid draw
    // (nlist re-derived as max(16, ceil(sqrt(n))) over the same
    // nonzero set — Similarity.autoNlist), rank-1 corpus assignment,
    // nprobe query probing, global re-rank
    "q_ann_ivf" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
  <= greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT))),
${routedCaCtes("cents", "c", "neighbor_id")},
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= 4),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) WHERE qa.query_id <> ca.neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    // filtered ANN: the standard routed IVF replay with the payload
    // predicate applied to CANDIDATES before the rank window — the
    // engine pushes the same predicate into its probed-cell scan, so
    // k fills from matching rows on both sides
    "q_ann_filtered" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
  <= greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT))),
${routedCaCtes("cents", "c", "neighbor_id")},
lab AS (SELECT vec_id, label FROM embeddings),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= 4),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id
WHERE qa.query_id <> ca.neighbor_id AND lab.label = 3),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    // selectivity-aware probing (r18): the widening is deterministic
    // — base nprobe=2 cells per query, the label=3 selectivity
    // counted over those cells' rows, nprobe widened to
    // min(nlist, ceil(2·n/m)), then the standard filtered IVF replay
    // at the widened probe
    "q_ann_adaptive" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
  <= greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT))),
${routedCaCtes("cents", "c", "neighbor_id")},
lab AS (SELECT vec_id, label FROM embeddings),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
qa0 AS (SELECT query_id, cent_id FROM (
SELECT q.vec_id AS query_id, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= 2),
probe AS (SELECT DISTINCT cent_id FROM qa0),
sel AS (SELECT count(*) AS n, count(CASE WHEN lab.label = 3 THEN 1 END) AS m
FROM ca JOIN probe USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id),
wid AS (SELECT CASE WHEN m = 0 OR n = 0 THEN (SELECT count(*) FROM cents)
ELSE least((SELECT count(*) FROM cents), CAST(ceil(2.0 * n / m) AS BIGINT)) END AS w FROM sel),
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= (SELECT w FROM wid)),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id
WHERE qa.query_id <> ca.neighbor_id AND lab.label = 3),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    // histogram-bounded adaptive probing (r19, VERDICT r18 #2): the
    // store keeps a per-cell payload histogram, the predicate names a
    // RARE derived label (~1%: vec_id % 97 → label 99), and maxProbe
    // caps the widening — m = 0 over the base probed cells widens to
    // min(maxProbe, nlist) instead of a full probe, and the serve
    // touches only match-bearing cells (result-identical to the
    // unrestricted scan, so the oracle replays the plain filtered
    // serve at the capped widened probe). The widening is a pure
    // function of the corpus — counts, cap, and the rank window all
    // re-derive in SQL.
    "q_ann_adaptive_hist" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
  <= greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT))),
${routedCaCtes("cents", "c", "neighbor_id")},
lab AS (SELECT vec_id, CASE WHEN vec_id % 97 = 0 THEN 99 ELSE label END AS label FROM embeddings),
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
mp AS (SELECT least(12, (SELECT count(*) FROM cents)) AS w),
qa0 AS (SELECT query_id, cent_id FROM (
SELECT q.vec_id AS query_id, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= 2),
probe AS (SELECT DISTINCT cent_id FROM qa0),
sel AS (SELECT count(*) AS n, count(CASE WHEN lab.label = 99 THEN 1 END) AS m
FROM ca JOIN probe USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id),
wid AS (SELECT CASE WHEN m = 0 OR n = 0 THEN (SELECT w FROM mp)
ELSE least((SELECT w FROM mp), CAST(ceil(2.0 * n / m) AS BIGINT)) END AS w FROM sel),
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= (SELECT w FROM wid)),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) JOIN lab ON lab.vec_id = ca.neighbor_id
WHERE qa.query_id <> ca.neighbor_id AND lab.label = 99),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    // trained-quantizer IVF: the kmeans CTE chain (one Lloyd round
    // over the md5 init draw, trained on ALL vectors like the engine)
    // supplies the centroids; routing/scoring/ranking are the
    // standard IVF CTEs over the nonzero set
    "q_ann_ivf_fitted" -> {
      s"""WITH c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
${kmeansTrainCtes(16, 1, 64, src = "c0")},
c AS (SELECT vec_id, emb FROM c0 WHERE list_dot_product(emb, emb) > 0 AND NOT isnan(list_dot_product(emb, emb))),
${routedCaCtes("cents1", "c", "neighbor_id")},
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents1) t WHERE cr <= 4),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) WHERE qa.query_id <> ca.neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5"""
    },

    // same semantics as q_ann_ivf — the engine side serves from the
    // persisted cell-partitioned index instead of recomputing assignment
    "q_ann_ivf_store" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0 AND NOT isnan(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))),
cents AS (SELECT vec_id AS cent_id, emb AS cemb FROM c
QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
  <= greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM c))) AS BIGINT))),
${routedCaCtes("cents", "c", "neighbor_id")},
q AS (SELECT vec_id, emb FROM c WHERE vec_id % 50 = 0),
qa AS (SELECT query_id, qemb, cent_id FROM (
SELECT q.vec_id AS query_id, q.emb AS qemb, cent_id,
row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.emb, cemb), 4) DESC, cent_id) AS cr
FROM q CROSS JOIN cents) t WHERE cr <= 4),
s AS (SELECT qa.query_id, ca.neighbor_id, round(list_cosine_similarity(qa.qemb, ca.emb), 4) AS score
FROM qa JOIN ca USING (cent_id) WHERE qa.query_id <> ca.neighbor_id),
r AS (SELECT query_id, neighbor_id, score,
CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS "rank" FROM s)
SELECT query_id, neighbor_id, score, "rank" FROM r WHERE "rank" <= 5""",

    "q_media_metadata" ->
      """SELECT doc_id, 'text/plain' AS mime, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, md5(text) AS digest FROM documents""",

    // threshold generated from the same Scala constant the operator
    // uses; chr(1) = the unit separator in deterministicSample
    "q_sample_det" ->
      s"""SELECT doc_id, lang FROM documents
WHERE md5(CAST(doc_id AS VARCHAR) || chr(1) || 's1') < '${Sampling.fractionThresholdHex(0.3)}'""",

    // multi-way split: same hash family, cumulative thresholds from
    // the same fractionThresholdHex the operator embeds
    "q_split_assign" ->
      s"""SELECT doc_id,
CASE WHEN md5(CAST(doc_id AS VARCHAR) || chr(1) || 's2') < '${Sampling.fractionThresholdHex(0.8)}' THEN 'train'
WHEN md5(CAST(doc_id AS VARCHAR) || chr(1) || 's2') < '${Sampling.fractionThresholdHex(0.9)}' THEN 'validation'
WHEN md5(CAST(doc_id AS VARCHAR) || chr(1) || 's2') < '${Sampling.fractionThresholdHex(1.0)}' THEN 'test'
ELSE 'rest' END AS split
FROM documents""",

    // corpus-wide line dedup: first occurrence by (doc_id, line idx)
    // per trimmed-line digest, documents rebuilt in original order
    "q_dedup_lines" ->
      """WITH l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1), i -> {'i': i, 'line': ls[i]})) AS s FROM l0),
f AS (SELECT doc_id, s.i AS i, s.line AS line FROM l WHERE length(trim(s.line)) > 0),
k AS (SELECT doc_id, i, line FROM f QUALIFY row_number() OVER (PARTITION BY md5(trim(line)) ORDER BY doc_id, i) = 1),
r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text_dedup FROM k GROUP BY 1)
SELECT d.doc_id, coalesce(r.text_dedup, '') AS text_dedup FROM documents d LEFT JOIN r USING (doc_id)""",

    "q_cap_group" ->
      """WITH r AS (SELECT doc_id, lang,
row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
FROM documents)
SELECT doc_id, lang FROM r WHERE rn <= 50""",

    // frame digest = md5 over the hex encoding of each byte window
    // (hex is ASCII, so string md5 matches Spark's byte md5 of the
    // same hex text exactly; see Multimodal.sampleFrames)
    "q_media_frames" ->
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents),
s AS (SELECT doc_id, hx, greatest(CAST(floor(n / 4.0) AS BIGINT), 1) AS step FROM h),
f AS (SELECT doc_id, hx, step, unnest([0, 1, 2, 3]) AS frame_idx FROM s)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
md5(substring(hx, CAST(frame_idx * step * 2 + 1 AS INT), CAST(step * 2 AS INT))) AS frame_digest
FROM f""",

    // lane-mean byte features: integer lane sums / (255 * lane count),
    // cast through float32 exactly as Multimodal.decodeStub does —
    // every arithmetic step is IEEE-deterministic so the hash matches
    "q_media_features" ->
      """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n FROM documents),
p AS (SELECT doc_id, hx, unnest(range(0, n)) AS pos FROM h),
b AS (SELECT doc_id, CAST(pos % 8 AS INT) AS dim,
(strpos('0123456789ABCDEF', substring(hx, CAST(2*pos+1 AS INT), 1)) - 1) * 16
+ (strpos('0123456789ABCDEF', substring(hx, CAST(2*pos+2 AS INT), 1)) - 1) AS byte
FROM p),
agg AS (SELECT doc_id, dim, sum(byte) AS s, count(*) AS c FROM b GROUP BY 1, 2),
grid AS (SELECT d.doc_id, dm.dim FROM (SELECT DISTINCT doc_id FROM documents) d
CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INT) AS dim) dm)
SELECT grid.doc_id, grid.dim,
round(CAST(CAST(CASE WHEN agg.c IS NULL THEN 0.0 ELSE agg.s / (255.0 * agg.c) END AS FLOAT) AS DOUBLE), 6) AS value
FROM grid LEFT JOIN agg ON grid.doc_id = agg.doc_id AND grid.dim = agg.dim""",

    // closed form of graft.testing.MediaFixture (the q_load_sas
    // pattern): the engine GENERATES structurally valid PNG/JPEG/GIF/
    // WAV container bytes whose header fields are pure functions of
    // the row index, PARSES them back via Multimodal.parseMediaHeader,
    // and the oracle regenerates the expected fields directly. k is
    // the per-variant cycle index; `//` keeps all arithmetic in
    // integer floor division, matching the JVM's Long math exactly.
    // i % 5 = 4 rows are deliberately corrupt payloads -> 'unknown'.
    "q_media_dims" ->
      """SELECT i AS id,
CASE CAST(i % 5 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'unknown' END AS format,
CASE WHEN i % 5 <= 2 THEN CAST(16 + i % 241 AS INT) END AS width,
CASE WHEN i % 5 <= 2 THEN CAST(16 + i % 181 AS INT) END AS height,
CASE WHEN i % 5 = 3 THEN CAST(8000 + ((i // 5) % 5) * 2000 AS INT) END AS sample_rate,
CASE WHEN i % 5 = 3 THEN CAST(1 + (i // 5) % 2 AS INT) END AS channels,
CASE WHEN i % 5 = 3 THEN CAST(8 * (1 + ((i // 5) // 2) % 2) AS INT) END AS bits_per_sample,
CASE WHEN i % 5 = 3 THEN (200 + i % 777) * 1000 // ((8000 + ((i // 5) % 5) * 2000) * (1 + (i // 5) % 2) * (1 + ((i // 5) // 2) % 2)) END AS duration_ms
FROM range(0, 500) t(i)""",

    // closed form of the WAV fixtures' DECODED samples: data byte j is
    // (i*31 + j*7 + 3) % 256, so 8-bit samples are byte - 128 and
    // 16-bit samples are the signed LE pair; peak and the exact
    // BIGINT sum-of-squares behind rms replay the JVM decode path
    // bit-for-bit (single double division + sqrt, IEEE-deterministic)
    "q_audio_features" ->
      """WITH w AS (SELECT i, i // 5 AS k, 200 + i % 777 AS nb FROM range(0, 500) t(i) WHERE i % 5 = 3),
p AS (SELECT i, nb, 1 + (k // 2) % 2 AS bps FROM w),
e AS (SELECT i, bps, unnest(range(0, nb // bps)) AS j FROM p),
v AS (SELECT i,
CASE WHEN bps = 1 THEN ((i*31 + j*7 + 3) % 256) - 128
ELSE CASE WHEN ((i*31 + (2*j)*7 + 3) % 256) + 256 * ((i*31 + (2*j+1)*7 + 3) % 256) >= 32768
THEN ((i*31 + (2*j)*7 + 3) % 256) + 256 * ((i*31 + (2*j+1)*7 + 3) % 256) - 65536
ELSE ((i*31 + (2*j)*7 + 3) % 256) + 256 * ((i*31 + (2*j+1)*7 + 3) % 256) END END AS s
FROM e)
SELECT i AS id, CAST(count(*) AS BIGINT) AS n_samples, CAST(max(abs(s)) AS INT) AS peak,
round(sqrt(CAST(sum(s*s) AS DOUBLE) / count(*)), 6) AS rms
FROM v GROUP BY 1""",

    // closed form of the PNG fixtures' DECODED pixels: channel c of
    // pixel (x, y) in image i is (x*7 + y*13 + c*29 + i*31) % 256.
    // The engine inflates and unfilters real zlib scanlines to get
    // here; the oracle regenerates the pixels and averages. Exact
    // BIGINT channel sums + one double division mirror the JVM path.
    "q_image_features" ->
      """WITH d AS (SELECT i, 4 + i % 13 AS w, 3 + i % 11 AS h FROM range(0, 200) t(i)),
gx AS (SELECT i, w, h, unnest(range(0, w)) AS x FROM d),
g AS (SELECT i, w, h, x, unnest(range(0, h)) AS y FROM gx),
v AS (SELECT i, w, h,
(x*7 + y*13 + i*31) % 256 AS r, (x*7 + y*13 + 29 + i*31) % 256 AS gc,
(x*7 + y*13 + 58 + i*31) % 256 AS b, (x*7 + y*13 + 87 + i*31) % 256 AS a
FROM g)
SELECT i AS id, CAST(w * h AS BIGINT) AS n_pixels,
round(CAST(sum(r) AS DOUBLE) / (w * h), 6) AS mean_r,
round(CAST(sum(gc) AS DOUBLE) / (w * h), 6) AS mean_g,
round(CAST(sum(b) AS DOUBLE) / (w * h), 6) AS mean_b,
round(CAST(sum(a) AS DOUBLE) / (w * h), 6) AS mean_a
FROM v GROUP BY i, w, h""",

    // closed form of the GIF fixtures' DECODED pixels: palette index
    // of (x, y) is (x*7 + y*13 + i*31) % 256 and the palette maps
    // p -> (p, (2p+1) % 256, 255 - p). The engine gets here through a
    // real LZW variable-width code stream; the oracle composes the
    // two closed forms.
    "q_gif_features" ->
      """WITH d AS (SELECT i, 4 + i % 13 AS w, 3 + i % 11 AS h FROM range(0, 200) t(i)),
gx AS (SELECT i, w, h, unnest(range(0, w)) AS x FROM d),
g AS (SELECT i, w, h, x, unnest(range(0, h)) AS y FROM gx),
v AS (SELECT i, w, h, (x*7 + y*13 + i*31) % 256 AS p FROM g)
SELECT i AS id, CAST(w * h AS BIGINT) AS n_pixels,
round(CAST(sum(p) AS DOUBLE) / (w * h), 6) AS mean_r,
round(CAST(sum((2*p + 1) % 256) AS DOUBLE) / (w * h), 6) AS mean_g,
round(CAST(sum(255 - p) AS DOUBLE) / (w * h), 6) AS mean_b
FROM v GROUP BY i, w, h""",

    // closed form of the JPEG fixtures' decoded pixels: grayscale
    // constant-per-8x8-block content round-trips the lossy pipeline
    // exactly (DC-only blocks, uniform quant 8), so pixel (x, y) of
    // image i is just the block formula at (x//8, y//8). The engine
    // gets here through a real Huffman + dequant + IDCT decode.
    "q_jpeg_features" ->
      """WITH d AS (SELECT i, 9 + i % 16 AS w, 9 + i % 12 AS h FROM range(0, 200) t(i)),
gx AS (SELECT i, w, h, unnest(range(0, w)) AS x FROM d),
g AS (SELECT i, w, h, x, unnest(range(0, h)) AS y FROM gx),
v AS (SELECT i, w, h, ((x // 8) * 37 + (y // 8) * 59 + i * 31) % 256 AS p FROM g)
SELECT i AS id, CAST(w * h AS BIGINT) AS n_pixels,
round(CAST(sum(p) AS DOUBLE) / (w * h), 6) AS mean_r
FROM v GROUP BY i, w, h""",

    // the 24-bit PCM fixtures' samples are closed-form (full signed
    // range): v = (k*2654435761 + i*40503 + 7) mod 2^24, centered
    "q_audio_wide" ->
      """WITH s AS (SELECT i, unnest(range(0, 400)) AS k FROM range(0, 150) t(i)),
v AS (SELECT i, ((k * 2654435761 + i * 40503 + 7) % 16777216) - 8388608 AS v FROM s)
SELECT i AS id, CAST(count(*) AS BIGINT) AS n_samples, CAST(max(abs(v)) AS INT) AS peak,
round(sqrt(CAST(sum(v*v) AS DOUBLE) / count(*)), 6) AS rms
FROM v GROUP BY 1""",

    // adaptive 2x2 pooling over the PNG fixtures' closed-form pixels:
    // pixel (x, y) lands in cell (y*2//h, x*2//w); intensity sums the
    // first three RGBA channels; float32 rounding matches the engine
    "q_image_embed" ->
      """WITH d AS (SELECT i, 4 + i % 13 AS w, 3 + i % 11 AS h FROM range(0, 200) t(i)),
gx AS (SELECT i, w, h, unnest(range(0, w)) AS x FROM d),
g AS (SELECT i, w, h, x, unnest(range(0, h)) AS y FROM gx),
v AS (SELECT i, CAST((y * 2 // h) * 2 + (x * 2 // w) AS INT) AS dim,
(x*7 + y*13 + i*31) % 256 + (x*7 + y*13 + 29 + i*31) % 256
+ (x*7 + y*13 + 58 + i*31) % 256 AS inten FROM g)
SELECT i AS id, dim,
round(CAST(CAST(sum(inten) / (765.0 * count(*)) AS FLOAT) AS DOUBLE), 6) AS value
FROM v GROUP BY i, dim""",

    // closed-form final BPE token counts of the TokenFixture texts:
    // hello->1, helz->2, xyz->2, abc->3 under the fixture merges
    "q_bpe_count" ->
      """SELECT i AS id,
CAST((1 + i % 4) + (i % 3) * 2 + (1 + i % 5) * 2 + (i % 2) * 3 AS BIGINT) AS n_bpe
FROM range(0, 400) t(i)""",

    // linear-classifier inference mirroring TextAnalysis
    // .scoreLinearModel: the dsir gram/bucket machinery (unigrams +
    // bigrams, md5-uint32 buckets), the closed-form weight vector
    // w[b] = ((b*37 + 11) % 201 - 100)/100, bias 0.1, sigmoid
    "q_quality_model" ->
      s"""WITH gr AS (SELECT doc_id, unnest(list_concat(ws, list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS g
FROM (SELECT doc_id, list_filter($wordsSql, w -> w <> '') AS ws FROM documents) t),
db AS (SELECT doc_id, CAST(('0x' || substring(md5(g), 1, 8))::BIGINT % 64 AS INT) AS b, count(*) AS c FROM gr GROUP BY 1, 2),
sc AS (SELECT doc_id, sum(c * (((b * 37 + 11) % 201 - 100) / 100.0)) AS s FROM db GROUP BY 1)
SELECT d.doc_id, round(1.0 / (1.0 + exp(-(0.1 + coalesce(sc.s, 0.0)))), 6) AS score
FROM documents d LEFT JOIN sc USING (doc_id)""",

    // expected EXTRACTED text of the HTML fixtures (WebFixture
    // .htmlPayload): title twice (title tag + h1), then the
    // paragraphs with their entity decoded and inline tags spaced out
    "q_html_text" ->
      """WITH p AS (SELECT i, unnest(range(0, 2 + i % 3)) AS p FROM range(0, 300) t(i)),
a AS (SELECT i, string_agg('Paragraph ' || CAST(p AS VARCHAR) || ' of doc ' || CAST(i AS VARCHAR) || ' with 5 & bold words.', ' ' ORDER BY p) AS body FROM p GROUP BY i)
SELECT i AS id, 'Title ' || CAST(i AS VARCHAR) || ' Title ' || CAST(i AS VARCHAR) || ' ' || body AS text FROM a""",

    // inflated text of the gzip fixtures (WebFixture.gzipText);
    // truncated members (i % 10 = 9) decode to null
    "q_gunzip" ->
      """SELECT i AS id,
CASE WHEN i % 10 = 9 THEN NULL
ELSE repeat('line' || CAST(i AS VARCHAR) || ';', CAST(3 + i % 7 AS INT)) END AS text
FROM range(0, 300) t(i)""",

    // closed form of the WARC fixtures' record envelopes: record r of
    // file i has type response/request by parity, target URI =
    // UrlFixture.canonical((i*7 + r) % 100), body length
    // 30 + ((i*11 + r*5) % 50), body byte k =
    // (i*31 + r*17 + k*7 + 3) % 256 — the digest is md5 over the
    // UPPERCASE hex of those bytes, the q_video_frames convention
    "q_warc" ->
      """WITH f AS (SELECT i, unnest(range(0, 2 + i % 4)) AS r FROM range(0, 200) t(i)),
e AS (SELECT i, r, (i*7 + r) % 100 AS n, 30 + ((i*11 + r*5) % 50) AS len FROM f),
byts AS (SELECT i, r, n, len, unnest(range(0, len)) AS k FROM e),
hx AS (SELECT i, r, n, len,
string_agg(substring('0123456789ABCDEF', CAST(((i*31 + r*17 + k*7 + 3) % 256) // 16 + 1 AS INT), 1)
|| substring('0123456789ABCDEF', CAST(((i*31 + r*17 + k*7 + 3) % 256) % 16 + 1 AS INT), 1), '' ORDER BY k) AS hexs
FROM byts GROUP BY i, r, n, len)
SELECT i AS id, CAST(r AS INT) AS rec_idx,
CASE WHEN r % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
'http://host' || CAST(n % 7 AS VARCHAR) || '.example.com/Doc/' || CAST(n AS VARCHAR)
|| '?a=' || CAST(n % 13 AS VARCHAR) || '&b=' || CAST(n % 7 AS VARCHAR) AS target_uri,
CAST(len AS BIGINT) AS content_length, md5(hexs) AS body_digest
FROM hx""",

    // expected dechunked text of the chunked fixtures: the pieces
    // concatenated in order; truncated rows (i % 10 = 9) decode null
    "q_dechunk" ->
      """WITH p AS (SELECT i, unnest(range(0, 2 + i % 4)) AS j FROM range(0, 300) t(i)),
a AS (SELECT i, string_agg('seg' || CAST(j AS VARCHAR) || '-' || CAST(i AS VARCHAR) || ';', '' ORDER BY j) AS txt FROM p GROUP BY i)
SELECT i AS id, CASE WHEN i % 10 = 9 THEN NULL ELSE txt END AS text FROM a""",

    // the HTTP layer of the WebFixture.warcHttpPayload records:
    // status/media type by record parity, digest over the closed-form
    // ENTITY bytes (i*13 + r*11 + k*5 + 7) % 256 of length
    // 20 + ((i*7 + r*3) % 30) — identical for request records, whose
    // raw body IS those bytes
    "q_warc_http" ->
      """WITH f AS (SELECT i, unnest(range(0, 2 + i % 4)) AS r FROM range(0, 200) t(i)),
e AS (SELECT i, r, (i*7 + r) % 100 AS n, 20 + ((i*7 + r*3) % 30) AS len FROM f),
byts AS (SELECT i, r, n, len, unnest(range(0, len)) AS k FROM e),
hx AS (SELECT i, r, n, len,
string_agg(substring('0123456789ABCDEF', CAST(((i*13 + r*11 + k*5 + 7) % 256) // 16 + 1 AS INT), 1)
|| substring('0123456789ABCDEF', CAST(((i*13 + r*11 + k*5 + 7) % 256) % 16 + 1 AS INT), 1), '' ORDER BY k) AS hexs
FROM byts GROUP BY i, r, n, len)
SELECT i AS id, CAST(r AS INT) AS rec_idx,
CASE WHEN r % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
'http://host' || CAST(n % 7 AS VARCHAR) || '.example.com/Doc/' || CAST(n AS VARCHAR)
|| '?a=' || CAST(n % 13 AS VARCHAR) || '&b=' || CAST(n % 7 AS VARCHAR) AS target_uri,
CASE WHEN r % 2 = 0 THEN CASE WHEN (r // 2) % 2 = 0 THEN 200 ELSE 404 END END AS status,
CASE WHEN r % 2 = 0 THEN CASE WHEN (r // 2) % 2 = 0 THEN 'text/html' ELSE 'application/json' END END AS content_type,
md5(hexs) AS body_digest
FROM hx""",

    // KMV distinct sketch mirroring Sketch.kmvDistinctByGroup: per
    // source the 32 smallest md5(text) hashes; estimate = 31 / frac
    // of the 32nd (15 hex chars / 16^15), exact count when a source
    // holds fewer than 32 distinct texts. Null texts hash to null
    // and are dropped on both sides (engines order nulls
    // differently, so a surviving null would poison the kth hash).
    "q_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT source, md5(text) AS h FROM documents WHERE text IS NOT NULL),
r AS (SELECT source, h FROM h QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 32),
a AS (SELECT source, count(*) AS n, max(h) AS kth FROM r GROUP BY 1)
SELECT source,
CASE WHEN n < 32 THEN CAST(n AS DOUBLE)
ELSE round(31 / (('0x' || substring(kth, 1, 15))::BIGINT / 1152921504606846976.0), 4) END AS distinct_est
FROM a""",

    // expected robots metadata: even ids crawl as graftbot (its
    // group declares Crawl-delay 5), odd ids fall to '*' whose delay
    // is 2 + i%5; the two Sitemap lines are file-global either way
    "q_robots_meta" ->
      """SELECT i AS id,
CASE WHEN i % 2 = 0 THEN 5.0 ELSE CAST(2 + i % 5 AS DOUBLE) END AS crawl_delay,
'https://ex' || CAST(i AS VARCHAR) || '.example.com/sitemap0.xml,https://ex' || CAST(i AS VARCHAR) || '.example.com/sitemap1.xml.gz' AS sitemaps
FROM range(0, 600) t(i)""",

    // expected charset verdict + decoded text of the charset
    // fixtures, closed-form per detection path (i % 6)
    "q_charset" ->
      """SELECT i AS id,
CASE CAST(i % 6 AS INT) WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'iso-8859-1'
WHEN 3 THEN 'windows-1252' WHEN 4 THEN 'utf-8' ELSE 'windows-1252' END AS charset,
CASE CAST(i % 6 AS INT)
WHEN 0 THEN 'bom utf8 doc ' || CAST(i AS VARCHAR) || ' café'
WHEN 1 THEN 'utf16 doc ' || CAST(i AS VARCHAR) || ' é'
WHEN 2 THEN 'latin doc ' || CAST(i AS VARCHAR) || ' café'
WHEN 3 THEN '<html><head><meta charset="windows-1252"></head><body>euro € doc ' || CAST(i AS VARCHAR) || '</body></html>'
WHEN 4 THEN 'plain utf8 doc ' || CAST(i AS VARCHAR) || ' é—ok'
ELSE 'fallback doc ' || CAST(i AS VARCHAR) || ' café' END AS text
FROM range(0, 300) t(i)""",

    // expected entries of the sitemap fixtures, closed-form: even i
    // urlsets (entity-decoded locs), odd i sitemapindexes, i % 11 =
    // 10 non-sitemaps vanish; lastmod only on even entries
    "q_sitemap" ->
      """WITH f AS (SELECT i, unnest(range(0, 2 + i % 5)) AS j FROM range(0, 300) t(i) WHERE i % 11 <> 10)
SELECT i AS id,
CASE WHEN i % 2 = 0 THEN 'url' ELSE 'sitemap' END AS kind,
CAST(j AS INT) AS entry_idx,
CASE WHEN i % 2 = 0 THEN 'https://ex' || CAST(i AS VARCHAR) || '.example.com/p/' || CAST(j AS VARCHAR) || '?a=' || CAST(j % 3 AS VARCHAR) || '&b=' || CAST(i AS VARCHAR)
ELSE 'https://ex' || CAST(i AS VARCHAR) || '.example.com/sitemap' || CAST(j AS VARCHAR) || '.xml.gz' END AS loc,
CASE WHEN j % 2 = 0 THEN '20' || CAST(10 + i % 15 AS VARCHAR) || '-0' || CAST(1 + j % 9 AS VARCHAR) || '-15' END AS lastmod
FROM f""",

    // the tar fixtures' member table: member j of payload i is
    // "dir{i}/file{j}.txt", length 30 + ((i*7 + j*13) % 50), body
    // byte k = (i*19 + j*11 + k*3 + 5) % 256; truncated payloads
    // (i % 7 = 6) lose exactly their last member. Digest = md5 over
    // UPPERCASE hex (the shared convention)
    // the binary chain: member (i, j) of the media tar holds
    // MediaFixture.payload(i*3+j), so the oracle is the q_media_dims
    // closed form at m = i*3+j plus the archive's name/index layout
    "q_media_chain" ->
      """WITH f AS (SELECT i, unnest([0, 1, 2]) AS j FROM range(0, 150) t(i)),
mm AS (SELECT i, j, i*3 + j AS m FROM f)
SELECT i AS id, CAST(j AS INT) AS member_idx,
'media' || CAST(i AS VARCHAR) || '/f' || CAST(j AS VARCHAR) || '.bin' AS name,
CASE CAST(m % 5 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'unknown' END AS format,
CASE WHEN m % 5 <= 2 THEN CAST(16 + m % 241 AS INT) END AS width,
CASE WHEN m % 5 <= 2 THEN CAST(16 + m % 181 AS INT) END AS height,
CASE WHEN m % 5 = 3 THEN CAST(8000 + ((m // 5) % 5) * 2000 AS INT) END AS sample_rate,
CASE WHEN m % 5 = 3 THEN CAST(1 + (m // 5) % 2 AS INT) END AS channels,
CASE WHEN m % 5 = 3 THEN CAST(8 * (1 + ((m // 5) // 2) % 2) AS INT) END AS bits_per_sample,
CASE WHEN m % 5 = 3 THEN (200 + m % 777) * 1000 // ((8000 + ((m // 5) % 5) * 2000) * (1 + (m // 5) % 2) * (1 + ((m // 5) // 2) % 2)) END AS duration_ms
FROM mm""",

    "q_tar_members" ->
      """WITH f AS (SELECT i, unnest(range(0, 2 + i % 4 - CASE WHEN i % 7 = 6 THEN 1 ELSE 0 END)) AS j FROM range(0, 200) t(i)),
e AS (SELECT i, j, 30 + ((i*7 + j*13) % 50) AS len FROM f),
byts AS (SELECT i, j, len, unnest(range(0, len)) AS k FROM e),
hx AS (SELECT i, j, len,
string_agg(substring('0123456789ABCDEF', CAST(((i*19 + j*11 + k*3 + 5) % 256) // 16 + 1 AS INT), 1)
|| substring('0123456789ABCDEF', CAST(((i*19 + j*11 + k*3 + 5) % 256) % 16 + 1 AS INT), 1), '' ORDER BY k) AS hexs
FROM byts GROUP BY i, j, len)
SELECT i AS id, CAST(j AS INT) AS member_idx,
'dir' || CAST(i AS VARCHAR) || '/file' || CAST(j AS VARCHAR) || '.txt' AS name,
CAST(len AS BIGINT) AS n_bytes, md5(hexs) AS body_digest
FROM hx""",

    // the zip fixtures' member table: member j of payload i is
    // "z{i}/m{j}.bin", length 25 + ((i*5 + j*17) % 60), decoded body
    // byte k = (i*23 + j*13 + k*11 + 9) % 256 — identical for the
    // STORED (even j) and DEFLATEd (odd j) members, which is the
    // point; corrupt-EOCD payloads (i % 9 = 8) contribute no rows
    "q_zip_members" ->
      """WITH f AS (SELECT i, unnest(range(0, 2 + i % 3)) AS j FROM range(0, 200) t(i) WHERE i % 9 <> 8),
e AS (SELECT i, j, 25 + ((i*5 + j*17) % 60) AS len FROM f),
byts AS (SELECT i, j, len, unnest(range(0, len)) AS k FROM e),
hx AS (SELECT i, j, len,
string_agg(substring('0123456789ABCDEF', CAST(((i*23 + j*13 + k*11 + 9) % 256) // 16 + 1 AS INT), 1)
|| substring('0123456789ABCDEF', CAST(((i*23 + j*13 + k*11 + 9) % 256) % 16 + 1 AS INT), 1), '' ORDER BY k) AS hexs
FROM byts GROUP BY i, j, len)
SELECT i AS id, CAST(j AS INT) AS member_idx,
'z' || CAST(i AS VARCHAR) || '/m' || CAST(j AS VARCHAR) || '.bin' AS name,
CAST(len AS BIGINT) AS n_bytes, md5(hexs) AS body_digest
FROM hx""",

    // exact-substring spans (Dedup.repeatedSubstringSpans): windows
    // of 40 chars at every offset, kept when the WHOLE corpus holds
    // the same string more than once, merged gaps-and-islands style
    // (a new span wherever the next duplicated offset no longer
    // overlaps the previous window)
    "q_repeated_spans" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) >= 40),
ws AS (SELECT doc_id, unnest(range(0, length(text) - 40 + 1)) AS o, text FROM d),
wn AS (SELECT doc_id, o, substring(text, CAST(o + 1 AS INT), 40) AS win FROM ws),
dup AS (SELECT win FROM wn GROUP BY win HAVING count(*) > 1),
c AS (SELECT doc_id, o FROM wn JOIN dup USING (win)),
s AS (SELECT doc_id, o, CASE WHEN o - lag(o) OVER (PARTITION BY doc_id ORDER BY o) <= 40 THEN 0 ELSE 1 END AS brk FROM c),
g AS (SELECT doc_id, o, sum(brk) OVER (PARTITION BY doc_id ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM s)
SELECT doc_id, CAST(min(o) AS BIGINT) AS span_start, CAST(max(o) + 40 AS BIGINT) AS span_end
FROM g GROUP BY doc_id, grp""",

    // count-min sketch (Sketch.countMinSketch/cmsLookup): bucket of
    // word v in hash row r is the first 8 md5("r:v") hex chars mod
    // 64; the per-(row, bucket) counts are exact sums and the
    // estimate is the min over the 4 rows — deterministic md5
    // bucketing, so the whole fitted state replays in SQL
    // bloom replay: the SET of md5 bit positions stands in for the
    // engine's packed (word, bits) rows — membership is position
    // membership, so the packing is invisible to the oracle
    "q_bloom" ->
      """WITH wds AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS v FROM documents WHERE text IS NOT NULL),
hs AS (SELECT unnest(range(0, 4)) AS j),
bset AS (SELECT DISTINCT ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || v), 1, 8))::BIGINT % 65536 AS p FROM wds, hs),
probes AS (SELECT v FROM wds WHERE v LIKE 'a%' UNION SELECT 'probe' || CAST(i AS VARCHAR) FROM range(0, 500) t(i)),
pp AS (SELECT v, ('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || v), 1, 8))::BIGINT % 65536 AS p FROM probes, hs)
SELECT pp.v AS word, bool_and(bset.p IS NOT NULL) AS maybe_seen
FROM pp LEFT JOIN bset ON bset.p = pp.p GROUP BY 1""",

    "q_cms_counts" ->
      """WITH wds AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE text IS NOT NULL),
rs AS (SELECT unnest(range(0, 4)) AS r),
b AS (SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || word), 1, 8))::BIGINT % 64 AS bucket,
count(*) AS cnt FROM wds, rs GROUP BY 1, 2),
cand AS (SELECT DISTINCT word FROM wds),
probe AS (SELECT word, r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || word), 1, 8))::BIGINT % 64 AS bucket FROM cand, rs),
est AS (SELECT p.word, min(coalesce(b.cnt, 0)) AS cms_count FROM probe p LEFT JOIN b ON b.r = p.r AND b.bucket = p.bucket GROUP BY 1),
ex AS (SELECT word, count(*) AS exact_count FROM wds GROUP BY 1)
SELECT e.word, e.cms_count, x.exact_count FROM est e JOIN ex x ON e.word = x.word""",

    // KMV set algebra (Sketch.kmvOverlapByGroup): per source pair,
    // merge the two 16-minimum-value word sketches (the k smallest of
    // the union of the hash sets), then union_est = 15/frac(kth),
    // jaccard = shared fraction of the merged sketch, inter_est =
    // nboth * union_est / n (multiplied before dividing, exact when
    // the merged sketch is exhaustive) — every double op rounded to
    // 4 decimals in the same order as the Spark side
    "q_kmv_overlap" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents WHERE text IS NOT NULL),
h AS (SELECT DISTINCT source, md5(word) AS h FROM w),
r AS (SELECT source, h FROM h QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 16),
g AS (SELECT DISTINCT source FROM r),
p AS (SELECT a.source AS ga, b.source AS gb FROM g a JOIN g b ON a.source < b.source),
u0 AS (SELECT p.ga, p.gb, r.h, 1 AS ina, 0 AS inb FROM p JOIN r ON r.source = p.ga
UNION ALL SELECT p.ga, p.gb, r.h, 0 AS ina, 1 AS inb FROM p JOIN r ON r.source = p.gb),
u AS (SELECT ga, gb, h, max(ina) AS ina, max(inb) AS inb FROM u0 GROUP BY 1, 2, 3),
m AS (SELECT ga, gb, h, ina, inb FROM u QUALIFY row_number() OVER (PARTITION BY ga, gb ORDER BY h) <= 16),
a AS (SELECT ga, gb, count(*) AS n, max(h) AS kth,
sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS nboth FROM m GROUP BY 1, 2)
SELECT ga AS group_a, gb AS group_b,
CASE WHEN n < 16 THEN CAST(n AS DOUBLE)
ELSE round(15 / (('0x' || substring(kth, 1, 15))::BIGINT / 1152921504606846976.0), 4) END AS union_est,
round(nboth * (CASE WHEN n < 16 THEN CAST(n AS DOUBLE)
ELSE round(15 / (('0x' || substring(kth, 1, 15))::BIGINT / 1152921504606846976.0), 4) END) / CAST(n AS DOUBLE), 4) AS inter_est,
round(nboth / CAST(n AS DOUBLE), 4) AS jaccard
FROM a""",

    // expected robots.txt verdicts of the UrlFixture robots fixtures:
    // even ids crawl as graftbot (blocked on the anchored /only$ and
    // wildcard /img*jpg paths), odd ids fall back to the '*' group
    // (blocked on the /private prefix, rescued by the longer Allow)
    "q_robots" ->
      """SELECT i AS id,
CASE WHEN i % 2 = 0 THEN (i // 2) % 6 NOT IN (3, 5) ELSE (i // 2) % 6 <> 1 END AS allowed
FROM range(0, 600) t(i)""",

    // expected resolved + canonicalized outlinks of the page
    // fixtures: one struct per surviving href (the javascript: and
    // pure-fragment links are dropped, so their indices are absent)
    "q_outlinks" ->
      """WITH l AS (SELECT i, unnest([
{'j': 0, 'u': 'https://other.com/Abs' || CAST(i AS VARCHAR)},
{'j': 1, 'u': 'http://cdn.example.org/lib' || CAST(i AS VARCHAR) || '.js'},
{'j': 2, 'u': 'http://example.com/root/p' || CAST(i AS VARCHAR) || '?x=1'},
{'j': 3, 'u': 'http://example.com/a/b/sub/page' || CAST(i AS VARCHAR)},
{'j': 4, 'u': 'http://example.com/a/up' || CAST(i AS VARCHAR)}]) AS s
FROM range(0, 300) t(i))
SELECT i AS id, CAST(s.j AS INT) AS link_idx, s.u AS outlink FROM l""",

    // closed form of the URL fixtures' CANONICAL urls (see
    // UrlFixture): the oracle emits the expected answer for every
    // messy variant directly — n = i % 100 keys the content class
    "q_url_canon" ->
      """SELECT i AS id,
'http://host' || CAST((i % 100) % 7 AS VARCHAR) || '.example.com/Doc/' || CAST(i % 100 AS VARCHAR)
|| '?a=' || CAST((i % 100) % 13 AS VARCHAR) || '&b=' || CAST((i % 100) % 7 AS VARCHAR) AS url_canon
FROM range(0, 500) t(i)""",

    // earliest-crawl-wins: the keeper of class n is its lowest id, n
    "q_url_dedup" ->
      """SELECT i AS id,
'http://host' || CAST(i % 7 AS VARCHAR) || '.example.com/Doc/' || CAST(i AS VARCHAR)
|| '?a=' || CAST(i % 13 AS VARCHAR) || '&b=' || CAST(i % 7 AS VARCHAR) AS url_canon
FROM range(0, 100) t(i)""",

    // closed form of the video fixtures' container headers (see
    // MediaFixture.videoPayload): i % 3 -> mp4, avi, corrupt. MP4
    // duration is movie units * 1000 floor-divided by the timescale;
    // AVI duration is usec-per-frame * frames // 1000. The engine
    // parses real ISO-BMFF boxes / the avih header to get here.
    "q_video_metadata" ->
      """SELECT i AS id,
CASE CAST(i % 3 AS INT) WHEN 0 THEN 'mp4' WHEN 1 THEN 'avi' ELSE 'unknown' END AS format,
CASE WHEN i % 3 = 0 THEN CAST(160 + (i % 19) * 16 AS INT) WHEN i % 3 = 1 THEN CAST(320 + (i % 11) * 8 AS INT) END AS width,
CASE WHEN i % 3 = 0 THEN CAST(120 + (i % 13) * 8 AS INT) WHEN i % 3 = 1 THEN CAST(240 + (i % 9) * 8 AS INT) END AS height,
CASE WHEN i % 3 = 0 THEN (3000 + i % 4567) * 1000 // (600 * (1 + i % 4)) WHEN i % 3 = 1 THEN (20000 + (i % 7) * 5000) * (40 + i % 321) // 1000 END AS duration_ms,
CASE WHEN i % 3 = 0 THEN 5 + i % 12 WHEN i % 3 = 1 THEN 40 + i % 321 END AS n_frames
FROM range(0, 300) t(i)""",

    // closed form of BOTH containers' frame maps over the mixed
    // videoPayload fixtures (i%3=0 mp4, i%3=1 avi, i%3=2 corrupt ->
    // no rows). MP4: sample j of fixture i has size
    // 20 + ((i*13 + j*7) % 40) and starts at 24 + (sum of prior
    // sizes) — ftyp(16) + mdat header(8) precede the contiguous
    // sample stream, whose byte at stream position k is
    // (i*31 + k*7 + 3) % 256; keyframes are the stss entries
    // j % 4 == 0 (the engine walks real stsc/stsz/stco/stss boxes).
    // AVI: chunk j has size 16 + 2*((i*11 + j*5) % 16), its DATA
    // starts at 108 + 8*j + (sum of prior sizes) — movi chunk 0's
    // header sits at the fixed offset 100 and each chunk adds an
    // 8-byte header — byte k of chunk j is (i*17 + j*3 + k*7 + 1)
    // % 256, keyframes at j % 3 == 0 (the engine walks the real
    // idx1, under both offset conventions). Digests are md5 over
    // UPPERCASE hex of the bytes (matching Spark's hex()).
    "q_video_frames" ->
      """WITH f AS (SELECT i, unnest(range(0, 5 + i % 12)) AS j FROM range(0, 300) t(i) WHERE i % 3 = 0),
sz AS (SELECT i, j, 20 + ((i*13 + j*7) % 40) AS sz FROM f),
o AS (SELECT i, j, sz, 24 + coalesce(sum(sz) OVER (PARTITION BY i ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM sz),
byts AS (SELECT i, j, off, sz, unnest(range(0, sz)) AS k FROM o),
hx AS (SELECT i, j, off, sz,
string_agg(substring('0123456789ABCDEF', CAST(((i*31 + (off - 24 + k)*7 + 3) % 256) // 16 + 1 AS INT), 1)
|| substring('0123456789ABCDEF', CAST(((i*31 + (off - 24 + k)*7 + 3) % 256) % 16 + 1 AS INT), 1), '' ORDER BY k) AS hexs
FROM byts GROUP BY i, j, off, sz),
af AS (SELECT i, unnest(range(0, 4 + i % 9)) AS j FROM range(0, 300) t(i) WHERE i % 3 = 1),
asz AS (SELECT i, j, 16 + 2*((i*11 + j*5) % 16) AS sz FROM af),
ao AS (SELECT i, j, sz, 108 + 8*j + coalesce(sum(sz) OVER (PARTITION BY i ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM asz),
abyts AS (SELECT i, j, off, sz, unnest(range(0, sz)) AS k FROM ao),
ahx AS (SELECT i, j, off, sz,
string_agg(substring('0123456789ABCDEF', CAST(((i*17 + j*3 + k*7 + 1) % 256) // 16 + 1 AS INT), 1)
|| substring('0123456789ABCDEF', CAST(((i*17 + j*3 + k*7 + 1) % 256) % 16 + 1 AS INT), 1), '' ORDER BY k) AS hexs
FROM abyts GROUP BY i, j, off, sz)
SELECT i AS id, CAST(j AS INT) AS frame_idx, CAST(off AS BIGINT) AS offset, CAST(sz AS INT) AS n_bytes,
(j % 4 = 0) AS is_keyframe, md5(hexs) AS frame_digest
FROM hx
UNION ALL
SELECT i AS id, CAST(j AS INT) AS frame_idx, CAST(off AS BIGINT) AS offset, CAST(sz AS INT) AS n_bytes,
(j % 3 = 0) AS is_keyframe, md5(hexs) AS frame_digest
FROM ahx"""
  )
}
