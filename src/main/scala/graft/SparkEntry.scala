package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.GraftSession
import graft.functions.{DedupFunctions => D, TextFunctions => T, VectorFunctions => V}
import graft.operators.{ConnectedComponents, RangeJoin, Upsert, WindowOps}
import graft.release.Filters
import graft.rules.{Rules, RowRule}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry drives one operator from SURVEY.md §2 (the name
  * prefix is the inventory id) against the harness parquet tables; the
  * matching `oracleSql` entry is the DuckDB-equivalent SQL.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - fractional SUMs go through DECIMAL so partial-agg order can't
  *    change the result; final cast back to double;
  *  - per-row double arithmetic is written with the exact same operation
  *    order in both engines (IEEE-deterministic);
  *  - every LIMIT sits on a total order with a unique tie-break;
  *  - array folds (cosine) are sequential left-to-right in both engines.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** events with an epoch-millis column; ts arrives as long nanos
    * (TIMESTAMP(NANOS) under spark.sql.legacy.parquet.nanosAsLong), as
    * TIMESTAMP_NTZ (TIMESTAMP(MICROS) with isAdjustedToUTC=false — the
    * harness data since round 7), or as a zoned timestamp. The NTZ cast
    * interprets the naive datetime in the session timezone (pinned
    * UTC), matching DuckDB's epoch_ms on the same naive value.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val tsMs = e.schema("ts").dataType match {
      case LongType => expr("ts div 1000000")
      case TimestampNTZType => unix_millis(col("ts").cast("timestamp"))
      case _ => unix_millis(col("ts"))
    }
    e.withColumn("ts_ms", tsMs)
  }

  /** sum(decimal-cast) → double: order-insensitive exact fractional sum */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  // ---- shared stages of the training-export pipeline ----------------
  // pipeline_training_export plus its pipeline_stage_* diagnostics run
  // the SAME code through these helpers, so a red composite query is
  // localizable to whichever integer-output stage disagrees.

  /** Per-lang target token budget (`want`) for the export pipeline:
    * shares in exact tenths × budget/10, all in Long.
    */
  private def exportWant: Column = {
    val tenths = when(col("lang") === "en", lit(4L))
      .when(col("lang") === "de", lit(2L))
      .when(col("lang") === "es", lit(2L))
      .when(col("lang") === "fr", lit(1L))
      .otherwise(lit(1L))
    tenths * lit(150000L / 10)
  }

  /** Stage 1: canonical-dedup survivors (native normalize_text md5 key,
    * min-doc_id survivor per key — one shuffle on the 16-byte key) with
    * their Long token counts attached.
    */
  private def exportKept(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__ck").orderBy("doc_id")
    t(s, dir, "documents")
      .withColumn("__ck", md5(T.normalizeText(col("text"))))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .withColumn("__nt", T.tokenCount(col("text")).cast("long"))
  }

  /** Stage 2: per-lang acceptance thresholds as EXACT Longs —
    * `thr = min(2³², floor(want·2³² / avail))` via [[Sampling.longFloorDiv]].
    * No double ever enters the accept/reject comparison, so the
    * hash-Bernoulli knife-edge (`bucket < thr`) is engine-independent.
    * Vocabulary-sized output: broadcasts into the acceptance filter.
    */
  private def exportThresholds(kept: DataFrame): DataFrame =
    kept.groupBy("lang").agg(sum("__nt").as("avail"))
      .select(col("lang"), col("avail"),
        least(lit(4294967296L),
          graft.functions.Sampling.longFloorDiv(
            exportWant * lit(4294967296L), col("avail"))).as("thr"))

  /** Stage 3: survivors that pass the deterministic hash-Bernoulli
    * acceptance at their lang's exact-Long threshold.
    */
  private def exportAccepted(s: SparkSession, dir: String): DataFrame = {
    val kept = exportKept(s, dir)
    kept.join(broadcast(exportThresholds(kept).select("lang", "thr")), "lang")
      .filter(graft.functions.Sampling.hashBucket(col("doc_id"), "mix") <
        col("thr"))
  }

  /** Mixture plan (sample_mix_plan and its column-subset diagnostics):
    * per-lang avail/n_docs plus exact-Long half-up rate_ppm and the
    * undersupplied flag. ONE aggregation; vocabulary-sized result.
    */
  private def mixPlan(s: SparkSession, dir: String): DataFrame = {
    val budgetTenth = 200000L / 10
    val tenths = when(col("lang") === "en", lit(4L))
      .when(col("lang") === "de", lit(2L))
      .when(col("lang") === "es", lit(2L))
      .when(col("lang") === "fr", lit(1L))
      .otherwise(lit(1L))
    val want = tenths * lit(budgetTenth)
    val Sam = graft.functions.Sampling
    t(s, dir, "documents")
      .select(col("lang"), T.tokenCount(col("text")).cast("long").as("__nt"))
      .groupBy("lang")
      .agg(sum("__nt").as("avail"), count(lit(1)).as("n_docs"))
      .select(col("lang"), col("avail"), col("n_docs"),
        least(lit(1000000L),
          Sam.ppmHalfUp(want, col("avail")))
          .as("rate_ppm"),
        (want >= col("avail")).as("undersupplied"))
  }

  /** Per-lang tokenizer-fertility table (text_fertility and its
    * column-subset diagnostics): integer sums + exact half-up ppm
    * ratios. One aggregation.
    */
  private def fertilityTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        length(col("text")).cast("long").as("__nc"),
        T.tokenCount(col("text")).cast("long").as("__nw"),
        T.bpeishTokenCount(col("text")).cast("long").as("__nb"))
      .groupBy("lang")
      .agg(sum("__nc").as("n_chars"), sum("__nw").as("n_words"),
        sum("__nb").as("n_bpe_tokens"))
      .select(col("lang"), col("n_chars"), col("n_words"), col("n_bpe_tokens"),
        graft.functions.Sampling.ppmHalfUp(
          col("n_chars"), col("n_bpe_tokens"))
          .as("chars_per_token_ppm"),
        graft.functions.Sampling.ppmHalfUp(
          col("n_bpe_tokens"), col("n_words"))
          .as("tokens_per_word_ppm"))
      .orderBy("lang")

  /** Deterministic crawl-style raw URL per document row — five shapes
    * keyed on doc_id % 5 so the url_* queries exercise every
    * canonicalization branch (see [[graft.functions.UrlFunctions]]):
    * upper-cased scheme/host + default port + tracking param +
    * fragment; trailing-slash path + gclid; explicit non-default port
    * + duplicate query keys; bare host (empty path); dropped `ref`
    * next to a kept case-mismatched `UTM_X`.
    */
  private def rawUrlOf: Column = {
    val m = pmod(col("doc_id"), lit(5L))
    when(m === 0, concat(lit("HTTP://Www."), col("source"),
        lit(".COM:80/a/b?utm_source=feed&z=2&a=1#sec")))
      .when(m === 1, concat(lit("https://"), col("source"),
        lit(".org/path/?gclid=1&b="), col("lang")))
      .when(m === 2, concat(lit("https://cdn."), col("source"),
        lit(".net:8443/X%20y?a=1&a=0")))
      .when(m === 3, concat(lit("http://"), col("source"), lit(".com")))
      .otherwise(concat(lit("https://"), col("source"),
        lit(".com/a?ref=tw&UTM_X=1&z=9")))
  }

  /** Cross-document paragraph dedup result (text_paragraph_dedup and
    * its column-subset diagnostics).
    */
  private def paragraphDedup(s: SparkSession, dir: String): DataFrame =
    graft.functions.Curation.dedupSegmentsAcross(
        t(s, dir, "documents"), "doc_id", "text", " the ", minWords = 3)
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        md5(col("rebuilt")).as("rebuilt_md5"))

  /** Shared oracle CTE chain replaying stages 1-2 (canonical dedup →
    * integer thresholds); the stage queries and the full export SELECT
    * from these.
    */
  private val exportOracleCtes: String =
    """WITH canon AS (
             SELECT doc_id, lang, text,
                    md5(trim(regexp_replace(regexp_replace(
                      lower(nfc_normalize(text)), '[[:punct:]]+', ' ', 'g'),
                      '[[:space:]]+', ' ', 'g'))) AS ck
             FROM documents),
           kept AS (
             SELECT doc_id, lang,
                    len(regexp_split_to_array(trim(text), '\s+')) AS nt
             FROM canon
             QUALIFY ROW_NUMBER() OVER (PARTITION BY ck ORDER BY doc_id) = 1),
           rates AS (
             SELECT lang, CAST(SUM(nt) AS BIGINT) AS avail,
                    CAST(LEAST(4294967296,
                      (CAST(CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2
                                      WHEN 'es' THEN 2 WHEN 'fr' THEN 1
                                      ELSE 1 END AS BIGINT) * 15000 * 4294967296)
                      // SUM(nt)) AS BIGINT) AS thr
             FROM kept GROUP BY lang),
           acc AS (
             SELECT k.doc_id, k.lang, k.nt,
                    ('0x' || substr(md5('split:' || CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT AS sb
             FROM kept k JOIN rates r USING (lang)
             WHERE ('0x' || substr(md5('mix:' || CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   < r.thr)"""

  /** sample_mix_plan oracle body as a CTE chain ending in `mixplan`;
    * the composite query and its column-subset diagnostics all select
    * from the same chain. Every integer aggregate is CAST to BIGINT —
    * DuckDB types a bare integer SUM as HUGEINT, which pandas renders
    * float64 and a value-rendering comparator flags against Spark's
    * int64 even when the numbers agree (the r7-r9 chronic-red class).
    */
  private val mixPlanOracleCtes: String =
    """WITH a AS (
         SELECT lang,
                CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
                     AS BIGINT) AS avail,
                COUNT(*) AS n_docs
         FROM documents GROUP BY 1),
       t AS (SELECT lang, avail, n_docs,
                    CAST(CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2
                                   WHEN 'es' THEN 2 WHEN 'fr' THEN 1
                                   ELSE 1 END * 20000 AS BIGINT) AS want
             FROM a),
       mixplan AS (
         SELECT lang, avail, n_docs,
                CAST(LEAST(1000000, (want * 1000000 * 2 + avail) // (2 * avail))
                     AS BIGINT) AS rate_ppm,
                want >= avail AS undersupplied
         FROM t)"""

  /** text_fertility oracle body as a CTE chain ending in `fert`;
    * BIGINT-cast sums for the same HUGEINT-render reason as
    * [[mixPlanOracleCtes]].
    */
  private val fertilityOracleCtes: String =
    """WITH d AS (
         SELECT lang,
                CAST(length(text) AS BIGINT) AS nc,
                CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS nw,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS nb
         FROM documents),
       g AS (SELECT lang, CAST(SUM(nc) AS BIGINT) AS n_chars,
                    CAST(SUM(nw) AS BIGINT) AS n_words,
                    CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens
             FROM d GROUP BY lang),
       fert AS (
         SELECT lang, n_chars, n_words, n_bpe_tokens,
                CAST((n_chars * 1000000 * 2 + n_bpe_tokens)
                     // (2 * n_bpe_tokens) AS BIGINT) AS chars_per_token_ppm,
                CAST((n_bpe_tokens * 1000000 * 2 + n_words)
                     // (2 * n_words) AS BIGINT) AS tokens_per_word_ppm
         FROM g)"""

  /** text_paragraph_dedup oracle body as a CTE chain ending in `pdd`:
    * split (literal, trailing empties kept) → min-words filter →
    * re-index kept segments per doc → global first-occurrence rank over
    * (doc_id, idx) → per-doc counts + survivors rejoined in position
    * order. BIGINT-cast n_kept (see [[mixPlanOracleCtes]]).
    */
  private val paragraphDedupOracleCtes: String =
    """WITH raw AS (
         SELECT doc_id, s[i] AS seg, i
         FROM (SELECT doc_id, string_split(text, ' the ') AS s,
                      unnest(range(1, len(string_split(text, ' the ')) + 1)) AS i
               FROM documents WHERE text IS NOT NULL)),
       kept AS (
         SELECT doc_id, seg,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS idx
         FROM raw
         WHERE len(string_split(seg, ' ')) >= 3),
       ranked AS (
         SELECT doc_id, idx, seg,
                ROW_NUMBER() OVER (PARTITION BY seg
                                   ORDER BY doc_id, idx) AS rn
         FROM kept),
       pdd AS (
         SELECT doc_id,
                COUNT(*) AS n_segments,
                CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                md5(COALESCE(array_to_string(
                  list(seg ORDER BY idx) FILTER (WHERE rn = 1), ' the '),
                  '')) AS rebuilt_md5
         FROM ranked GROUP BY 1)"""

  /** Shared oracle CTE chain replaying the URL canonicalization policy
    * (same regexes, same sort, same COALESCE-for-empty-param-list) —
    * ends in `canon(doc_id, url, host, canonical)`.
    */
  private val urlOracleCtes: String =
    """WITH raw AS (
         SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                  WHEN 0 THEN 'HTTP://Www.' || source || '.COM:80/a/b?utm_source=feed&z=2&a=1#sec'
                  WHEN 1 THEN 'https://' || source || '.org/path/?gclid=1&b=' || lang
                  WHEN 2 THEN 'https://cdn.' || source || '.net:8443/X%20y?a=1&a=0'
                  WHEN 3 THEN 'http://' || source || '.com'
                  ELSE 'https://' || source || '.com/a?ref=tw&UTM_X=1&z=9'
                END AS url
         FROM documents),
       parts AS (
         SELECT doc_id, url,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
         FROM raw),
       hp AS (
         SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS hostport FROM parts),
       comp AS (
         SELECT doc_id, url, scheme,
                lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                substring(rest, len(hostport) + 1) AS pathqf
         FROM hp),
       withq AS (
         SELECT *,
                COALESCE(array_to_string(list_sort(list_filter(
                  string_split(regexp_extract(pathqf, '\?([^#]*)', 1), '&'),
                  p -> p <> '' AND NOT regexp_matches(p,
                    '^(utm_[a-z0-9_]+|fbclid|gclid|msclkid|ref)='))), '&'),
                  '') AS q
         FROM comp),
       canon AS (
         SELECT doc_id, url, host,
                scheme || '://' || host ||
                CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                          OR (scheme = 'https' AND port = '443'))
                     THEN ':' || port ELSE '' END ||
                CASE WHEN regexp_extract(pathqf, '^([^?#]*)', 1) = '' THEN '/'
                     ELSE regexp_extract(pathqf, '^([^?#]*)', 1) END ||
                CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical
         FROM withq)"""

  /** Shared brute-tier bitext-mining oracle replay (cross cosines →
    * top-4 each direction → decimal sums of 6-dp scores → mutual rank-1
    * pairs → 8·num/(denA+denB) margin) — ends in
    * `m(a_id, b_id, cos6, margin)`; the calibration query selects the
    * mined pairs, the blocked tier's gate selects their count.
    */
  private val bitextOracleCtes: String =
    """WITH a AS (SELECT vec_id AS a_id, embedding AS av
                  FROM embeddings WHERE label % 2 = 0),
       b AS (SELECT vec_id AS b_id, embedding AS bv
             FROM embeddings WHERE label % 2 = 1),
       sab AS (
         SELECT a_id, b_id,
                list_sum(list_transform(range(1, 65), i -> CAST(av[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE)))
                / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(av[i] AS DOUBLE) * CAST(av[i] AS DOUBLE))))
                   * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(bv[i] AS DOUBLE) * CAST(bv[i] AS DOUBLE))))) AS score
         FROM a CROSS JOIN b),
       ta AS (SELECT a_id, b_id, score,
                     ROW_NUMBER() OVER (PARTITION BY a_id
                       ORDER BY score DESC, b_id ASC) AS r
              FROM sab QUALIFY r <= 4),
       tb AS (SELECT a_id, b_id, score,
                     ROW_NUMBER() OVER (PARTITION BY b_id
                       ORDER BY score DESC, a_id ASC) AS r
              FROM sab QUALIFY r <= 4),
       dena AS (SELECT a_id, SUM(CAST(ROUND(score, 6) AS DECIMAL(18,6))) AS dena
                FROM ta GROUP BY 1),
       denb AS (SELECT b_id, SUM(CAST(ROUND(score, 6) AS DECIMAL(18,6))) AS denb
                FROM tb GROUP BY 1),
       besta AS (SELECT a_id, b_id,
                        CAST(ROUND(score, 6) AS DECIMAL(18,6)) AS num
                 FROM ta WHERE r = 1),
       bestb AS (SELECT a_id, b_id FROM tb WHERE r = 1),
       m AS (
         SELECT besta.a_id, besta.b_id,
                CAST(num AS DOUBLE) AS cos6,
                ROUND(CAST(num AS DOUBLE) * 8.0
                      / CAST(dena + denb AS DOUBLE), 6) AS margin
         FROM besta
         JOIN bestb ON besta.a_id = bestb.a_id AND besta.b_id = bestb.b_id
         JOIN dena ON besta.a_id = dena.a_id
         JOIN denb ON besta.b_id = denb.b_id)"""

  /** Shared classifier-margin oracle replay (per-token-mean hashed
    * linear margin, 4-dp rounded, is-English weak label) — ends in
    * `sc(s, y)`; the AUC audit folds its rank prefix over it, the
    * calibration table bins it.
    */
  private val classifierMarginCte: String =
    """WITH sc AS (
         SELECT ROUND(m / GREATEST(nt, 1), 4) AS s,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM (
           SELECT lang,
                  CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                       t -> strlen(t) > 0)) AS DOUBLE) AS nt,
                  COALESCE(list_sum(list_transform(
                    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                t -> strlen(t) > 0),
                    t -> CAST(((('0x' || substr(md5('feat:' || t), 1, 8))::BIGINT % 64)
                               * 2654435761) % 4294967296 AS DOUBLE)
                         / 4294967296.0 * 2.0 - 1.0)), 0.0) AS m
           FROM documents))"""

  /** Shared int8-ANN oracle replay: normalize → int8 quantize →
    * integer-dot top-20 per query (idot desc, c_id asc) → exact cosine
    * top-5. One replay gates the train-per-call, persisted, and
    * incremental variants — `corpus` is the table expression holding
    * the latest-version corpus each variant must serve.
    */
  // positional string 5-grams -> corpus-wide occurrence counts ->
  // covered positions -> gaps-and-islands (pairwise gap > n breaks);
  // shared by the scan-side, persisted-index, and incremental queries
  /** Shared CTE chain of the hybrid-RRF oracle family: BM25 top-20 per
    * anchor + brute cosine top-20, FULL OUTER fused by Σ 1/(60+rank).
    * text_hybrid_rrf appends the fused-list select; the blocked
    * sibling appends the per-anchor n_brute rollup.
    */
  private val hybridRrfOracleCtes: String =
    """WITH q(query_id, token) AS (VALUES
         (0, 'spark'), (0, 'window'),
         (1, 'hash'), (1, 'merge'), (1, 'vector'),
         (2, 'customer'), (2, 'query')),
       tok AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
         FROM documents),
       dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
       stats AS (SELECT COUNT(*) AS n_docs,
                        SUM(dl) / COUNT(*) AS avgdl FROM dl),
       tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
              WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1, 2),
       df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       term AS (
         SELECT q.query_id, tf.doc_id,
                CAST(ROUND(
                  ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                     / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                  * (CAST(tf AS DOUBLE) * 2.2)
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
                  AS DECIMAL(18,6)) AS s
         FROM tf JOIN q USING (token) JOIN dl USING (doc_id)
              JOIN df USING (token) CROSS JOIN stats),
       scored AS (SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score
                  FROM term GROUP BY 1, 2),
       lexr AS (
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rl
         FROM scored QUALIFY rl <= 20),
       qv AS (SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE vec_id IN (0, 1, 2)),
       vcand AS (
         SELECT qv.query_id, e.vec_id AS doc_id,
                list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
                / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                   * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))) AS cos
         FROM qv JOIN embeddings e ON e.vec_id <> qv.query_id),
       vecr AS (
         SELECT query_id, doc_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, doc_id) AS rv
         FROM vcand QUALIFY rv <= 20),
       fused AS (
         SELECT query_id, doc_id,
                COALESCE(1.0 / (60.0 + rl), 0.0)
                  + COALESCE(1.0 / (60.0 + rv), 0.0) AS rrf
         FROM lexr FULL OUTER JOIN vecr USING (query_id, doc_id))"""

  /** Shared by the scan-side / persisted / incremental simhash Hamming
    * tiers: 32-bit simhash (hex-digit vote rule) → 4 byte blocks →
    * pigeonhole equi-join under the occupancy cap → exact
    * bit_count(xor) <= 3.
    */
  /** DuckDB replay of the 32-bit simhash over a `hs` (md5-of-token
    * list) column — the hex-digit vote rule, one CASE per bit.
    */
  private val simhashBitExprs32: String = (0 until 32).map { i =>
    s"""CAST(CASE WHEN list_sum(list_transform(hs,
        h -> CASE WHEN substring(h, ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f')
             THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END AS BIGINT)"""
  }.mkString(" + ")

  private val simhashHammingOracle: String = {
    val bitExprs32 = simhashBitExprs32
    s"""WITH tok AS (
         SELECT doc_id,
                list_transform(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
                               t -> md5(t)) AS hs
         FROM documents),
       sh AS (SELECT doc_id, $bitExprs32 AS sh FROM tok),
       k AS (SELECT doc_id, sh, blk, (sh >> (blk * 8)) & 255 AS bv
             FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
       kk AS (SELECT doc_id, sh, blk, bv FROM k
              QUALIFY COUNT(*) OVER (PARTITION BY blk, bv) <= 10000),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, y.doc_id AS id_b,
                       a.sh AS sa, y.sh AS sb
                FROM kk a JOIN kk y
                  ON a.blk = y.blk AND a.bv = y.bv AND a.doc_id < y.doc_id)
       SELECT id_a, id_b,
              CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       ORDER BY id_a, id_b"""
  }

  private val repeatedSpansOracle: String =
    """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           grams AS (
             SELECT doc_id, len(ts) AS n_tokens,
                    CASE WHEN len(ts) >= 5 THEN
                      list_transform(range(0, len(ts) - 4),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+5], ' ')})
                    ELSE [{'p': 0, 'g': array_to_string(ts, ' ')}] END AS gs
             FROM toks),
           g AS (SELECT doc_id, n_tokens, unnest(gs) AS u FROM grams),
           g2 AS (SELECT doc_id, n_tokens, u.p AS p, u.g AS gm FROM g),
           cnt AS (SELECT gm, count(*) AS c FROM g2 GROUP BY gm),
           rep AS (SELECT doc_id, n_tokens, p
                   FROM g2 JOIN cnt USING (gm) WHERE c >= 2),
           isl AS (SELECT doc_id, n_tokens, p,
                          CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                                                     ORDER BY p) <= 5
                               THEN 0 ELSE 1 END AS brk
                   FROM rep),
           grp AS (SELECT doc_id, n_tokens, p,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
                   FROM isl),
           spans AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
                            min(p) AS s,
                            least(max(p) + 5, any_value(n_tokens)) AS e
                     FROM grp GROUP BY doc_id, grp)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                  CAST(sum(e - s) AS BIGINT) AS span_tokens,
                  CAST(max(e - s) AS BIGINT) AS max_span,
                  CAST(any_value(n_tokens) AS BIGINT) AS n_tokens
           FROM spans GROUP BY doc_id ORDER BY doc_id"""

  private def int8OracleSql(corpus: String): String =
    s"""WITH n AS (
             SELECT vec_id, embedding,
                    SQRT(list_sum(list_transform(range(1, 65),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
             FROM $corpus),
           nv AS (
             SELECT vec_id, embedding,
                    CASE WHEN nrm = 0.0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) END AS v
             FROM n),
           qz AS (
             SELECT vec_id, embedding,
                    CASE WHEN list_max(list_transform(v, x -> ABS(x))) = 0.0
                         THEN list_transform(v, x -> 0)
                         ELSE list_transform(v, x -> CAST(ROUND(
                           x / (list_max(list_transform(v, y -> ABS(y))) / 127.0), 0) AS INTEGER))
                    END AS q
             FROM nv),
           cand AS (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                    list_sum(list_transform(range(1, 65),
                      i -> CAST(q.q[i] AS BIGINT) * c.q[i])) AS idot
             FROM (SELECT * FROM qz WHERE vec_id < 8) q
             JOIN qz c ON q.vec_id <> c.vec_id),
           short AS (
             SELECT q_id, c_id FROM cand
             QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY idot DESC, c_id ASC) <= 20),
           ex AS (
             SELECT s.q_id, s.c_id,
                    list_sum(list_transform(range(1, 65),
                      i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65),
                         i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65),
                           i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE))))) AS score
             FROM short s
             JOIN $corpus qe ON qe.vec_id = s.q_id
             JOIN $corpus ce ON ce.vec_id = s.c_id)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM ex
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 5"""

  /** per-(query,sf) scratch dir for sink round-trips, in this JVM's
    * scratch ([[graft.core.GraftSession.scratch]]).
    */
  private def tmpPath(dir: String, tag: String): String =
    graft.core.GraftSession.scratch(s"${tag}_${dir.replaceAll("[^a-z0-9.]", "_")}")

  /** Eager index build/merge steps report their cost to the bench's
    * per-phase channel (graft.tools.PhaseTimer) so BENCH json splits
    * construction from the query path.
    */
  private def phase[T](name: String)(f: => T): T =
    graft.tools.PhaseTimer.phase(name)(f)

  /** Contract-verification sides of index queries (brute-force exact
    * top-k, full re-encode comparisons) are the correctness HARNESS,
    * not the operator: run them eagerly under phase("verify") and pin
    * the driver-small result as a local relation, so the bench's
    * `query` phase times the pure probe path. Result rows are bounded
    * by construction (|queries|·k hit pairs, or a 1-row aggregate).
    */
  private def verified(df: DataFrame): DataFrame =
    phase("verify") {
      val rows = df.collect()
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    }

  /** Shared RRF fusion tail (Cormack & Clarke, k=60; top-10 per query)
    * over a lexical and a vector rank list — text_hybrid_rrf and its
    * index-backed blocked sibling. Inputs carry (query_id, doc_id,
    * __rl) / (query_id, doc_id, __rv); rrf = Σ 1/(60+rank) from
    * INTEGER ranks in one fixed expression order, ordered on the
    * exact double before any display rounding.
    */
  private def rrfFusedTop10(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("__rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("__rl").cast("double")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("__rv").cast("double")), lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
  }

  /** The three anchor lexical queries of the hybrid-fusion family. */
  private val rrfAnchorQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "window"),
    1L -> Seq("hash", "merge", "vector"),
    2L -> Seq("customer", "query"))

  /** Shared EXACT kNN-graph intermediate for the graph family: the
    * k=10 exact graph over the full embeddings table is computed ONCE
    * per JVM per sf dir and materialized to a tmp parquet; every k ≤ 10
    * view the family needs (gold-tier edges, SemDeDup filter, the
    * blocked tier's recall oracle, the incremental rebuild reference)
    * is a rank-prefix selection of it — `rank <= k` of the k=10 graph
    * IS `knnGraph(..., k)` under the engine's total candidate order
    * (score desc, c_id tie-break). One quadratic pass per suite run
    * instead of ~6; each consumer still evaluates its own contract
    * against the artifact. Subset-corpus references (lifecycle
    * survivors, the incremental base over 6/7 of the corpus) are NOT
    * derivable from the full-corpus graph and stay exact-by-contract.
    */
  private val exactGraphBuilt =
    scala.collection.mutable.HashMap.empty[String, String]

  /** Bench hook (r12 verdict): forget the per-JVM shared exact-graph
    * memo so every TIMED run of a graph-family query pays its own
    * exact build (reported via phase("exact_graph_build")) instead of
    * reading a tmp parquet the untimed warmup populated. Verify and
    * the test suites keep the memo — it only changes WHEN the work
    * runs, never what any query returns.
    */
  def resetSharedIntermediates(): Unit =
    exactGraphBuilt.synchronized { exactGraphBuilt.clear() }
  private def exactKnnGraph(s: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= 10, s"shared exact graph holds k <= 10, got $k")
    // build under a lock: parallel test suites walk the query registry
    // concurrently in one JVM, and concurrent.Map.getOrElseUpdate may
    // evaluate the builder in TWO threads — two overlapping
    // mode("overwrite") writes to the same path delete each other's
    // in-flight files. The build is once-per-JVM; contention is nil.
    val path = exactGraphBuilt.synchronized {
      exactGraphBuilt.getOrElseUpdate(dir, {
        val p = tmpPath(dir, "exact_knn10")
        phase("exact_graph_build") {
          V.knnGraph(t(s, dir, "embeddings").select("vec_id", "embedding"),
              "vec_id", "embedding", k = 10)
            .write.mode("overwrite").parquet(p)
        }
        p
      })
    }
    s.read.parquet(path).filter(col("rank") <= k)
  }

  /** Ratio-margin mining tail — see
    * [[graft.functions.VectorFunctions.ratioMarginMine]].
    */
  private def bitextMargin(topA: DataFrame, topB: DataFrame,
                           k: Int): DataFrame =
    V.ratioMarginMine(topA, topB, k)

  /** The two mining slices: A = even label, B = odd label. */
  private def bitextSlices(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    (emb.filter(pmod(col("label"), lit(2)) === 0)
       .select(col("vec_id").as("a_id"), col("embedding").as("__av")),
     emb.filter(pmod(col("label"), lit(2)) === 1)
       .select(col("vec_id").as("b_id"), col("embedding").as("__bv")))
  }

  /** Brute-force (calibration-tier) mined pairs — the exact reference
    * the blocked tier's recall gate pins against.
    */
  private def bitextMineBrute(s: SparkSession, dir: String): DataFrame = {
    val (aS, bS) = bitextSlices(s, dir)
    bitextMargin(
      V.bruteForceTopK(aS, bS, "a_id", "b_id", "__av", "__bv", 4),
      V.bruteForceTopK(bS, aS, "b_id", "a_id", "__bv", "__av", 4), k = 4)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // =====================================================================
  // Query implementations
  // =====================================================================

  /** Caller contract: a builder may `persist` a shared intermediate when
    * the query fans one expensive analysis into several consumers (e.g.
    * text_span_dedup's winnow index). Harness consumers (Bench, Verify)
    * call `spark.catalog.clearCache()` after executing each query; any
    * other consumer should do the same or the cache outlives the query.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- headline TPC-H-ish analytics -------------------
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4), 4).as("sum_disc_price"),
          count(lit(1)).as("n_rows")
        )
    }),

    "q3_top_unshipped" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(dsum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "q5_nation_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4), 4).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---------------- S: scans / sinks ------------------------------
    "s1_scan_pushdown" -> ((s, dir) => {
      // projection + predicate must reach the parquet scan
      t(s, dir, "lineitem")
        .filter(col("l_discount") > 0.06 && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    "s2_pair_join" -> ((s, dir) => {
      // clinical sample×patient pair analog: fact ⋈ broadcast dim
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name")
    }),

    "s12_upsert_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val incoming = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      val existing = o.filter(col("o_orderkey") % 2 =!= 0)
      // one pass: single full-outer join → conditional agg → stack
      // (was three filter+agg branches re-scanning the cached join)
      Upsert.kindCounts(incoming, existing, Seq("o_orderkey"))
    }),

    "s12_upsert_bucketed" -> ((s, dir) => {
      // the operational upsert shape: existing side staged ONCE as a
      // full-PK-bucketed table (as the previous merge would have left
      // it), so the diff's full-outer join plans with NO exchange on
      // the existing side — only the delta shuffles. Same oracle as
      // s12_upsert_diff: the physical fast path must not change one row.
      val o = t(s, dir, "orders")
      val incoming = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      val existing = o.filter(col("o_orderkey") % 2 =!= 0)
      val staged = Upsert.stageBucketed(existing,
        s"upsert_staged_${dir.replaceAll("[^a-z0-9]", "_")}", Seq("o_orderkey"), buckets = 8)
      Upsert.kindCounts(incoming, staged, Seq("o_orderkey"), nullSafeKeys = false)
    }),

    "scd2_merge" -> ((s, dir) => {
      // type-2 versioned-table merge: closed history passes through,
      // only the current slice joins the snapshot; changed keys close
      // at ts and reopen, retired keys close, new keys open.
      val c = t(s, dir, "customer")
      val nullTo = lit(null).cast("long")
      val hist = c.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          lit(-10L).as("valid_from"), lit(0L).as("valid_to"))
      val cur = c.select(col("c_custkey"), col("c_mktsegment"),
        lit(0L).as("valid_from"), nullTo.as("valid_to"))
      val existing = hist.unionByName(cur)
      val incoming = c.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, lit("CHANGED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      graft.operators.Scd2.merge(existing, incoming,
        Seq("c_custkey"), Seq("c_mktsegment"), ts = 100L)
    }),

    "scd2_stream_replay" -> ((s, dir) => {
      // replay three full snapshots (ts 0, 100, 200) through
      // Scd2.scd2ApplyBatch (first-snapshot init, then Scd2.merge per
      // snapshot) — close-and-reopen across snapshots, retirement at
      // ts 200, unchanged rows keeping their original valid_from.
      // DuckDB replays the full three-step history.
      import graft.operators.Scd2.scd2ApplyBatch
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val b1 = c.select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, lit("B1"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      val b2 = c.filter(col("c_custkey") % 5 =!= 1)
        .select(col("c_custkey"),
          when(col("c_custkey") % 4 === 0, lit("B2"))
            .when(col("c_custkey") % 3 === 0, lit("B1"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      val pk = Seq("c_custkey")
      val at = Seq("c_mktsegment")
      val t0 = scd2ApplyBatch(None, c, pk, at, ts = 0L)
      val t1 = scd2ApplyBatch(Some(t0), b1, pk, at, ts = 100L)
      scd2ApplyBatch(Some(t1), b2, pk, at, ts = 200L)
    }),

    "dedup_stream_corpus" -> ((s, dir) => {
      // D.dedupAgainstCorpus: a batch of genuinely-new docs plus
      // re-ingested corpus docs keeps only content whose digest the
      // corpus index does not hold.
      val docs = t(s, dir, "documents")
      val digests = docs.filter(col("doc_id") % 10 =!= 7)
        .select(md5(col("text")).as("digest")).distinct()
      val batch = docs.filter(col("doc_id") % 10 === 7)
        .unionByName(docs.filter(col("doc_id") % 20 === 0))
      D.dedupAgainstCorpus(batch, "text", digests)
        .select(col("doc_id"))
    }),

    "o4b_topk_agg" -> ((s, dir) => {
      // window-free top-k: the custom bounded aggregate keeps k rows
      // per (partition, group) with map-side combine — only k·|groups|
      // rows reach the shuffle, vs sorting whole groups under a window
      graft.plans.TopKAggregate.topKExploded(
          t(s, dir, "orders"), Seq("o_orderstatus"),
          col("o_totalprice"), col("o_orderkey"), k = 5)
        .select(col("o_orderstatus"), round(col("score"), 2).as("score"),
          col("id"), col("rank"))
    }),

    "dash_histogram" -> ((s, dir) => {
      // fixed-bound bucketed histogram (dashboard distribution panel):
      // width_bucket is a pure per-row expression, the groupBy shuffles
      // only (status, bucket) pairs — histogramming 100 TB is one
      // map-side-combined aggregation.
      t(s, dir, "orders")
        .withColumn("bucket",
          expr("width_bucket(o_totalprice, 0.0, 600000.0, 20)"))
        .groupBy(col("o_orderstatus"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(30,2)")).cast("double").as("sum_price"))
    }),

    "approx_distinct_contract" -> ((s, dir) => {
      // sketch accuracy contract: the HLL++ estimate (rsd 1%) must land
      // within 5% of the exact distinct count. The oracle pins the
      // exact count and the contract outcome — gating the sketch's
      // guarantee without requiring cross-engine sketch equality.
      // exact and approx sides as SEPARATE aggregates: mixing a
      // distinct agg with a regular agg in one Aggregate plans an
      // Expand that doubles the scanned rows; two single-column scans
      // + a 1-row cross join is strictly cheaper at any scale
      val li = t(s, dir, "lineitem")
      val exact = li.select("l_partkey").distinct()
        .agg(count(lit(1)).as("exact_nd"))
      val approx = li
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_nd"))
      exact.crossJoin(approx)
        .select(col("exact_nd"),
          (abs(col("approx_nd").cast("double") / col("exact_nd").cast("double")
            - 1.0) <= 0.05).as("within_bound"))
    }),

    "approx_quantile_contract" -> ((s, dir) => {
      // quantile-sketch accuracy contract, per group: percentile_approx
      // (KLL-style, accuracy 10000 → rank error ≤ 0.01%) must land
      // within 1% of the exact interpolated median. The oracle pins the
      // exact side (quantile_cont) and the contract outcome — the
      // sketch's guarantee is gated without cross-engine sketch
      // equality. At 100 TB the approx path is the only viable one
      // (exact percentile materializes whole groups); this query is the
      // evidence the swap is safe.
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("exact_p50"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_p50"))
        .select(col("l_returnflag"), round(col("exact_p50"), 6).as("exact_p50"),
          (abs(col("approx_p50") / col("exact_p50") - 1.0) <= 0.01).as("within_bound"))
    }),

    "agg_incremental_refresh" -> ((s, dir) => {
      // materialized-aggregate maintenance: the "stored" aggregate is
      // built from 90% of lineitem, the day's delta is the other 10%;
      // merging partials must equal the from-scratch aggregate (the
      // oracle) without ever rescanning the base rows.
      val li = t(s, dir, "lineitem")
      val base  = li.filter(col("l_orderkey") % 10 =!= 0)
      val delta = li.filter(col("l_orderkey") % 10 === 0)
      val sums = Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price")
      val stored = graft.operators.AggMaintain.partial(
        base, Seq("l_returnflag"), sums, "cnt")
      val part = graft.operators.AggMaintain.partial(
        delta, Seq("l_returnflag"), sums, "cnt")
      graft.operators.AggMaintain.merge(Seq(stored, part),
          Seq("l_returnflag"), Seq("cnt", "sum_price", "sum_qty"))
        .select(col("l_returnflag"), col("cnt"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("sum_price").cast("double").as("sum_price"))
    }),

    // ---------------- P: validation rule battery ---------------------
    "p_battery_orders" -> ((s, dir) => {
      val key = col("o_orderkey")
      val rules = Seq(
        RowRule("status_domain", "error",
          Rules.domain(col("o_orderstatus"), Seq("O", "F", "P")), key, ""),
        RowRule("price_positive", "error",
          col("o_totalprice").isNull || col("o_totalprice") <= 0, key, ""),
        RowRule("priority_format", "error",
          !col("o_orderpriority").rlike("^[1-5]-"), key, ""),
        RowRule("date_in_range", "warning",
          year(col("o_orderdate")) > 1998, key, "")
      )
      Rules.Battery.asDataFrame(t(s, dir, "orders"), rules)
    }),

    "p5_identifier_check" -> ((s, dir) => {
      // GENIE-ID-style prefix/length validation over document sources
      t(s, dir, "documents")
        .groupBy("source")
        .agg(
          sum(when(Rules.badIdentifier(col("source"), "src", 20), 1L).otherwise(0L)).as("n_bad"),
          count(lit(1)).as("n_rows"))
    }),

    "p12_median_check" -> ((s, dir) => {
      // AGE median heuristic analog (clinical.py:933-965)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(median(col("l_quantity")), 2).as("med_qty"), count(lit(1)).as("n"))
    }),

    "p14_duplicate_keys" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") > 1)
    }),

    // ---------------- J: joins --------------------------------------
    "j5_broadcast_remap" -> ((s, dir) => {
      // code→label lookup remap (race/sex/sampletype analog): broadcast dim
      val labels = t(s, dir, "region")
        .select(col("r_regionkey").as("n_regionkey"), col("r_name").as("region_label"))
      t(s, dir, "nation")
        .join(broadcast(labels), Seq("n_regionkey"), "left")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("region_label"), lit("UNKNOWN")).as("region_label"))
    }),

    "j3_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    "j4_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_customers"))
    }),

    "j6_range_join_binned" -> ((s, dir) => {
      // genomic-interval-join analog over price bands, binned equi-join path
      val bands = t(s, dir, "part").groupBy("p_brand")
        .agg(min("p_retailprice").as("lo"), max("p_retailprice").as("hi"))
        .withColumn("g", lit(1))
      val points = t(s, dir, "lineitem")
        .withColumn("unit_price", col("l_extendedprice") / greatest(col("l_quantity"), lit(1.0)))
        .withColumn("g", lit(1))
        .select("g", "l_orderkey", "l_linenumber", "unit_price")
      RangeJoin.binnedOverlap(
        points.withColumn("p_end", col("unit_price")),
        bands, "g", "unit_price", "p_end", "lo", "hi", binSize = 200L)
        .groupBy("p_brand").agg(count(lit(1)).as("n_in_band"))
    }),

    "j8_release_diff" -> ((s, dir) => {
      // current-vs-prior release count diff (dashboard_table_updater.py:429-461)
      val o = t(s, dir, "orders")
      val prior = o.filter(year(col("o_orderdate")) <= 1996)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_prior"))
      val cur = o.groupBy("o_orderpriority").agg(count(lit(1)).as("n_cur"))
      cur.join(prior, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"),
          coalesce(col("n_prior"), lit(0L)).as("n_prior"),
          (coalesce(col("n_cur"), lit(0L)) - coalesce(col("n_prior"), lit(0L))).as("diff"))
    }),

    "j9_asof_attribution" -> ((s, dir) => {
      // point-in-time attribution: for each click, the user's latest
      // view at or before it. AsOfJoin = union+window, one shuffle on
      // user_id, no join node; comparisons run on the raw ns timestamps
      // (ms only in the output projection, so ms ties can't bite).
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("ts_ms"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"),
          col("ts_ms").as("view_ts_ms"), col("event_id").as("view_event_id"))
      graft.operators.AsOfJoin.backward(clicks, views, Seq("user_id"),
          "ts", "vts", Seq("view_event_id", "view_ts_ms"), prefix = "")
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          col("view_event_id"), col("view_ts_ms"),
          (col("ts_ms") - col("view_ts_ms")).as("gap_ms"))
    }),

    "j10_fuzzy_pairs" -> ((s, dir) => {
      // record linkage: distinct part-name pairs within edit distance
      // 3, via token blocking (df-capped) + levenshtein verify — the
      // prefix-filter shape, never an all-pairs cross join.
      graft.functions.DedupFunctions.fuzzyNamePairs(
        t(s, dir, "part"), "p_name", maxDist = 3, maxDf = 12L)
    }),

    "j11_fuzzy_qgram" -> ((s, dir) => {
      // the q-gram blocking tier: recovers pairs token blocking misses
      // by contract (single-token names, capped-token-only pairs) —
      // shared rare character 4-gram → length prune → levenshtein
      // verify. Same catalog-sized prefix-filter shape.
      graft.functions.DedupFunctions.fuzzyNamePairsQgram(
        t(s, dir, "part"), "p_name", maxDist = 3, q = 4, maxDf = 20L)
    }),

    "j12_fuzzy_cluster" -> ((s, dir) => {
      // entity RESOLUTION, not just pair detection: the verified fuzzy
      // pairs from BOTH blocking tiers (token + q-gram — each recovers
      // pairs the other provably misses by contract) become one edge
      // set, and connected components assign every catalog name its
      // canonical entity. Names map to stable long ids (min part key
      // per name) so the CC machinery (large-star/small-star, salted
      // hot keys) runs on 8-byte keys; every shuffle is catalog-sized
      // and the output is one row per distinct name.
      val part = t(s, dir, "part")
      val nameIds = part
        .select(lower(col("p_name")).as("name"), col("p_partkey"))
        .groupBy("name").agg(min("p_partkey").as("nid"))
      val pairs = D.fuzzyNamePairs(part, "p_name", maxDist = 3, maxDf = 12L)
        .select("name_a", "name_b")
        .unionByName(
          D.fuzzyNamePairsQgram(part, "p_name", maxDist = 3, q = 4,
            maxDf = 20L).select("name_a", "name_b"))
        .distinct()
      val edges = pairs
        .join(nameIds.select(col("name").as("name_a"), col("nid").as("id_a")),
          Seq("name_a"))
        .join(nameIds.select(col("name").as("name_b"), col("nid").as("id_b")),
          Seq("name_b"))
        .select("id_a", "id_b")
      ConnectedComponents.clusters(nameIds.select("nid"), "nid",
          edges, "id_a", "id_b")
        .join(nameIds, Seq("nid"))
        .join(nameIds.select(col("nid").as("cluster_id"),
          col("name").as("canonical_name")), Seq("cluster_id"))
        .select(col("name"), col("canonical_name"), col("is_canonical"))
        .orderBy("name")
    }),

    // ---------------- A: aggregations --------------------------------
    "a2_rollup_total" -> ((s, dir) => {
      // per-CENTER counts + Total row (dashboard_table_updater.py:127-175)
      t(s, dir, "orders")
        .rollup("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("Total")).as("o_orderstatus"), col("n"))
    }),

    "a3_crosstab_pivot" -> ((s, dir) => {
      // ONCOTREE_CODE × CENTER crosstab analog (source × lang)
      t(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
    }),

    "a4_completeness" -> ((s, dir) => {
      // per-column completeness % (dashboard_table_updater.py:16-50)
      events(s, dir).groupBy("event_type").agg(
        round(avg(when(col("value").isNotNull && col("value") > 0, 1.0).otherwise(0.0)), 6).as("value_complete"),
        round(avg(when(col("props").isNotNull && col("props") =!= "", 1.0).otherwise(0.0)), 6).as("props_complete"),
        count(lit(1)).as("n"))
    }),

    "a6_bool_aggregates" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        bool_and(col("l_quantity") > 0).as("all_qty_pos"),
        bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
        count(lit(1)).as("n"))
    }),

    "a10_value_decrease" -> ((s, dir) => {
      // release-over-release value_counts decrease check
      val e = events(s, dir)
      val old = e.filter(col("event_id") % 2 === 0).groupBy("event_type").agg(count(lit(1)).as("n_old"))
      val neu = e.groupBy("event_type").agg(count(lit(1)).as("n_new"))
      neu.join(old, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          (coalesce(col("n_new"), lit(0L)) < coalesce(col("n_old"), lit(0L))).as("decreased"))
    }),

    "a1_dup_counts" -> ((s, dir) => {
      // A1: duplicate counts on a composite key
      t(s, dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .groupBy("n").agg(count(lit(1)).as("n_keys"))
    }),

    "a9_per_sample_counts" -> ((s, dir) => {
      // A9: per-sample variant counts (mergeCheck batching input)
      events(s, dir).groupBy("user_id").agg(count(lit(1)).as("n_variants"))
    }),

    // ---------------- U3/O1/C6 ---------------------------------------
    "u3_except_missing" -> ((s, dir) => {
      // U3: ids in file but not in DB (missing-sample upload check)
      val db   = t(s, dir, "customer").filter(col("c_custkey") % 4 =!= 0).select("c_custkey")
      val file = t(s, dir, "customer").select("c_custkey")
      file.except(db).orderBy("c_custkey")
    }),

    "o1_sorted_export" -> ((s, dir) => {
      // O1: deterministic sorted export (CNA template order)
      t(s, dir, "part").groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    }),

    "c6_epoch_millis" -> ((s, dir) => {
      // C6: ISO timestamp → epoch ms (modifiedOn semantics)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        (unix_timestamp(col("o_orderdate")) * 1000).as("epoch_ms"))
    }),

    // ---------------- W: windows -------------------------------------
    "w1_adjacent_deltas" -> ((s, dir) => {
      // mutation-in-cis adjacent-variant deltas (W1) over the event stream
      val e = events(s, dir).select("user_id", "event_id", "ts_ms", "value")
      WindowOps.adjacentDeltas(e, Seq("user_id"), Seq("ts_ms", "event_id"), Seq("ts_ms", "value"))
        .filter(col("ts_ms_prev").isNotNull)
        .select(col("user_id"), col("event_id"),
          col("ts_ms_delta").as("gap_ms"),
          round(col("value_delta"), 4).as("value_delta"))
    }),

    "w2_latest_per_group" -> ((s, dir) => {
      WindowOps.latestPerGroup(events(s, dir), Seq("user_id"), Seq("ts_ms", "event_id"))
        .select("user_id", "event_id", "ts_ms", "event_type")
    }),

    // ---------------- O: sort / top-k --------------------------------
    "o4_topk" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy("c_nationkey").agg(dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("total_bal").desc, col("c_nationkey").asc)
        .limit(15)
    }),

    // ---------------- U: set ops -------------------------------------
    "u1_union_except" -> ((s, dir) => {
      val big   = t(s, dir, "orders").filter(col("o_totalprice") > 150000).select("o_orderkey")
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val both  = big.union(urgent).distinct()
      val onlyBig = big.except(urgent)
      both.agg(count(lit(1)).as("n")).select(lit("union_distinct").as("set_op"), col("n"))
        .unionByName(onlyBig.agg(count(lit(1)).as("n")).select(lit("except").as("set_op"), col("n")))
        .unionByName(big.intersect(urgent).agg(count(lit(1)).as("n")).select(lit("intersect").as("set_op"), col("n")))
    }),

    // ---------------- F: release filters ------------------------------
    "f1_germline_greatest" -> ((s, dir) => {
      // gnomAD-max filter analog: row-wise greatest over rate columns
      val l = t(s, dir, "lineitem")
      l.filter(Filters.germlineKeep(
          Seq(col("l_discount"), col("l_tax")), 0.05, col("l_returnflag") === "A"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_kept"))
    }),

    "f7_redaction" -> ((s, dir) => {
      // PHI-redaction when-chain + day→year conversion on synthetic ages
      t(s, dir, "customer")
        .withColumn("age_days",
          when(col("c_custkey") % 11 === 0, lit(">32485"))
            .when(col("c_custkey") % 13 === 0, lit("<6570"))
            .otherwise((col("c_custkey") % 20000 + 6600).cast("string")))
        .select(col("c_custkey"),
          Filters.daysToYears(col("age_days")).as("age_years"),
          Filters.redactAge(col("age_days")).as("age_redacted"))
    }),

    // ---------------- dedup -------------------------------------------
    "dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
    }),

    "dedup_keep_best_flags" -> ((s, dir) => {
      // exact dedup, BEST-copy survivor, SCALE shape: within each
      // md5(text) group the highest-quality row wins (min doc_id on
      // ties) and EVERY row gets a keep flag — vs dedup_keep_best's
      // window-ranked winners-only report. The winner per digest is a
      // partial aggregate (min(struct(-score, id)) — a mega-dup
      // cluster's copies combine map-side instead of sorting in one
      // window partition); output integer/boolean-only.
      D.dedupKeepBest(t(s, dir, "documents"), "doc_id", "text",
          round(T.qualityScore(col("text")), 6))
        .select(col("doc_id"), col("keep"))
        .orderBy("doc_id")
    }),

    "corpus_psi_drift" -> ((s, dir) => {
      // distribution-drift monitor between corpus snapshots (PSI —
      // population stability index, the standard data-drift gauge): doc
      // lengths bucket by bit-width of the token count (length(bin(n))
      // — integer-exact log2 on BOTH engines, no float boundary), the
      // old snapshot (doc_id % 10 != 7, the dedup_incremental shape)
      // compares against the full corpus, counts Laplace-smooth over
      // the shared bucket set, and each bucket reports its
      // (p−q)·ln(p/q) term at 6 dp. Two aggregations + one broadcast
      // totals row; the bucket table is bit-width-bounded (≤ ~40 rows
      // at any corpus size).
      // KNOWN RESIDUAL double-rounded surface (one of two, with
      // text_ccnet_buckets): ln() is intrinsic to PSI and has no
      // DECIMAL derivation, so a 1-ulp cross-engine ln drift landing
      // exactly on a 0.5e-6 rounding boundary could flip the 6th digit.
      // Everything up to the ln is integer-exact (bit-width buckets,
      // integer counts, one canonical expression order mirrored in the
      // oracle), so the exposure is the ln alone — ~40 rounded values
      // per run, each with ~1e-10 boundary mass.
      val d = t(s, dir, "documents").select(col("doc_id"),
        length(bin(T.tokenCount(col("text")).cast("long"))).cast("long")
          .as("bucket"))
      val co = d.filter(col("doc_id") % 10 =!= 7)
        .groupBy("bucket").agg(count(lit(1)).as("n_old"))
      val cn = d.groupBy("bucket").agg(count(lit(1)).as("n_new"))
      val joined = co.join(cn, Seq("bucket"), "full_outer")
        .select(col("bucket"), coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      val tot = joined.agg(sum("n_old").as("__to"), sum("n_new").as("__tn"),
        count(lit(1)).as("__b"))
      val p = (col("n_old") + lit(1L)).cast("double") /
        (col("__to") + col("__b")).cast("double")
      val q = (col("n_new") + lit(1L)).cast("double") /
        (col("__tn") + col("__b")).cast("double")
      joined.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_old"), col("n_new"),
          round((p - q) * log(p / q), 6).as("psi_term"))
        .orderBy("bucket")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // daily-ingest dedup: the corpus (doc_id % 10 != 7) reduces to a
      // persisted digest index; the new batch (doc_id % 10 == 7) flags
      // rows already present. Text never shuffles — only digests + ids.
      val docs = t(s, dir, "documents")
      D.incrementalExactDup(
          docs.filter(col("doc_id") % 10 =!= 7),
          docs.filter(col("doc_id") % 10 === 7),
          "doc_id", "text")
        .groupBy("dup_in_corpus")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
    }),

    "dedup_keep_best" -> ((s, dir) => {
      // canonical selection (the C4 "keep the best copy" rule): docs
      // sharing a bag-of-words fingerprint (same distinct token set —
      // reordered/repeated near-copies) form a group; keep the
      // highest-quality member, quality rounded BEFORE ranking so the
      // order is engine-portable, doc_id tie-break. Both windows
      // partition by the fingerprint — no global window, and only
      // (digest, id, quality) rows ever shuffle.
      val fp = md5(array_join(array_sort(array_distinct(
        T.tokens(lower(col("text"))))), " "))
      val d = t(s, dir, "documents").select(col("doc_id"), fp.as("__fp"),
        round(T.qualityScore(col("text")), 6).as("quality"))
      val w = Window.partitionBy(col("__fp"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      d.withColumn("__rn", row_number().over(w))
        .withColumn("n_dups", count(lit(1)).over(Window.partitionBy(col("__fp"))))
        .filter(col("__rn") === 1 && col("n_dups") > 1)
        .select(col("doc_id"), col("n_dups"), col("quality"))
    }),

    "dedup_retract" -> ((s, dir) => {
      // GDPR-style purge across ALL persisted dedup index types: the
      // digest (exact), band (MinHash-LSH), winnow (span), and simhash
      // (Hamming) indexes are built over the full corpus, every %50
      // doc is retracted via one tombstone-only segment each (no index
      // data rewritten), and a probe batch (%25 docs — half of them
      // the retracted docs themselves) counts its surviving hits per
      // index. The oracle replays each index's candidate semantics
      // over the KEPT corpus only — so a retracted doc leaking into
      // any candidate set, or a tombstone over-masking a live doc,
      // breaks the hash.
      val docs = t(s, dir, "documents")
      val toks = array_distinct(T.tokens(lower(col("text"))))
      val dgP = tmpPath(dir, "rt_digest")
      val bdP = tmpPath(dir, "rt_band")
      val wnP = tmpPath(dir, "rt_winnow")
      val shP = tmpPath(dir, "rt_simhash")
      // the four index builds are INDEPENDENT jobs over distinct paths —
      // overlap them (guide §2.6 back-fill; Fan.overlap) instead of
      // paying four sequential job tails; same for the four retracts.
      // Outputs are unchanged, only the wall clock moves; the phase
      // timer records the honest combined wall time.
      phase("build") {
        graft.core.Fan.overlap(Seq(
          () => D.saveDigestIndex(docs, "doc_id", "text", dgP),
          () => D.saveBandIndexPersisted(docs, "doc_id", toks, bdP,
            k = 4, bands = 2),
          () => D.saveWinnowIndexPersisted(docs, "doc_id", "text", wnP,
            k = 6, w = 16),
          () => D.saveSimhashIndex(docs, "doc_id",
            T.tokens(lower(col("text"))), shP, bits = 32, maxHamming = 3)))
      }
      val retractIds = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("id"))
      phase("merge") {
        graft.core.Fan.overlap(Seq(
          () => graft.functions.SegmentedIndex.retract(s, dgP, retractIds,
            Seq("digests")),
          () => graft.functions.SegmentedIndex.retract(s, bdP, retractIds,
            Seq("bands")),
          () => graft.functions.SegmentedIndex.retract(s, wnP, retractIds,
            Seq("hashes")),
          () => graft.functions.SegmentedIndex.retract(s, shP, retractIds,
            Seq("blocks"))))
      }
      val probes = docs.filter(col("doc_id") % 25 === 0)
      val dHits = D.digestHitsFromIndex(dgP, probes, "doc_id", "text")
        .filter(col("corpus_id") =!= col("batch_id"))
        .groupBy("batch_id").agg(count(lit(1)).as("n_digest"))
        .withColumnRenamed("batch_id", "probe_id")
      val bHits = D.incrementalNearDupCandidates(
          D.bandIndexLive(s, bdP), probes, "doc_id", toks, k = 4, bands = 2)
        .filter(col("corpus_id") =!= col("batch_id"))
        .groupBy("batch_id").agg(count(lit(1)).as("n_band"))
        .withColumnRenamed("batch_id", "probe_id")
      val wHits = D.probeSpanHits(D.winnowIndexLive(s, wnP),
          D.winnowIndex(probes, "doc_id", "text", k = 6, w = 16),
          maxDf = 20, minShared = 2L)
        .filter(col("corpus_id") =!= col("probe_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_span"))
      val sHits = D.probeSimhashHits(D.simhashIndexLive(s, shP),
          D.simhashBlockRows(probes, "doc_id", T.tokens(lower(col("text"))),
            bits = 32, maxHamming = 3),
          maxHamming = 3)
        .filter(col("corpus_id") =!= col("probe_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("n_simhash"))
      probes.select(col("doc_id").as("probe_id"),
          (col("doc_id") % 50 === 0).as("retracted"))
        .join(dHits, Seq("probe_id"), "left")
        .join(bHits, Seq("probe_id"), "left")
        .join(wHits, Seq("probe_id"), "left")
        .join(sHits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("retracted"),
          coalesce(col("n_digest"), lit(0L)).as("n_digest"),
          coalesce(col("n_band"), lit(0L)).as("n_band"),
          coalesce(col("n_span"), lit(0L)).as("n_span"),
          coalesce(col("n_simhash"), lit(0L)).as("n_simhash"))
    }),

    "dedup_minhash_sig" -> ((s, dir) => {
      // native one-pass Catalyst expression (graft.plans.MinHashSignature);
      // bit-identical to the composed md5 form the oracle reproduces
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        graft.plans.MinHashSignature.signature(
          array_distinct(T.tokens(lower(col("text")))), 4).as("sig"))
        .select(col("doc_id"),
          col("sig").getItem(0).as("mh0"), col("sig").getItem(1).as("mh1"),
          col("sig").getItem(2).as("mh2"), col("sig").getItem(3).as("mh3"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // 3-gram Jaccard for adjacent doc pairs (deterministic candidate
      // set). Shingles travel as native 64-bit gram hashes
      // (graft.plans.ShingleHashExpr — one codegen'd pass per row,
      // count-equivalent to the string shingle set), so intersect/union
      // sizes — and hence Jaccard — are the oracle's string-set numbers
      // while the join carries longs, not gram strings.
      val d  = t(s, dir, "documents")
      val sh = d.select(col("doc_id"),
        graft.plans.ShingleHashExpr.shingleHashes(col("text"), 3).as("sh"))
      val a  = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b  = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"), round(D.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
    }),

    "dedup_minhash_estimate" -> ((s, dir) => {
      // the sketch property LSH banding rests on: signature agreement
      // estimates Jaccard. Per adjacent pair: est = matching components
      // / 16 next to the exact token-set Jaccard — both deterministic,
      // both oracle-replayed (the estimate from the same md5 minhash,
      // the truth from set ops). At 100 TB only the 16-hash signature
      // (not the token sets) needs to reach a pair comparison.
      val d = t(s, dir, "documents")
      val toks = array_distinct(T.tokens(lower(col("text"))))
      // exact side carries token HASHES (ShingleHashExpr n=1 ≡ the
      // distinct token set, property-proven): intersect/union sizes —
      // hence Jaccard — are identical, and the pair join shuffles
      // 8-byte longs instead of token strings
      val sig = d.select(col("doc_id"),
        graft.plans.ShingleHashExpr.shingleHashes(col("text"), 1).as("toks"),
        graft.plans.MinHashSignature.signature(toks, 16).as("sig"))
      val a = sig.select(col("doc_id").as("id_a"), col("toks").as("t_a"), col("sig").as("s_a"))
      val b = sig.select(col("doc_id").as("id_b"), col("toks").as("t_b"), col("sig").as("s_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(aggregate(zip_with(col("s_a"), col("s_b"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
            lit(0), _ + _).cast("double") / 16.0, 6).as("est_jaccard"),
          round(D.jaccard(col("t_a"), col("t_b")), 6).as("exact_jaccard"))
    }),

    "dedup_minhash_audit" -> ((s, dir) => {
      // the quality audit of the MinHash-LSH tier ITSELF — the numbers
      // a near-dup pipeline publishes before trusting its banding
      // config: precision of the band-collision candidate set against
      // exact token Jaccard at three thresholds, plus banding recall
      // over the deterministic adjacent-pair probe set (the
      // dedup_minhash_estimate truth). Thresholds compare by INTEGER
      // cross-multiplication (inter·10⁶ ≥ union·τ_ppm — no float
      // boundary), rates are half-up ppm, NULL when undefined. At
      // 100 TB only the candidate pairs (bounded by the bucket
      // occupancy cap) and the n adjacent probes ever pay an exact
      // set comparison — the audit costs what candidate verification
      // already costs.
      val d = t(s, dir, "documents")
      val toks = array_distinct(T.tokens(lower(col("text"))))
      val th = graft.plans.ShingleHashExpr.shingleHashes(col("text"), 1)
      // hs feeds FOUR joins (two per pairCounts invocation × two
      // consumers) — persist the hashed projection so the corpus
      // tokenization/md5 pass runs once, not 4×. Token-hash arrays are
      // a fraction of the text they digest; same shared-intermediate
      // contract as `cand` below (harness consumers clearCache).
      val hs = d.select(col("doc_id"), th.as("th")).persist()
      // the candidate set has TWO consumers (the precision table and
      // the adjacent-probe recall join) — persist the bounded id-pair
      // table so the band self-join runs once (text_span_dedup's
      // shared-intermediate contract; harness consumers clearCache)
      val cand = D.lshCandidatePairs(d, "doc_id", toks, k = 16, bands = 4)
        .persist()
      // per-pair set sizes via ONE merge scan: shingleHashes emits
      // ascending-sorted distinct hashes, so |A∩B| is a linear merge
      // (native SortedIntersectCount, zero allocation) and |A∪B| =
      // |A|+|B|−|A∩B| — bit-identical to the
      // array_intersect/array_union pair this replaces at ~10× less
      // CPU per candidate (the audit's dominant cost at any scale)
      val pairCounts = (p: DataFrame) => p
        .join(hs.select(col("doc_id").as("id_a"), col("th").as("__ta")), Seq("id_a"))
        .join(hs.select(col("doc_id").as("id_b"), col("th").as("__tb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.plans.SortedIntersectCount
            .sortedIntersectCount(col("__ta"), col("__tb")).as("__i"),
          (size(col("__ta")) + size(col("__tb"))).cast("long").as("__ab"))
        .select(col("id_a"), col("id_b"), col("__i"),
          (col("__ab") - col("__i")).as("__u"))
      val taus = explode(array(lit(300000L), lit(500000L), lit(700000L)))
        .as("tau_ppm")
      val isTrue = col("__i") * 1000000L >= col("__u") * col("tau_ppm")
      val cagg = pairCounts(cand).select(col("__i"), col("__u"), taus)
        .groupBy("tau_ppm")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(isTrue, 1L).otherwise(0L)).as("n_cand_true"))
      val adj = pairCounts(
        d.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
          .join(d.select((col("doc_id")).as("id_b")), Seq("id_b"), "left_semi"))
        .join(cand.withColumn("__c", lit(1L)), Seq("id_a", "id_b"), "left")
      val aagg = adj.select(col("__i"), col("__u"), col("__c"), taus)
        .groupBy("tau_ppm")
        .agg(sum(when(isTrue, 1L).otherwise(0L)).as("n_adj_true"),
          sum(when(isTrue && col("__c").isNotNull, 1L).otherwise(0L))
            .as("n_adj_caught"))
      val P = graft.functions.Sampling
      cagg.join(aagg, Seq("tau_ppm"))
        .select(col("tau_ppm"), col("n_cand"), col("n_cand_true"),
          when(col("n_cand") === 0L, lit(null))
            .otherwise(P.ppmHalfUp(col("n_cand_true"), col("n_cand")))
            .cast("long").as("precision_ppm"),
          col("n_adj_true"), col("n_adj_caught"),
          when(col("n_adj_true") === 0L, lit(null))
            .otherwise(P.ppmHalfUp(col("n_adj_caught"), col("n_adj_true")))
            .cast("long").as("recall_ppm"))
        .orderBy("tau_ppm")
    }),

    "dedup_cluster_assign" -> ((s, dir) => {
      // the full LSH→cluster dedup pipeline: minhash band collisions →
      // connected components (large-star/small-star) → one canonical
      // doc per cluster. Keeping is_canonical rows IS the dedup.
      // Edges are bucket STARS (member→bucket-min), not bucket cliques:
      // identical components, linear instead of quadratic edge count.
      val d = t(s, dir, "documents")
      val toks = array_distinct(T.tokens(lower(col("text"))))
      // corpus size from parquet footers bounds the max bucket: below
      // the hot threshold the star join skips the hot-key machinery
      val nDocs = graft.sources.ParquetMeta.rowCount(s, s"$dir/documents.parquet")
      val mayHot = nDocs >= graft.operators.ConnectedComponents.defaultHotThreshold
      val edges = D.lshBucketStarEdges(d, "doc_id", toks, k = 4, bands = 2,
        mayHaveHot = mayHot)
      ConnectedComponents.clusters(d.select("doc_id"), "doc_id", edges, "id_a", "id_b")
    }),

    "dedup_repeated_spans" -> ((s, dir) => {
      // ExactSubstr audit (Lee et al. 2022): per-doc count/total/max of
      // token spans whose every 5-gram occurs >= 2 times corpus-wide
      // (including within the same doc). Positional gram hashes explode
      // scan-side; the occurrence count and the filter-back join are
      // co-partitioned on the hash; the island merge is an in-row fold.
      graft.functions.DedupFunctions.repeatedSpanStats(
        t(s, dir, "documents"), "doc_id", "text", n = 5, minCount = 2L)
    }),

    "dedup_repeated_persisted" -> ((s, dir) => {
      // the operational ExactSubstr shape: gram postings persisted once
      // (h-range-clustered SegmentedIndex), the audit query then runs
      // with ZERO text reads. Bit-identical to the scan-side
      // dedup_repeated_spans — the same oracle gates both.
      val idxPath = tmpPath(dir, "repspan_idx")
      phase("build") {
        graft.functions.DedupFunctions.saveRepeatedSpanIndex(
          t(s, dir, "documents"), "doc_id", "text", idxPath, n = 5)
      }
      graft.functions.DedupFunctions
        .repeatedSpanStatsFromIndex(s, idxPath, n = 5, minCount = 2L)
        .withColumnRenamed("id", "doc_id")
    }),

    "dedup_repeated_incremental" -> ((s, dir) => {
      // O(delta) ExactSubstr lifecycle: build on 6/7 of the corpus,
      // merge the rest as arrivals — the delta's grams shift counts
      // corpus-wide (a singleton gram in the old corpus crosses the
      // minCount floor the moment the delta repeats it), so the merged
      // index must reproduce the FULL-corpus audit bit for bit. Same
      // oracle as the scan-side pass over all documents.
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "repspan_inc")
      phase("build") {
        graft.functions.DedupFunctions.saveRepeatedSpanIndex(
          docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text",
          idxPath, n = 5)
      }
      phase("merge") {
        graft.functions.DedupFunctions.mergeRepeatedSpanDelta(
          docs.filter(col("doc_id") % 7 === 3), "doc_id", "text",
          idxPath, n = 5)
      }
      graft.functions.DedupFunctions
        .repeatedSpanStatsFromIndex(s, idxPath, n = 5, minCount = 2L)
        .withColumnRenamed("id", "doc_id")
    }),

    "dedup_repeated_removal" -> ((s, dir) => {
      // the removal pass itself: every doc rewritten with repeated
      // spans cut out (unaffected docs come back normalized, fully-
      // covered docs come back empty) — string output, but fully
      // deterministic: token filtering, no floats anywhere.
      graft.functions.DedupFunctions.removeRepeatedSpans(
          t(s, dir, "documents"), "doc_id", "text", n = 5, minCount = 2L)
        .orderBy("doc_id")
    }),

    // ---------------- text analysis ----------------------------------
    "text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.qualityScore(col("text")).as("quality"),
        T.fingerprint(col("text")).as("fingerprint"))
    }),

    "text_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), T.langId(col("text")).as("lang_pred"))
    }),

    "text_blocklist_hits" -> ((s, dir) => {
      // banned-phrase pass over the corpus: mixed-length phrase list,
      // token-boundary matching via broadcast gram-hash joins (see
      // Curation.blocklistHits) — text never shuffles.
      graft.functions.Curation.blocklistHits(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("small query line", "query big part", "window merge hash",
            "slow key"))
        .orderBy("doc_id", "phrase")
    }),

    "text_blocklist_removal" -> ((s, dir) => {
      // the enforcement half: banned phrases cut out of every doc
      // (token-boundary, overlapping matches merge) — deterministic
      // strings, zero floats; same scan-side hash matching as the
      // detector, same in-row rewrite as the ExactSubstr pass.
      graft.functions.Curation.blocklistRemove(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("small query line", "query big part", "window merge hash",
            "slow key"))
        .orderBy("doc_id")
    }),

    "decontam_scrub" -> ((s, dir) => {
      // the ENFORCEMENT half of decontam_overlap/decontam_span: every
      // training 5-gram colliding with the eval set marks its token
      // range, islands merge, covered tokens CUT (GPT-3 appendix C
      // semantics — scrub the span, keep the doc). Eval grams broadcast
      // as 64-bit hashes; uncontaminated docs pass through verbatim.
      val d = t(s, dir, "documents")
      graft.functions.Curation.scrubContaminated(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    "pipeline_curation_v2" -> ((s, dir) => {
      // capstone composition of the round-9 curation ops, in the order
      // a real cleaning pipeline runs them: banned-phrase scrub →
      // corpus-wide repeated-substring removal over the SCRUBBED text
      // (the two rewrites chain — ExactSubstr sees post-blocklist
      // grams) → minimum-length quality gate → per-(lang, source)
      // integer audit. Text shuffles once per rewrite join and never
      // into an aggregation.
      val docs = t(s, dir, "documents")
      val scrubbed = graft.functions.Curation.blocklistRemove(
        docs, "doc_id", "text",
        Seq("small query line", "query big part", "window merge hash",
          "slow key"))
      val deduped = graft.functions.DedupFunctions.removeRepeatedSpans(
        scrubbed, "doc_id", "clean_text", n = 5, minCount = 2L)
      val nTok = when(col("clean_text") === "", lit(0))
        .otherwise(size(split(col("clean_text"), " ")))
      deduped.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(col("lang"), col("source"), nTok.as("n_tok"))
        .filter(col("n_tok") >= 10)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
        .orderBy("lang", "source")
    }),

    "text_ngram_diversity" -> ((s, dir) => {
      // distinct-n diversity per source (the self-repetition audit
      // behind "is this source template spam?"): trigram type/token
      // ratio as ppm, integer-only output. One scan, grams reduce with
      // map-side combine; gram identity is the 64-bit positional hash —
      // the same negligible-collision contract the dedup family rides.
      t(s, dir, "documents")
        .select(col("source"),
          explode(graft.plans.ShingleHashExpr.shingleHashesSeq(col("text"), 3))
            .as("g"))
        .groupBy("source")
        .agg(count(lit(1)).as("total_grams"),
          countDistinct(col("g")).as("distinct_grams"))
        .select(col("source"), col("total_grams"), col("distinct_grams"),
          graft.functions.Sampling.ppmHalfUp(
            col("distinct_grams"), col("total_grams"))
            .as("distinct_ppm"))
        .orderBy("source")
    }),

    "corpus_source_overlap" -> ((s, dir) =>
      // pairwise token-TYPE Jaccard between sources as BIGINT ppm —
      // the source-redundancy matrix a mixture plan starts from. The
      // corpus reduces to distinct (source, token) types first, so the
      // pair join runs on vocabulary-sized data with per-token fan-out
      // bounded by |sources|², never corpus rows.
      graft.functions.Curation.sourceOverlap(
          t(s, dir, "documents"), "source", "text")
        .orderBy("source_a", "source_b")),

    "corpus_overlap_incremental" -> ((s, dir) => {
      // delta-maintained corpus analytics: the ref-counted vocabulary
      // (group, token, n_docs) absorbs a base build, a late delta, and
      // a GDPR retraction as three DELTA-SIZED partials — the overlap
      // matrix then refreshes from the merged type table without ever
      // re-scanning the corpus. Oracle computes the overlap directly
      // over the survivor corpus, so the merge chain is proven
      // bit-identical to a fresh build.
      val C = graft.functions.Curation
      val d = t(s, dir, "documents")
      val base = d.filter(col("doc_id") % 7 =!= 3)
      val delta = d.filter(col("doc_id") % 7 === 3)
      val dead = d.filter(col("doc_id") % 11 === 5)
      val vocab = C.vocabTypeMerge(
        C.vocabTypePartial(base, "source", "text"),
        C.vocabTypePartial(delta, "source", "text"),
        C.vocabTypePartial(dead, "source", "text", sign = -1))
      C.sourceOverlapFromVocab(vocab).orderBy("source_a", "source_b")
    }),

    "corpus_source_overlap_minhash" -> ((s, dir) => {
      // MinHash tier of the source-overlap matrix — the scale path
      // when the vocabulary is too large to pair-join: each source
      // reduces to 16 signature components (one scan + a 320-row agg),
      // pairs compare k longs. The gate query joins the estimate
      // against the exact ppm so the sketch contract is visible in one
      // row; at 100 TB you run ONLY the minhash side.
      val d = t(s, dir, "documents")
      val est = graft.functions.Curation.sourceOverlapMinhash(
        d, "source", "text", k = 16)
      val exact = graft.functions.Curation.sourceOverlap(d, "source", "text")
        .select("source_a", "source_b", "jaccard_ppm")
      est.join(exact, Seq("source_a", "source_b"))
        .select("source_a", "source_b", "agree", "est_ppm", "jaccard_ppm")
        .orderBy("source_a", "source_b")
    }),

    "text_fertility" -> ((s, dir) =>
      // tokenizer fertility per language: chars-per-token and
      // BPE-ish-tokens-per-word as exact half-up ppm ratios of integer
      // sums — the per-language cost audit a tokenizer team runs
      // before committing a vocabulary (high fertility = a language
      // paying more tokens per character). One aggregation.
      fertilityTable(s, dir)),

    "fertility_sums_only" -> ((s, dir) =>
      // text_fertility diagnostic: the three raw integer sums alone
      fertilityTable(s, dir)
        .select("lang", "n_chars", "n_words", "n_bpe_tokens")),

    "fertility_ppm_only" -> ((s, dir) =>
      // text_fertility diagnostic: the two derived ppm ratios alone
      fertilityTable(s, dir)
        .select("lang", "chars_per_token_ppm", "tokens_per_word_ppm")),

    "text_zipf_slope" -> ((s, dir) =>
      // Zipf's-law slope per source over the top-100 token frequencies
      // (natural corpora sit near −1; far-off slopes flag generated or
      // boilerplate-heavy sources). One (source, token) count agg +
      // per-group top-100 window + a 100-point regression whose ln
      // terms are 6-dp-rounded and folded in rank order on both
      // engines — the ordered-dot-product determinism discipline.
      T.zipfSlope(t(s, dir, "documents"), "source", "text", topN = 100)),

    "text_winnow_fingerprint" -> ((s, dir) => {
      // rolling-hash winnowing (k=5-gram base-31 hash, window w=4):
      // per-doc selected-hash count + md5 of the sorted selection
      val fp = T.winnowHashes(col("text"), k = 5, w = 4)
      t(s, dir, "documents").select(
        col("doc_id"),
        size(fp).cast("long").as("n_selected"),
        md5(array_join(transform(fp, x => x.cast("string")), ",")).as("fp_md5"))
    }),

    "corpus_report" -> ((s, dir) => {
      // data-card summary per language, ONE aggregation pass over the
      // corpus (no joins): volume, exact-dup rate, token total, median
      // length, Gopher keep fraction. The corpus audit a training run
      // starts from — every input is a per-row expression, the only
      // shuffle is the per-language agg.
      val keep = T.gopherSignals(col("text")).getField("keep")
      t(s, dir, "documents")
        .select(col("lang"), md5(col("text")).as("dg"), col("n_chars"),
          T.tokenCount(col("text")).cast("long").as("n_tok"), keep.as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(lit(1.0) - countDistinct(col("dg")).cast("double")
            / count(lit(1)).cast("double"), 6).as("dup_rate"),
          sum("n_tok").as("total_tokens"),
          round(percentile(col("n_chars"), lit(0.5)), 6).as("med_chars"),
          round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("keep_frac"))
    }),

    "text_intradoc_dedup" -> ((s, dir) => {
      // C4-style intra-document duplicate-segment removal on sentence
      // boundaries: first occurrence kept in order, rejoined — the
      // cleaned text digest + segment counts gate the rewrite
      val segs = graft.functions.Curation.segments(col("text"), ". ")
      t(s, dir, "documents").select(col("doc_id"),
        size(segs).cast("long").as("n_segments"),
        size(array_distinct(segs)).cast("long").as("n_unique"),
        md5(graft.functions.Curation.dropDuplicateSegments(col("text"), ". "))
          .as("cleaned_md5"))
    }),

    "text_gopher_rules" -> ((s, dir) => {
      // Gopher-style quality rules (word-length band, alpha-word
      // fraction, symbol ratio, bullet/ellipsis lines) — native
      // one-pass word stats + literal line splits, scan-side
      val g = T.gopherSignals(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        g.getField("mean_word_len").as("mean_word_len"),
        g.getField("alpha_word_frac").as("alpha_word_frac"),
        g.getField("symbol_word_ratio").as("symbol_word_ratio"),
        g.getField("bullet_line_frac").as("bullet_line_frac"),
        g.getField("ellipsis_line_frac").as("ellipsis_line_frac"),
        g.getField("keep").as("keep"))
    }),

    "text_quality_classifier" -> ((s, dir) => {
      // fastText-style hashed linear scoring: 64-bucket hashing trick,
      // literal weight vector in the plan, margin + keep in one
      // scan-side pass (sigmoid is monotone — margin thresholding ≡
      // probability thresholding, without cross-engine exp() drift)
      val w = T.pseudoWeights(64)
      t(s, dir, "documents")
        .select(col("doc_id"),
          T.hashedLinearScore(col("text"), w).as("__m"))
        .select(col("doc_id"),
          round(col("__m"), 6).as("margin"),
          (col("__m") >= 0.0).as("keep"))
    }),

    "text_classifier_auc" -> ((s, dir) => {
      // ranking-quality audit of the filtering classifier: EXACT
      // Mann-Whitney AUC (midrank tie handling) of the PER-TOKEN MEAN
      // hashed linear margin against the is-English weak label — the
      // number every quality-filter team reports before trusting a
      // threshold. The mean margin is bounded in [−1, 1] by
      // construction (each token contributes a weight in [−1, 1)), so
      // rounding it to 4 dp makes the score histogram ≤ 20,001 rows at
      // ANY corpus size — the raw margin is an unnormalized token SUM
      // whose distinct values grow with the corpus and could not be
      // collected. The rank prefix-fold runs on the DRIVER over that
      // bounded table (the budgetSelect bin discipline — no global
      // window), in BigInt so 100 TB row counts cannot overflow the
      // ×2-scaled rank sums. Integer-only output: ppm AUC, half-up.
      val toks = filter(T.tokens(lower(col("text"))), t => length(t) > lit(0))
      val hist = t(s, dir, "documents").select(
          round(T.hashedLinearScore(col("text"), T.pseudoWeights(64)) /
            greatest(size(toks), lit(1)).cast("double"), 4).as("s"),
          when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y"))
        .groupBy("s").agg(count(lit(1)).as("c"), sum("y").as("p"))
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      var lo = 0L
      var sum2 = BigInt(0) // Σ over positives of 2·midrank
      var npos = 0L
      var n = 0L
      hist.foreach { case (_, c, p) =>
        sum2 += BigInt(p) * (2 * lo + c + 1) // 2·midrank of the tied block
        lo += c; npos += p; n += c
      }
      val nneg = n - npos
      // AUC is undefined with a single class (den = 0) — an all-English
      // or no-English corpus yields a NULL auc_ppm, mirrored in the
      // oracle, rather than an ArithmeticException at build time.
      val aucPpm: Option[Long] =
        if (npos == 0L || nneg == 0L) None
        else {
          val num = (sum2 - BigInt(npos) * (npos + 1)) * 1000000
          val den = BigInt(2) * npos * nneg
          Some(((num * 2 + den) / (den * 2)).toLong)
        }
      import s.implicits._
      Seq((npos, nneg, aucPpm)).toDF("n_pos", "n_neg", "auc_ppm")
    }),

    "text_classifier_train" -> ((s, dir) => {
      // TRAIN the hashed linear quality model in-engine (the missing
      // half of text_quality_classifier, which only scores): 2 fixed
      // full-batch GD steps on squared loss over 64-bucket hashed
      // bag-of-words counts, label = "is English". Feature rows
      // materialize once; each step is two decimal-exact aggregations
      // (≤ dims·partitions partial sums reach the shuffle) + a 64-row
      // collect; the weight vector broadcasts back — the
      // kmeansCentroids loop discipline. The oracle replays both GD
      // steps CTE by CTE; squared loss keeps it polynomial (no exp
      // drift), so weights match bit for bit before the final round.
      import s.implicits._
      val w = T.trainHashedLinearWeights(t(s, dir, "documents"),
        "doc_id", "text",
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)),
        dims = 64, lr = 0.5, iters = 2)
      w.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }
        .toDF("bucket", "__w")
        .select(col("bucket"), round(col("__w"), 6).as("weight"))
    }),

    "text_span_dedup" -> ((s, dir) => {
      // duplicated-passage pairs (MOSS winnowing): docs sharing ≥2
      // selected rolling hashes after dropping boilerplate stop-spans;
      // containment = shared / min fingerprint size. The (id, hash)
      // index is materialized once (persist) — the analysis has three
      // consumers (sizes, stop-span df, pair join) and re-winnowing the
      // text per consumer would be 4 full corpus passes at 100 TB.
      val idx = D.winnowIndex(t(s, dir, "documents"), "doc_id", "text",
          k = 6, w = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      D.spanContainmentFromIndex(idx, maxDf = 20, minShared = 2L)
    }),

    "vec_quantize_int8" -> ((s, dir) => {
      // symmetric int8 quantization for the ANN corpus: 4× memory cut,
      // per-row expressions in the scan. The quantized array is projected
      // to md5(comma-joined ints) so the oracle harness can sort/hash it
      // (raw list columns are unhashable in the compare).
      val qz = V.quantizeInt8(col("embedding"))
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(qz.getField("scale"), 6).as("scale"),
        size(qz.getField("q")).cast("long").as("n_dims"),
        md5(array_join(transform(qz.getField("q"), x => x.cast("string")), ","))
          .as("q_md5"))
    }),

    "text_tfidf_top3" -> ((s, dir) => {
      // corpus TF-IDF: token df shuffle + broadcast vocab IDF +
      // per-doc ranking window
      graft.functions.Curation.tfidfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3)
    }),

    "text_bm25_topk" -> ((s, dir) => {
      // BM25 retrieval for a query batch: scan-side doc lengths (native
      // token count, zero shuffle), query-vocab semi-join BEFORE the tf
      // aggregation (only matching postings shuffle), vocab-sized df/idf
      // broadcast back, bounded top-k ranking (no window sort). Term
      // scores rounded then DECIMAL-summed → order-free, oracle-exact.
      graft.functions.Curation.bm25TopK(
        t(s, dir, "documents"), "doc_id", "text",
        queries = Seq(
          0L -> Seq("spark", "window"),
          1L -> Seq("hash", "merge", "vector"),
          2L -> Seq("customer", "query")),
        k = 5)
    }),

    "text_bm25_persisted" -> ((s, dir) => {
      // the operational retrieval shape: postings/doclen/stats persisted
      // once per corpus refresh (saveBm25Index: token-sorted postings →
      // row-group pruning under the literal vocab IN filter), every
      // query batch reads only its matching postings. Bit-identical to
      // train-per-call text_bm25_topk — the same oracle gates both.
      val idxPath = tmpPath(dir, "bm25_index")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          t(s, dir, "documents"), "doc_id", "text", idxPath)
      }
      graft.functions.Curation.bm25TopKFromIndex(s, idxPath,
        queries = Seq(
          0L -> Seq("spark", "window"),
          1L -> Seq("hash", "merge", "vector"),
          2L -> Seq("customer", "query")),
        k = 5)
    }),

    "text_bm25_incremental" -> ((s, dir) => {
      // O(delta) corpus refresh: build the index on 2/3 of the corpus,
      // merge the rest as a delta that also RE-INGESTS every %5 doc
      // with changed text (exercising the tombstone mask + incremental
      // stats arithmetic), then answer from the segmented index. The
      // oracle replays BM25 over the latest-version corpus — merge
      // arithmetic is exact, so scores match a rebuild bit for bit.
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "bm25_inc")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idxPath)
      }
      val delta = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" zzmergedtoken")))
            .otherwise(col("text")))
      phase("merge") {
        graft.functions.Curation.mergeBm25Delta(delta, "doc_id", "text", idxPath)
      }
      graft.functions.Curation.bm25TopKFromIndex(s, idxPath,
        queries = Seq(
          0L -> Seq("spark", "window"),
          1L -> Seq("zzmergedtoken", "vector"),
          2L -> Seq("customer", "query")),
        k = 5)
    }),

    "text_bm25_asof" -> ((s, dir) => {
      // SNAPSHOT (time-travel) reads on the segmented index: build v0
      // on 2/3 of the corpus, merge a delta that adds the rest,
      // re-ingests every %5 doc with changed text, and DELETES every
      // delta doc with id %7==1 (null text). asOf=0 then replays the
      // v0 ranking bit for bit — stats included, because every segment
      // snapshots n_docs/avgdl at its commit — while the default read
      // scores the post-delta corpus. History rides the immutable
      // segments: no copy, no rewrite, reproducible until compaction
      // folds it (the lakehouse vacuum trade). The reproducible-
      // training-run story: pin asOf in the run manifest and the
      // retrieval layer replays identically months later.
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "bm25_asof")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idxPath)
      }
      val delta = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 1, lit(null).cast("string"))
            .when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" zzasoftoken")))
            .otherwise(col("text")))
      phase("merge") {
        graft.functions.Curation.mergeBm25Delta(delta, "doc_id", "text", idxPath)
      }
      val qs = Seq(
        0L -> Seq("spark", "window"),
        1L -> Seq("zzasoftoken", "vector"),
        2L -> Seq("customer", "query"))
      val v0 = graft.functions.Curation
        .bm25TopKFromIndex(s, idxPath, qs, k = 5, asOf = 0)
        .withColumn("version", lit(0L))
      val cur = graft.functions.Curation
        .bm25TopKFromIndex(s, idxPath, qs, k = 5)
        .withColumn("version", lit(1L))
      v0.unionByName(cur).select(col("version"), col("query_id"),
        col("doc_id"), col("score"), col("rank"))
    }),

    "text_bm25_changelog" -> ((s, dir) => {
      // AUDIT between two snapshot pins: which ids were added /
      // replaced / deleted between index version 0 and version 1 —
      // computed from the range's delta segments plus one id semi-join
      // against the pinned v0 state, never a full current-state diff.
      // Same corpus evolution as text_bm25_asof; the oracle derives
      // the three classes in closed form from the slice predicates.
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "bm25_chlog")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idxPath)
      }
      val delta = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 1, lit(null).cast("string"))
            .when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" zzchangetoken")))
            .otherwise(col("text")))
      phase("merge") {
        graft.functions.Curation.mergeBm25Delta(delta, "doc_id", "text", idxPath)
      }
      graft.functions.SegmentedIndex
        .changedBetween(s, idxPath, "doclen", fromSeg = 0, toSeg = 1)
        .select(col("id").as("doc_id"), col("change"))
    }),

    "text_bm25_segments" -> ((s, dir) => {
      // footer-only index introspection: per-segment doc rows +
      // tombstones straight from parquet footers — the numbers an
      // operator watches to schedule compaction. ZERO Spark jobs after
      // construction; the oracle derives the same counts in closed
      // form from the corpus slices (build = %2 docs; delta re-ingests
      // %10==4, adds %10==1, deletes %10==8 via null text — tombstones
      // = live ∩ delta ids = the %10∈{4,8} evens).
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "bm25_desc")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idxPath)
      }
      val delta = docs.filter((col("doc_id") % 10).isin(1, 4, 8))
        .withColumn("text",
          when(col("doc_id") % 10 === 8, lit(null).cast("string"))
            .when(col("doc_id") % 10 === 4,
              concat(col("text"), lit(" zzdesctoken")))
            .otherwise(col("text")))
      phase("merge") {
        graft.functions.Curation.mergeBm25Delta(delta, "doc_id", "text", idxPath)
      }
      graft.functions.SegmentedIndex.describe(s, idxPath, "doclen")
        .toDF("segment", "n_rows", "n_tombstones")
        .select(col("segment").cast("long").as("segment"),
          col("n_rows"), col("n_tombstones"))
    }),

    "text_hybrid_rerank" -> ((s, dir) => {
      // RAG-shaped hybrid retrieval: BM25 lexical shortlist (top-20
      // per query from the persisted inverted index) re-ranked by
      // embedding cosine against each query's anchor vector. Stage 1
      // touches |query postings| bytes; stage 2 probes the embedding
      // table with one broadcast-restricted scan — corpus floats never
      // shuffle, only shortlist rows carry vectors.
      val idxPath = tmpPath(dir, "bm25_hybrid")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          t(s, dir, "documents"), "doc_id", "text", idxPath)
      }
      val short = graft.functions.Curation.bm25TopKFromIndex(s, idxPath,
        queries = Seq(
          0L -> Seq("spark", "window"),
          1L -> Seq("hash", "merge", "vector"),
          2L -> Seq("customer", "query")),
        k = 20)
      graft.functions.VectorFunctions.rerankByCosine(
        short, t(s, dir, "embeddings"), "vec_id", "embedding",
        anchors = Seq(0L -> 0L, 1L -> 1L, 2L -> 2L), k = 5)
    }),

    "text_hybrid_rrf" -> ((s, dir) => {
      // reciprocal-rank fusion (Cormack & Clarke's RRF, k=60) of two
      // INDEPENDENT retrievers — the standard hybrid-search combiner
      // when score scales don't mix: the BM25 lexical top-20 from the
      // persisted inverted index and the embedding-cosine top-20
      // against each query's anchor vector. Fusion touches only the
      // two bounded rank lists (≤ 40 rows per query) — corpus text and
      // floats never meet the fusion join; rrf = Σ 1/(60+rank) over
      // the lists a doc appears in, built from INTEGER ranks in one
      // fixed expression order (identical double bits on both
      // engines), ordered on the exact double before the 6-dp display
      // round.
      val idxPath = tmpPath(dir, "bm25_rrf")
      phase("build") {
        graft.functions.Curation.saveBm25Index(
          t(s, dir, "documents"), "doc_id", "text", idxPath)
      }
      val lex = graft.functions.Curation.bm25TopKFromIndex(s, idxPath,
        queries = rrfAnchorQueries,
        k = 20).select(col("query_id"), col("doc_id"),
          col("rank").as("__rl"))
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val vec = V.bruteForceTopK(qv,
          e.select(col("vec_id").as("c_id"), col("embedding").as("__cv")),
          "query_id", "c_id", "__qv", "__cv", 20)
        .select(col("query_id"), col("c_id").as("doc_id"),
          col("rank").as("__rv"))
      rrfFusedTop10(lex, vec)
        .select(col("query_id"), col("doc_id"),
          round(col("__rrf"), 6).as("rrf"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "text_hybrid_rrf_blocked" -> ((s, dir) => {
      // RRF fusion consuming an INDEX-BACKED vector shortlist — the
      // operational hybrid-search shape at 100 TB: the lexical side
      // was already the persisted BM25 inverted index; this closes
      // the vector side with the persisted IVF index probe (cells +
      // nprobe equi-join, exact cosine re-rank within probed cells)
      // instead of the O(n·|q|) brute scan, so BOTH retrievers answer
      // from stored indexes and the corpus is never rescanned per
      // query batch. Contract is fused-top-10 rank overlap against
      // the brute-fused tier (the sim_bitext_blocked precedent —
      // k-means cells are not SQL-replayable): measured per-anchor
      // overlap with 16 cells / nprobe 8 is 10/10/10 at sf0.001 and
      // 10/10/9 at sf0.01 (one anchor's rank-20 cosine tail sits in
      // an unprobed cell — RRF demotes it to the fused tail, so the
      // fused list loses exactly one doc); pinned with margin at
      // >= 80%.
      val idxPath = tmpPath(dir, "bm25_rrfb")
      val e = t(s, dir, "embeddings")
      val ivfPath = tmpPath(dir, "rrf_ivf")
      // the two retrievers' index builds are independent (distinct
      // paths, distinct inputs) — overlap them (guide §2.6, Fan.overlap)
      phase("build") {
        graft.core.Fan.overlap(Seq(
          () => graft.functions.Curation.saveBm25Index(
            t(s, dir, "documents"), "doc_id", "text", idxPath),
          () => V.saveIvfIndex(e, "vec_id", "embedding", ivfPath,
            clusters = 16, iters = 2)))
      }
      // the lexical shortlist feeds BOTH fusion branches (blocked and
      // the brute reference) in one plan — persist the ≤60-row frame so
      // the postings probe runs once, not once per branch (§2.4;
      // query-local cache, harness clearCaches between queries)
      val lex = graft.functions.Curation.bm25TopKFromIndex(s, idxPath,
        queries = rrfAnchorQueries,
        k = 20).select(col("query_id"), col("doc_id"),
          col("rank").as("__rl"))
        .persist()
      val vecBlocked = V.ivfTopKFromIndex(ivfPath, e, "vec_id", "embedding",
          col("vec_id").isin(0L, 1L, 2L), k = 20, nprobe = 8)
        .select(col("q_id").as("query_id"), col("c_id").as("doc_id"),
          col("rank").as("__rv"))
      val blocked = rrfFusedTop10(lex, vecBlocked)
        .select(col("query_id"), col("doc_id"), lit(1L).as("__hit"))
      // brute-fused reference — the contract harness side
      val qv = e.filter(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
      val vecBrute = V.bruteForceTopK(qv,
          e.select(col("vec_id").as("c_id"), col("embedding").as("__cv")),
          "query_id", "c_id", "__qv", "__cv", 20)
        .select(col("query_id"), col("c_id").as("doc_id"),
          col("rank").as("__rv"))
      rrfFusedTop10(lex, vecBrute).select("query_id", "doc_id")
        .join(blocked, Seq("query_id", "doc_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_brute"),
          coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("__h"))
        .select(col("query_id"), col("n_brute"),
          (col("__h") * 100L >= col("n_brute") * 80L).as("overlap_ok"))
        .orderBy("query_id")
    }),

    "text_heavy_hitters" -> ((s, dir) => {
      // Misra-Gries heavy hitters, exact-verified: sketch pass bounds
      // per-partition state at k=64 counters (no full-vocab groupBy),
      // candidates guaranteed to cover every token > 1/50 of the
      // corpus; second pass counts ONLY the broadcast candidates and
      // keeps the true heavies by integer cross-multiplication
      graft.functions.Curation.heavyHitters(
        t(s, dir, "documents"), "text", sketchK = 64, num = 1L, den = 50L)
    }),

    "text_rarity" -> ((s, dir) => {
      // corpus-frequency rarity quality signals (integer-exact unigram
      // surprisal core): OOV fraction vs the top-50 vocabulary + mean
      // corpus token frequency, summarized per language
      graft.functions.Curation.rarityStats(
          t(s, dir, "documents"), "doc_id", "text", vocabK = 50)
        .join(t(s, dir, "documents").select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(dsum(col("oov_frac"), 6) / count(lit(1)), 6).as("avg_oov_frac"),
          round(dsum(col("mean_tok_freq"), 6) / count(lit(1)), 6).as("avg_tok_freq"))
    }),

    "text_bigram_lm" -> ((s, dir) => {
      // CCNet-style LM quality filter: an add-α bigram LM trained on
      // the corpus itself (top-64 vocab + <unk>), each doc scored by
      // its mean log P(w_i | w_{i-1}) — low scores flag the
      // boilerplate/gibberish unigram stats miss. Two training
      // aggregations; the 6-dp log-prob tables ship as LITERALS into a
      // zero-shuffle scoring scan (the DSIR discipline). Oracle
      // replays vocab → bigram/context counts → smoothed logs →
      // document-order fold. Training collects run eagerly in the
      // builder — phase("build") splits them from the scoring scan.
      phase("build") {
        T.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
          vocabK = 64, alpha = 0.5)
      }
    }),

    "text_bigram_lm_target" -> ((s, dir) => {
      // the actual CCNet arrangement: the LM trains ONLY on the
      // reference-domain slice (lang='en') and the WHOLE corpus scores
      // against it — out-of-domain docs hit the unseen-bigram and
      // unseen-context fallback tables, which this variant is the
      // oracle gate for (self-perplexity never exercises them).
      phase("build") {
        T.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
          vocabK = 64, alpha = 0.5, trainFilter = col("lang") === "en")
      }
    }),

    "text_bigram_lm_joined" -> ((s, dir) => {
      // the JOIN-shaped scoring path (bigramLmScoreJoined): vocab /
      // bigram / context tables stay DataFrames end-to-end — nothing
      // driver-collected, nothing shipped as a literal — so the same
      // CCNet arrangement (train on lang='en', score everything)
      // survives vocabularies past the literal-map cap. Contract
      // difference the oracle pins: log-probs sum through
      // DECIMAL(30,6) (order-free) instead of the document-order
      // double fold.
      T.bigramLmScoreJoined(t(s, dir, "documents"), "doc_id", "text",
        vocabK = 64, alpha = 0.5, trainFilter = col("lang") === "en")
    }),

    "text_ccnet_buckets" -> ((s, dir) => {
      // the CCNet head/middle/tail split: every doc scores against the
      // reference-domain LM (trained on lang='en'), scores round to a
      // 3-dp bucketing resolution, and each language's score HISTOGRAM
      // (bounded by the rounding resolution, NOT the corpus) splits
      // into deciles by integer arithmetic: a histogram row is 'head'
      // iff its entire cumulative mass sits in the top 10%
      // (10·cum ≤ n), 'tail' iff entirely in the bottom 10%, else
      // 'middle' — straddling rows go middle, ties share a bucket, no
      // per-document rank and no corpus-sized window anywhere. The
      // per-lang cumulative runs over histogram rows only (the window
      // partition is resolution-bounded at any corpus size).
      // KNOWN RESIDUAL double-rounded surface (one of two, with
      // corpus_psi_drift): the LM score is a mean of ln()s — no DECIMAL
      // derivation exists — so a 1-ulp cross-engine drift at a 0.5e-3
      // bucketing boundary could move one doc across a histogram bin.
      // The decile split itself is integer arithmetic over histogram
      // counts; the exposure is per-doc score rounding alone.
      val lm = phase("build") {
        T.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
          vocabK = 64, alpha = 0.5, trainFilter = col("lang") === "en")
      }
      val scored = lm.select(col("doc_id"), col("lm_score"))
        .join(t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
        .withColumn("__bs", round(col("lm_score"), 3))
      val hist = scored.groupBy("lang", "__bs").agg(count(lit(1)).as("__c"))
      val wcum = Window.partitionBy("lang").orderBy(col("__bs").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy("lang")
      hist.withColumn("__cum", sum("__c").over(wcum))
        .withColumn("__n", sum("__c").over(wall))
        .withColumn("bucket",
          when(col("__cum") * 10 <= col("__n"), lit("head"))
            .when((col("__n") - col("__cum") + col("__c")) * 10 <= col("__n"),
              lit("tail"))
            .otherwise(lit("middle")))
        .groupBy("lang", "bucket")
        .agg(sum("__c").as("n_docs"))
        .orderBy("lang", "bucket")
    }),

    "sessionize_batch" -> ((s, dir) => {
      // gap-based sessionization (30-min gap): per-user session index →
      // per-session event count + bounds.
      val e = events(s, dir).select("user_id", "event_id", "ts_ms")
      WindowOps.sessionize(e, Seq("user_id"), "ts_ms",
          Seq("ts_ms", "event_id"), gap = 1800000L)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_ms")).as("session_start_ms"),
          max(col("ts_ms")).as("session_end_ms"))
    }),

    "sessionize_native" -> ((s, dir) => {
      // the same gap sessionization through Spark's native session_window
      // aggregation (no window functions, map-side session merge).
      // Gap is 1800001 ms because session_window merges on ts < end
      // (strict) while the lag-based twin keeps diff <= 1800000.
      val e = events(s, dir).select(col("user_id"), col("ts_ms"))
        .withColumn("ts", timestamp_millis(col("ts_ms")))
      e.groupBy(col("user_id"), session_window(col("ts"), "1800001 milliseconds"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_ms")).as("session_start_ms"),
          max(col("ts_ms")).as("session_end_ms"))
        .select("user_id", "n_events", "session_start_ms", "session_end_ms")
    }),

    "text_repetition" -> ((s, dir) => {
      // Gopher/C4-style repetition signals: top-token fraction +
      // duplicate-bigram fraction + the keep verdict. Pure per-row
      // expressions — computed inside the scan, zero shuffle.
      val top = T.topTokenFraction(col("text"))
      val dup = T.dupNgramFraction(col("text"), 2)
      t(s, dir, "documents").select(
        col("doc_id"), top.as("top_token_frac"), dup.as("dup_bigram_frac"),
        (top <= 0.1 && dup <= 0.5).as("keep"))
    }),

    "text_pii_scrub" -> ((s, dir) => {
      // PII scrubbing (emails → <EMAIL>, IPv4 → <IP>, phones → <PHONE>).
      // The corpus has no native PII, so each doc gets a deterministic
      // synthetic contact block appended (same construction in the
      // oracle); the scrub chain is the operator under test. Pure
      // per-row regexes — a zero-shuffle scan at any scale.
      val raw = concat(
        substring(col("text"), 1, 80),
        lit(" email "), col("lang"), col("doc_id").cast("string"),
        lit("@mail.example ip 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), ((col("doc_id") * 7) % 256).cast("string"),
        lit(" phone 555-"),
        lpad(((col("doc_id") * 13) % 10000).cast("string"), 4, "0"))
      val counts = T.piiCounts(raw)
      t(s, dir, "documents").select(
        col("doc_id"),
        counts.getField("n_emails").as("n_emails"),
        counts.getField("n_ips").as("n_ips"),
        counts.getField("n_phones").as("n_phones"),
        md5(T.scrubPii(raw)).as("scrubbed_md5"))
    }),

    "text_c4_segments" -> ((s, dir) => {
      // C4-style line filtering re-expressed on the synthetic corpus:
      // segments split on a literal separator, keep only segments with
      // >= 5 words; n_unique vs n_kept spots intra-doc duplicate
      // segments (paragraph-level dedup). Per-row expressions only.
      val segs = graft.functions.Curation.segments(col("text"), " the ")
      val kept = graft.functions.Curation.keepSegments(col("text"), " the ", 5)
      t(s, dir, "documents").select(
        col("doc_id"),
        size(segs).cast("long").as("n_segments"),
        size(kept).cast("long").as("n_kept"),
        size(array_distinct(kept)).cast("long").as("n_unique"),
        md5(array_join(kept, " | ")).as("kept_md5"))
    }),

    "text_paragraph_dedup" -> ((s, dir) => {
      // CROSS-document paragraph dedup (Dolma/RefinedWeb step): a
      // segment survives only at its global first occurrence in
      // (doc_id, position) order — later copies drop, in the same doc
      // or any other. The winner per segment is a partial aggregate
      // (groupBy(seg).min(struct(doc_id, pos))) — map-side combine
      // absorbs mega-dup clusters, so no per-segment window sort ever
      // materializes a hot key's copies in one task; survivors join
      // back and one per-doc agg reassembles (Curation.scala scaladoc).
      paragraphDedup(s, dir)
    }),

    "text_boilerplate_lines" -> ((s, dir) =>
      // corpus-frequency boilerplate removal (CCNet line rule): drop a
      // segment from EVERY doc once >= 3 distinct docs carry it — the
      // keep-no-copy complement of text_paragraph_dedup's keep-first
      graft.functions.Curation.removeFrequentSegments(
          t(s, dir, "documents"), "doc_id", "text", " the ", minDocs = 3L)
        .select(col("doc_id"), col("n_segments"), col("n_kept"),
          md5(col("rebuilt")).as("rebuilt_md5"))),

    "paragraph_dedup_counts_only" -> ((s, dir) =>
      // text_paragraph_dedup diagnostic: integer counts alone
      paragraphDedup(s, dir).select("doc_id", "n_segments", "n_kept")),

    "paragraph_dedup_md5_only" -> ((s, dir) =>
      // text_paragraph_dedup diagnostic: the rebuilt-text digest alone
      paragraphDedup(s, dir).select("doc_id", "rebuilt_md5")),

    "text_phrase_search" -> ((s, dir) => {
      // ORDER-aware retrieval: exact phrase occurrence counts from
      // positional postings. The postings are vocabulary-pruned at the
      // scan (only query-term hits shuffle) and any-length phrases
      // match via ONE broadcast join + ONE aggregation (offset-aligned
      // start voting, overlapping occurrences counted — see
      // PhraseSearch.phraseSearch). Oracle checks adjacency the
      // opposite way: a list_filter conjunction over the token array.
      graft.functions.PhraseSearch.phraseSearch(
        t(s, dir, "documents"), "doc_id", "text",
        phrases = Seq(
          0L -> Seq("batch", "batch"),
          1L -> Seq("spark", "window"),
          2L -> Seq("merge", "sort", "agg")))
    }),

    "text_phrase_persisted" -> ((s, dir) => {
      // the operational phrase path: positional postings persisted as a
      // SegmentedIndex (token-sorted segments → row-group pruning under
      // the vocab IN filter); a phrase query reads only its terms'
      // postings — the corpus text is never re-read. Bit-identical to
      // scan-side text_phrase_search: the same oracle gates both.
      val idxPath = tmpPath(dir, "phrase_index")
      phase("build") {
        graft.functions.PhraseSearch.savePositionalIndex(
          t(s, dir, "documents"), "doc_id", "text", idxPath)
      }
      graft.functions.PhraseSearch.phraseSearchFromIndex(s, idxPath,
        phrases = Seq(
          0L -> Seq("batch", "batch"),
          1L -> Seq("spark", "window"),
          2L -> Seq("merge", "sort", "agg")))
    }),

    "text_phrase_incremental" -> ((s, dir) => {
      // O(delta) positional refresh: index 2/3 of the corpus, merge the
      // rest as a delta that RE-INGESTS every %5 doc with a new
      // two-token tail (tombstone mask + replaced-position correctness),
      // then answer phrase queries — including one that only exists in
      // merged versions — from the segmented index. Oracle replays the
      // latest-version corpus scan-side.
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "phrase_inc")
      phase("build") {
        graft.functions.PhraseSearch.savePositionalIndex(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idxPath)
      }
      val delta = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 5 === 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" zzphrase marker")))
            .otherwise(col("text")))
      phase("merge") {
        graft.functions.PhraseSearch.mergePositionalDelta(
          delta, "doc_id", "text", idxPath)
      }
      graft.functions.PhraseSearch.phraseSearchFromIndex(s, idxPath,
        phrases = Seq(
          0L -> Seq("zzphrase", "marker"),
          1L -> Seq("spark", "window"),
          2L -> Seq("batch", "batch")))
    }),

    "text_proximity_search" -> ((s, dir) => {
      // bounded-window co-occurrence: |pos(t1) − pos(t2)| ≤ 4 pair
      // counts per doc. One postings pass, one shuffle; the pair
      // predicate folds over per-doc position arrays so no pair rows
      // ever materialize. Oracle replays it as a positions self-join.
      graft.functions.PhraseSearch.proximitySearch(
        t(s, dir, "documents"), "doc_id", "text",
        pairs = Seq(
          (0L, "spark", "window"),
          (1L, "customer", "query")),
        window = 4)
    }),

    "text_proximity_persisted" -> ((s, dir) => {
      // proximity answered from the persisted positional index —
      // same contract as text_proximity_search (shared oracle shape):
      // only the two terms' postings leave the segment scan.
      val idxPath = tmpPath(dir, "prox_index")
      phase("build") {
        graft.functions.PhraseSearch.savePositionalIndex(
          t(s, dir, "documents"), "doc_id", "text", idxPath)
      }
      graft.functions.PhraseSearch.proximitySearchFromIndex(s, idxPath,
        pairs = Seq(
          (0L, "spark", "window"),
          (1L, "customer", "query")),
        window = 4)
    }),

    "text_collocations" -> ((s, dir) => {
      // top-20 adjacent-bigram collocations by PMI (min pair count 5):
      // one corpus scan → (w1, w2) counts; margins and the total are
      // re-aggregations of the reduced pair table; bounded top-k.
      graft.functions.Curation.collocations(
        t(s, dir, "documents"), "text", minCount = 5L, k = 20)
    }),

    "text_chunk_overlap" -> ((s, dir) => {
      // overlapping-window chunking (RAG / context-window prep): chunks
      // of 50 tokens with 10-token overlap (stride 40). Pure per-row
      // array math + posexplode — chunking 100 TB never shuffles.
      val toks = T.tokens(col("text"))
      val starts = sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(40))
      val chunks = transform(starts,
        st => array_join(slice(toks, st + 1, lit(50)), " "))
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(split(col("chunk"), " ", -1)).cast("long").as("n_chunk_tokens"),
          md5(col("chunk")).as("chunk_md5"))
    }),

    "s17_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL (the training-data interchange format): serialize rows to
      // JSON strings, parse back with an explicit schema — the oracle
      // pins the parsed values to the source columns, proving the
      // round-trip is lossless (incl. double shortest-repr).
      val j = concat(
        lit("{\"k\":"), col("o_orderkey").cast("string"),
        lit(",\"s\":\""), col("o_orderstatus"),
        lit("\",\"p\":"), col("o_totalprice").cast("string"), lit("}"))
      t(s, dir, "orders")
        .select(from_json(j,
          org.apache.spark.sql.types.StructType.fromDDL("k long, s string, p double")).as("r"))
        .select(col("r.k").as("k"), col("r.s").as("s"), col("r.p").as("p"))
    }),

    "text_length_quantiles" -> ((s, dir) => {
      // per-language exact length quartiles (corpus drift / QC report).
      // Exact percentile sorts within each group — bounded by group
      // count here; at 100 TB swap in percentile_approx with a stated
      // epsilon (same query shape, no plan change).
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").as("qs"),
          count(lit(1)).as("n"))
        .select(col("lang"), col("n"),
          round(element_at(col("qs"), 1), 6).as("q25"),
          round(element_at(col("qs"), 2), 6).as("q50"),
          round(element_at(col("qs"), 3), 6).as("q75"))
    }),

    "text_zscore" -> ((s, dir) => {
      // per-language z-normalized length. The stats pass uses exact
      // integer sums (sum, sum-of-squares) so mean/std are identical
      // under any partial-agg order; the #langs-row stats table
      // broadcasts back onto the scan — no second shuffle of the corpus.
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("lang"), col("n_chars").cast("long").as("len"))
      val stats = d.groupBy("lang")
        .agg(sum("len").as("s1"), sum(col("len") * col("len")).as("s2"),
          count(lit(1)).as("n"))
        .select(col("lang"),
          (col("s1").cast("double") / col("n").cast("double")).as("mean"),
          sqrt((col("s2").cast("double")
              - col("s1").cast("double") * col("s1").cast("double")
                / col("n").cast("double"))
            / (col("n").cast("double") - 1.0)).as("std"))
      d.join(broadcast(stats), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          round((col("len").cast("double") - col("mean")) / col("std"), 6).as("z"))
    }),

    "decontam_overlap" -> ((s, dir) => {
      // benchmark decontamination: flag training docs sharing any
      // 5-gram with the eval set (doc_id % 97 == 0 stands in for the
      // benchmark). Eval shingles are tiny vs the corpus → broadcast;
      // the corpus side never shuffles payloads, only (doc_id, gram).
      // 5-grams travel as native 64-bit hashes (ShingleHashExpr):
      // the broadcast build side is longs instead of ~40-byte gram
      // strings and the probe side never materializes gram strings;
      // overlap counts are identical to the string-set oracle
      val d = t(s, dir, "documents")
      val sh = graft.plans.ShingleHashExpr.shingleHashes(col("text"), 5)
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select(explode(sh).as("sh")).distinct()
      val train = d.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(sh).as("sh"))
      train.join(broadcast(bench), Seq("sh"))
        .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_overlap"))
    }),

    "decontam_span" -> ((s, dir) => {
      // decontamination REPORT, not just a flag: longest shared token
      // run per (train, eval) pair via diagonal runs of positional
      // n-gram matches (GPT-3/PaLM-style span lengths; real pipelines
      // run 8-13-grams — bigrams keep the synthetic corpus's gate
      // populated). Eval side broadcast as hashes; the fold over each
      // diagonal's sorted positions is in-row, never a self-join.
      graft.functions.DedupFunctions.contaminationSpans(
        t(s, dir, "documents").filter(col("doc_id") % 97 =!= 0),
        t(s, dir, "documents").filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 2, minSpanTokens = 3)
    }),

    "decontam_bloom" -> ((s, dir) => {
      // Bloom-tier decontamination — the constant-size composition run
      // FIRST at 100 TB: the eval suite's distinct 5-grams hash into a
      // 2^18-bit / 32 KiB bitset (one small-side pass), and the corpus
      // pass tests each doc's shingles against the LITERAL bitset
      // entirely scan-side — no join, no shuffle, no exchange at all on
      // the big side (vs decontam_overlap's broadcast-join of every
      // eval shingle). One-sided error: zero false negatives by
      // construction; the ~5% false positives at this fill rate are
      // themselves deterministic (double-hashed md5 positions, ONE
      // digest per shingle however many probes) and the oracle
      // replays them bit-for-bit via the same position set. Output is
      // all-integer: n_shingles / n_hit / flagged per training doc.
      val d = t(s, dir, "documents")
      D.bloomDecontaminate(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 5, seeds = 3, mBits = 1 << 18)
    }),

    "decontam_report" -> ((s, dir) => {
      // the per-BENCHMARK contamination table real pipelines publish
      // (the GPT-3 appendix-C shape): eval docs group into benchmarks,
      // and each benchmark reports its eval size, how many training
      // docs share any 5-gram with it, the longest shared token span,
      // and the flagged fraction of the training corpus as exact
      // half-up ppm — all integers. Composes the broadcast hashed-
      // shingle overlap and the diagonal-run span operators; the train
      // side shuffles only (id, gram-hash) pairs and the report is
      // #benchmarks rows.
      val d = t(s, dir, "documents")
      val benchOf = concat(lit("b"),
        pmod(expr("doc_id div 97"), lit(3L)).cast("string"))
      val evalD = d.filter(col("doc_id") % 97 === 0)
      val train = d.filter(col("doc_id") % 97 =!= 0)
      val sh = graft.plans.ShingleHashExpr.shingleHashes(col("text"), 5)
      val bsh = evalD.select(benchOf.as("benchmark"), explode(sh).as("sh"))
        .distinct()
      val flagged = train.select(col("doc_id"), explode(sh).as("sh"))
        .join(broadcast(bsh), Seq("sh"))
        .groupBy("benchmark")
        .agg(countDistinct(col("doc_id")).as("n_train_flagged"))
      val spans = graft.functions.DedupFunctions.contaminationSpans(
          train, evalD, "doc_id", "text", n = 2, minSpanTokens = 3)
        .select(col("eval_id"), col("span_tokens"))
        .join(evalD.select(col("doc_id").as("eval_id"),
          benchOf.as("benchmark")), Seq("eval_id"))
        .groupBy("benchmark").agg(max("span_tokens").as("max_span_tokens"))
      val nTrain = train.agg(count(lit(1)).as("__nt"))
      evalD.groupBy(benchOf.as("benchmark"))
        .agg(count(lit(1)).as("n_eval_docs"))
        .join(flagged, Seq("benchmark"), "left")
        .join(spans, Seq("benchmark"), "left")
        .crossJoin(broadcast(nTrain))
        .select(col("benchmark"), col("n_eval_docs"),
          coalesce(col("n_train_flagged"), lit(0L)).as("n_train_flagged"),
          coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
          graft.functions.Sampling.ppmHalfUp(
            coalesce(col("n_train_flagged"), lit(0L)), col("__nt"))
            .as("flagged_ppm"))
        .orderBy("benchmark")
    }),

    "sample_neyman_alloc" -> ((s, dir) => {
      // Neyman-optimal stratified sample allocation (the eval-set /
      // annotation-budget construction rule: allocate n_h ∝ N_h·S_h so
      // variance of the stratified estimate is minimized). Strata =
      // language, metric = per-doc token count. INTEGER-EXACT end to
      // end: N·S_h = sqrt(N_h·Σx² − (Σx)²) — the radicand is an exact
      // DECIMAL from two map-side integer sums, the sqrt rounds to
      // 6 dp and scales to an integer weight, and the 1000-doc budget
      // splits by largest-remainder (Hamilton) apportionment: base =
      // floor(n·w_h/W), leftovers to the largest integer remainders
      // (stratum-name tie-break). Σalloc = n by construction; the
      // whole computation is one map-side-combined aggregation plus
      // #strata-row arithmetic.
      val dec = DecimalType(38, 0)
      val st = t(s, dir, "documents")
        .select(col("lang"), T.tokenCount(col("text")).cast("long").as("x"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("x").cast(dec)).as("__sx"),
          sum((col("x") * col("x")).cast(dec)).as("__sxx"))
        .withColumn("__w6",
          (round(sqrt((col("n_docs").cast(dec) * col("__sxx")
            - col("__sx") * col("__sx")).cast("double")), 6)
            .cast(DecimalType(28, 6)) * lit(1000000)).cast("long"))
      // the apportionment runs on the DRIVER over the #strata-row
      // table (the budgetSelect bin discipline — no global window),
      // in BigInt so 100 TB-sized weights cannot overflow n·w
      val rows = st.select("lang", "n_docs", "__w6").collect()
        .map(r => (r.getString(0), r.getLong(1), BigInt(r.getLong(2))))
      val alloc = graft.functions.Sampling.hamiltonApportion(
        rows.map { case (lang, _, w6) => lang -> w6 }.toSeq, budget = 1000L)
      import s.implicits._
      rows.toSeq.map { case (lang, nd, w6) =>
        (lang, nd, w6.toLong.toDouble / 1000000.0, alloc(lang))
      }.toDF("lang", "n_docs", "neyman_weight", "alloc")
        .orderBy("lang")
    }),

    "text_classifier_calibration" -> ((s, dir) => {
      // reliability table for the filtering classifier (the companion
      // to text_classifier_auc every quality-filter team publishes):
      // per-token-mean margins bucket into fixed 0.1-wide bins and
      // each bin reports its doc count and OBSERVED positive rate as
      // exact half-up ppm — a calibrated classifier's rate should rise
      // monotonically across bins. The bin index derives from the
      // DECIMAL form of the 4-dp-rounded margin (floor of decimal·10 —
      // no double multiply at a bin boundary), so the histogram is
      // ≤ 21 bins at any corpus size and the output is all-integer.
      val toks = filter(T.tokens(lower(col("text"))), t => length(t) > lit(0))
      val m4 = round(T.hashedLinearScore(col("text"), T.pseudoWeights(64)) /
        greatest(size(toks), lit(1)).cast("double"), 4)
      t(s, dir, "documents").select(
          floor(m4.cast(DecimalType(10, 4)) * lit(10)).cast("long").as("bin"),
          when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("y").as("n_pos"))
        .select(col("bin"), col("n_docs"), col("n_pos"),
          graft.functions.Sampling.ppmHalfUp(col("n_pos"), col("n_docs"))
            .as("pos_rate_ppm"))
        .orderBy("bin")
    }),

    // ---------------- deterministic sampling / mixing ----------------
    "sample_split" -> ((s, dir) => {
      // reproducible train/val/test assignment: pure hash of doc_id,
      // no rand(), no shuffle — scan-side expression at any scale
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    }),

    "sample_epoch_shuffle" -> ((s, dir) => {
      // reproducible epoch shuffle for training export: shard = salted
      // hash mod nShards, pos = rank within shard by (hash, id) — the
      // per-shard window means no global ordering bottleneck; reading
      // shards in pos order is the epoch's document order, and epoch 2
      // re-deals it deterministically
      graft.functions.Sampling.epochShard(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          nShards = 8, epoch = 1)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    "sample_dsir_select" -> ((s, dir) => {
      // DSIR data selection (Xie et al. 2023): pick the 200 corpus
      // docs whose hashed-unigram distribution looks most like the
      // English target slice — the importance-ratio ranking behind
      // "select pretraining data that matches a target domain". One
      // token pass builds both 64-bucket tables; the driver-computed
      // log-ratio vector (rounded 6 dp for the oracle's ln) ships as
      // a literal into a zero-shuffle scoring scan; selection is the
      // bounded global top-k. Oracle replays buckets → smoothed
      // log-ratios → document-order list_sum → ranked top 200.
      graft.functions.Sampling.dsirSelect(
        t(s, dir, "documents"), "doc_id", "text",
        targetFilter = col("lang") === "en", dims = 64, k = 200)
    }),

    "sample_mix_plan" -> ((s, dir) => {
      // mixture PLANNING (the step ahead of sample_mix_weighted's
      // given-rate filter): from target shares per language and a
      // token budget, derive each source's acceptance rate from what
      // the corpus actually has — rate = min(1, target_tokens /
      // available_tokens), flagging undersupplied sources (rate
      // clamped at 1 means the target share is unreachable). ONE
      // aggregation over the corpus; the resulting rate table is
      // vocabulary-sized and broadcasts into the downstream filter.
      // Shares are exact tenths and the budget is a multiple of 10, so
      // target_tokens (`want`) is an exact integer — and the rate is
      // emitted as BIGINT parts-per-million via exact half-up Long
      // division (longDivHalfUp), so the output schema carries NO
      // double at all: every engine reproduces rate_ppm bit-for-bit,
      // with no ROUND(DOUBLE) representation sensitivity.
      mixPlan(s, dir)
    }),

    "mix_plan_rates_only" -> ((s, dir) =>
      // sample_mix_plan diagnostic: rate_ppm column alone — a driver
      // red here localizes the composite mismatch to the rate column
      mixPlan(s, dir).select("lang", "rate_ppm")),

    "mix_plan_flags_only" -> ((s, dir) =>
      // sample_mix_plan diagnostic: the boolean flag alone
      mixPlan(s, dir).select("lang", "undersupplied")),

    "sample_epoch_mix" -> ((s, dir) => {
      // the LLaMA-recipe mix: per-source repeat factors in exact tenths
      // (2.5 / 1.0 / 0.5 / 1.5 epochs by source index mod 4) — whole
      // copies guaranteed, the fractional copy decided by the doc's
      // salted hash (integer cross-multiplied, no double), downsampled
      // sources emit 0 or 1 copies the same way. Scan-side explode:
      // the emitted stream IS the training mix.
      val srcIdx = substring(col("source"), 4, 10).cast("int")
      val tenths = when(pmod(srcIdx, lit(4)) === 0, lit(25L))
        .when(pmod(srcIdx, lit(4)) === 1, lit(10L))
        .when(pmod(srcIdx, lit(4)) === 2, lit(5L))
        .otherwise(lit(15L))
      graft.functions.Sampling.epochRepeat(
          t(s, dir, "documents").select("doc_id", "source"),
          col("doc_id"), tenths)
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    }),

    "sample_mix_weighted" -> ((s, dir) => {
      // weighted source mixing: per-language keep rates applied as a
      // deterministic Bernoulli filter — downsampling 100 TB to a
      // target mix is a scan-side filter, zero shuffle
      val rate = when(col("lang") === "en", lit(0.3))
        .when(col("lang") === "de", lit(1.0))
        .when(col("lang") === "es", lit(0.8))
        .when(col("lang") === "fr", lit(0.5))
        .otherwise(lit(0.6))
      t(s, dir, "documents")
        .filter(graft.functions.Sampling.rateKeep(col("doc_id"), rate))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "events_json_extract" -> ((s, dir) => {
      // semi-structured extraction: typed field pulled out of the raw
      // JSON props column WITH AN EXPLICIT SCHEMA (from_json — no
      // sampling-based inference job at 100 TB), aggregated per event
      // type. Missing/empty payloads surface as nulls and fall out of
      // the aggregates in both engines. Integer-only output.
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    }),

    "sample_curriculum" -> ((s, dir) => {
      // curriculum training order: the epoch-shard deal with quality
      // BUCKETS (tenths of the 6-dp quality score — integer-stable
      // across engines) ranked first within each shard; the epoch hash
      // only shuffles within a bucket. Reading shards in pos order
      // feeds high-quality docs early in the epoch; per-shard windows
      // mean no global sort at any scale.
      val d = t(s, dir, "documents").select(col("doc_id"),
        floor(T.qualityScore(col("text")) * 10).cast("long").as("qb"))
      graft.functions.Sampling.curriculumShard(
          d, "doc_id", col("qb"), nShards = 8, epoch = 1)
        .select(col("doc_id"), col("q_bucket"), col("shard"), col("pos"))
    }),

    "text_langid_confusion" -> ((s, dir) =>
      // lang-ID audit: confusion matrix of the n-gram heuristic vs the
      // labeled lang column — the precision check run before trusting
      // the classifier as a mixture filter. One aggregation.
      t(s, dir, "documents")
        .select(col("lang"), T.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    "sample_per_group" -> ((s, dir) => {
      // deterministic k-per-(lang,source) sample by hash order — the
      // "inspect 3 random docs per stratum" debugging query, reproducible
      graft.functions.Sampling.perGroupSample(
          t(s, dir, "documents").select("doc_id", "lang", "source"),
          Seq("lang", "source"), "doc_id", k = 3)
        .select(col("doc_id"), col("lang"), col("source"),
          col("rn").cast("long").as("rn"))
    }),

    "sample_weighted_wor" -> ((s, dir) => {
      // weighted sampling without replacement (A-Res): inclusion
      // probability ∝ weight, fully deterministic (hash uniforms), one
      // bounded top-k aggregation per group
      val d = t(s, dir, "documents")
        .withColumn("w", (col("n_chars") % 50 + 1).cast("double"))
      graft.functions.Sampling.weightedSampleWoR(
        d, Seq("lang"), "doc_id", col("w"), k = 10)
    }),

    "sample_budget_select" -> ((s, dir) => {
      // token-budget curation: best-quality docs first until 10k tokens
      // are spent. Global running total via two-level prefix sum (bin
      // agg + within-bin window) — no single-partition global window.
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        T.qualityScore(col("text")).as("quality"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.functions.Sampling.budgetSelect(docs, col("quality"),
          col("doc_id"), col("n_tokens"), budget = 10000L)
        .select("doc_id", "quality", "n_tokens", "cum_cost")
    }),

    "sample_source_cap" -> ((s, dir) => {
      // per-DOMAIN token cap (RefinedWeb/C4-style "no more than N
      // tokens per domain"): within each source, best-quality docs
      // first until that source's budget is spent. ONE window
      // partitioned by source — every domain ranks independently, so
      // the operator is a single group-key shuffle at any scale and
      // skewed mega-domains are exactly what the cap truncates.
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        T.qualityScore(col("text")).as("quality"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.functions.Sampling.perGroupBudget(docs, Seq("source"),
          col("quality"), col("doc_id"), col("n_tokens"), budget = 800L)
        .select("doc_id", "source", "quality", "n_tokens", "cum_cost")
    }),

    "sample_split_grouped" -> ((s, dir) => {
      // leakage-safe split assignment: near-identical documents (same
      // canonical key after NFC + casefold + punct/ws fold) must land
      // in the SAME split, or train/test leakage re-enters through the
      // back door right after deduplication. Each doc emits two
      // byte-distinct variants (the text_canonical_dedup pair), so
      // every cluster has ≥2 members at any SF and the invariant is
      // structurally exercised. Cluster representative = min variant
      // id per canonical key (one window over the ck shuffle); the
      // split hash is taken on the REPRESENTATIVE, so every member
      // inherits the cluster's assignment deterministically.
      val variants = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(array(
          concat(col("text"), lit(" Cafe\u0301 #1")),
          concat(upper(col("text")), lit("  caf\u00e9  1")))))
        .select((col("doc_id") * 2 + col("pos")).as("vid"), col("col").as("v"))
      val w = Window.partitionBy(col("ck"))
      variants
        .select(col("vid"), md5(T.normalizeText(col("v"))).as("ck"))
        .withColumn("rep_id", min("vid").over(w))
        .select(col("vid"), col("rep_id"),
          graft.functions.Sampling.splitAssign(col("rep_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    }),

    // ---------------- similarity search ------------------------------
    "sim_pair_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("vec_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"))
      b.join(broadcast(a), col("id_b") > col("id_a") && col("id_b") <= col("id_a") + 25)
        .select(col("id_a"), col("id_b"), round(V.cosine(col("vec_a"), col("vec_b")), 6).as("cos"))
    }),

    "sim_topk_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      V.bruteForceTopK(q, c, "q_id", "c_id", "q_vec", "c_vec", 5)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    "sim_knn_graph" -> ((s, dir) => {
      // exact cosine kNN GRAPH (k=3 for EVERY vector — not a query
      // batch): the building block under graph clustering / SemDeDup
      // pruning, and the gold tier sim_knn_graph_blocked measures
      // recall against. Integer-only contract (ids + rank) — no float
      // column for a comparator to disagree on. Served as the k=3
      // prefix of the shared exact-graph intermediate (exactKnnGraph).
      exactKnnGraph(s, dir, 3)
        .select(col("q_id"), col("c_id"), col("rank"))
    }),

    "dedup_semantic_graph" -> ((s, dir) => {
      // SemDeDup riding the graph artifact: with a maintained kNN graph
      // the dedup decision is a pure FILTER over bounded lists — drop v
      // iff its k-list holds a smaller-id neighbor at cosine >= tau; no
      // pair is scored at dedup time. Integer-only output: dropped id +
      // its deterministic anchor (min qualifying smaller id).
      exactKnnGraph(s, dir, 3)
        .filter(col("c_id") < col("q_id") && col("score") >= 0.35)
        .groupBy("q_id").agg(min("c_id").as("anchor_id"))
        .orderBy("q_id")
    }),

    "sim_knn_graph_persisted" -> ((s, dir) => {
      // the operational graph shape: build ONCE into a segmented index
      // (one bounded list per id; vectors never copied), answer from
      // the index. Must be bit-identical to the in-memory sim_knn_graph
      // — the same oracle gates both. The lists come from the shared
      // exact-graph intermediate; the build here is the index
      // construction itself (fold to bounded lists + segment write).
      val idxPath = tmpPath(dir, "knn_graph")
      phase("build") {
        V.saveKnnGraphFrom(exactKnnGraph(s, dir, 3), idxPath)
      }
      V.knnGraphEdges(s, idxPath).select(col("q_id"), col("c_id"), col("rank"))
        .orderBy("q_id", "rank")
    }),

    "sim_knn_graph_lifecycle" -> ((s, dir) => {
      // full lifecycle on the persisted graph: build on 6/7 of the
      // corpus, merge the rest as a delta (changed-lists-only segment),
      // then GDPR-retract every %11==5 vector (tombstone + exact repair
      // of every surviving list that cited one). Contract: the live
      // graph equals a fresh build over the survivors BIT-FOR-BIT
      // (join keys include the double scores), rolled up to one
      // integer/boolean row.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.filter(col("vec_id") % 7 =!= 3)
      val delta = emb.filter(col("vec_id") % 7 === 3)
      val deadIds = emb.filter(col("vec_id") % 11 === 5).select("vec_id")
      val idxPath = tmpPath(dir, "knn_graph_lc")
      phase("build") {
        V.saveKnnGraph(corpus, "vec_id", "embedding", idxPath, k = 3)
      }
      phase("merge") {
        V.mergeKnnGraphDelta(s, idxPath, corpus, delta,
          "vec_id", "embedding", k = 3)
      }
      phase("repair") {
        V.retractKnnGraph(s, idxPath, deadIds, emb,
          "vec_id", "embedding", k = 3)
      }
      val survivors = emb.filter(col("vec_id") % 11 =!= 5)
      val fresh = verified(
        V.knnGraph(survivors, "vec_id", "embedding", k = 3)
          .select("q_id", "c_id", "score", "rank"))
      val keys = Seq("q_id", "c_id", "score", "rank")
      val cmp = fresh.withColumn("__f", lit(1))
        .join(V.knnGraphEdges(s, idxPath).select(keys.map(col): _*)
            .withColumn("__i", lit(1)),
          keys, "full_outer")
      cmp.agg(count(lit(1)).as("n_edges"),
          sum(when(col("__f").isNull || col("__i").isNull, 1L)
            .otherwise(0L)).as("n_mismatch"))
        .select(col("n_edges"), (col("n_mismatch") === 0L).as("lifecycle_ok"))
    }),

    "sim_knn_graph_incremental" -> ((s, dir) => {
      // graph-tier index lifecycle: base exact graph over the old
      // corpus (vec_id % 7 != 3), delta arrives, merge = new rows vs
      // updated corpus + old rows re-ranked against the delta only —
      // O(|D|·|C|) instead of the rebuild's |C ∪ D|². Contract: the
      // merged graph EQUALS a fresh rebuild bit-for-bit (join keys
      // include the double score — bitwise, not rounded), rolled up to
      // one integer/boolean row so the comparator sees no floats.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = emb.filter(col("vec_id") % 7 =!= 3)
      val delta = emb.filter(col("vec_id") % 7 === 3)
      val base = V.knnGraph(corpus, "vec_id", "embedding", k = 3)
      val inc = V.knnGraphMergeDelta(base, corpus, delta,
        "vec_id", "embedding", k = 3)
      val fresh = exactKnnGraph(s, dir, 3)
        .select("q_id", "c_id", "score", "rank")
      val keys = Seq("q_id", "c_id", "score", "rank")
      val cmp = fresh.withColumn("__f", lit(1))
        .join(inc.select(keys.map(col): _*).withColumn("__i", lit(1)),
          keys, "full_outer")
      cmp.agg(count(lit(1)).as("n_edges"),
          sum(when(col("__f").isNull || col("__i").isNull, 1L)
            .otherwise(0L)).as("n_mismatch"))
        .select(col("n_edges"), (col("n_mismatch") === 0L).as("graph_match"))
    }),

    "sim_knn_graph_blocked" -> ((s, dir) => {
      // the 100 TB kNN-graph shape: k-means cells confine the quadratic
      // pass (home cell = candidates, each vector probes its nprobe=2
      // nearest of 4 cells — a cid equi-join, NO corpus broadcast).
      // Contract is corpus-level recall@10 vs the exact graph —
      // deterministic end to end (seeded k-means, tie-broken ranks):
      // measured mean recall 0.683 (sf0.01) / 0.678 (sf0.1), every
      // vector recovering >= 1 true neighbor at both sfs; pinned with
      // margin at >= 0.55 mean and >= 95% any-hit coverage.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val blocked = V.knnGraphBlocked(emb, "vec_id", "embedding",
        k = 10, clusters = 4, iters = 2, nprobe = 2)
      val exact = exactKnnGraph(s, dir, 10).select("q_id", "c_id")
      val hits = blocked.select("q_id", "c_id")
        .join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      emb.select(col("vec_id").as("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("n_hit")).as("total_hits"),
          sum(when(col("n_hit") >= 1L, 1L).otherwise(0L)).as("n_any"))
        .select(col("n_vectors"),
          (col("total_hits") * 10L >= col("n_vectors") * 55L).as("recall_ok"),
          (col("n_any") * 100L >= col("n_vectors") * 95L).as("coverage_ok"))
    }),

    // ---------------- C: scalar function library ---------------------
    "sim_bitext_mine" -> ((s, dir) => {
      // margin-based bitext mining (the Artetxe & Schwenk ratio-margin
      // criterion behind CCMatrix/ParaCrawl alignment): slice A (even
      // label) aligns against slice B (odd label); a pair is mined iff
      // it is the MUTUAL nearest neighbor in both directions and its
      // ratio margin — candidate cosine over the mean of each side's
      // top-k cosines — clears 1.0 (margin > 1 ⇔ the match stands out
      // from its neighborhood; hubs score high cosine against
      // everything and get margins ≈ 1, which is the point). Engine
      // parity discipline: the margin is built ONLY from 6-dp-rounded
      // cosines summed as DECIMAL (order-free exact), so both engines
      // divide the same two exact numbers. Brute-force top-k is the
      // calibration tier (same contract as sim_topk_bruteforce); at
      // 100 TB the shortlist comes from the IVF/blocked tiers instead.
      bitextMineBrute(s, dir).orderBy("a_id")
    }),

    "sim_bitext_blocked" -> ((s, dir) => {
      // blocked shortlist tier of sim_bitext_mine — the shape that runs
      // at CCMatrix scale (billions × billions): ONE k-means trained
      // over the union of both slices (shared cell geometry), each
      // direction's top-4 shortlist from the cells+nprobe cross join
      // (crossTopKBlocked — an equi-join on cid, NO broadcast of either
      // slice), then the identical mutual-NN + decimal ratio-margin
      // tail as the calibration tier (margins computed from the
      // RETRIEVED neighborhoods, as real mining pipelines do). Contract
      // is recall of the brute tier's mined pairs, the
      // sim_knn_graph_blocked precedent. Operating point from the r12
      // (cells × nprobe) frontier sweep (SCALING.md #58): at the SAME
      // work fraction, finer cells dominate — 64 cells / nprobe 32 is
      // still HALF the quadratic pair work but measures recall 0.908
      // (sf0.01) / 0.835 (sf0.1) where the r11 16/8 point measured
      // 0.706 flat; the next frontier step (16/12 ≈ 0.9 recall) costs
      // 1.5× this work for +0.07. Pinned with margin at >= 0.75.
      val (aS, bS) = bitextSlices(s, dir)
      val cents = V.kmeansCentroids(
        t(s, dir, "embeddings").select("vec_id", "embedding"),
        "vec_id", "embedding", k = 64, iters = 2)
      val topA = V.crossTopKBlocked(aS, bS, "a_id", "b_id", "__av", "__bv",
        k = 4, cents, nprobe = 32)
      val topB = V.crossTopKBlocked(bS, aS, "b_id", "a_id", "__bv", "__av",
        k = 4, cents, nprobe = 32)
      val minedBlocked = bitextMargin(topA, topB, k = 4)
        .select(col("a_id"), col("b_id"), lit(1L).as("__hit"))
      bitextMineBrute(s, dir).select("a_id", "b_id")
        .join(minedBlocked, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_brute"),
          // sum() over ZERO rows is NULL — coalesce at the aggregate
          // level too, or an empty brute tier renders (0, NULL) where
          // the oracle has (0, TRUE) for the vacuous contract
          coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("__h"))
        .select(col("n_brute"),
          (col("__h") * 100L >= col("n_brute") * 75L).as("recall_ok"))
    }),

    "c1_string_ops" -> ((s, dir) => {
      // upper/trim/replace/title-case cleanup battery (C1, C2)
      t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        regexp_replace(col("c_name"), "#", "-").as("name_dashed"),
        initcap(lower(col("c_mktsegment"))).as("seg_title"),
        concat_ws("-", lit("GENIE"), col("c_name")).as("genie_id"))
    }),

    "c5_date_ops" -> ((s, dir) => {
      // %b-%Y parse analog + year extraction + months_between (C5, C6, F9)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        date_format(col("o_orderdate"), "MMM-yyyy").as("seq_date"),
        round(months_between(lit("1998-06-01").cast("timestamp"), col("o_orderdate")), 2).as("months_to_cutoff"))
    }),

    "c8_imputation" -> ((s, dir) => {
      // depth = ref + alt missing-count imputation (C8, C9)
      val l = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_quantity")).as("depth"),
        col("l_quantity") * 0.6 as "alt")
      l.select(
        col("l_orderkey"), col("l_linenumber"),
        coalesce(col("depth"), col("alt") / 0.6).as("depth_imputed"),
        round(when(col("depth").isNull || col("depth") === 0, 1.0)
          .otherwise(col("alt") / col("depth")), 6).as("vaf"))
    }),

    "c10_concat_key" -> ((s, dir) => {
      // 5-column " "-joined variant key (C10) + dup-count over it.
      // Group on the native tuple and concat AFTER aggregation — the
      // shuffle carries 5 typed columns, not 600k pre-built strings.
      t(s, dir, "lineitem")
        .groupBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(concat_ws(" ",
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_returnflag")).as("variant_key"), col("n"))
    }),

    "c13_split_extract" -> ((s, dir) => {
      // split-take-part center extraction (C13, C3)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        split(col("o_orderpriority"), "-").getItem(1).as("priority_word"),
        split(col("o_orderpriority"), "-").getItem(0).cast("int").as("priority_rank"))
    }),

    "c_misc_cleanup" -> ((s, dir) => {
      // C2 genie-id reformat, C4 chr-prefix strip, C12 whitespace smell
      t(s, dir, "documents").select(
        col("doc_id"),
        when(!col("source").startsWith("GENIE-"), concat(lit("GENIE-"), upper(col("source"))))
          .otherwise(col("source")).as("genie_id"),
        regexp_replace(concat(lit("chr"), (col("doc_id") % 23).cast("string")), "^chr", "").as("chrom"),
        (col("text").contains(" ")).as("has_ws"),
        size(split(col("text"), " ", -1)) - 1 as "n_spaces")
    }),

    // ---------------- A7: CNA-style value merge ----------------------
    "a7_merge_values" -> ((s, dir) => {
      // mergeCNAvalues semantics (cna.py:86-105): per key, 1 distinct
      // value → keep; 2 distinct with a 0 → the nonzero one; else null
      val e = events(s, dir)
        .withColumn("v", floor(col("value")).cast("long") % 3)
      e.groupBy("user_id", "event_type")
        .agg(countDistinct(col("v")).as("n_distinct"),
          max(col("v")).as("vmax"),
          max(when(col("v") =!= 0, col("v"))).as("vmax_nonzero"),
          bool_or(col("v") === 0).as("has_zero"))
        .select(col("user_id"), col("event_type"),
          when(col("n_distinct") === 1, col("vmax"))
            .when(col("n_distinct") === 2 && col("has_zero"), col("vmax_nonzero"))
            .otherwise(lit(null)).as("merged"))
    }),

    // ---------------- O5: sorted distinct collect --------------------
    "o5_sorted_collect" -> ((s, dir) => {
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_set(col("n_name"))), ";").as("nations"))
    }),

    // ---------------- F2/F3: interval containment & in-panel ---------
    "f2_containment" -> ((s, dir) => {
      // whitelist containment (pyranges intersect analog): point fully
      // inside a per-priority [lo,hi] price interval, broadcast side small
      val ranges = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .groupBy(col("o_orderpriority").as("r_priority"))
        .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      val o = t(s, dir, "orders")
      o.join(broadcast(ranges),
          col("o_orderpriority") === col("r_priority") &&
            RangeJoin.contained(col("o_totalprice"), col("o_totalprice"), col("lo"), col("hi")),
          "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_whitelisted"))
    }),

    "f3_inbed_filter" -> ((s, dir) => {
      // MAFinBED: variants outside their panel's padded regions removed;
      // here: lineitems whose unit price falls outside the brand band ±10
      val bands = t(s, dir, "part").groupBy("p_brand")
        .agg((min("p_retailprice") - 10.0).as("lo"), (max("p_retailprice") + 10.0).as("hi"))
        .withColumn("g", lit(1))
      val points = t(s, dir, "lineitem")
        .withColumn("unit_price", col("l_extendedprice") / greatest(col("l_quantity"), lit(1.0)))
        .withColumn("g", lit(1))
      val inBed = RangeJoin.binnedOverlap(
        points.withColumn("p_end", col("unit_price")).select("g", "l_orderkey", "l_linenumber", "unit_price", "p_end"),
        bands, "g", "unit_price", "p_end", "lo", "hi", binSize = 200L)
      // (point, brand) pairs are unique post canonical-bin dedup, so a
      // plain count replaces countDistinct (one shuffle phase less)
      inBed.groupBy("l_orderkey", "l_linenumber", "unit_price")
        .agg(count(lit(1)).as("n_panels"))
        .groupBy("n_panels").agg(count(lit(1)).as("n_variants"))
    }),

    // ---------------- W3: newest-N per group -------------------------
    "w3_newest_two" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    }),

    "agg_maintain_sample" -> ((s, dir) => {
      // maintained uniform sample: per return flag, the 5 part keys
      // with the smallest salted hash — a pure function of the value
      // SET, so the base+delta merge IS the from-scratch sample
      // (bottom-k of a union = bottom-k of the union of bottom-ks; a
      // true arrival-order reservoir can't be maintained). The oracle
      // computes the ground-truth bottom-5 directly.
      val A = graft.operators.AggMaintain
      val li = t(s, dir, "lineitem")
      val keys = Seq("l_returnflag")
      val merged = A.mergeSamples(Seq(
          A.partialSample(li.filter(col("l_shipdate") < lit("1995-06-01")),
            keys, "l_partkey", 5),
          A.partialSample(li.filter(col("l_shipdate") >= lit("1995-06-01")),
            keys, "l_partkey", 5)),
        keys, "l_partkey", 5)
      merged.select(col("l_returnflag"), col("l_partkey").as("sample_partkey"))
    }),

    "agg_maintain_quantile" -> ((s, dir) => {
      // maintained QUANTILES: a mergeable bottom-k row sample (hash
      // over the row identity, so multiplicity is preserved) answers
      // median queries at delta-refresh cost. The output proves both
      // contracts: the date-split and parity-split merges are
      // bit-identical samples (incr_eq_rebuild — split invariance),
      // and the sample median lands within 10% of the exact median
      // the oracle pins (deterministic: the sample is a pure function
      // of the row set).
      val A = graft.operators.AggMaintain
      val li = t(s, dir, "lineitem")
      val keys = Seq("l_returnflag")
      val idc = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity")
      def part(f: Column) =
        A.partialRowSample(li.filter(f), keys, "l_quantity", idc, 1024)
      val byDate = A.mergeSamples(Seq(
        part(col("l_shipdate") < lit("1995-06-01")),
        part(col("l_shipdate") >= lit("1995-06-01"))), keys, "l_quantity", 1024)
      val byParity = A.mergeSamples(Seq(
        part(col("l_orderkey") % 2 === 0),
        part(col("l_orderkey") % 2 === 1)), keys, "l_quantity", 1024)
      def packed(df: org.apache.spark.sql.DataFrame, alias: String) =
        df.groupBy("l_returnflag")
          .agg(sort_array(collect_list(struct(col("__h"), col("l_quantity"))))
            .as(alias))
      val eq = packed(byDate, "sa").join(packed(byParity, "sb"), "l_returnflag")
        .select(col("l_returnflag"), (col("sa") === col("sb")).as("incr_eq_rebuild"))
      val est = byDate.groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("est_p50"))
      val exact = li.groupBy("l_returnflag")
        .agg(percentile(col("l_quantity"), lit(0.5)).as("exact_p50"))
      eq.join(est, "l_returnflag").join(exact, "l_returnflag")
        .select(col("l_returnflag"), round(col("exact_p50"), 6).as("exact_p50"),
          col("incr_eq_rebuild"),
          (abs(col("est_p50") / col("exact_p50") - 1.0) <= 0.10).as("within_10pct"))
    }),

    "agg_maintain_distinct" -> ((s, dir) => {
      // distinct-count maintenance: COUNT DISTINCT is not summable, so
      // the delta refresh rides a mergeable HLL sketch (AggMaintain.
      // partialDistinct/mergeDistinct — register max-merge). The query
      // PROVES the maintenance contract in its output: merging sketch
      // partials must be PARTITION-INVARIANT — a date-split (base +
      // delta, the maintenance shape) and an orderkey-parity split of
      // the same facts merge to identical estimates (incr_eq_rebuild;
      // registers depend only on the value SET, and merged sketches
      // estimate with the order-free composite estimator) — and land
      // within 5% of the exact count (within_5pct, deterministic —
      // DataSketches hashing has no run randomness). The oracle pins
      // the exact counts and both assertions.
      val A = graft.operators.AggMaintain
      val li = t(s, dir, "lineitem")
      val base = li.filter(col("l_shipdate") < lit("1995-06-01"))
      val delta = li.filter(col("l_shipdate") >= lit("1995-06-01"))
      val keys = Seq("l_returnflag")
      val incr = A.estimateDistinct(A.mergeDistinct(Seq(
          A.partialDistinct(base, keys, "l_partkey", "sk"),
          A.partialDistinct(delta, keys, "l_partkey", "sk")),
          keys, "sk"), "sk", "est_incr")
        .select(col("l_returnflag"), col("est_incr"))
      val rebuild = A.estimateDistinct(A.mergeDistinct(Seq(
          A.partialDistinct(li.filter(col("l_orderkey") % 2 === 0), keys, "l_partkey", "sk"),
          A.partialDistinct(li.filter(col("l_orderkey") % 2 === 1), keys, "l_partkey", "sk")),
          keys, "sk"), "sk", "est_rebuild")
        .select(col("l_returnflag"), col("est_rebuild"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      incr.join(rebuild, "l_returnflag").join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (col("est_incr") === col("est_rebuild")).as("incr_eq_rebuild"),
          (abs(col("est_incr") - col("n_exact")) <=
            greatest(lit(2L), col("n_exact") / 20)).as("within_5pct"))
    }),

    "agg_maintain_psi" -> ((s, dir) => {
      // drift monitoring as a MAINTAINED statistic — the AggMaintain
      // discipline applied to corpus_psi_drift: the per-bucket count
      // table refreshes from delta-sized jobs (arrivals merge with
      // sign +1, GDPR retractions with sign −1 — counts are a signed
      // monoid, merge ≡ direct rebuild over the survivors), and PSI
      // against the pinned reference snapshot is then #buckets-row
      // arithmetic. The corpus is never re-scanned to re-bucket; at
      // 100 TB a continuous drift monitor costs each day's delta, not
      // the archive. Same bit-width buckets and 6-dp (p−q)·ln(p/q)
      // surface as corpus_psi_drift (the documented ln residual).
      val A = graft.operators.AggMaintain
      val d = t(s, dir, "documents").select(col("doc_id"),
        length(bin(T.tokenCount(col("text")).cast("long"))).cast("long")
          .as("bucket"))
      val base = d.filter(col("doc_id") % 10 =!= 7)
      val delta = d.filter(col("doc_id") % 10 === 7)
      val dead = base.filter(col("doc_id") % 9 === 4)
      val pBase = A.partial(base, Seq("bucket"), Map.empty, "n")
      val pDelta = A.partial(delta, Seq("bucket"), Map.empty, "n")
      val pDead = A.partial(dead, Seq("bucket"), Map.empty, "n")
        .select(col("bucket"), (col("n") * lit(-1L)).as("n"))
      val maintained = A.merge(Seq(pBase, pDelta, pDead),
          Seq("bucket"), Seq("n"))
        .filter(col("n") > 0) // a fully-retracted bucket leaves the table
      val joined = pBase.withColumnRenamed("n", "n_old")
        .join(maintained.withColumnRenamed("n", "n_new"),
          Seq("bucket"), "full_outer")
        .select(col("bucket"), coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      val tot = joined.agg(sum("n_old").as("__to"), sum("n_new").as("__tn"),
        count(lit(1)).as("__b"))
      val p = (col("n_old") + lit(1L)).cast("double") /
        (col("__to") + col("__b")).cast("double")
      val q = (col("n_new") + lit(1L)).cast("double") /
        (col("__tn") + col("__b")).cast("double")
      joined.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_old"), col("n_new"),
          round((p - q) * log(p / q), 6).as("psi_term"))
        .orderBy("bucket")
    }),

    "agg_maintain_decontam" -> ((s, dir) => {
      // the contamination report as a MAINTAINED statistic — the
      // AggMaintain discipline applied to decontam_report: per-
      // benchmark flagged counts refresh from delta-sized jobs (an
      // arriving train doc's flagged-ness per benchmark is a pure
      // function of its content and the FROZEN benchmark gram set, so
      // arrivals merge with sign +1 and GDPR retractions with −1 —
      // merge ≡ direct rebuild over the survivors), the max-span
      // statistic keeps its materialized SUPPORT (the contamination
      // pair table): arrivals append their pairs, a retraction
      // anti-joins out its train id, and the per-benchmark max is
      // #pairs-row arithmetic. The archive is never re-shingled —
      // at 100 TB a standing contamination monitor costs each day's
      // delta, not the train corpus.
      val A = graft.operators.AggMaintain
      val d = t(s, dir, "documents")
      val benchOf = concat(lit("b"),
        pmod(expr("doc_id div 97"), lit(3L)).cast("string"))
      val evalD = d.filter(col("doc_id") % 97 === 0)
      val train = d.filter(col("doc_id") % 97 =!= 0)
      val isBase  = col("doc_id") % 10 =!= 7
      val isDelta = col("doc_id") % 10 === 7
      val isDead  = isBase && col("doc_id") % 9 === 4
      val base  = train.filter(isBase)
      val delta = train.filter(isDelta)
      val dead  = base.filter(col("doc_id") % 9 === 4)
      val sh = graft.plans.ShingleHashExpr.shingleHashes(col("text"), 5)
      val bsh = evalD.select(benchOf.as("benchmark"), explode(sh).as("sh"))
        .distinct()
      // flagged-ness is a pure per-doc function of content × the frozen
      // benchmark gram set, and base/delta/dead are doc_id predicates —
      // so ONE shingle pass over the train side feeds all three signed
      // partials (the r12 shape digested base, delta AND dead ⊂ base
      // separately: ~2.1 train-side passes). Materialized eagerly under
      // phase("build"): in production this table IS the maintained
      // support refreshed by delta-sized jobs; per bench run it must be
      // constructed once because no cross-run state is allowed.
      val flaggedAll = phase("build") {
        val f = train.select(col("doc_id"), explode(sh).as("sh"))
          .join(broadcast(bsh), Seq("sh"))
          .select("benchmark", "doc_id").distinct()
          .persist()
        f.count()
        f
      }
      def flaggedPairs(p: Column) = flaggedAll.filter(p)
      val pBase  = A.partial(flaggedPairs(isBase), Seq("benchmark"), Map.empty, "n")
      val pDelta = A.partial(flaggedPairs(isDelta), Seq("benchmark"), Map.empty, "n")
      val pDead  = A.partial(flaggedPairs(isDead), Seq("benchmark"), Map.empty, "n")
        .select(col("benchmark"), (col("n") * lit(-1L)).as("n"))
      val flagged = A.merge(Seq(pBase, pDelta, pDead), Seq("benchmark"), Seq("n"))
        .filter(col("n") > 0) // a fully-clean benchmark leaves the table
        .withColumnRenamed("n", "n_train_flagged")
      // span support: pair rows are independent per train doc, so ONE
      // digest pass over the train side filtered to the survivors
      // (base ∖ dead ∪ delta = NOT dead) equals the r12 per-subset
      // calls + anti-join, at half the shingle work. Like flaggedAll,
      // the pair table IS the maintained support — materialized under
      // phase("build") so the report phase is the monoid arithmetic
      // it costs in production.
      val spanTable = phase("build") {
        val sp = graft.functions.DedupFunctions
          .contaminationSpans(train, evalD, "doc_id", "text",
            n = 2, minSpanTokens = 3)
          .filter(!isDead)
          .persist()
        sp.count()
        sp
      }
      val spans = spanTable
        .join(evalD.select(col("doc_id").as("eval_id"), benchOf.as("benchmark")),
          Seq("eval_id"))
        .groupBy("benchmark").agg(max("span_tokens").as("max_span_tokens"))
      // maintained train count: three map-side-combined 1-row partials
      val nTrain = base.agg(count(lit(1)).as("n"))
        .unionByName(delta.agg(count(lit(1)).as("n")))
        .unionByName(dead.agg((count(lit(1)) * lit(-1L)).as("n")))
        .agg(sum("n").as("__nt"))
      evalD.groupBy(benchOf.as("benchmark"))
        .agg(count(lit(1)).as("n_eval_docs"))
        .join(flagged, Seq("benchmark"), "left")
        .join(spans, Seq("benchmark"), "left")
        .crossJoin(broadcast(nTrain))
        .select(col("benchmark"), col("n_eval_docs"),
          coalesce(col("n_train_flagged"), lit(0L)).as("n_train_flagged"),
          coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
          graft.functions.Sampling.ppmHalfUp(
            coalesce(col("n_train_flagged"), lit(0L)), col("__nt"))
            .as("flagged_ppm"))
        .orderBy("benchmark")
    }),

    "text_chunk_windows" -> ((s, dir) => {
      // sliding token-window chunking (40-token windows, stride 32 →
      // 8-token overlap): the context-window prep between curation and
      // packing. Scan-side explode, zero shuffle before the verify
      // projection; chunk content gated via md5.
      graft.functions.Curation.chunkByTokens(
          t(s, dir, "documents"), "doc_id", "text", window = 40, stride = 32)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
    }),

    "pipeline_training_export" -> ((s, dir) => {
      // the flagship COMPOSITION: a full training-data export in one
      // declarative DAG — (1) canonical dedup (native normalize_text
      // md5 key, min-id survivor per key: one shuffle on the 16-byte
      // key), (2) mixture planning on the DEDUPED corpus (one
      // aggregation → vocabulary-sized rate table), (3) hash-Bernoulli
      // acceptance at the derived per-lang rate (rate table broadcast,
      // scan-side filter), (4) reproducible train/val/test split (pure
      // hash, no rand), (5) the export manifest: per (lang, split)
      // docs + token counts. Catalyst fuses 1+3+4 into the same
      // scan-side stage; text never shuffles — only keys, counts, and
      // the manifest rows move. The acceptance threshold is an EXACT
      // Long (`min(2³², floor(want·2³²/avail))`, exportThresholds) so
      // no double sits on the accept/reject knife-edge; stage outputs
      // are separately gated as pipeline_stage_{dedup,avail,accept}.
      exportAccepted(s, dir)
        .withColumn("split", graft.functions.Sampling.splitAssign(
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
    }),

    "pipeline_stage_dedup" -> ((s, dir) => {
      // export-pipeline diagnostic, stage 1: canonical-dedup survivor
      // count per lang — integer-only, so a composite-hash mismatch
      // localizes to the dedup stage (or not) from the driver artifact
      exportKept(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("__nt").as("avail"))
    }),

    "pipeline_stage_avail" -> ((s, dir) => {
      // stage 2: the per-lang exact-Long acceptance-threshold table the
      // filter broadcasts — avail and thr are both BIGINT
      exportThresholds(exportKept(s, dir))
    }),

    "pipeline_stage_accept" -> ((s, dir) => {
      // stage 3: accepted docs/tokens per lang BEFORE split assignment —
      // isolates the hash-Bernoulli acceptance from the split stage
      exportAccepted(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_acc"), sum("__nt").as("nt_acc"))
    }),

    "pipeline_stage_split" -> ((s, dir) => {
      // stage 4: per-split marginals ACROSS languages — isolates
      // splitAssign itself from the final (lang, split) manifest
      // cross-tab; stages 1-3 are separately green, so a red composite
      // with a green row here indicts only the cross-tab emission
      exportAccepted(s, dir)
        .withColumn("split", graft.functions.Sampling.splitAssign(
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
    }),

    "diag_channel_hugeint" -> ((s, dir) =>
      // RETIRED driver-channel control (r10): this arm once carried a
      // deliberately UN-cast oracle SUM(1) (DuckDB HUGEINT → pandas
      // float64 "500.0") and went red while the cast twin below stayed
      // green, proving from the driver's own artifact that the
      // comparator hashes rendered values. Hypothesis CONFIRMED in
      // CORRECTNESS_r10 (red control + green twin + all four chronic
      // reds flipping green after BIGINT casts); the oracle is now cast
      // like every other integer SUM (tools/audit_oracle_types.py
      // enforces the rule), and the pair stays registered only to
      // document the mechanism in history. Expected green.
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs")).orderBy("lang")),

    "diag_channel_bigint" -> ((s, dir) =>
      // driver-channel CONTROL, cast arm: identical values, oracle
      // SUM cast to BIGINT. Expected green.
      t(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs")).orderBy("lang")),

    "text_bpe_merges" -> ((s, dir) => {
      // tokenizer TRAINING in-engine: three BPE merge rules learned
      // over word types weighted by corpus frequency — one corpus scan
      // (word counts), then vocab-sized pair aggregations + 1-row
      // argmax collects per step. The oracle replays every step: pair
      // stats, (freq desc, l, r) tie-break, and the literal-replace
      // merge application, whose left-to-right non-overlap semantics
      // match across engines.
      T.learnBpeMerges(t(s, dir, "documents").select("text"), "text", iters = 3)
    }),

    "text_bpe_tokenize" -> ((s, dir) => {
      // tokenizer train → APPLY: learn 3 merges, then count each
      // document's BPE tokens (greedy apply, identical replace
      // semantics to training) next to its character-token count —
      // the compression the learned vocab buys, per doc.
      val merges = T.learnBpeMerges(
          t(s, dir, "documents").select("text"), "text", iters = 3)
        .orderBy("step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val words = filter(split(trim(lower(col("text"))), "\\s+"),
        w => length(w) > 0)
      t(s, dir, "documents").select(col("doc_id"),
        aggregate(transform(words, w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("n_char_tokens"),
        T.bpeTokenCount(col("text"), merges).as("n_bpe_tokens"))
    }),

    "text_canonical_dedup" -> ((s, dir) => {
      // unicode canonicalization as the dedup key: each doc emits two
      // byte-DISTINCT variants — decomposed accent + '#' punctuation
      // vs composed accent, doubled spaces, uppercase — which the
      // native normalize_text expression (NFC + casefold + punct/ws
      // fold, whole-stage codegen, no UDF) collapses to one canonical
      // key. Canonical md5 keys are what shuffle; the oracle replays
      // the pipeline via nfc_normalize + POSIX-class regexps.
      val variants = t(s, dir, "documents").select(col("doc_id"),
        explode(array(
          concat(col("text"), lit(" Cafe\u0301 #1")),
          concat(upper(col("text")), lit("  caf\u00e9  1")))).as("v"))
      variants.withColumn("ck", md5(T.normalizeText(col("v"))))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("v")).as("n_raw"),
          countDistinct(col("ck")).as("n_canonical"))
    }),

    "funnel_conversion" -> ((s, dir) => {
      // ordered funnel view → click → signup → purchase: one shuffle on
      // user_id, per-user sorted fold in a codegen'd aggregate HOF
      // (Funnel.conversion) — equivalent to the oracle's chained
      // strict-min CTEs because the fold runs in ascending time order.
      graft.operators.Funnel.conversion(events(s, dir), "user_id", "ts_ms",
        "event_type", Seq("view", "click", "signup", "purchase"))
    }),

    // ---------------- streaming-shaped agg ---------------------------
    "w5_session_paths" -> ((s, dir) => {
      // funnel/path analysis: per-session ordered event-type path →
      // top-10 paths by frequency. The path builds from a collect_list
      // sorted IN the row (array_sort on (ts, id, type) structs) — the
      // per-session window already exists for sessionization; no second
      // ordering shuffle. Total order: (n_sessions desc, path).
      val e = events(s, dir).select("user_id", "event_id", "event_type", "ts_ms")
      WindowOps.sessionize(e, Seq("user_id"), "ts_ms",
          Seq("ts_ms", "event_id"), gap = 1800000L)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts_ms"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(10)
    }),

    "w4_sliding_rates" -> ((s, dir) => {
      // sliding 10-min windows, 5-min slide: each event lands in 2
      // windows (its 5-min-floor start and the one before). The window
      // memberships are a scan-side explode of 2 arithmetic starts —
      // no window function, no single-partition risk; the groupBy is
      // the only shuffle, map-side combined.
      val slide = 300000L
      val win = 600000L
      events(s, dir)
        .withColumn("__fl", col("ts_ms") - pmod(col("ts_ms"), lit(slide)))
        .select(col("event_type"), col("value"),
          explode(array(col("__fl"), col("__fl") - slide)).as("win_start_ms"))
        .filter(col("win_start_ms") + win > col("ts_ms") &&
          col("win_start_ms") <= col("ts_ms"))
        .groupBy("win_start_ms", "event_type")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    }),

    "sample_temperature" -> ((s, dir) => {
      // temperature (T=2) source rebalance: per-language keep rates ∝
      // √N targeting half the corpus, applied as the deterministic
      // hash-Bernoulli filter; reports size, rate, kept per language
      val docs = t(s, dir, "documents")
      val rates = graft.functions.Sampling.temperatureMixRates(
        docs.select("lang", "doc_id"), "lang", targetFrac = 0.5)
      docs.join(broadcast(rates), Seq("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), max(col("rate")).as("rate"),
          sum(when(graft.functions.Sampling.rateKeep(
            col("doc_id"), col("rate"), "temp"), 1L).otherwise(0L)).as("n_kept"))
    }),

    "stream_tumbling_counts" -> ((s, dir) => {
      // tumbling 1h window counts: each event's window start is its
      // ts floored to the hour
      events(s, dir)
        .withColumn("win_start_ms", (col("ts_ms") - pmod(col("ts_ms"), lit(3600000L))))
        .groupBy("win_start_ms", "event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
    }),

    // ---------------- dedup: simhash ---------------------------------
    "dedup_simhash" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        D.simhash(T.tokens(lower(col("text"))), 16).as("simhash16"))
    }),

    "dedup_simhash_hamming" -> ((s, dir) =>
      // the SCALE path for simhash near-dup (Manku et al. pigeonhole):
      // 32-bit fingerprints split into 4 byte blocks — any pair within
      // Hamming 3 matches exactly on >= 1 block (zero false negatives
      // by construction), candidates reduce to (block, value)
      // equi-joins + one exact bit_count(xor) verify each; never an
      // all-pairs XOR scan. Integer-only output.
      // persist before the global sort: range partitioning SAMPLES its
      // child, so an unpersisted 3.5M-pair pipeline runs twice (sample
      // pass + sort pass); the cache is query-local (harness clearCache)
      D.simhashHammingPairs(t(s, dir, "documents"), "doc_id",
          T.tokens(lower(col("text"))), bits = 32, maxHamming = 3)
        .persist()
        .orderBy("id_a", "id_b")),

    "dedup_simhash_persisted" -> ((s, dir) => {
      // the operational Manku tier: pigeonhole postings persisted ONCE
      // as a SegmentedIndex (fingerprints are (maxHamming+1) longs per
      // doc — the 100 TB corpus is re-read never, the index always),
      // the pair audit then runs with zero text reads. Bit-identical to
      // the scan-side dedup_simhash_hamming — one oracle gates both.
      val idxPath = tmpPath(dir, "simhash_idx")
      phase("build") {
        D.saveSimhashIndex(t(s, dir, "documents"), "doc_id",
          T.tokens(lower(col("text"))), idxPath, bits = 32, maxHamming = 3)
      }
      D.simhashPairsFromIndex(s, idxPath, maxHamming = 3)
        .persist() // sample+sort read one materialization (see hamming)
        .orderBy("id_a", "id_b")
    }),

    "dedup_simhash_incremental" -> ((s, dir) => {
      // O(delta) lifecycle for the fourth dedup index family: build on
      // 6/7 of the corpus, merge the rest as arrivals — the delta's
      // postings land as one |delta|-sized segment, re-ingested ids
      // tombstone their old fingerprints, and the merged live view
      // must replay the FULL-corpus audit bit for bit (the occupancy
      // cap binds over live postings, exactly the batch tier's view).
      val docs = t(s, dir, "documents")
      val idxPath = tmpPath(dir, "simhash_inc")
      val toks = T.tokens(lower(col("text")))
      phase("build") {
        D.saveSimhashIndex(docs.filter(col("doc_id") % 7 =!= 3), "doc_id",
          toks, idxPath, bits = 32, maxHamming = 3)
      }
      phase("merge") {
        D.mergeSimhashDelta(docs.filter(col("doc_id") % 7 === 3), "doc_id",
          toks, idxPath, bits = 32, maxHamming = 3)
      }
      D.simhashPairsFromIndex(s, idxPath, maxHamming = 3)
        .persist() // sample+sort read one materialization (see hamming)
        .orderBy("id_a", "id_b")
    }),

    // ---------------- similarity: LSH bucket top-k -------------------
    "sim_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      V.lshTopK(q, c, "q_id", "c_id", "q_vec", "c_vec", k = 3, bits = 8)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    "sim_int8_topk" -> ((s, dir) => {
      // memory-bound ANN: int8 codes of the normalized corpus (4×
      // smaller scan), INTEGER-dot shortlist (engine-portable ordering,
      // no float ties), exact cosine re-rank of the 20-per-query
      // survivors through two broadcast joins — corpus floats are
      // touched once and never shuffle.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      V.int8TopK(q, c, "q_id", "c_id", "q_vec", "c_vec", k = 5, shortlist = 20)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    "sim_int8_persisted" -> ((s, dir) => {
      // int8 as an operational index: codes computed ONCE into a
      // segmented tree (saveInt8Index — the 4x-smaller scan amortizes
      // across query batches), probes answer from the stored codes.
      // Quantization is a pure per-row function, so this must be
      // bit-identical to train-per-call sim_int8_topk — one oracle
      // gates both.
      val e = t(s, dir, "embeddings")
      val idxPath = tmpPath(dir, "int8_index")
      phase("build") {
        V.saveInt8Index(e, "vec_id", "embedding", idxPath)
      }
      V.int8TopKFromIndex(idxPath, e, "vec_id", "embedding",
          col("vec_id") < 8, k = 5, shortlist = 20)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    "sim_int8_incremental" -> ((s, dir) => {
      // O(delta) int8 refresh: build on 2/3 of the corpus, merge the
      // rest plus %10==5 re-ingests (tombstone exercise — identical
      // codes re-land) and %100==97 null-vector deletes. No frozen
      // parameters exist (per-row quantization), so the merged index
      // must serve exactly the train-per-call ranking over the
      // latest-version corpus, which the oracle replays directly.
      val e = t(s, dir, "embeddings")
      val idxPath = tmpPath(dir, "int8_inc")
      phase("build") {
        V.saveInt8Index(e.filter(col("vec_id") % 3 =!= 0),
          "vec_id", "embedding", idxPath)
      }
      val delta = e
        .filter(col("vec_id") % 3 === 0 || col("vec_id") % 10 === 5 ||
          col("vec_id") % 100 === 97)
        .select(col("vec_id"),
          when(col("vec_id") % 100 === 97, lit(null).cast("array<double>"))
            .otherwise(col("embedding").cast("array<double>")).as("embedding"))
      phase("merge") {
        V.mergeInt8Delta(delta, "vec_id", "embedding", idxPath)
      }
      val latest = e.filter(col("vec_id") % 100 =!= 97)
      V.int8TopKFromIndex(idxPath, latest, "vec_id", "embedding",
          col("vec_id") < 8, k = 5, shortlist = 20)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    // ---------------- S: reader round-trips + SQL surface ------------
    "s3_maf_na_roundtrip" -> ((s, dir) => {
      // documents → MAF-shaped TSV on disk → Maf.read → NA contract:
      // allele literals survive, other columns' "NA" becomes null
      val alleles = array(lit("NA"), lit("nan"), lit("ATCG"), lit("-"), lit("TT"))
      val mafLike = t(s, dir, "documents").select(
        col("doc_id").as("DOC_ID"),
        (col("doc_id") % 22 + 1).cast("string").as("CHROMOSOME"),
        element_at(alleles, (col("doc_id") % 5 + 1).cast("int")).as("REF"),
        when(col("doc_id") % 3 === 0, lit("NA")).otherwise(lit("p.X1Y")).as("HGVSP"))
      val tmp = tmpPath(dir, "s3")
      graft.sources.Tsv.write(mafLike, tmp)
      graft.sources.Maf.read(s, tmp)
        .groupBy(col("REFERENCE_ALLELE").as("reference_allele"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("HGVSP").isNull, 1L).otherwise(0L)).as("n_hgvsp_null"))
    }),

    "s9_sql_pushdown" -> ((s, dir) => {
      // Synapse-tableQuery analog: the engine's SQL surface over views
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_mktsegment,
                  COUNT(DISTINCT c_custkey) AS n_cust,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
           FROM orders_v JOIN customer_v ON o_custkey = c_custkey
           WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           GROUP BY c_mktsegment""")
    }),

    "s11_tsv_roundtrip" -> ((s, dir) => {
      // .0-free TSV writer: integral doubles come back dot-free
      val sample = t(s, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey").as("ID"), col("l_quantity").as("VAL"))
      val tmp = tmpPath(dir, "s11")
      graft.sources.Tsv.write(sample, tmp)
      graft.sources.Tsv.readAllString(s, tmp)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("VAL").contains("."), 1L).otherwise(0L)).as("n_with_dot"))
    }),

    // ---------------- P: extended rule battery ------------------------
    "p_battery_synthetic" -> ((s, dir) => {
      val langs   = Seq("de", "en", "es", "fr", "zh")
      val alleles = array(lit("ATCG"), lit("N"), lit("-"), lit("xx"), lit("NA"), lit("GG"))
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("lang"), lit(";INVALID")))
          .otherwise(col("lang")).as("multi_val"),
        when(col("doc_id") % 13 === 0, lit("2199"))
          .when(col("doc_id") % 17 === 0, lit("Unknown"))
          .otherwise(concat(lit("19"), lpad((col("doc_id") % 100).cast("string"), 2, "0"))).as("year_col"),
        element_at(alleles, (col("doc_id") % 6 + 1).cast("int")).as("allele"),
        (col("doc_id") % 25).cast("string").as("chrom"),
        col("n_chars").as("start_pos"),
        when(col("doc_id") % 19 === 0, col("n_chars") - 5)
          .otherwise(col("n_chars") + 10).as("end_pos"),
        when(col("doc_id") % 23 === 0, concat(lit("x"), col("doc_id").cast("string")))
          .otherwise(col("doc_id").cast("string")).as("int_col"))
      val key = col("doc_id")
      Rules.Battery.asDataFrame(d, Seq(
        RowRule("p2_multi_domain", "error",
          Rules.domain(col("multi_val"), langs, sep = Some(";")), key, ""),
        RowRule("p4_integer", "error", Rules.notInteger(col("int_col")), key, ""),
        RowRule("p6_year", "error",
          Rules.badYear(col("year_col"), 2026, Seq("Unknown")), key, ""),
        RowRule("p16_allele", "error", Rules.badAllele(col("allele")), key, ""),
        RowRule("p18_chromosome", "error", Rules.badChromosome(col("chrom")), key, ""),
        RowRule("p19_start_end", "warning",
          Rules.startAfterEnd(col("start_pos"), col("end_pos")), key, "")))
    }),

    // ---------------- F4: mutation-in-cis flags -----------------------
    "f4_cis_flags" -> ((s, dir) => {
      // adjacent events <6s apart with small value delta = "in cis"
      val e = events(s, dir).select("user_id", "event_id", "ts_ms", "value")
      val d = WindowOps.adjacentDeltas(e, Seq("user_id"), Seq("ts_ms", "event_id"), Seq("ts_ms", "value"))
      d.withColumn("flagged",
          WindowOps.cisFlag(col("ts_ms_delta"), col("value_delta") / 100.0, lit(null),
            maxBp = 6000, maxVafDelta = 0.05))
        .groupBy("user_id")
        .agg(sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
          count(lit(1)).as("n_events"))
    }),

    // ---------------- F10/A8: keep-list propagation -------------------
    "f10_sample_subset" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = docs.filter(col("lang").isin("en", "fr") && col("doc_id") % 3 === 0)
        .select("doc_id")
      Filters.keepSamples(docs, keep, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("lang")).as("n_langs"))
    }),

    // ---------------- J2: cross-center outer merge --------------------
    "j2_outer_merge" -> ((s, dir) => {
      // CNA merge-across-centers analog: per-gene values from two
      // centers full-outer joined on the gene key
      val l = t(s, dir, "lineitem").withColumn("gene", col("l_partkey") % 40)
      val a = l.filter(col("l_orderkey") % 2 === 0).groupBy("gene")
        .agg(dsum(col("l_quantity")).as("qty_a"))
      val b = l.filter(col("l_orderkey") % 2 === 1).groupBy("gene")
        .agg(dsum(col("l_quantity")).as("qty_b"))
      a.join(b, Seq("gene"), "full_outer")
        .select(col("gene"),
          coalesce(col("qty_a"), lit(0.0)).as("qty_a"),
          coalesce(col("qty_b"), lit(0.0)).as("qty_b"))
    }),

    // ---------------- text: BPE-ish token budget ----------------------
    "text_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          T.tokenCount(col("text")).as("n_ws_tokens"),
          T.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
    }),

    // ---------------- dedup: embedding near-dup via LSH buckets -------
    "dedup_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val b = e.select(col("vec_id"), col("embedding"),
        V.signBucket(col("embedding"), 12).as("bucket"))
      val a2 = b.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"), col("bucket"))
      val b2 = b.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"), col("bucket"))
      a2.join(b2, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", round(V.cosine(col("vec_a"), col("vec_b")), 6))
        .filter(col("cos") >= 0.35)
        .select("id_a", "id_b", "cos")
    }),

    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup: learned k-means cells confine the quadratic pairwise
      // pass, min-id survivor at cos >= 0.25 inside each cell; the
      // occupancy cap (mega-cluster guard) is mirrored in the oracle
      V.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          clusters = 4, iters = 2, tau = 0.25, maxCell = 10000)
        .select(col("vec_id"), col("cid"))
    }),

    "dedup_semantic_persisted" -> ((s, dir) => {
      // the operational SemDeDup shape: cells come from the persisted
      // IVF index (build once), every corpus refresh pays only the
      // prune. Must be bit-identical to train-per-call dedup_semantic —
      // the same oracle gates both.
      val emb = t(s, dir, "embeddings")
      val idxPath = tmpPath(dir, "ivf_index_sem")
      phase("build") {
        V.saveIvfIndex(emb, "vec_id", "embedding", idxPath, clusters = 4, iters = 2)
      }
      V.semanticDedupFromIndex(idxPath, emb, "vec_id", "embedding",
          tau = 0.25, maxCell = 10000)
        .select(col("vec_id"), col("cid"))
    }),

    "dedup_ingest_probe" -> ((s, dir) => {
      // ingest-time near-dup gate: index built over the existing corpus
      // (vec_id < 490), the 10 "arriving" rows probe it — per-row
      // literal-centroid cell assignment (a per-row expression; no
      // window) + equi-join on cid.
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") < 490)
      val incoming = emb.filter(col("vec_id") >= 490)
      val idxPath = tmpPath(dir, "ivf_index_ingest")
      phase("build") {
        V.saveIvfIndex(corpus, "vec_id", "embedding", idxPath, clusters = 4, iters = 2)
      }
      V.nearDupProbeIndex(idxPath, incoming, "vec_id", "embedding", corpus, tau = 0.2)
    }),

    // ---------------- similarity: IVF-style coarse partition ----------
    "sim_ivf_label" -> ((s, dir) => {
      // label column = coarse quantizer cell: search only the query's cell
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("label"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"), col("label"))
      val joined = c.join(broadcast(q), Seq("label"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("score", V.cosine(col("q_vec"), col("c_vec")))
      V.rankTopK(joined, "q_id", "c_id", 3)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    // ---------------- learned-centroid IVF (k-means) -----------------
    "sim_ivf_kmeans" -> ((s, dir) => {
      // Lloyd iterations learn the coarse quantizer (deterministic:
      // lowest-id seeds, decimal mean sums, cid tie-breaks), then probe
      // only the query's learned cell
      V.kmeansIvfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 10, k = 3, clusters = 4, iters = 2)
    }),

    "sim_ivf_persisted" -> ((s, dir) => {
      // the operational IVF shape: train + assign ONCE into a persisted
      // index (centroids + id→cell tables; vectors never copied), then
      // answer queries from the index. Must be bit-identical to the
      // train-per-call sim_ivf_kmeans — same oracle gates both.
      val emb = t(s, dir, "embeddings")
      val idxPath = tmpPath(dir, "ivf_index")
      phase("build") {
        V.saveIvfIndex(emb, "vec_id", "embedding", idxPath, clusters = 4, iters = 2)
      }
      V.ivfTopKFromIndex(idxPath, emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 3)
    }),

    "sim_ivf_incremental" -> ((s, dir) => {
      // O(delta) IVF refresh (the daily-ingest contract): build on 2/3
      // of the corpus, merge the rest as a delta that also RE-INGESTS
      // every %10==5 vector halved (tombstone mask) and DELETES every
      // %100==97 id (null-vector retraction); delta rows assign against
      // the FROZEN base centroids — no re-train. The oracle replays
      // Lloyd over the base slice only, then one fresh assignment of
      // the latest-version corpus — which the merged live cells must
      // equal bit for bit.
      val emb = t(s, dir, "embeddings")
      val idxPath = tmpPath(dir, "ivf_inc")
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      phase("build") {
        V.saveIvfIndex(base, "vec_id", "embedding", idxPath, clusters = 4, iters = 2)
      }
      val delta = emb
        .filter(col("vec_id") % 3 === 0 || col("vec_id") % 10 === 5 ||
          col("vec_id") % 100 === 97)
        .select(col("vec_id"),
          when(col("vec_id") % 100 === 97, lit(null).cast("array<double>"))
            .when(col("vec_id") % 10 === 5,
              transform(col("embedding"), x => x.cast("double") * lit(0.5)))
            .otherwise(col("embedding").cast("array<double>")).as("embedding"))
      phase("merge") {
        V.mergeIvfDelta(delta, "vec_id", "embedding", idxPath)
      }
      // the latest-version corpus: deletes gone, re-ingests halved
      val latest = emb.filter(col("vec_id") % 100 =!= 97)
        .select(col("vec_id"),
          when(col("vec_id") % 10 === 5,
            transform(col("embedding"), x => x.cast("double") * lit(0.5)))
            .otherwise(col("embedding").cast("array<double>")).as("embedding"))
      V.ivfTopKFromIndex(idxPath, latest, "vec_id", "embedding",
        col("vec_id") < 10, k = 3)
    }),

    "vec_normalize" -> ((s, dir) => {
      // L2 normalization audit: unit norms after normalize (zero
      // vectors pass through), projected to a comparable digest
      val e = t(s, dir, "embeddings")
      val nv = V.l2normalize(col("embedding"))
      e.select(col("vec_id"),
        round(V.norm(nv), 6).as("unit_norm"),
        // + 0.0 canonicalizes -0.0 (a component rounding to zero from
        // below would otherwise print "-0.0" in one engine and "0.0"
        // in the other)
        // decimal render: Java prints doubles < 1e-3 in scientific
        // notation, DuckDB prints plain — DECIMAL(10,6) renders with a
        // fixed scale in both
        md5(array_join(transform(nv,
          x => (round(x, 6) + lit(0.0)).cast("decimal(10,6)").cast("string")), ","))
          .as("nv_md5"))
    }),

    "sim_label_centroids" -> ((s, dir) => {
      // per-label mean embedding (class centroids / prototype vectors):
      // posexplode to (label, dim, x) → DECIMAL sums per cell — the
      // shuffle carries labels × dims partial sums, never vectors;
      // deterministic under any partial-agg order
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("double").cast("decimal(30,10)")).as("s"))
        .select(col("label"), col("dim").cast("long").as("dim"),
          round(col("s").cast("double") / col("n").cast("double"), 6).as("centroid"))
    }),

    "sim_centroid_drift" -> ((s, dir) => {
      // embedding drift monitor: per label, cosine between the class
      // centroid of an "old" snapshot (even vec_id) and a "new" one
      // (odd) — the health check behind re-train/re-cluster decisions
      // (ANN centroids and quantizers go stale when this drops).
      // Centroids via decimal cell sums (order-free); the cosine folds
      // over DIM-SORTED centroid arrays so every double op has one
      // order on both engines; n_old/n_new carried for substance.
      val e = t(s, dir, "embeddings")
      def cent(f: Column, cn: String, nn: String) = e.filter(f)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as(nn),
          sum(col("x").cast("double").cast("decimal(30,10)")).as("s"))
        .select(col("label"), col("dim"), col(nn),
          round(col("s").cast("double") / col(nn).cast("double"), 6).as(cn))
      val j = cent(col("vec_id") % 2 === 0, "co", "n_old")
        .join(cent(col("vec_id") % 2 === 1, "cn", "n_new"), Seq("label", "dim"))
        .groupBy("label")
        .agg(max("n_old").cast("long").as("n_old"),
          max("n_new").cast("long").as("n_new"),
          sort_array(collect_list(struct(col("dim"), col("co"), col("cn"))))
            .as("__v"))
      def fsum(f: Column => Column) =
        aggregate(col("__v"), lit(0.0), (acc, x) => acc + f(x))
      val (sxy, sxx, syy) = (
        fsum(x => x.getField("co") * x.getField("cn")),
        fsum(x => x.getField("co") * x.getField("co")),
        fsum(x => x.getField("cn") * x.getField("cn")))
      j.select(col("label").cast("long").as("label"),
        col("n_old"), col("n_new"),
        round(sxy / (sqrt(sxx) * sqrt(syy)), 6).as("drift_cos"))
    }),

    "sim_hard_negatives" -> ((s, dir) => {
      // contrastive-training hard-negative mining: per query, the top-3
      // highest-cosine vectors with a DIFFERENT label — the negatives
      // that actually teach a contrastive model. Query side broadcast,
      // bounded top-k ranking; same shuffle shape as brute-force ANN.
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("label").as("c_label"))
      val joined = c.join(broadcast(q),
          col("q_id") =!= col("c_id") && col("q_label") =!= col("c_label"))
        .withColumn("score", V.cosine(col("q_vec"), col("c_vec")))
      V.rankTopK(joined, "q_id", "c_id", 3)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    "sim_pq_recall" -> ((s, dir) => {
      // product-quantization ANN (ADC + exact re-rank) recall contract:
      // PQ top-10 must recover ≥3 of the exact cosine top-10 per query —
      // clearly above the ~2 hypergeometric chance line for a 20%
      // shortlist. The oracle pins the query set and the contract
      // outcome; OperatorsSpec asserts tighter recall on structured data.
      // L2-normalize first: ADC is an L2-metric index, and on normalized
      // vectors L2 ordering ≡ cosine ordering, so the PQ shortlist is
      // hunting the same neighbors the exact cosine ranking defines
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), V.l2normalize(col("embedding")).as("embedding"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      // codebooks train on a deterministic 40% hash-sample — at 100 TB
      // Lloyd's never sees the full corpus; encode/search still cover
      // every vector
      // Lloyd's collects per iteration, so training is eager — report
      // it as construction, same as the persisted-index variants
      val books = phase("build") {
        V.pqCodebooks(emb.filter(col("vec_id") % 5 < 2),
          "vec_id", "embedding", m = 4, dim = 64, ksub = 16, iters = 2)
      }
      // the harness embeddings are near-random (label-agnostic, cosine
      // concentrated around 0) — the adversarial case for ANY lossy ANN
      // index, so the shortlist is sized as a corpus fraction (20%) and
      // the bar is "clearly above the hypergeometric chance line", not
      // the ~0.9 recall a clustered real-embedding corpus would give.
      // Corpus size comes from parquet footers (catalog stats), NOT a
      // count() action: at 100 TB that count would be a pointless full
      // scan inside query construction
      val corpusRows = graft.sources.ParquetMeta.rowCount(s, s"$dir/embeddings.parquet")
      val shortlist = math.max(50L, corpusRows / 5).toInt
      val pq = V.pqTopK(queries, corpus, "q_id", "c_id", "q_vec", "c_vec",
        books, m = 4, dim = 64, k = 10, shortlist = shortlist)
      val exact = verified(V.bruteForceTopK(queries, corpus, "q_id", "c_id",
        "q_vec", "c_vec", k = 10).select("q_id", "c_id"))
      val hits = pq.select("q_id", "c_id")
        .join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      queries.select("q_id").join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          (coalesce(col("n_hit"), lit(0L)) >= 3).as("recall_ok"))
    }),

    "sim_pq_persisted" -> ((s, dir) => {
      // PQ as an operational index: codebooks + packed per-vector codes
      // persisted ONCE (savePqIndex — m ints per vector, floats never
      // copied), queries answered from the stored codes. Must reproduce
      // the train-per-call sim_pq_recall contract exactly — same
      // training sample, same shortlist, same oracle gates both.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), V.l2normalize(col("embedding")).as("embedding"))
      val idxPath = tmpPath(dir, "pq_index")
      phase("build") {
        V.savePqIndex(emb, "vec_id", "embedding", idxPath,
          m = 4, dim = 64, ksub = 16, iters = 2,
          trainFilter = col("vec_id") % 5 < 2)
      }
      val corpusRows = graft.sources.ParquetMeta.rowCount(s, s"$dir/embeddings.parquet")
      val shortlist = math.max(50L, corpusRows / 5).toInt
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val pq = V.pqTopKFromIndex(idxPath, emb, "vec_id", "embedding",
        col("vec_id") % 100 === 0, m = 4, dim = 64, k = 10, shortlist = shortlist)
      val exact = verified(V.bruteForceTopK(queries, corpus, "q_id", "c_id",
        "q_vec", "c_vec", k = 10).select("q_id", "c_id"))
      val hits = pq.select("q_id", "c_id")
        .join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      queries.select("q_id").join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          (coalesce(col("n_hit"), lit(0L)) >= 3).as("recall_ok"))
    }),

    "sim_pq_incremental" -> ((s, dir) => {
      // O(delta) PQ refresh: codebooks train ONCE on the base slice;
      // the delta (new %3==0 ids, %10==5 re-ingests, %100==97
      // null-vector deletes) encodes against the FROZEN codebooks and
      // lands as a code segment with tombstones. Two gates in one
      // output, both oracle-pinned TRUE: `codes_match` — the live codes
      // are bit-identical to re-encoding the whole latest corpus under
      // the frozen codebooks (set equality via a paired groupBy count);
      // `recall_ok` — the merged index still meets the sim_pq_recall
      // shortlist contract against exact cosine over the latest corpus.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), V.l2normalize(col("embedding")).as("embedding"))
      val idxPath = tmpPath(dir, "pq_inc")
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      phase("build") {
        V.savePqIndex(base, "vec_id", "embedding", idxPath,
          m = 4, dim = 64, ksub = 16, iters = 2,
          trainFilter = col("vec_id") % 5 < 2)
      }
      // l2normalize makes scaling invisible, so re-ingests keep their
      // vectors (tombstone-mask exercise) and deletes carry null
      val delta = emb
        .filter(col("vec_id") % 3 === 0 || col("vec_id") % 10 === 5 ||
          col("vec_id") % 100 === 97)
        .select(col("vec_id"),
          when(col("vec_id") % 100 === 97, lit(null).cast("array<double>"))
            .otherwise(col("embedding")).as("embedding"))
      phase("merge") {
        V.mergePqDelta(delta, "vec_id", "embedding", idxPath, m = 4, dim = 64)
      }
      val latest = emb.filter(col("vec_id") % 100 =!= 97)
      val books = s.read.parquet(s"$idxPath/codebooks")
      val live = V.pqCodes(s, idxPath).select(col("id"), col("codes"))
      val full = V.pqEncodePacked(latest, "vec_id", "embedding", books, 4, 64)
        .select(col("vec_id").as("id"), col("codes"))
      // ids are unique per side, so set equality ⇔ every (id, codes)
      // pair appears exactly twice in the two-sided union
      val mism = verified(live.unionByName(full)
        .groupBy("id", "codes").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2)
        .agg(count(lit(1)).as("n_mismatch")))
      val corpusRows = graft.sources.ParquetMeta.rowCount(s, s"$dir/embeddings.parquet")
      val shortlist = math.max(50L, corpusRows / 5).toInt
      val queries = latest.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = latest.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val pq = V.pqTopKFromIndex(idxPath, latest, "vec_id", "embedding",
        col("vec_id") % 100 === 0, m = 4, dim = 64, k = 10, shortlist = shortlist)
      val exact = verified(V.bruteForceTopK(queries, corpus, "q_id", "c_id",
        "q_vec", "c_vec", k = 10).select("q_id", "c_id"))
      val hits = pq.select("q_id", "c_id")
        .join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      queries.select("q_id").join(hits, Seq("q_id"), "left")
        .crossJoin(broadcast(mism))
        .select(col("q_id"),
          (coalesce(col("n_hit"), lit(0L)) >= 3).as("recall_ok"),
          (col("n_mismatch") === 0L).as("codes_match"))
    }),

    "sim_ivfpq_recall" -> ((s, dir) => {
      // IVFADC (Jégou et al.) — coarse cells + product-quantized
      // RESIDUALS, the billion-scale ANN layout: probing nprobe=2 of 4
      // cells scans HALF the corpus as m-byte codes (one residual ADC
      // table per (query, probed cell), broadcast; the code stream
      // never shuffles), then an exact re-rank on the shortlist. On
      // the near-random harness embeddings the recall contract is the
      // in-pool overlap bar (see sim_pq_recall's sizing note): ≥2 of
      // the exact top-10 — above the chance line for a half-corpus
      // pool with a 20% shortlist.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), V.l2normalize(col("embedding")).as("embedding"))
      val idxPath = tmpPath(dir, "ivfpq_idx")
      phase("build") {
        V.saveIvfPqIndex(emb, "vec_id", "embedding", idxPath,
          clusters = 4, citers = 2, m = 4, dim = 64, ksub = 16, piters = 2,
          trainFilter = col("vec_id") % 5 < 2)
      }
      val corpusRows = graft.sources.ParquetMeta.rowCount(s, s"$dir/embeddings.parquet")
      val shortlist = math.max(50L, corpusRows / 5).toInt
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val pq = V.ivfPqTopKFromIndex(idxPath, emb, "vec_id", "embedding",
        col("vec_id") % 100 === 0, m = 4, dim = 64, k = 10,
        shortlist = shortlist, nprobe = 2)
      val exact = verified(V.bruteForceTopK(queries, corpus, "q_id", "c_id",
        "q_vec", "c_vec", k = 10).select("q_id", "c_id"))
      val hits = pq.select("q_id", "c_id")
        .join(exact, Seq("q_id", "c_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      queries.select("q_id").join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          (coalesce(col("n_hit"), lit(0L)) >= 2).as("recall_ok"))
    }),

    "sim_ivfpq_incremental" -> ((s, dir) => {
      // O(delta) IVF-PQ refresh: the delta (new %3==0 ids, %10==5
      // re-ingests, %100==97 null-vector deletes) assigns to the
      // FROZEN coarse centroids and residual-encodes against the
      // FROZEN codebooks. Gate: the live (id, cell, codes) rows are
      // bit-identical to one fresh frozen-parameter pass over the
      // latest corpus — the paired-count set equality of
      // sim_pq_incremental, oracle-pinned TRUE per query id.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), V.l2normalize(col("embedding")).as("embedding"))
      val idxPath = tmpPath(dir, "ivfpq_inc")
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      phase("build") {
        V.saveIvfPqIndex(base, "vec_id", "embedding", idxPath,
          clusters = 4, citers = 2, m = 4, dim = 64, ksub = 16, piters = 2,
          trainFilter = col("vec_id") % 5 < 2)
      }
      val delta = emb
        .filter(col("vec_id") % 3 === 0 || col("vec_id") % 10 === 5 ||
          col("vec_id") % 100 === 97)
        .select(col("vec_id"),
          when(col("vec_id") % 100 === 97, lit(null).cast("array<double>"))
            .otherwise(col("embedding")).as("embedding"))
      phase("merge") {
        V.mergeIvfPqDelta(delta, "vec_id", "embedding", idxPath, m = 4, dim = 64)
      }
      val latest = emb.filter(col("vec_id") % 100 =!= 97)
      val cents = s.read.parquet(s"$idxPath/centroids")
      val books = s.read.parquet(s"$idxPath/codebooks")
      // assign + residual + encode are per-row projections (r13
      // NearestCellExpr / PqCodesExpr) and the cell rides the encode
      // projection — one pass, no join-back, nothing left to persist
      val res = V.kmeansAssign(latest, "vec_id", "embedding", cents)
        .join(broadcast(cents), Seq("cid"))
        .withColumn("__res", zip_with(col("embedding").cast("array<double>"),
          col("centroid"), (a, b) => a - b))
        .select(col("vec_id"), col("cid").as("cell"), col("__res"))
      val full = V.pqEncodePacked(res, "vec_id", "__res", books, 4, 64,
          keep = Seq("cell"))
        .select(col("vec_id").as("id"), col("cell"), col("codes"))
      val live = graft.functions.SegmentedIndex.liveRows(s, idxPath, "codes")
        .select(col("id"), col("cell"), col("codes"))
      val mism = verified(live.unionByName(full)
        .groupBy("id", "cell", "codes").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2)
        .agg(count(lit(1)).as("n_mismatch")))
      latest.filter(col("vec_id") % 100 === 0).select(col("vec_id").as("q_id"))
        .crossJoin(broadcast(mism))
        .select(col("q_id"), (col("n_mismatch") === 0L).as("codes_match"))
    }),

    // ---------------- CNA matrix lifecycle ---------------------------
    "cna_melt_merge" -> ((s, dir) => {
      // wide matrix → melt → A7 merge → long form (graft.formats.CnaFormat)
      val wide = t(s, dir, "documents")
        .groupBy(col("lang").as("Hugo_Symbol"))
        .pivot("source", (0 until 20).map(i => s"src$i"))
        .count()
      val merged = graft.formats.CnaFormat.mergeDuplicateGenes(
        graft.formats.CnaFormat.melt(wide))
      merged.select(col("HUGO_SYMBOL").as("hugo_symbol"),
        col("SAMPLE_ID").as("sample_id"), col("VALUE").cast("long").as("value"))
    }),

    // ---------------- BED gene remap (90% rule) ----------------------
    "bed_remap_90pct" -> ((s, dir) => {
      val genes = t(s, dir, "part").groupBy("p_brand")
        .agg(min("p_retailprice").cast("long").as("START_POSITION"),
          max("p_retailprice").cast("long").as("END_POSITION"))
        .select(lit("1").as("CHROMOSOME"), col("START_POSITION"), col("END_POSITION"),
          col("p_brand").as("HUGO_SYMBOL"))
      val regions = t(s, dir, "lineitem").filter(col("l_orderkey") % 50 === 0)
        .select(lit("1").as("CHROMOSOME"),
          (col("l_extendedprice") / greatest(col("l_quantity"), lit(1.0))).cast("long").as("START_POSITION"))
        .withColumn("END_POSITION", col("START_POSITION") + 50)
        .withColumn("HUGO_SYMBOL", lit("submitted"))
        .distinct()
      graft.operators.BedRemap.remap(regions, genes)
        .groupBy(col("IN_GENE"), col("HUGO_SYMBOL").as("hugo_symbol"))
        .agg(count(lit(1)).as("n_regions"))
    }),

    // ---------------- multimodal plumbing ----------------------------
    "mm_binary_meta" -> ((s, dir) => {
      // opaque binary column + deterministic fake decode (see
      // graft.multimodal — the real decode is stubbed, the plumbing real)
      t(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          (octet_length(col("payload")) % 64 + 1).as("fake_width"),
          (octet_length(col("payload")) % 7 + 1).as("fake_frames"))
    }),

    "mm_video_keyframes" -> ((s, dir) => {
      // TRUE-video keyframe byte-range index: real ISO-BMFF payloads
      // (Mp4Fixture: per-sample stsz, two-chunk stsc/stco, odd-sample
      // stss) synthesized per doc, parsed back by the stss/stsz/stsc/
      // stco walk (Multimodal.Mp4Meta.keyframes). rel_offset = offset −
      // data start, which the oracle replays as the cumulative sizes of
      // the preceding samples. Payloads never shuffle (mapPartitions);
      // only the small index rows do.
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 5 + 4).toInt
            val sizes = (0 until n).map(j => 10 + ((id + j) % 4).toInt)
            (id, graft.multimodal.Mp4Fixture.build(
              sizes, chunkSplit = 3, syncSamples = 1 to n by 2,
              width = 64, height = 48, seed = id))
          }
        }.toDF("doc_id", "payload")
      val idx = graft.multimodal.Multimodal
        .videoKeyframes(payloads, "doc_id", "payload").toDF()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      idx.select(col("id").as("doc_id"),
        col("sample").cast("long").as("sample"),
        (col("offset") - min("offset").over(w)).as("rel_offset"),
        col("n_bytes"))
    }),

    "mm_video_keyframes_frag" -> ((s, dir) => {
      // FRAGMENTED (streaming-origin) mp4: sync samples live in per-
      // fragment trun flags, offsets resolve from the moof base — the
      // common crawl shape a progressive-only walk returns empty for.
      // Two fragments per doc, odd samples sync within each, numbering
      // global. The oracle replays sizes AND offsets from the fixture's
      // deterministic layout (moof length = 76 + 8n for the
      // per-sample-flags style, so inter-fragment gaps are computable).
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n1 = (id % 3 + 2).toInt
            val n2 = (id % 2 + 2).toInt
            val s1 = (0 until n1).map(j => 10 + ((id + j) % 4).toInt)
            val s2 = (0 until n2).map(j => 10 + ((id + n1 + j) % 4).toInt)
            (id, graft.multimodal.Mp4Fixture.buildFragmented(
              Seq((s1, 1 to n1 by 2), (s2, 1 to n2 by 2)),
              width = 64, height = 48, seed = id))
          }
        }.toDF("doc_id", "payload")
      val idx = graft.multimodal.Multimodal
        .videoKeyframes(payloads, "doc_id", "payload").toDF()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      idx.select(col("id").as("doc_id"),
        col("sample").cast("long").as("sample"),
        (col("offset") - min("offset").over(w)).as("rel_offset"),
        col("n_bytes"))
    }),

    "mm_frame_features" -> ((s, dir) => {
      // END-TO-END external-decoder run over the pipe seam: real mp4
      // payloads (Mp4Fixture, same construction as mm_video_keyframes),
      // keyframe byte slices piped to a REAL subprocess (awk reports
      // each frame's decoded byte length from its base64 line), features
      // consumed back as columns — StubCodec is bypassed because a
      // decoder command is configured. Payloads never shuffle; the
      // oracle replays the per-keyframe slice lengths from the box math.
      import s.implicits._
      val script = new java.io.File(graft.core.GraftSession.scratch("frame_decoder.sh"))
      val w = new java.io.PrintWriter(script)
      // decoded length from the base64 line: 3·len/4 minus '=' padding
      try w.println(
        """exec awk -F'\t' '{ b=$3; p=0
          |  if (b ~ /==$/) p=2; else if (b ~ /=$/) p=1
          |  printf "%s\t%s\t%d\n", $1, $2, length(b)/4*3-p }'""".stripMargin)
      finally w.close()
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (id % 5 + 4).toInt
            val sizes = (0 until n).map(j => 10 + ((id + j) % 4).toInt)
            (id, graft.multimodal.Mp4Fixture.build(
              sizes, chunkSplit = 3, syncSamples = 1 to n by 2,
              width = 64, height = 48, seed = id))
          }
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFrameFeatures(
        payloads, "doc_id", "payload",
        decoderCommand = Some(Seq("/bin/sh", script.getAbsolutePath)), stride = 2)
        .select(col("id").as("doc_id"), col("sample").cast("long").as("sample"),
          col("feature").getItem(0).cast("long").as("frame_bytes"))
    }),

    "mm_image_phash" -> ((s, dir) => {
      // REAL image decode → perceptual hash: deterministic 16×16 PNGs
      // (ImageFixture — gray RGB so integer luma round-trips exactly),
      // encoded AND decoded through javax.imageio, hashed by the 8×8
      // integer aHash (ImageCodec.aHash64). Output as two unsigned
      // 32-bit words so the oracle's bit arithmetic never touches the
      // sign bit. Payloads never shuffle; only (id, hash) rows do.
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        // spread the ids before the encode/decode chain: the documents
        // table is one small parquet split, and PNG codec work would
        // otherwise run on a single core (at real scale the blobs
        // arrive pre-split via files.maxPartitionBytes)
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(it => it.map(id => (id, graft.multimodal.ImageFixture.build(id))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imagePHashes(payloads, "doc_id", "payload")
        .select(col("doc_id"),
          shiftrightunsigned(col("phash"), 32).as("hash_hi"),
          col("phash").bitwiseAND(lit(0xffffffffL)).as("hash_lo"))
    }),

    "mm_image_neardup" -> ((s, dir) => {
      // image near-dup end-to-end: fixture PNGs → real decode → aHash →
      // 4×16-bit banded candidates (occupancy-capped) → exact popcount
      // verify at Hamming ≤ 10. Odd ids are tiny perturbations of their
      // even partner (ImageFixture.flipPositions) and bases repeat mod
      // 251 (identical-boilerplate clusters), so true pairs surface;
      // unrelated bases sit ~32 bits apart and are rejected. The oracle
      // replays the whole chain — pixels, cells, hash words, band keys,
      // popcount — in closed form.
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        // spread the ids before the encode/decode chain: the documents
        // table is one small parquet split, and PNG codec work would
        // otherwise run on a single core (at real scale the blobs
        // arrive pre-split via files.maxPartitionBytes)
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(it => it.map(id => (id, graft.multimodal.ImageFixture.build(id))))
        .toDF("doc_id", "payload")
      val hashes = graft.multimodal.Multimodal.imagePHashes(payloads, "doc_id", "payload")
      graft.multimodal.Multimodal.hammingNearDup(hashes, "doc_id", "phash",
        maxHamming = 10, maxBucket = 10000)
    }),

    "mm_phash_index_probe" -> ((s, dir) => {
      // persisted perceptual-hash index LIFECYCLE: build over the
      // even-id corpus, delete every even%10==0 id via a null-payload
      // delta (the engine-wide deletion contract — undecodable payload
      // ⇒ tombstone, nothing re-ingested), then probe the odd-id
      // incoming batch. Matches surface only against LIVE index rows;
      // probe time reads 9-byte index rows, never corpus payloads.
      import s.implicits._
      val M = graft.multimodal.Multimodal
      val path = tmpPath(dir, "phidx") + "/index"
      val ids = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
      def payloads(d: org.apache.spark.sql.Dataset[Long]) = d
        .mapPartitions(it => it.map(id => (id, graft.multimodal.ImageFixture.build(id))))
        .toDF("doc_id", "payload")
      phase("build") {
        M.savePHashIndex(
          M.imagePHashes(payloads(ids.filter(_ % 2 == 0)), "doc_id", "payload"),
          "doc_id", "phash", path)
      }
      val delIds = ids.filter(id => id % 2 == 0 && id % 10 == 0).toDF("doc_id")
      val deadHashes = M.imagePHashes(
        delIds.withColumn("payload", lit(null).cast("binary")), "doc_id", "payload")
      phase("merge") {
        M.mergePHashDelta(delIds, deadHashes, "doc_id", "phash", path)
      }
      M.probePHashIndex(path,
        M.imagePHashes(payloads(ids.filter(_ % 2 == 1)), "doc_id", "payload"),
        "doc_id", "phash", maxHamming = 10, maxBucket = 10000)
    }),

    "mm_image_dedup_keep" -> ((s, dir) => {
      // pairs → DECISION: greedy min-id image dedup — any image with a
      // smaller-id near-dup neighbor is dropped (one anti-join pass
      // over the pair stream, no transitive closure; the CC clustering
      // variant exists for text near-dups). The keeper set is what a
      // curation pipeline persists.
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(it => it.map(id => (id, graft.multimodal.ImageFixture.build(id))))
        .toDF("doc_id", "payload")
      val hashes = graft.multimodal.Multimodal.imagePHashes(payloads, "doc_id", "payload")
      val pairs = graft.multimodal.Multimodal.hammingNearDup(hashes, "doc_id", "phash",
        maxHamming = 10, maxBucket = 10000)
      t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
        .join(pairs.select(col("b_id").as("doc_id")), Seq("doc_id"), "left_anti")
    }),

    "mm_audio_fingerprint" -> ((s, dir) => {
      // REAL audio decode → fingerprint: deterministic mono PCM16 WAVs
      // (AudioFixture), decoded through javax.sound.sampled, hashed by
      // the 64-window amplitude fingerprint (AudioCodec.fingerprint64).
      // Same unsigned-word output contract as mm_image_phash.
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(it => it.map(id => (id, graft.multimodal.AudioFixture.build(id))))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(payloads, "doc_id", "payload")
        .select(col("doc_id"),
          shiftrightunsigned(col("afp"), 32).as("hash_hi"),
          col("afp").bitwiseAND(lit(0xffffffffL)).as("hash_lo"))
    }),

    "mm_audio_neardup" -> ((s, dir) => {
      // audio near-dup end-to-end: WAV fixtures → real PCM decode →
      // fingerprint → the SAME banded-Hamming machinery as images
      // (hammingNearDup is hash-type agnostic). Odd ids carry a +100
      // amplitude watermark on a few windows of their even partner;
      // the oracle replays samples → window means → hash words → band
      // keys → popcount in closed form.
      import s.implicits._
      val payloads = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(it => it.map(id => (id, graft.multimodal.AudioFixture.build(id))))
        .toDF("doc_id", "payload")
      val hashes = graft.multimodal.Multimodal.audioFingerprints(payloads, "doc_id", "payload")
      graft.multimodal.Multimodal.hammingNearDup(hashes, "doc_id", "afp",
        maxHamming = 10, maxBucket = 10000)
    }),

    "mm_frame_sample" -> ((s, dir) => {
      // real decodeMeta (mapPartitions, stub path for opaque payloads)
      // feeding the stride-2 frame-sampling plan — the index math the
      // VideoCodec frame extractor consumes
      val meta = graft.multimodal.Multimodal.decodeMeta(
        t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")
      graft.multimodal.Multimodal.frameSamplePlan(meta, stride = 2)
        .select(col("id").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
    }),

    // ---------------- S4/P20: VCF reader round-trip ------------------
    "s4_p20_vcf_roundtrip" -> ((s, dir) => {
      // VCF-shaped file (header line starts with #CHROM), written then
      // read back via Vcf.read: REF/ALT keep NA literals, other columns
      // NA-normalize, sample-column nulls + whitespace smells counted
      val refA = array(lit("NA"), lit("A"), lit("T"), lit("GG"))
      val altA = array(lit("nan"), lit("C"), lit("G"), lit("-"))
      val vcfLike = t(s, dir, "documents").select(
        ((col("doc_id") % 22) + 1).cast("string").as("CHROM_"),
        (col("doc_id") * 7 % 100000).cast("string").as("POS"),
        concat(lit("rs"), col("doc_id")).as("ID"),
        element_at(refA, (col("doc_id") % 4 + 1).cast("int")).as("REF"),
        element_at(altA, (col("doc_id") % 4 + 1).cast("int")).as("ALT"),
        lit(".").as("QUAL"),
        when(col("doc_id") % 5 === 0, lit("NA")).otherwise(lit("PASS")).as("FILTER"),
        when(col("doc_id") % 9 === 0, lit("DP 4")).otherwise(lit("DP=4")).as("INFO"),
        lit("GT:AD").as("FORMAT"),
        when(col("doc_id") % 6 === 0, lit(null).cast("string")).otherwise(lit("0/1:10")).as("TUMOR"))
      val tmp = tmpPath(dir, "s4")
      // body headerless (the csv writer would quote a '#'-leading header
      // cell); the ##meta + #CHROM header lines go in a sibling file,
      // exactly the layout Vcf.headerColumns scans for
      vcfLike.write.option("sep", "\t").option("header", "false")
        .option("emptyValue", "").mode("overwrite").csv(tmp)
      val headerLine = ("#CHROM" +: vcfLike.columns.drop(1).toSeq).mkString("\t")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/header.vcf"),
        s"##fileformat=VCFv4.2\n$headerLine\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val back = graft.sources.Vcf.read(s, tmp)
      val anySpace = back.columns.map(c => coalesce(col(c).contains(" "), lit(false))).reduce(_ || _)
      val reqPresent = graft.sources.Vcf.requiredHeaders
        .count(h => back.columns.contains(h.stripPrefix("#")))
      back.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("REF") === "NA", 1L).otherwise(0L)).as("n_ref_na"),
        sum(when(col("ALT") === "nan", 1L).otherwise(0L)).as("n_alt_nan"),
        sum(when(col("FILTER").isNull, 1L).otherwise(0L)).as("n_filter_null"),
        sum(when(col("TUMOR").isNull, 1L).otherwise(0L)).as("n_sample_missing"),
        sum(when(anySpace, 1L).otherwise(0L)).as("n_ws_rows"))
        .withColumn("n_req_present", lit(reqPresent.toLong))
    }),

    // ---------------- S5/C3/C4: BED reader round-trip ----------------
    "s5_bed_readback" -> ((s, dir) => {
      // headerless BED: chr-prefix strip + symbol cleanup on read-back
      val bedLike = t(s, dir, "part").select(
        concat(when(col("p_partkey") % 3 === 0, lit("chr")).otherwise(lit("")),
          ((col("p_partkey") % 22) + 1).cast("string")).as("c1"),
        (col("p_partkey") * 13 % 1000000).cast("string").as("c2"),
        ((col("p_partkey") * 13 % 1000000) + 120).cast("string").as("c3"),
        concat(col("p_brand"),
          when(col("p_partkey") % 7 === 0, lit(";ALT")).otherwise(lit(""))).as("c4"),
        when(col("p_partkey") % 2 === 0, lit("true")).otherwise(lit("false")).as("c5"))
      val tmp = tmpPath(dir, "s5")
      bedLike.write.option("sep", "\t").option("header", "false").mode("overwrite").csv(tmp)
      val back = graft.sources.Bed.read(s, tmp)
      back.groupBy(col("CHROMOSOME").as("chromosome"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("INCLUDE_IN_PANEL"), 1L).otherwise(0L)).as("n_in_panel"),
          countDistinct(graft.sources.Bed.cleanSymbol(col("HUGO_SYMBOL"))).as("n_symbols"),
          sum(col("END_POSITION") - col("START_POSITION")).as("span_sum"))
    }),

    // ---------------- S6: assay YAML explode -------------------------
    "s6_assay_yaml" -> ((s, dir) => {
      // YAML built driver-side from the nation table (configs are KBs),
      // parsed to one row per (pipeline, assay); ;-join on export
      val nations = t(s, dir, "nation").select("n_name", "n_nationkey").collect()
        .map(r => (r.getString(0), r.getAs[Number](1).longValue)).sortBy(_._1)
      val yaml = nations.map { case (name, key) =>
        s"""$name-P1:
           |  library_selection: Hybrid Selection
           |  platform: Illumina
           |  read_length: ${100 + key}
           |  assay_specific_info:
           |    - SEQ_ASSAY_ID: $name-A1
           |      number_of_genes: ${10 * key}
           |      alteration_types: [snv, small_indels]
           |""".stripMargin
      }.mkString("\n")
      val df = graft.sources.Assay.exportView(graft.sources.Assay.parse(s, yaml))
      df.select(col("SEQ_ASSAY_ID").as("seq_assay_id"),
        col("SEQ_PIPELINE_ID").as("pipeline_id"),
        col("READ_LENGTH").cast("long").as("read_length"),
        col("NUMBER_OF_GENES").cast("long").as("n_genes"),
        col("GENE_PADDING").cast("long").as("gene_padding"),
        col("ALTERATION_TYPES").as("alteration_types"))
    }),

    // ---------------- S7/S8: CSV scan parameterizations --------------
    "s7_s8_csv_variants" -> ((s, dir) => {
      // S7: comma CSV (mutationsInCis shape); S8: headerless 1-col list
      val cis = t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("KEY"), col("o_totalprice").as("VAL"))
      val tmpA = tmpPath(dir, "s7")
      graft.sources.Tsv.write(cis, tmpA, sep = ",")
      val backA = graft.sources.Tsv.readAllString(s, tmpA, sep = ",")
      val retr = t(s, dir, "customer").filter(col("c_custkey") % 100 === 0).select("c_name")
      val tmpB = tmpPath(dir, "s8")
      retr.write.option("header", "false").mode("overwrite").csv(tmpB)
      val backB = s.read.option("header", "false").option("nullValue", "").csv(tmpB)
        .toDF("RETRACTED_ID")
      backA.agg(
          count(lit(1)).as("n_cis"),
          dsum(col("VAL").cast("double")).as("sum_val"))
        .crossJoin(backB.agg(count(lit(1)).as("n_retracted"),
          min(col("RETRACTED_ID")).as("first_retracted")))
    }),

    // ---------------- S13: cBioPortal clinical header sink -----------
    "s13_cbio_clinical_sink" -> ((s, dir) => {
      import graft.sources.CbioSinks
      val clin = t(s, dir, "customer").filter(col("c_custkey") % 50 === 0)
        .select(col("c_name").as("SAMPLE_ID"), col("c_mktsegment").as("CANCER_TYPE"))
      val outFile = tmpPath(dir, "s13") + "/data_clinical_sample.txt"
      CbioSinks.writeClinical(clin.orderBy("SAMPLE_ID"),
        Map("SAMPLE_ID" -> CbioSinks.ClinicalHeader("Sample ID", "Sample identifier", "STRING", 1)),
        outFile)
      val nMeta = s.read.text(outFile).filter(col("value").startsWith("#")).count()
      graft.sources.Tsv.readAllString(s, outFile)
        .agg(count(lit(1)).as("n_data_rows"),
          countDistinct(col("CANCER_TYPE")).as("n_segments"),
          min(col("SAMPLE_ID")).as("first_sample"))
        .withColumn("n_meta_lines", lit(nMeta))
    }),

    "s16_layout_roundtrip" -> ((s, dir) => {
      // write events hive-partitioned by type + ts-sorted, read back
      // through partition pruning, aggregate one pruned partition. The
      // layout (partition dirs + row-group sort) is what's under test.
      import graft.sources.Layout
      val out = tmpPath(dir, "s16")
      Layout.writePartitioned(
        events(s, dir).select("event_id", "user_id", "event_type", "ts_ms"),
        out, Seq("event_type"), Seq("ts_ms"))
      Layout.read(s, out)
        .filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ts_ms")).as("first_ms"), max(col("ts_ms")).as("last_ms"))
    }),

    "s18_zorder_scan" -> ((s, dir) => {
      // Z-order-clustered layout: events written range-partitioned by
      // the Morton key of (user_id, value-bucket), then a 2-D range
      // predicate aggregates over the clustered files. Every file covers
      // a compact 2-D tile, so parquet min/max stats skip on BOTH
      // columns (LayoutSpec proves the row-group skipping); the query
      // gates the key math + layout round-trip end to end.
      import graft.sources.Layout
      val out = tmpPath(dir, "s18")
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          floor(col("value") * 10).cast("long").as("vbucket"))
      Layout.writeZOrdered(e, out, "user_id", "vbucket", nFiles = 8)
      Layout.read(s, out)
        .filter(col("user_id").between(100, 2000) && col("vbucket").between(2, 7))
        .agg(count(lit(1)).as("n"), min("event_id").as("min_event"),
          max("event_id").as("max_event"),
          dsum(col("value"), 6).as("sum_value"))
    }),

    "s19_bloom_scan" -> ((s, dir) => {
      // bloom-filter layout round-trip: write with parquet blooms on
      // the scattered high-cardinality user_id, point-probe one user.
      // At 100 TB the bloom skips the row groups min/max can't
      // (LayoutSpec measures the skipping; this gates the round-trip).
      import graft.sources.Layout
      val out = tmpPath(dir, "s19")
      Layout.writeWithBloom(
        events(s, dir).select("event_id", "user_id", "value"),
        out, Seq("user_id"))
      s.read.parquet(out).filter(col("user_id") === 100)
        .agg(count(lit(1)).as("n"),
          coalesce(dsum(col("value"), 6), lit(0.0)).as("sum_value"),
          coalesce(min("event_id"), lit(-1L)).as("min_event"))
    }),

    "zorder_key" -> ((s, dir) => {
      // the Morton key itself, oracle-replayed bit by bit in SQL
      events(s, dir).select(col("event_id"),
        graft.sources.Layout.zorderKey2(col("user_id"),
          floor(col("value") * 10).cast("long")).as("zkey"))
    }),

    // ---------------- S14: case-list sink round-trip -----------------
    "s14_case_lists" -> ((s, dir) => {
      import graft.sources.CbioSinks
      val samples = t(s, dir, "customer")
        .select(col("c_name").as("SAMPLE_ID"), col("c_mktsegment").as("CANCER_TYPE"))
      val outDir = tmpPath(dir, "s14")
      CbioSinks.writeCaseLists(samples, "CANCER_TYPE", "SAMPLE_ID", "graft_study", outDir)
      s.read.text(outDir)
        .select(col("value"), col("_metadata.file_path").as("f"))
        .filter(col("value").startsWith("case_list_ids: "))
        .select(regexp_extract(col("f"), "cases_([a-z0-9_]+)\\.txt", 1).as("slug"),
          size(split(expr("substring(value, 16)"), "\t")).cast("long").as("n_ids"))
    }),

    // ---------------- S15: gene-panel sink round-trip ----------------
    "s15_gene_panel" -> ((s, dir) => {
      import graft.sources.{Bed, CbioSinks}
      val bed = t(s, dir, "part").select(
        concat(col("p_brand"),
          when(col("p_partkey") % 7 === 0, lit(";ALT")).otherwise(lit(""))).as("HUGO_SYMBOL"),
        (col("p_partkey") % 3 =!= 0).as("INCLUDE_IN_PANEL"))
      val outDir = tmpPath(dir, "s15")
      val f = CbioSinks.writeGenePanel(Bed.panelGenes(bed), "GRAFT-PANEL1", outDir)
      s.read.text(f).filter(col("value").startsWith("gene_list: "))
        .select(lit("GRAFT-PANEL1").as("panel_id"),
          size(split(expr("substring(value, 12)"), "\t")).cast("long").as("n_genes"),
          split(expr("substring(value, 12)"), "\t").getItem(0).as("first_gene"))
    }),

    // ---------------- O2/O3: numeric-desc sort + limit 1 -------------
    "o2_o3_latest_release" -> ((s, dir) => {
      // releases sorted by numeric (major, minor) desc; newest picked
      // with limit(1) on a total order
      val rel = t(s, dir, "orders")
        .select((col("o_orderkey") % 5).as("major"), (col("o_orderkey") % 97).as("minor"))
        .distinct()
        .select(concat(col("major"), lit("."), col("minor")).as("name"),
          col("major"), col("minor"))
      rel.orderBy(col("major").cast("int").desc, col("minor").cast("int").desc)
        .limit(1)
        .select("name", "major", "minor")
    }),

    // ---------------- P7/P8/P9/P27: patient rule battery --------------
    "p_battery_patient" -> ((s, dir) => {
      // drives the REAL ClinicalFormat.patientRules through the oracle
      val d = t(s, dir, "documents").select(
        concat(lit("GENIE-C-"), lpad(col("doc_id").cast("string"), 6, "0")).as("PATIENT_ID"),
        when(col("doc_id") % 6 === 0, lit(">89"))
          .otherwise(concat(lit("19"),
            lpad((col("doc_id") % 60 + 20).cast("string"), 2, "0"))).as("YEAR_CONTACT"),
        when(col("doc_id") % 7 === 0, lit("1915"))
          .when(col("doc_id") % 11 === 0, lit("Unknown"))
          .otherwise(lit("1990")).as("YEAR_DEATH"),
        element_at(array(lit("True"), lit("False"), lit("Unknown"), lit("Not Collected")),
          (col("doc_id") % 4 + 1).cast("int")).as("DEAD"),
        element_at(array(lit("Not Applicable"), lit("500"), lit("Unknown")),
          (col("doc_id") % 3 + 1).cast("int")).as("INT_DOD"),
        when(col("doc_id") % 9 === 0, lit(">32485")).otherwise(lit("20000")).as("INT_CONTACT"),
        when(col("doc_id") % 31 === 0, lit(null).cast("string")).otherwise(lit("x")).as("COL_A"),
        when(col("doc_id") % 31 === 0, lit(null).cast("string")).otherwise(lit("y")).as("COL_B"))
      val rules = graft.formats.ClinicalFormat.patientRules("C")
        .filter(r => Set("death_after_contact", "dead_dod_consistency",
          "int_year_redaction_consistency", "int_dod_validity").contains(r.name)) :+
        RowRule("p27_empty_row", "error",
          Rules.emptyRow(Seq(col("COL_A"), col("COL_B"))), col("PATIENT_ID"), "")
      Rules.Battery.asDataFrame(d, rules)
    }),

    "p_battery_sample_class" -> ((s, dir) => {
      // drives the REAL cfDNA ⇔ SAMPLE_TYPE=8 rules (clinical.py:693-778)
      val d = t(s, dir, "documents").select(
        concat(lit("GENIE-C-"), col("doc_id").cast("string"), lit("-1")).as("SAMPLE_ID"),
        element_at(array(lit("cfDNA"), lit("Tumor"), lit("Other")),
          (col("doc_id") % 3 + 1).cast("int")).as("SAMPLE_CLASS"),
        when(col("doc_id") % 4 === 0, lit("8"))
          .when(col("doc_id") % 4 === 1, lit("2"))
          .when(col("doc_id") % 4 === 2, lit("8.0"))
          .otherwise(lit(null).cast("string")).as("SAMPLE_TYPE"))
      val rules = graft.formats.ClinicalFormat.sampleRules("C")
        .filter(r => Set("sample_class_requires_type8",
          "sample_type8_requires_class").contains(r.name))
      Rules.Battery.asDataFrame(d, rules)
    }),

    // ---------------- P28: deprecated-column finding (clinical.py:780-797)
    "p28_deprecated_check" -> ((s, dir) => {
      import s.implicits._
      // sample file WITH the deprecated SEQ_DATE column, duplicated
      // SAMPLE_IDs, and some orphan patients — exercises the three
      // schema-level clinical findings through the REAL validate()
      val sample = t(s, dir, "customer").select(
        concat(lit("S"), (col("c_custkey") % 100).cast("string")).as("SAMPLE_ID"),
        concat(lit("GENIE-C-"), col("c_custkey")).as("PATIENT_ID"),
        lit("Jan-2015").as("SEQ_DATE"))
      val patient = sample.filter(col("PATIENT_ID").substr(lit(9), lit(99)).cast("long") % 10 =!= 0)
        .select("PATIENT_ID").distinct()
      val res = graft.formats.ClinicalFormat.validate(sample, patient, "C")
      res.findings
        .filter(f => f.rule.startsWith("deprecated_col") ||
          f.rule == "duplicate_sample_id" || f.rule == "orphan_samples")
        .map(f => (f.rule, f.severity, f.count, f.message))
        .toDF("rule", "severity", "n", "message")
    }),

    // ---------------- P10: SEX vs gendered-primary conflicts ----------
    "p10_sex_primary_conflicts" -> ((s, dir) => {
      import graft.sources.Oncotree
      val tree = Oncotree.toDataFrame(s, Seq(
        Oncotree.Node("PRAD", "PROSTATE", "", "Prostate Cancer", "Prostate Adenocarcinoma"),
        Oncotree.Node("TGCT", "TESTIS", "", "Testicular Cancer", "TGCT"),
        Oncotree.Node("UCEC", "UTERUS", "", "Endometrial Cancer", "UCEC"),
        Oncotree.Node("HGSOC", "OVARY", "", "Ovarian Cancer", "HGSOC"),
        Oncotree.Node("LUAD", "LUNG", "NSCLC", "NSCLC", "LUAD")))
      val codes = array(lit("PRAD"), lit("TGCT"), lit("UCEC"), lit("HGSOC"), lit("LUAD"), lit("ZZZ"))
      val sample = t(s, dir, "customer").select(
        col("c_name").as("SAMPLE_ID"), col("c_custkey").as("PATIENT_ID"),
        element_at(codes, (col("c_custkey") % 6 + 1).cast("int")).as("ONCOTREE_CODE"))
      val patient = t(s, dir, "customer").select(col("c_custkey").as("PATIENT_ID"),
        when(col("c_custkey") % 5 === 0, lit(""))
          .otherwise((col("c_custkey") % 3).cast("string")).as("SEX"))
      sample.join(broadcast(tree.select("ONCOTREE_CODE", "PRIMARY_CODE")), Seq("ONCOTREE_CODE"))
        .join(patient, Seq("PATIENT_ID"))
        .filter(graft.formats.ClinicalFormat.sexConflict)
        .groupBy(col("PRIMARY_CODE").as("primary_code"))
        .agg(count(lit(1)).as("n_conflicts"), min(col("SAMPLE_ID")).as("example"))
    }),

    // ---------------- P13/P15/P14/P17: full MAF validate ---------------
    "p13_p15_maf_validate" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "lineitem").filter(col("l_orderkey") % 40 === 0).select(
        when(col("l_partkey") % 30 === 0, lit("23"))
          .otherwise(((col("l_partkey") % 22) + 1).cast("string")).as("CHROMOSOME"),
        col("l_orderkey").cast("string").as("START_POSITION"),
        when(col("l_linenumber") % 5 === 0, (col("l_orderkey") - 1).cast("string"))
          .otherwise((col("l_orderkey") + 100).cast("string")).as("END_POSITION"),
        element_at(array(lit("A"), lit("TT"), lit("NA"), lit("xx")),
          (col("l_linenumber") % 4 + 1).cast("int")).as("REFERENCE_ALLELE"),
        element_at(array(lit("C"), lit("GG"), lit("-"), lit("zz")),
          (col("l_suppkey") % 4 + 1).cast("int")).as("TUMOR_SEQ_ALLELE2"),
        when(col("l_suppkey") % 6 === 0, concat(lit("BAD-"), col("l_suppkey")))
          .otherwise(concat(lit("GENIE-C-"), col("l_suppkey"))).as("TUMOR_SAMPLE_BARCODE"),
        when(col("l_linenumber") % 7 === 0, lit("12x"))
          .otherwise(col("l_quantity").cast("int").cast("string")).as("T_DEPTH"),
        when(col("l_partkey") % 9 === 0, lit("NA")).otherwise(lit("30")).as("N_DEPTH"))
      val maf = graft.sources.Maf.normalizeNa(base)
      val full    = graft.formats.MafFormat.validate(maf, "C")
      val missing = graft.formats.MafFormat.validate(
        maf.drop("END_POSITION", "TUMOR_SEQ_ALLELE2"), "C")
      (full.findings.map(f => ("full", f.rule, f.severity, f.count)) ++
        missing.findings.map(f => ("missing", f.rule, f.severity, f.count)))
        .toDF("variant", "rule", "severity", "n")
    }),

    // ---------------- P21: CNA value-domain battery --------------------
    "p21_cna_values" -> ((s, dir) => {
      val long = t(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 0).select(
        concat(lit("G"), (col("l_partkey") % 50).cast("string")).as("HUGO_SYMBOL"),
        concat(lit("S"), (col("l_suppkey") % 30).cast("string")).as("SAMPLE_ID"),
        when(col("l_linenumber") % 6 === 0, lit(0.3))
          .otherwise(((col("l_linenumber") % 5) - 2).cast("double")).as("VALUE"))
      graft.formats.CnaFormat.invalidValues(long)
        .agg(count(lit(1)).as("n_invalid"),
          min(col("VALUE")).as("min_bad"),
          countDistinct(col("SAMPLE_ID")).as("n_samples"))
    }),

    // ---------------- P22: SEG battery ---------------------------------
    "p22_seg_battery" -> ((s, dir) => {
      val seg = t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0).select(
        when(col("o_custkey") % 13 === 0, concat(lit("BAD-"), col("o_custkey")))
          .otherwise(concat(lit("GENIE-C-"), col("o_custkey"))).as("ID"),
        concat(when(col("o_orderkey") % 4 === 0, lit("chr")).otherwise(lit("")),
          ((col("o_custkey") % 26) + 1).cast("string")).as("CHROM"),
        when(col("o_orderkey") % 7 === 0, lit("12.5"))
          .otherwise(col("o_orderkey").cast("string")).as("LOC.START"),
        (col("o_orderkey") + 500).cast("string").as("LOC.END"),
        when(col("o_orderkey") % 11 === 0, lit("abc")).otherwise(lit("0.25")).as("SEG.MEAN"),
        when(col("o_orderkey") % 17 === 0, lit(null).cast("string")).otherwise(lit("5")).as("NUM.MARK"))
      Rules.Battery.asDataFrame(seg, graft.formats.SegFormat.rowRules("C"))
    }),

    // ---------------- P23: assay battery --------------------------------
    "p23_assay_battery" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(
        when(col("s_suppkey") % 4 === 0, concat(lit("X-"), col("s_name")))
          .otherwise(concat(lit("C-"), col("s_name"))).as("SEQ_ASSAY_ID"),
        element_at(array(lit("Hybrid Selection"), lit("PCR"), lit("Laser Capture")),
          (col("s_suppkey") % 3 + 1).cast("int")).as("LIBRARY_SELECTION"),
        when(col("s_suppkey") % 5 === 0, lit("abc")).otherwise(lit("150")).as("READ_LENGTH"),
        when(col("s_suppkey") % 6 === 0, lit("20%")).otherwise(lit(">30%")).as("SPECIMEN_TUMOR_CELLULARITY"),
        array(lit("snv"), when(col("s_suppkey") % 7 === 0, lit("bogus"))
          .otherwise(lit("small_indels"))).as("ALTERATION_TYPES"))
      Rules.Battery.asDataFrame(sup, graft.formats.AssayFormat.rowRules("C"))
    }),

    // ---------------- C14: canonical renames + NA contract -------------
    "c14_canonical_renames" -> ((s, dir) => {
      val legacy = t(s, dir, "lineitem").filter(col("l_orderkey") % 200 === 0).select(
        ((col("l_partkey") % 22) + 1).cast("string").as("CHROM"),
        col("l_orderkey").cast("string").as("START_POS"),
        (col("l_orderkey") + 10).cast("string").as("END_POS"),
        when(col("l_linenumber") % 3 === 0, lit("NA")).otherwise(lit("AT")).as("REF"),
        lit("G").as("ALT"),
        concat(lit("GENIE-C-"), col("l_suppkey")).as("SAMPLE_ID"),
        when(col("l_linenumber") % 2 === 0, lit("NA")).otherwise(lit("p.V600E")).as("HGVSP"))
      val canon = graft.sources.Maf.normalizeNa(graft.sources.Maf.canonicalize(legacy))
      canon.groupBy(col("CHROMOSOME").as("chromosome"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("REFERENCE_ALLELE") === "NA", 1L).otherwise(0L)).as("n_ref_na"),
          sum(when(col("HGVSP").isNull, 1L).otherwise(0L)).as("n_hgvsp_null"),
          countDistinct(col("TUMOR_SAMPLE_BARCODE")).as("n_samples"))
    }),

    // ---------------- C15: oncotree JSON recursion ----------------------
    "c15_oncotree_json" -> ((s, dir) => {
      import graft.sources.Oncotree
      // JSON built driver-side from region→nation (the tree is KBs),
      // recursively flattened, level-1 nodes become PRIMARY codes
      val rows = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name").collect().map(r => (r.getString(0), r.getString(1)))
      val json = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (region, ns) =>
        val kids = ns.map(_._2).sorted.map { n =>
          s""""$n": {"code": "$n", "name": "$n node", "mainType": "ct_$region", "level": 2, "children": {}}"""
        }.mkString(",")
        s""""$region": {"code": "$region", "name": "$region node", "mainType": "ct_$region", "level": 1, "children": {$kids}}"""
      }.mkString(",")
      val full = s"""{"TISSUE": {"code": "TISSUE", "level": 0, "children": {$json}}}"""
      Oncotree.toDataFrame(s, Oncotree.parse(full))
        .select(col("ONCOTREE_CODE").as("code"), col("PRIMARY_CODE").as("primary_code"),
          col("SECONDARY_CODE").as("secondary_code"), col("CANCER_TYPE").as("cancer_type"))
    }),

    // ---------------- P24/P25/P26: cross-file anti-joins ---------------
    "p24_p25_p26_crossfile" -> ((s, dir) => {
      import graft.rules.CrossFileChecks
      val clinical = t(s, dir, "customer").select(
        col("c_name").as("SAMPLE_ID"),
        concat(lit("C_A"), (col("c_custkey") % 30).cast("string")).as("SEQ_ASSAY_ID"))
      val assay = t(s, dir, "supplier").select(
        concat(lit("C-A"), (col("s_suppkey") % 25).cast("string")).as("SEQ_ASSAY_ID"))
      val p24a = CrossFileChecks.clinicalAssayIds(clinical, assay)
      val maf = t(s, dir, "orders").filter(col("o_orderkey") % 30 === 0).select(
        concat(lit("Customer#"),
          lpad((col("o_custkey") * 2).cast("string"), 9, "0")).as("TUMOR_SAMPLE_BARCODE"))
      val p24c = CrossFileChecks.mafSampleIds(maf, clinical)
      val p25 = graft.formats.AssayFormat.missingAssayIds(assay, clinical)
      val dbVariants = t(s, dir, "lineitem").filter(col("l_orderkey") % 40 === 0).select(
        concat(lit("p.A"), (col("l_partkey") % 22).cast("string")).as("HGVSp_Short"),
        col("l_orderkey").as("Start_Position"),
        lit("A").as("Reference_Allele"),
        concat(lit("GENIE-C-"), col("l_suppkey")).as("Tumor_Sample_Barcode"),
        lit("T").as("Tumor_Seq_Allele2"))
      val resub = t(s, dir, "lineitem").filter(col("l_orderkey") % 80 === 0).select(
        concat(lit("p.A"), (col("l_partkey") % 22).cast("string")).as("HGVSp_Short"),
        (col("l_orderkey") + when(col("l_linenumber") % 3 === 0, 1).otherwise(0)).as("Start_Position"),
        lit("A").as("Reference_Allele"),
        concat(lit("GENIE-C-"), col("l_suppkey")).as("Tumor_Sample_Barcode"),
        lit("T").as("Tumor_Seq_Allele2"))
      val p26 = CrossFileChecks.unknownCisVariants(resub, dbVariants)
      p24a.agg(count(lit(1)).as("n")).select(lit("p24_clinical_assay").as("check"), col("n"))
        .unionByName(p24c.agg(count(lit(1)).as("n")).select(lit("p24_maf_samples").as("check"), col("n")))
        .unionByName(p25.agg(count(lit(1)).as("n")).select(lit("p25_db_assay").as("check"), col("n")))
        .unionByName(p26.agg(count(lit(1)).as("n")).select(lit("p26_unknown_cis").as("check"), col("n")))
    }),

    // ---------------- P29/P30/J7: process-meta joins --------------------
    "p29_p30_j7_status" -> ((s, dir) => {
      // P29: (name, md5) metadata join → skip vs revalidate;
      // J7: status × error-tracker × entity equi joins on file id;
      // P30: duplicate clinical/seg filename-pattern thresholds
      val files = t(s, dir, "part").filter(col("p_partkey") % 25 === 0).select(
        col("p_partkey").as("id"),
        concat(lit("file_"), col("p_partkey"), lit(".txt")).as("name"),
        md5(col("p_name")).as("md5"))
      val prior = files.filter(col("id") % 2 === 0)
        .withColumn("md5", when(col("id") % 6 === 0, lit("stale")).otherwise(col("md5")))
      val skip  = files.join(prior.select("name", "md5"), Seq("name", "md5"), "left_semi")
      val reval = files.join(prior.select("name", "md5"), Seq("name", "md5"), "left_anti")
      val errors = t(s, dir, "part").filter(col("p_partkey") % 175 === 0)
        .select(col("p_partkey").as("id"), lit("boom").as("error"))
      val withErr = files.join(errors, Seq("id")).join(prior.select("id"), Seq("id"))
      val uploads = t(s, dir, "part").filter(col("p_partkey") % 100 === 0).select(
        when(col("p_partkey") % 300 === 0, lit("data_clinical_supp_sample.txt"))
          .when(col("p_partkey") % 200 === 0, concat(lit("batch_"), col("p_partkey"), lit(".seg")))
          .otherwise(concat(lit("maf_"), col("p_partkey"), lit(".txt"))).as("name"))
      // P30 types each name through the upload registry and compares
      // with ProcessJob's limits, as ProcessJob.duplicatedFiles does
      import graft.formats.FileType
      val typeOf = udf((name: String) => FileType.of(name).map(_.key).orNull)
      val p30 = uploads.withColumn("__type", typeOf(col("name"))).agg(
        sum(when(col("__type").isin(FileType.ClinicalSample.key, FileType.ClinicalPatient.key), 1L)
          .otherwise(0L)).as("nc"),
        sum(when(col("__type") === FileType.Seg.key, 1L).otherwise(0L)).as("ns"))
        .select((col("nc") > graft.apps.ProcessJob.MaxClinicalFiles).cast("long").as("clinical_dup_flag"),
          (col("ns") > graft.apps.ProcessJob.MaxSegFiles).cast("long").as("seg_dup_flag"))
      skip.agg(count(lit(1)).as("n_skip"))
        .crossJoin(reval.agg(count(lit(1)).as("n_revalidate")))
        .crossJoin(withErr.agg(count(lit(1)).as("n_with_errors")))
        .crossJoin(p30)
    }),

    // ---------------- F5/F6: sample-level release filters ---------------
    "f5_f6_sample_filters" -> ((s, dir) => {
      import graft.sources.Oncotree
      val codes = array(lit("LUAD"), lit("PRAD"), lit("UCEC"), lit("ZZZ"))
      val clinical = t(s, dir, "customer").select(
        col("c_name").as("SAMPLE_ID"),
        concat(lit("C-A"), (col("c_custkey") % 30).cast("string")).as("SEQ_ASSAY_ID"),
        element_at(codes, (col("c_custkey") % 4 + 1).cast("int")).as("ONCOTREE_CODE"))
      val bedPanels = t(s, dir, "supplier")
        .select(concat(lit("C-A"), (col("s_suppkey") % 25).cast("string")).as("SEQ_ASSAY_ID"))
        .distinct()
      val f5 = clinical.join(broadcast(bedPanels), Seq("SEQ_ASSAY_ID"), "left_semi")
      val tree = Oncotree.toDataFrame(s, Seq(
        Oncotree.Node("LUAD", "LUNG", "NSCLC", "NSCLC", "LUAD"),
        Oncotree.Node("PRAD", "PROSTATE", "", "Prostate Cancer", "PRAD"),
        Oncotree.Node("UCEC", "UTERUS", "", "Endometrial Cancer", "UCEC")))
      val f6 = f5.join(broadcast(tree.select("ONCOTREE_CODE", "CANCER_TYPE")),
          Seq("ONCOTREE_CODE"), "left")
        .filter(col("CANCER_TYPE").isNotNull)
      f6.groupBy(col("CANCER_TYPE").as("cancer_type"))
        .agg(count(lit(1)).as("n_samples"), countDistinct(col("SEQ_ASSAY_ID")).as("n_assays"))
    }),

    // ---------------- F11: retraction with patient cascade --------------
    "f11_retraction_cascade" -> ((s, dir) => {
      val samples = t(s, dir, "orders").select(
        col("o_orderkey").as("SAMPLE_ID"), col("o_custkey").as("PATIENT_ID"))
      val retractSamples = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("SAMPLE_ID"))
      val retractPatients = t(s, dir, "customer").filter(col("c_custkey") % 40 === 0)
        .select(col("c_custkey").as("PATIENT_ID"))
      val afterS = Filters.retract(samples, retractSamples, "SAMPLE_ID")
      val afterP = Filters.retract(afterS, retractPatients, "PATIENT_ID")
      afterP.agg(count(lit(1)).as("n_kept"), countDistinct(col("PATIENT_ID")).as("n_patients"))
    }),

    // ---------------- F12/F13/F14: public conversion --------------------
    "f12_f13_f14_public" -> ((s, dir) => {
      import graft.release.PublicRelease
      val months = array(Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
        "Aug", "Sep", "Oct", "Nov", "Dec").map(lit): _*)
      val clinical = t(s, dir, "customer").select(
        col("c_name").as("SAMPLE_ID"),
        concat(element_at(months, (col("c_custkey") % 12 + 1).cast("int")), lit("-"),
          (lit(2024) + col("c_custkey") % 3).cast("string")).as("SEQ_DATE"),
        col("c_mktsegment").as("CANCER_TYPE"),
        col("c_acctbal").cast("string").as("PRIVATE_NOTES"))
      val maf = t(s, dir, "customer").select(
        col("c_name").as("TUMOR_SAMPLE_BARCODE"),
        when(col("c_custkey") % 4 === 0, lit("common_variant")).otherwise(lit("ok")).as("FILTER"),
        when(col("c_custkey") % 6 === 0, lit("GERMLINE"))
          .when(col("c_custkey") % 6 === 1, lit("Germline")) // exact-match: kept
          .otherwise(lit("SOMATIC")).as("Mutation_Status"))
      val scope = Seq(PublicRelease.Scope("SAMPLE_ID", true),
        PublicRelease.Scope("CANCER_TYPE", true),
        PublicRelease.Scope("SEQ_DATE", false),
        PublicRelease.Scope("PRIVATE_NOTES", false))
      val (pubC, pubM) = PublicRelease.convert(clinical, maf, scope,
        monthsOld = 12, asOf = "2026-01-01")
      val pubM2 = Filters.dropGermline(pubM, "MUTATION_STATUS") // finds Mutation_Status
      pubC.agg(count(lit(1)).as("n_clinical"), countDistinct(col("CANCER_TYPE")).as("n_types"))
        .withColumn("n_clinical_cols", lit(pubC.columns.length.toLong))
        .crossJoin(pubM2.agg(count(lit(1)).as("n_maf"),
          sum(when(col("FILTER") === "PASS", 1L).otherwise(0L)).as("n_pass")))
    }),

    // ---------------- P3: row-index-bearing violation report ------------
    "p3_row_index_report" -> ((s, dir) => {
      // domain violations reported with deterministic row indices
      // (the reference reports pandas row indices)
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val indexed = graft.operators.RowIndex.byOrder(d, Seq("doc_id"))
      indexed.filter(Rules.domain(col("lang"), Seq("de", "en", "es", "fr")))
        .select(col("row_id"), col("doc_id"), col("lang"))
    }),

    // ---------------- dedup: BANDED embedding near-dup -----------------
    "dedup_neardup_banded" -> ((s, dir) => {
      // 3 bands × 8 bits OR-construction over the 64-dim embeddings —
      // kills the single-table recall cliff of dedup_embedding_neardup
      V.bandedNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
        bands = 3, bitsPerBand = 8, minCos = 0.35)
    }),

    "split_leakage_guard" -> ((s, dir) => {
      // eval-decontamination: near-duplicate pairs that STRADDLE a
      // train/val/test split are leakage (an eval doc whose near-dup
      // sits in training). Composes the banded near-dup sweep with the
      // deterministic hash split — split labels are a pure function of
      // each pair id, so the guard adds ZERO joins on top of the pair
      // generation; at 100 TB it costs exactly what near-dup detection
      // already costs.
      val splitOf = (c: org.apache.spark.sql.Column) =>
        graft.functions.Sampling.splitAssign(c,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      V.bandedNearDup(t(s, dir, "embeddings"), "vec_id", "embedding",
          bands = 3, bitsPerBand = 8, minCos = 0.35)
        .withColumn("split_a", splitOf(col("id_a")))
        .withColumn("split_b", splitOf(col("id_b")))
        .filter(col("split_a") =!= col("split_b"))
    }),

    // ---------------- similarity: BANDED LSH top-k ---------------------
    "sim_lsh_topk_banded" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      V.bandedLshTopK(q, c, "q_id", "c_id", "q_vec", "c_vec",
        k = 3, bands = 3, bitsPerBand = 8)
        .select(col("q_id"), col("c_id"), round(col("score"), 6).as("score"), col("rank"))
    }),

    // ---------------- dashboard wiki-template stats --------------------
    "dash_failed_annotations" -> ((s, dir) => {
      val maf = t(s, dir, "lineitem").filter(col("l_orderkey") % 25 === 0).select(
        concat(lit("C"), (col("l_suppkey") % 7).cast("string")).as("Center"),
        when(col("l_partkey") % 5 === 0, lit("FAILED")).otherwise(lit("SUCCESS")).as("Annotation_Status"))
      graft.stats.Dashboard.failedAnnotationCounts(maf, Seq("Center"), "n_failed")
    }),

    "dash_center_distribution" -> ((s, dir) => {
      val clin = t(s, dir, "customer").select(
        col("c_mktsegment").as("CENTER"),
        (col("c_custkey") % 3).cast("string").as("SEX"))
      graft.stats.Dashboard.centerCategoryDistribution(clin, "CENTER", "SEX")
    }),

    "dash_release_content" -> ((s, dir) => {
      val samples = t(s, dir, "customer").select(
        concat(lit("C"), (col("c_custkey") % 5).cast("string")).as("Center"),
        col("c_custkey").as("SAMPLE_ID"))
      val muts = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0).select(
        concat(lit("C"), (col("o_custkey") % 7).cast("string")).as("Center"))
      graft.stats.Dashboard.releaseContent(samples, muts, "Center", "SAMPLE_ID")
    }),

    // ---------------- C1/C2/J5: clinical processor cleanup -------------
    "c2_clinical_process" -> ((s, dir) => {
      import s.implicits._
      val sample = t(s, dir, "customer").select(
        col("c_name").as("SAMPLE_ID"),
        col("c_custkey").cast("string").as("PATIENT_ID"),
        concat(lit(" ctr_a"), (col("c_custkey") % 5).cast("string"), lit(" ")).as("SEQ_ASSAY_ID"),
        when(col("c_custkey") % 7 === 0, lit("Release"))
          .otherwise(concat(lit("jan-"), (lit(2015) + col("c_custkey") % 5).cast("string"))).as("SEQ_DATE"))
      val patient = t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("PATIENT_ID"),
        (col("c_custkey") % 3 + 1).cast("string").as("SEX"),
        concat((lit(1940) + col("c_custkey") % 40).cast("string"), lit(".0")).as("BIRTH_YEAR"))
      val sexMap = Seq(("1", "Male", "Male"), ("2", "Female", "Female"),
        ("3", "Unknown", "Not coded")).toDF("CODE", "CBIO_LABEL", "DESCRIPTION")
      val out = graft.formats.ClinicalFormat.process(sample, patient,
        Map("SEX" -> sexMap), center = "C")
      out.groupBy(col("SEX").as("sex"), col("SEX_DETAILED").as("sex_detailed"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("SEQ_ASSAY_ID")).as("n_assays"),
          sum(when(col("SEQ_YEAR").isNull, 1L).otherwise(0L)).as("n_release"),
          min(col("BIRTH_YEAR")).as("min_birth"),
          min(col("SEQ_YEAR")).as("min_seq_year"))
    }),

    // ---------------- curation: one-pass keep/drop decision ------------
    "curate_docs" -> ((s, dir) => {
      graft.functions.Curation.curate(
          t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", keepLangs = Seq("de", "en", "es", "fr"), minQuality = 0.5)
        .select(col("doc_id"), col("lang_pred"), col("quality"),
          col("keep"), col("drop_reason"))
    }),

    // ---------------- curation: sharded sequence packing ---------------
    "pack_sequences" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), (col("doc_id") % 8).as("shard"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.functions.Curation.packByBudget(d, "shard", "doc_id", "n_tokens", budget = 2048L)
        .select("doc_id", "shard", "n_tokens", "pack_id")
    }),

    "pack_efficiency" -> ((s, dir) => {
      // packing audit: per shard, how full the training packs actually
      // are — pack counts, token totals, and per-pack fill extremes
      // (padding waste and overflow both surface here; training teams
      // watch this before committing a context length). Two-level
      // integer aggregation over the pack assignment, zero new scans.
      val d = t(s, dir, "documents").select(
        col("doc_id"), (col("doc_id") % 8).as("shard"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.functions.Curation
        .packByBudget(d, "shard", "doc_id", "n_tokens", budget = 2048L)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("__nd"), sum("n_tokens").as("__pt"))
        .groupBy("shard")
        .agg(sum("__nd").as("n_docs"),
          count(lit(1)).as("n_packs"),
          sum("__pt").as("total_tokens"),
          min("__pt").as("min_pack_tokens"),
          max("__pt").as("max_pack_tokens"))
        .orderBy("shard")
    }),

    "url_canonicalize" -> ((s, dir) => {
      // web-curation URL canonicalization (the CCNet/RefinedWeb step
      // ahead of URL-level dedup): crawl-style raw URLs derived
      // deterministically from the corpus rows — five shapes covering
      // every policy branch (case-folded scheme/host, default-port
      // drop vs explicit-port keep, fragment drop, tracking-param
      // drop, duplicate-key sort, empty path → '/') — canonical +
      // host emitted per row. Pure per-row expressions: canonicalizing
      // a 100 TB crawl is a scan, zero shuffle.
      val U = graft.functions.UrlFunctions
      t(s, dir, "documents")
        .select(col("doc_id"), rawUrlOf.as("url"))
        .select(col("doc_id"), col("url"),
          U.canonicalizeUrl(col("url")).as("canonical"),
          U.urlHost(col("url")).as("host"))
    }),

    "url_domain_stats" -> ((s, dir) => {
      // per-domain crawl statistics over the CANONICAL form: raw
      // mentions, distinct canonical URLs, and the duplicate surplus
      // URL-level dedup would remove — the first table a crawl-triage
      // dashboard shows. One aggregation on (host, canonical) counts,
      // then a host rollup; only short strings shuffle.
      val U = graft.functions.UrlFunctions
      t(s, dir, "documents")
        .select(U.urlHost(rawUrlOf).as("host"),
          U.canonicalizeUrl(rawUrlOf).as("canonical"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("canonical")).as("n_canonical"))
        .select(col("host"), col("n_raw"), col("n_canonical"),
          (col("n_raw") - col("n_canonical")).as("n_dupes"))
        .orderBy("host")
    }),

    "url_dedup_keep_best" -> ((s, dir) => {
      // the COMPOSED crawl workflow the two operators above exist for:
      // canonicalize raw URLs → group copies by canonical form → keep
      // the best-quality copy (doc_id tie-break). The winner per
      // canonical URL is a partial aggregate min(struct(−quality, id))
      // — map-side combine absorbs mega-duplicated URLs (a hot URL
      // with millions of crawls contributes one candidate per map
      // partition), no per-URL window sort; only (canonical, quality,
      // id) triples ever shuffle. Quality rounds to 6 dp BEFORE the
      // argmin so the winner is engine-portable.
      val U = graft.functions.UrlFunctions
      t(s, dir, "documents")
        .select(col("doc_id"),
          U.canonicalizeUrl(rawUrlOf).as("canonical"),
          round(T.qualityScore(col("text")), 6).as("__q"))
        .groupBy("canonical")
        .agg(count(lit(1)).as("n_copies"),
          min(struct((col("__q") * lit(-1.0)).as("__nq"),
            col("doc_id").as("__wid"),
            col("__q").as("__wq"))).as("__w"))
        .filter(col("n_copies") > 1)
        .select(col("canonical"), col("n_copies"),
          col("__w").getField("__wid").as("doc_id"),
          col("__w").getField("__wq").as("quality"))
        .orderBy("canonical")
    }),

    // ---------------- release: data_gene_matrix artifact ----------------
    "release_gene_matrix" -> ((s, dir) => {
      val clinical = t(s, dir, "customer").select(
        col("c_name").as("SAMPLE_ID"),
        concat(lit("C-A"), (col("c_custkey") % 6).cast("string")).as("SEQ_ASSAY_ID"))
      val cnaSamples = t(s, dir, "customer").filter(col("c_custkey") % 3 === 0).select("c_name")
      val svSamples  = t(s, dir, "customer").filter(col("c_custkey") % 7 === 0).select("c_name")
      graft.apps.ReleaseJob.geneMatrix(clinical, cnaSamples, svSamples, Seq("C-A5"))
    }),

    // ---------------- multimodal: decode → feature pipeline ------------
    "mm_feature_pipeline" -> ((s, dir) => {
      // binary payload → mapPartitions stub decode + 16-dim byte-histogram
      // feature → joined metadata; integer invariants (argmax bucket,
      // active buckets) are float-layout independent
      val docs = t(s, dir, "documents").withColumn("payload", col("text").cast("binary"))
      val feats = graft.multimodal.Multimodal.extractFeatures(docs, "doc_id", "payload", 16).toDF()
      val meta  = graft.multimodal.Multimodal.decodeMeta(docs, "doc_id", "payload").toDF()
      feats.join(meta, Seq("id"))
        .select(col("id").as("doc_id"),
          array_position(col("feature"), array_max(col("feature"))).cast("long").as("top_bucket"),
          size(filter(col("feature"), x => x > 0f)).cast("long").as("n_active"),
          col("width").cast("long").as("width"),
          col("n_frames").cast("long").as("n_frames"))
    })
  )

  // =====================================================================
  // DuckDB oracles (same column names, same determinism discipline)
  // =====================================================================

  def oracleSql: Map[String, String] = {
    val revExpr = "CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 4) AS DECIMAL(30,4))) AS DOUBLE)"
    // minhash component i over a per-doc list `hs` of md5(token) hex
    // strings: (h1 + i*h2) mod 2^64 as 16-char lower hex — the exact
    // Kirsch–Mitzenmacher derivation plans/MinHashExpression computes
    def oracleMinhash(i: Int): String = {
      val h1 = "CAST(CAST(('0x' || substring(h,1,16)) AS UBIGINT) AS HUGEINT)"
      val h2 = "CAST(CAST(('0x' || substring(h,17,16)) AS UBIGINT) AS HUGEINT)"
      s"list_aggregate(list_transform(hs, h -> lower(lpad(to_hex(CAST(($h1 + $i * $h2) " +
        s"% CAST('18446744073709551616' AS HUGEINT) AS UBIGINT)), 16, '0'))), 'min') AS mh$i"
    }
    val m = Map(
      "q1_pricing_summary" ->
        s"""SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
           $revExpr AS sum_disc_price,
           COUNT(*) AS n_rows
           FROM lineitem GROUP BY l_returnflag, l_linestatus""",

      "q3_top_unshipped" ->
        s"""SELECT o_orderkey, $revExpr AS revenue
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY o_orderkey
           ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",

      "q5_nation_revenue" ->
        s"""SELECT r_name, n_name, $revExpr AS revenue, COUNT(*) AS n_items
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, n_name""",

      "s1_scan_pushdown" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
           FROM lineitem WHERE l_discount > 0.06 AND l_quantity < 10""",

      "s2_pair_join" ->
        """SELECT c_custkey, c_name, n_name
           FROM customer JOIN nation ON c_nationkey = n_nationkey""",

      "s12_upsert_diff" ->
        """WITH inc AS (
             SELECT o_orderkey,
                    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS v
             FROM orders WHERE o_orderkey % 3 <> 0),
           ex AS (SELECT o_orderkey, o_totalprice AS v FROM orders WHERE o_orderkey % 2 <> 0)
           SELECT 'append' AS kind, COUNT(*) AS n FROM inc
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ex)
           UNION ALL
           SELECT 'update' AS kind, COUNT(*) AS n FROM inc JOIN ex USING (o_orderkey)
             WHERE inc.v IS DISTINCT FROM ex.v
           UNION ALL
           SELECT 'delete' AS kind, COUNT(*) AS n FROM ex
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)""",

      "scd2_merge" ->
        """WITH hist AS (SELECT c_custkey, c_mktsegment,
                                CAST(-10 AS BIGINT) AS valid_from, CAST(0 AS BIGINT) AS valid_to
                         FROM customer WHERE c_custkey % 11 = 0),
           cur AS (SELECT c_custkey, c_mktsegment, CAST(0 AS BIGINT) AS valid_from
                   FROM customer),
           inc AS (SELECT c_custkey,
                          CASE WHEN c_custkey % 3 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
                   FROM customer WHERE c_custkey % 7 <> 0)
           SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM hist
           UNION ALL
           SELECT cur.c_custkey, cur.c_mktsegment, cur.valid_from, CAST(NULL AS BIGINT)
           FROM cur JOIN inc USING (c_custkey)
           WHERE cur.c_mktsegment = inc.c_mktsegment
           UNION ALL
           SELECT cur.c_custkey, cur.c_mktsegment, cur.valid_from, CAST(100 AS BIGINT)
           FROM cur JOIN inc USING (c_custkey)
           WHERE cur.c_mktsegment <> inc.c_mktsegment
           UNION ALL
           SELECT cur.c_custkey, inc.c_mktsegment, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
           FROM cur JOIN inc USING (c_custkey)
           WHERE cur.c_mktsegment <> inc.c_mktsegment
           UNION ALL
           SELECT cur.c_custkey, cur.c_mktsegment, cur.valid_from, CAST(100 AS BIGINT)
           FROM cur ANTI JOIN inc USING (c_custkey)""",

      "scd2_stream_replay" ->
        """WITH x AS (
             SELECT c_custkey AS k, c_mktsegment AS s,
                    CASE WHEN c_custkey % 3 = 0 THEN 'B1' ELSE c_mktsegment END AS b1,
                    (c_custkey % 5 = 1) AS ret,
                    CASE WHEN c_custkey % 4 = 0 THEN 'B2'
                         WHEN c_custkey % 3 = 0 THEN 'B1'
                         ELSE c_mktsegment END AS b2
             FROM customer)
           SELECT k AS c_custkey, s AS c_mktsegment, CAST(0 AS BIGINT) AS valid_from,
                  CAST(CASE WHEN b1 <> s THEN 100
                            WHEN ret THEN 200
                            WHEN b2 <> b1 THEN 200
                            ELSE NULL END AS BIGINT) AS valid_to
           FROM x
           UNION ALL
           SELECT k, b1, CAST(100 AS BIGINT),
                  CAST(CASE WHEN ret THEN 200
                            WHEN b2 <> b1 THEN 200
                            ELSE NULL END AS BIGINT)
           FROM x WHERE b1 <> s
           UNION ALL
           SELECT k, b2, CAST(200 AS BIGINT), CAST(NULL AS BIGINT)
           FROM x WHERE NOT ret AND b2 <> b1""",

      "dedup_stream_corpus" ->
        """WITH corpus AS (
             SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 10 <> 7),
           batch AS (
             SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
             UNION ALL
             SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0)
           SELECT doc_id FROM batch b
           WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = md5(b.text))""",

      "o4b_topk_agg" ->
        """SELECT o_orderstatus, ROUND(o_totalprice, 2) AS score,
                  o_orderkey AS id, CAST(rn AS BIGINT) AS rank
           FROM (SELECT o_orderstatus, o_totalprice, o_orderkey,
                        row_number() OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                 FROM orders)
           WHERE rn <= 5""",

      "dash_histogram" ->
        """SELECT o_orderstatus,
                  CASE WHEN o_totalprice < 0.0 THEN 0
                       WHEN o_totalprice >= 600000.0 THEN 21
                       ELSE CAST(floor(o_totalprice / 30000.0) AS BIGINT) + 1
                  END AS bucket,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
           FROM orders GROUP BY 1, 2""",

      "approx_distinct_contract" ->
        """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
                  TRUE AS within_bound
           FROM lineitem""",

      "approx_quantile_contract" ->
        """SELECT l_returnflag,
                  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
                  TRUE AS within_bound
           FROM lineitem GROUP BY l_returnflag""",

      "dedup_incremental" ->
        """WITH corpus AS (
             SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 10 != 7),
           batch AS (
             SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id % 10 = 7)
           SELECT (c.dg IS NOT NULL) AS dup_in_corpus,
                  COUNT(*) AS n_docs, MIN(b.doc_id) AS min_id
           FROM batch b LEFT JOIN corpus c ON b.dg = c.dg
           GROUP BY 1""",

      "dedup_keep_best" ->
        """WITH q AS (
             SELECT doc_id,
                    md5(array_to_string(list_sort(list_distinct(
                      regexp_split_to_array(trim(lower(text)), '\s+'))), ' ')) AS fp,
                    ROUND(
                      LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality
             FROM documents),
           g AS (SELECT doc_id, quality,
                        ROW_NUMBER() OVER (PARTITION BY fp
                          ORDER BY quality DESC, doc_id ASC) AS rn,
                        COUNT(*) OVER (PARTITION BY fp) AS n_dups
                 FROM q)
           SELECT doc_id, n_dups, quality FROM g WHERE rn = 1 AND n_dups > 1""",

      "corpus_psi_drift" ->
        // replay: bit-width buckets (length(bin(n)) — integer-exact on
        // both engines) → full-outer bucket counts → Laplace-smoothed
        // (p − q)·ln(p/q) terms at 6 dp
        """WITH d AS (
             SELECT doc_id,
                    length(bin(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) AS bucket
             FROM documents),
           co AS (SELECT bucket, COUNT(*) AS n_old FROM d
                  WHERE doc_id % 10 <> 7 GROUP BY 1),
           cn AS (SELECT bucket, COUNT(*) AS n_new FROM d GROUP BY 1),
           j AS (SELECT COALESCE(co.bucket, cn.bucket) AS bucket,
                        COALESCE(n_old, 0) AS n_old,
                        COALESCE(n_new, 0) AS n_new
                 FROM co FULL OUTER JOIN cn ON co.bucket = cn.bucket),
           tot AS (SELECT SUM(n_old) AS t_o, SUM(n_new) AS t_n,
                          COUNT(*) AS b FROM j)
           SELECT CAST(bucket AS BIGINT) AS bucket, n_old, n_new,
                  ROUND((CAST(n_old + 1 AS DOUBLE) / CAST(t_o + b AS DOUBLE)
                         - CAST(n_new + 1 AS DOUBLE) / CAST(t_n + b AS DOUBLE))
                        * LN((CAST(n_old + 1 AS DOUBLE) / CAST(t_o + b AS DOUBLE))
                             / (CAST(n_new + 1 AS DOUBLE) / CAST(t_n + b AS DOUBLE))), 6)
                    AS psi_term
           FROM j CROSS JOIN tot ORDER BY bucket""",

      "agg_maintain_psi" ->
        // replay: the maintained (±1-signed) bucket table must equal a
        // DIRECT count over the survivor population (base − retracted
        // ∪ delta), so the oracle just computes that directly; same
        // bucket + smoothing math as corpus_psi_drift
        """WITH d AS (
             SELECT doc_id,
                    length(bin(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))) AS bucket
             FROM documents),
           co AS (SELECT bucket, COUNT(*) AS n_old FROM d
                  WHERE doc_id % 10 <> 7 GROUP BY 1),
           cn AS (SELECT bucket, COUNT(*) AS n_new FROM d
                  WHERE doc_id % 10 = 7
                     OR (doc_id % 10 <> 7 AND doc_id % 9 <> 4)
                  GROUP BY 1),
           j AS (SELECT COALESCE(co.bucket, cn.bucket) AS bucket,
                        COALESCE(n_old, 0) AS n_old,
                        COALESCE(n_new, 0) AS n_new
                 FROM co FULL OUTER JOIN cn ON co.bucket = cn.bucket),
           tot AS (SELECT SUM(n_old) AS t_o, SUM(n_new) AS t_n,
                          COUNT(*) AS b FROM j)
           SELECT CAST(bucket AS BIGINT) AS bucket, n_old, n_new,
                  ROUND((CAST(n_old + 1 AS DOUBLE) / CAST(t_o + b AS DOUBLE)
                         - CAST(n_new + 1 AS DOUBLE) / CAST(t_n + b AS DOUBLE))
                        * LN((CAST(n_old + 1 AS DOUBLE) / CAST(t_o + b AS DOUBLE))
                             / (CAST(n_new + 1 AS DOUBLE) / CAST(t_n + b AS DOUBLE))), 6)
                    AS psi_term
           FROM j CROSS JOIN tot ORDER BY bucket""",

      "dedup_keep_best_flags" ->
        // replay of the partial-aggregate winner: per md5(text) group,
        // keep iff (quality desc, doc_id asc) rank 1 — same 6-dp
        // quality replay as dedup_keep_best, exact-text digest key
        """WITH q AS (
             SELECT doc_id, md5(text) AS ck,
                    ROUND(
                      LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality
             FROM documents)
           SELECT doc_id,
                  ck IS NOT NULL AND
                  ROW_NUMBER() OVER (PARTITION BY ck
                    ORDER BY quality DESC, doc_id ASC) = 1 AS keep
           FROM q ORDER BY doc_id""",

      "dedup_retract" ->
        // each index's candidate semantics replayed over the KEPT corpus
        // (doc_id % 50 <> 0) only: exact digest matches, MinHash band
        // collisions (k=4, 2 bands — the dedup_cluster_assign
        // machinery), winnow span sharing (k=6, w=16, stop-span df <= 20
        // on the kept side, >= 2 shared — the text_span_dedup machinery),
        // simhash Hamming partners (32 bits, 4 blocks, ball <= 3 — the
        // dedup_simhash_hamming machinery)
        s"""WITH live AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
           probes AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
           dh AS (SELECT p.doc_id AS probe_id, COUNT(*) AS n_digest
                  FROM probes p JOIN live l
                    ON md5(p.text) = md5(l.text) AND l.doc_id <> p.doc_id
                  GROUP BY 1),
           ltok AS (SELECT doc_id,
                           list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
                    FROM live),
           lhs AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM ltok),
           lsig AS (SELECT doc_id, ${oracleMinhash(0)}, ${oracleMinhash(1)},
                           ${oracleMinhash(2)}, ${oracleMinhash(3)} FROM lhs),
           lbk AS (SELECT doc_id, md5('band0:' || mh0 || '|' || mh1) AS bk FROM lsig
                   UNION ALL
                   SELECT doc_id, md5('band1:' || mh2 || '|' || mh3) FROM lsig),
           ptok AS (SELECT doc_id,
                           list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
                    FROM probes),
           phs AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM ptok),
           psig AS (SELECT doc_id, ${oracleMinhash(0)}, ${oracleMinhash(1)},
                           ${oracleMinhash(2)}, ${oracleMinhash(3)} FROM phs),
           pbk AS (SELECT doc_id, md5('band0:' || mh0 || '|' || mh1) AS bk FROM psig
                   UNION ALL
                   SELECT doc_id, md5('band1:' || mh2 || '|' || mh3) FROM psig),
           bpairs AS (SELECT DISTINCT pb.doc_id AS probe_id, lb.doc_id AS corpus_id
                      FROM pbk pb JOIN lbk lb
                        ON pb.bk = lb.bk AND lb.doc_id <> pb.doc_id),
           bh AS (SELECT probe_id, COUNT(*) AS n_band FROM bpairs GROUP BY 1),
           wt AS (SELECT doc_id,
                         lower(regexp_replace(text, '[^ -~]', '', 'g')) AS s
                  FROM documents),
           wc AS (SELECT doc_id,
                         list_transform(string_split(s, ''),
                           ch -> CAST(ascii(ch) AS BIGINT)) AS codes
                  FROM wt),
           wh0 AS (SELECT doc_id,
                          CASE WHEN len(codes) >= 6 THEN
                            list_transform(range(1, len(codes) - 4), i ->
                              codes[i] * 28629151 + codes[i+1] * 923521
                                + codes[i+2] * 29791 + codes[i+3] * 961
                                + codes[i+4] * 31 + codes[i+5])
                          ELSE CAST([] AS BIGINT[]) END AS hs
                  FROM wc),
           ww AS (SELECT doc_id,
                         CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                              WHEN len(hs) < 16 THEN [list_min(hs)]
                              ELSE list_transform(range(1, len(hs) - 14), i ->
                                     list_min(hs[i:i+15]))
                         END AS sel
                  FROM wh0),
           wfp AS (SELECT doc_id, list_distinct(sel) AS fp FROM ww),
           wsel AS (SELECT doc_id, unnest(fp) AS h FROM wfp),
           lsel AS (SELECT * FROM wsel WHERE doc_id % 50 <> 0),
           psel AS (SELECT * FROM wsel WHERE doc_id % 25 = 0),
           wkeep AS (SELECT h FROM lsel GROUP BY h HAVING COUNT(*) <= 20),
           wpr AS (SELECT l.doc_id, l.h FROM lsel l JOIN wkeep USING (h)),
           wpairs AS (SELECT p.doc_id AS probe_id, r.doc_id AS corpus_id,
                             COUNT(*) AS n_shared
                      FROM psel p JOIN wpr r
                        ON p.h = r.h AND r.doc_id <> p.doc_id
                      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           wh AS (SELECT probe_id, COUNT(*) AS n_span FROM wpairs GROUP BY 1),
           lsim AS (SELECT doc_id, $simhashBitExprs32 AS sh FROM lhs),
           psim AS (SELECT doc_id, $simhashBitExprs32 AS sh FROM phs),
           lsk AS (SELECT doc_id, sh, blk, (sh >> (blk * 8)) & 255 AS bv
                   FROM lsim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)
                   QUALIFY COUNT(*) OVER (PARTITION BY blk, (sh >> (blk * 8)) & 255) <= 10000),
           psk AS (SELECT doc_id, sh, blk, (sh >> (blk * 8)) & 255 AS bv
                   FROM psim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS blk)),
           spairs AS (SELECT DISTINCT p.doc_id AS probe_id, l.doc_id AS corpus_id
                      FROM psk p JOIN lsk l
                        ON p.blk = l.blk AND p.bv = l.bv AND l.doc_id <> p.doc_id
                      WHERE bit_count(xor(p.sh, l.sh)) <= 3),
           sh2 AS (SELECT probe_id, COUNT(*) AS n_simhash FROM spairs GROUP BY 1)
           SELECT p.doc_id AS probe_id, p.doc_id % 50 = 0 AS retracted,
                  COALESCE(n_digest, 0) AS n_digest,
                  COALESCE(n_band, 0) AS n_band,
                  COALESCE(n_span, 0) AS n_span,
                  COALESCE(n_simhash, 0) AS n_simhash
           FROM probes p
           LEFT JOIN dh ON dh.probe_id = p.doc_id
           LEFT JOIN bh ON bh.probe_id = p.doc_id
           LEFT JOIN wh ON wh.probe_id = p.doc_id
           LEFT JOIN sh2 ON sh2.probe_id = p.doc_id""",

      "text_bigram_lm" ->
        // replay: vocab (count desc, token asc top-64) → vocab-mapped
        // adjacent pairs → bigram + context counts → add-0.5 smoothed
        // log-probs rounded 6 dp → per-doc document-order fold / n.
        // (The COALESCE fallbacks mirror the engine's out-of-corpus
        // scoring API; on the training corpus itself every pair is in
        // the bigram table, so they never fire here.)
        """WITH toks AS (
             SELECT doc_id,
                    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                t -> strlen(t) > 0) AS t
             FROM documents WHERE text IS NOT NULL),
           uni AS (SELECT unnest(t) AS w FROM toks),
           vocab AS (
             SELECT w FROM (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1)
             ORDER BY c DESC, w ASC LIMIT 64),
           vl AS (SELECT list(w) AS vl FROM vocab),
           m AS (
             SELECT doc_id,
                    list_transform(t, w -> CASE WHEN list_contains(vl.vl, w)
                                                THEN w ELSE '<unk>' END) AS mt
             FROM toks CROSS JOIN vl
             WHERE len(t) >= 2),
           pairs AS (
             SELECT doc_id, i, mt[i] AS a, mt[i + 1] AS b FROM (
               SELECT doc_id, mt, unnest(range(1, len(mt))) AS i FROM m)),
           bg AS (SELECT a, b, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
           ctx AS (SELECT a, SUM(c) AS cc FROM bg GROUP BY 1),
           eff AS (
             SELECT p.doc_id, p.i,
                    COALESCE(ROUND(LN((g.c + 0.5) / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / 32.5), 6)) AS lp
             FROM pairs p
             LEFT JOIN bg g ON g.a = p.a AND g.b = p.b
             LEFT JOIN ctx x ON x.a = p.a)
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                  ROUND(list_sum(list(lp ORDER BY i)) / COUNT(*), 6) AS lm_score
           FROM eff GROUP BY 1""",

      "text_bigram_lm_target" ->
        // same replay with the TRAINING CTEs restricted to the
        // reference slice (lang='en'): the COALESCE fallbacks now do
        // real work — out-of-domain pairs miss the bigram table and
        // score through the context table (or the unseen-context
        // constant ln(1/65))
        """WITH toks AS (
             SELECT doc_id, lang,
                    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                t -> strlen(t) > 0) AS t
             FROM documents WHERE text IS NOT NULL),
           uni AS (SELECT unnest(t) AS w FROM toks WHERE lang = 'en'),
           vocab AS (
             SELECT w FROM (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1)
             ORDER BY c DESC, w ASC LIMIT 64),
           vl AS (SELECT list(w) AS vl FROM vocab),
           m AS (
             SELECT doc_id, lang,
                    list_transform(t, w -> CASE WHEN list_contains(vl.vl, w)
                                                THEN w ELSE '<unk>' END) AS mt
             FROM toks CROSS JOIN vl
             WHERE len(t) >= 2),
           pairs AS (
             SELECT doc_id, lang, i, mt[i] AS a, mt[i + 1] AS b FROM (
               SELECT doc_id, lang, mt, unnest(range(1, len(mt))) AS i FROM m)),
           bg AS (SELECT a, b, COUNT(*) AS c FROM pairs
                  WHERE lang = 'en' GROUP BY 1, 2),
           ctx AS (SELECT a, SUM(c) AS cc FROM bg GROUP BY 1),
           eff AS (
             SELECT p.doc_id, p.i,
                    COALESCE(ROUND(LN((g.c + 0.5) / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / 32.5), 6)) AS lp
             FROM pairs p
             LEFT JOIN bg g ON g.a = p.a AND g.b = p.b
             LEFT JOIN ctx x ON x.a = p.a)
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                  ROUND(list_sum(list(lp ORDER BY i)) / COUNT(*), 6) AS lm_score
           FROM eff GROUP BY 1""",

      "text_bigram_lm_joined" ->
        // same lang='en'-trained replay as text_bigram_lm_target, but
        // the per-doc sum goes through DECIMAL(30,6) (order-free) —
        // the joined variant's contract
        """WITH toks AS (
             SELECT doc_id, lang,
                    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                t -> strlen(t) > 0) AS t
             FROM documents WHERE text IS NOT NULL),
           uni AS (SELECT unnest(t) AS w FROM toks WHERE lang = 'en'),
           vocab AS (
             SELECT w FROM (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1)
             ORDER BY c DESC, w ASC LIMIT 64),
           vl AS (SELECT list(w) AS vl FROM vocab),
           m AS (
             SELECT doc_id, lang,
                    list_transform(t, w -> CASE WHEN list_contains(vl.vl, w)
                                                THEN w ELSE '<unk>' END) AS mt
             FROM toks CROSS JOIN vl
             WHERE len(t) >= 2),
           pairs AS (
             SELECT doc_id, lang, mt[i] AS a, mt[i + 1] AS b FROM (
               SELECT doc_id, lang, mt, unnest(range(1, len(mt))) AS i FROM m)),
           bg AS (SELECT a, b, COUNT(*) AS c FROM pairs
                  WHERE lang = 'en' GROUP BY 1, 2),
           ctx AS (SELECT a, SUM(c) AS cc FROM bg GROUP BY 1),
           eff AS (
             SELECT p.doc_id,
                    COALESCE(ROUND(LN((g.c + 0.5) / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / 32.5), 6)) AS lp
             FROM pairs p
             LEFT JOIN bg g ON g.a = p.a AND g.b = p.b
             LEFT JOIN ctx x ON x.a = p.a)
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                  ROUND(CAST(SUM(CAST(lp AS DECIMAL(30,6))) AS DOUBLE)
                        / COUNT(*), 6) AS lm_score
           FROM eff GROUP BY 1""",

      "text_ccnet_buckets" ->
        // target-LM score replay (as text_bigram_lm_target) → 3-dp
        // bucket scores → per-lang HISTOGRAM cumulative (score desc) →
        // integer decile rule: head iff 10·cum <= n, tail iff the
        // row's whole mass sits in the bottom decile, else middle
        """WITH toks AS (
             SELECT doc_id, lang,
                    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                t -> strlen(t) > 0) AS t
             FROM documents WHERE text IS NOT NULL),
           uni AS (SELECT unnest(t) AS w FROM toks WHERE lang = 'en'),
           vocab AS (
             SELECT w FROM (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1)
             ORDER BY c DESC, w ASC LIMIT 64),
           vl AS (SELECT list(w) AS vl FROM vocab),
           m AS (
             SELECT doc_id, lang,
                    list_transform(t, w -> CASE WHEN list_contains(vl.vl, w)
                                                THEN w ELSE '<unk>' END) AS mt
             FROM toks CROSS JOIN vl
             WHERE len(t) >= 2),
           pairs AS (
             SELECT doc_id, lang, i, mt[i] AS a, mt[i + 1] AS b FROM (
               SELECT doc_id, lang, mt, unnest(range(1, len(mt))) AS i FROM m)),
           bg AS (SELECT a, b, COUNT(*) AS c FROM pairs
                  WHERE lang = 'en' GROUP BY 1, 2),
           ctx AS (SELECT a, SUM(c) AS cc FROM bg GROUP BY 1),
           eff AS (
             SELECT p.doc_id, p.i,
                    COALESCE(ROUND(LN((g.c + 0.5) / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / (x.cc + 32.5)), 6),
                             ROUND(LN(0.5 / 32.5), 6)) AS lp
             FROM pairs p
             LEFT JOIN bg g ON g.a = p.a AND g.b = p.b
             LEFT JOIN ctx x ON x.a = p.a),
           score AS (
             SELECT doc_id,
                    ROUND(list_sum(list(lp ORDER BY i)) / COUNT(*), 6) AS lm_score
             FROM eff GROUP BY 1),
           b AS (SELECT s.doc_id, d.lang, ROUND(s.lm_score, 3) AS bs
                 FROM score s JOIN documents d USING (doc_id)),
           hist AS (SELECT lang, bs, CAST(COUNT(*) AS BIGINT) AS c
                    FROM b GROUP BY 1, 2),
           cum AS (SELECT lang, bs, c,
                          SUM(c) OVER (PARTITION BY lang ORDER BY bs DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                          SUM(c) OVER (PARTITION BY lang) AS n
                   FROM hist)
           SELECT lang,
                  CASE WHEN cum * 10 <= n THEN 'head'
                       WHEN (n - cum + c) * 10 <= n THEN 'tail'
                       ELSE 'middle' END AS bucket,
                  CAST(SUM(c) AS BIGINT) AS n_docs
           FROM cum GROUP BY 1, 2 ORDER BY 1, 2""",

      "text_rarity" ->
        """WITH tok AS (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           cnt AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
           freq AS (SELECT token, SUM(c) AS corpus_freq, COUNT(*) AS doc_freq
                    FROM cnt GROUP BY 1),
           vocab AS (SELECT token FROM freq
                     ORDER BY corpus_freq DESC, token ASC LIMIT 50),
           per_doc AS (
             SELECT c.doc_id, SUM(c.c) AS n_tok,
                    SUM(CASE WHEN v.token IS NULL THEN c.c ELSE 0 END) AS oov,
                    SUM(c.c * f.corpus_freq) AS freq_sum
             FROM cnt c JOIN freq f USING (token)
             LEFT JOIN vocab v ON c.token = v.token
             GROUP BY 1),
           r AS (
             SELECT doc_id, n_tok,
                    ROUND(CAST(oov AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS oov_frac,
                    ROUND(CAST(freq_sum AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS mean_tok_freq
             FROM per_doc)
           SELECT d.lang, COUNT(*) AS n_docs,
                  ROUND(CAST(SUM(CAST(oov_frac AS DECIMAL(30,6))) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_oov_frac,
                  ROUND(CAST(SUM(CAST(mean_tok_freq AS DECIMAL(30,6))) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_tok_freq
           FROM r JOIN documents d USING (doc_id)
           GROUP BY d.lang""",

      "sim_pq_recall" ->
        """SELECT vec_id AS q_id, TRUE AS recall_ok
           FROM embeddings WHERE vec_id % 100 = 0""",

      "sim_pq_incremental" ->
        """SELECT vec_id AS q_id, TRUE AS recall_ok, TRUE AS codes_match
           FROM embeddings WHERE vec_id % 100 = 0""",

      "sim_ivfpq_recall" ->
        """SELECT vec_id AS q_id, TRUE AS recall_ok
           FROM embeddings WHERE vec_id % 100 = 0""",

      "sim_knn_graph" ->
        """WITH c AS (SELECT vec_id, embedding FROM embeddings),
           scored AS (
             SELECT a.vec_id AS q_id, b.vec_id AS c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS score
             FROM c a JOIN c b ON a.vec_id <> b.vec_id)
           SELECT q_id, c_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3""",

      "sim_knn_graph_blocked" ->
        """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                  TRUE AS recall_ok, TRUE AS coverage_ok
           FROM embeddings""",

      "sim_knn_graph_incremental" ->
        """SELECT CAST(3 * count(*) AS BIGINT) AS n_edges,
                  TRUE AS graph_match
           FROM embeddings""",

      "dedup_semantic_graph" ->
        """WITH c AS (SELECT vec_id, embedding FROM embeddings),
           scored AS (
             SELECT a.vec_id AS q_id, b.vec_id AS c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS score
             FROM c a JOIN c b ON a.vec_id <> b.vec_id),
           g AS (
             SELECT q_id, c_id, score
             FROM scored
             QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3)
           SELECT q_id, min(c_id) AS anchor_id
           FROM g WHERE c_id < q_id AND score >= 0.35
           GROUP BY q_id ORDER BY q_id""",

      "sim_knn_graph_persisted" ->
        """WITH c AS (SELECT vec_id, embedding FROM embeddings),
           scored AS (
             SELECT a.vec_id AS q_id, b.vec_id AS c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS score
             FROM c a JOIN c b ON a.vec_id <> b.vec_id)
           SELECT q_id, c_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3
           ORDER BY q_id, rank""",

      "sim_knn_graph_lifecycle" ->
        """SELECT CAST(3 * count(*) AS BIGINT) AS n_edges,
                  TRUE AS lifecycle_ok
           FROM embeddings WHERE vec_id % 11 <> 5""",

      "sim_ivfpq_incremental" ->
        """SELECT vec_id AS q_id, TRUE AS codes_match
           FROM embeddings WHERE vec_id % 100 = 0""",

      "s19_bloom_scan" ->
        """SELECT COUNT(*) AS n,
                  CAST(COALESCE(SUM(CAST(value AS DECIMAL(30,6))), 0) AS DOUBLE) AS sum_value,
                  COALESCE(MIN(event_id), -1) AS min_event
           FROM events WHERE user_id = 100""",

      "s18_zorder_scan" ->
        """SELECT COUNT(*) AS n, MIN(event_id) AS min_event,
                  MAX(event_id) AS max_event,
                  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
           FROM events
           WHERE user_id BETWEEN 100 AND 2000
             AND CAST(FLOOR(value * 10) AS BIGINT) BETWEEN 2 AND 7""",

      "zorder_key" -> {
        val terms = (0 until 16).map(i =>
          s"(((ux >> $i) & 1) << ${2 * i}) | (((uy >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        s"""WITH b AS (
              SELECT event_id,
                     CAST(user_id AS BIGINT) & 65535 AS ux,
                     CAST(FLOOR(value * 10) AS BIGINT) & 65535 AS uy
              FROM events)
            SELECT event_id, $terms AS zkey FROM b"""
      },

      "agg_incremental_refresh" ->
        """SELECT l_returnflag, COUNT(*) AS cnt,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
           FROM lineitem GROUP BY l_returnflag""",

      "p_battery_sample_class" ->
        """WITH d AS (
             SELECT 'GENIE-C-' || CAST(doc_id AS VARCHAR) || '-1' AS sid,
                    (['cfDNA', 'Tumor', 'Other'])[CAST(doc_id % 3 AS INT) + 1] AS cls,
                    CASE WHEN doc_id % 4 = 0 THEN '8'
                         WHEN doc_id % 4 = 1 THEN '2'
                         WHEN doc_id % 4 = 2 THEN '8.0'
                         ELSE NULL END AS st
             FROM documents),
           v AS (SELECT sid,
                        cls = 'cfDNA' AND TRY_CAST(st AS DOUBLE) IS DISTINCT FROM 8.0 AS v1,
                        TRY_CAST(st AS DOUBLE) = 8.0 AND cls IS DISTINCT FROM 'cfDNA' AS v2
                 FROM d)
           SELECT 'sample_class_requires_type8' AS rule, 'error' AS severity,
                  COUNT(CASE WHEN v1 THEN 1 END) AS n_violations,
                  MIN(CASE WHEN v1 THEN sid END) AS example
           FROM v
           UNION ALL
           SELECT 'sample_type8_requires_class', 'error',
                  COUNT(CASE WHEN v2 THEN 1 END),
                  MIN(CASE WHEN v2 THEN sid END)
           FROM v""",

      "p_battery_orders" ->
        """SELECT 'status_domain' AS rule, 'error' AS severity,
                  COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS n_violations,
                  MIN(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN CAST(o_orderkey AS VARCHAR) END) AS example
           FROM orders
           UNION ALL
           SELECT 'price_positive', 'error',
                  COUNT(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 END),
                  MIN(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN CAST(o_orderkey AS VARCHAR) END)
           FROM orders
           UNION ALL
           SELECT 'priority_format', 'error',
                  COUNT(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 END),
                  MIN(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN CAST(o_orderkey AS VARCHAR) END)
           FROM orders
           UNION ALL
           SELECT 'date_in_range', 'warning',
                  COUNT(CASE WHEN year(o_orderdate) > 1998 THEN 1 END),
                  MIN(CASE WHEN year(o_orderdate) > 1998 THEN CAST(o_orderkey AS VARCHAR) END)
           FROM orders""",

      "p5_identifier_check" ->
        """SELECT source,
                  COUNT(CASE WHEN source IS NULL OR NOT starts_with(source, 'src')
                             OR length(source) >= 20 THEN 1 END) AS n_bad,
                  COUNT(*) AS n_rows
           FROM documents GROUP BY source""",

      "p12_median_check" ->
        """SELECT l_returnflag, ROUND(MEDIAN(l_quantity), 2) AS med_qty, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag""",

      "p14_duplicate_keys" ->
        """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
           GROUP BY o_custkey HAVING COUNT(*) > 1""",

      "j3_anti_join" ->
        """SELECT c_custkey, c_name FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",

      "j4_semi_join" ->
        """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
           GROUP BY c_nationkey""",

      "j5_broadcast_remap" ->
        """SELECT n_nationkey, n_name, COALESCE(r_name, 'UNKNOWN') AS region_label
           FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""",

      "a1_dup_counts" ->
        """SELECT n, COUNT(*) AS n_keys FROM (
             SELECT l_orderkey, l_linenumber, COUNT(*) AS n FROM lineitem
             GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
           GROUP BY n""",

      "a9_per_sample_counts" ->
        """SELECT user_id, COUNT(*) AS n_variants FROM events GROUP BY user_id""",

      "u3_except_missing" ->
        """SELECT c_custkey FROM customer
           EXCEPT SELECT c_custkey FROM customer WHERE c_custkey % 4 <> 0
           ORDER BY c_custkey""",

      "o1_sorted_export" ->
        """SELECT p_brand, COUNT(*) AS n_parts FROM part GROUP BY p_brand ORDER BY p_brand""",

      "c6_epoch_millis" ->
        """SELECT o_orderkey, epoch_ms(o_orderdate) AS epoch_ms FROM orders""",

      "j6_range_join_binned" ->
        """WITH bands AS (
             SELECT p_brand, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi
             FROM part GROUP BY p_brand),
           points AS (
             SELECT l_orderkey, l_linenumber,
                    l_extendedprice / greatest(l_quantity, 1.0) AS unit_price
             FROM lineitem)
           SELECT p_brand, COUNT(*) AS n_in_band
           FROM points JOIN bands ON unit_price >= lo AND unit_price <= hi
           GROUP BY p_brand""",

      "j8_release_diff" ->
        """WITH prior AS (
             SELECT o_orderpriority, COUNT(*) AS n_prior FROM orders
             WHERE year(o_orderdate) <= 1996 GROUP BY o_orderpriority),
           cur AS (SELECT o_orderpriority, COUNT(*) AS n_cur FROM orders GROUP BY o_orderpriority)
           SELECT COALESCE(cur.o_orderpriority, prior.o_orderpriority) AS o_orderpriority,
                  COALESCE(n_cur, 0) AS n_cur, COALESCE(n_prior, 0) AS n_prior,
                  COALESCE(n_cur, 0) - COALESCE(n_prior, 0) AS diff
           FROM cur FULL OUTER JOIN prior USING (o_orderpriority)""",

      "j9_asof_attribution" ->
        """SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms,
                  v.event_id AS view_event_id, epoch_ms(v.ts) AS view_ts_ms,
                  epoch_ms(c.ts) - epoch_ms(v.ts) AS gap_ms
           FROM (SELECT * FROM events WHERE event_type = 'click') c
           ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
             ON c.user_id = v.user_id AND c.ts >= v.ts""",

      "j10_fuzzy_pairs" ->
        """WITH p AS (SELECT DISTINCT lower(p_name) AS name FROM part),
           tok AS (SELECT DISTINCT name,
                          unnest(regexp_split_to_array(name, '\s+')) AS t
                   FROM p),
           keep AS (SELECT t FROM (SELECT t, count(*) AS df FROM tok GROUP BY 1)
                    WHERE df <= 12),
           tk AS (SELECT tok.name, tok.t FROM tok JOIN keep USING (t)),
           cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
                    FROM tk a JOIN tk b
                    ON a.t = b.t AND a.name < b.name)
           SELECT name_a, name_b,
                  CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
           FROM cand
           WHERE levenshtein(name_a, name_b) <= 3
           ORDER BY name_a, name_b""",

      "j11_fuzzy_qgram" ->
        // q-gram tier replay: rare shared 4-gram blocks, length prune,
        // exact levenshtein — names shorter than q gram to themselves
        """WITH p AS (SELECT DISTINCT lower(p_name) AS name FROM part),
           g AS (SELECT DISTINCT name,
                        unnest(CASE WHEN len(name) <= 4 THEN [name]
                               ELSE list_distinct(list_transform(
                                 range(1, len(name) - 4 + 2),
                                 i -> substring(name, i, 4))) END) AS g
                 FROM p),
           keep AS (SELECT g FROM (SELECT g, count(*) AS df FROM g GROUP BY 1)
                    WHERE df <= 20),
           gk AS (SELECT g.name, g.g FROM g JOIN keep USING (g)),
           cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
                    FROM gk a JOIN gk b
                    ON a.g = b.g AND a.name < b.name)
           SELECT name_a, name_b,
                  CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
           FROM cand
           WHERE abs(len(name_a) - len(name_b)) <= 3
             AND levenshtein(name_a, name_b) <= 3
           ORDER BY name_a, name_b""",

      "j12_fuzzy_cluster" ->
        // replay: both tiers' verified pairs (token + q-gram chains) →
        // undirected edges over min-partkey name ids → recursive-CTE
        // connected components → canonical = min id's name
        """WITH RECURSIVE p AS (SELECT DISTINCT lower(p_name) AS name FROM part),
           nid AS (SELECT lower(p_name) AS name, MIN(p_partkey) AS nid
                   FROM part GROUP BY 1),
           tok AS (SELECT DISTINCT name,
                          unnest(regexp_split_to_array(name, '\s+')) AS t
                   FROM p),
           keept AS (SELECT t FROM (SELECT t, count(*) AS df FROM tok GROUP BY 1)
                     WHERE df <= 12),
           tk AS (SELECT tok.name, tok.t FROM tok JOIN keept USING (t)),
           candt AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
                     FROM tk a JOIN tk b ON a.t = b.t AND a.name < b.name),
           gq AS (SELECT DISTINCT name,
                         unnest(CASE WHEN len(name) <= 4 THEN [name]
                                ELSE list_distinct(list_transform(
                                  range(1, len(name) - 4 + 2),
                                  i -> substring(name, i, 4))) END) AS g
                  FROM p),
           keepq AS (SELECT g FROM (SELECT g, count(*) AS df FROM gq GROUP BY 1)
                     WHERE df <= 20),
           gk AS (SELECT gq.name, gq.g FROM gq JOIN keepq USING (g)),
           candq AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
                     FROM gk a JOIN gk b ON a.g = b.g AND a.name < b.name),
           pairs AS (
             SELECT name_a, name_b FROM candt
             WHERE levenshtein(name_a, name_b) <= 3
             UNION
             SELECT name_a, name_b FROM candq
             WHERE abs(len(name_a) - len(name_b)) <= 3
               AND levenshtein(name_a, name_b) <= 3),
           e0 AS (SELECT a.nid AS u, b.nid AS v
                  FROM pairs JOIN nid a ON a.name = pairs.name_a
                       JOIN nid b ON b.name = pairs.name_b),
           edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
           reach(id, lab) AS (
             SELECT nid, nid FROM nid
             UNION
             SELECT e.v, reach.lab FROM reach JOIN edges e ON e.u = reach.id),
           comp AS (SELECT id AS nid, MIN(lab) AS cluster_id
                    FROM reach GROUP BY id)
           SELECT n.name, cn.name AS canonical_name,
                  comp.cluster_id = n.nid AS is_canonical
           FROM comp JOIN nid n USING (nid)
                JOIN nid cn ON cn.nid = comp.cluster_id
           ORDER BY n.name""",

      "a2_rollup_total" ->
        """SELECT COALESCE(o_orderstatus, 'Total') AS o_orderstatus, COUNT(*) AS n
           FROM orders GROUP BY ROLLUP(o_orderstatus)""",

      "a3_crosstab_pivot" ->
        """SELECT source,
                  COUNT(CASE WHEN lang = 'de' THEN 1 END) AS de,
                  COUNT(CASE WHEN lang = 'en' THEN 1 END) AS en,
                  COUNT(CASE WHEN lang = 'es' THEN 1 END) AS es,
                  COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
                  COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS zh
           FROM documents GROUP BY source""",

      "a4_completeness" ->
        """SELECT event_type,
                  ROUND(AVG(CASE WHEN value IS NOT NULL AND value > 0 THEN 1.0 ELSE 0.0 END), 6) AS value_complete,
                  ROUND(AVG(CASE WHEN props IS NOT NULL AND props <> '' THEN 1.0 ELSE 0.0 END), 6) AS props_complete,
                  COUNT(*) AS n
           FROM events GROUP BY event_type""",

      "a6_bool_aggregates" ->
        """SELECT l_returnflag, BOOL_AND(l_quantity > 0) AS all_qty_pos,
                  BOOL_OR(l_discount > 0.09) AS any_deep_discount, COUNT(*) AS n
           FROM lineitem GROUP BY l_returnflag""",

      "a10_value_decrease" ->
        """WITH old AS (
             SELECT event_type, COUNT(*) AS n_old FROM events
             WHERE event_id % 2 = 0 GROUP BY event_type),
           neu AS (SELECT event_type, COUNT(*) AS n_new FROM events GROUP BY event_type)
           SELECT COALESCE(neu.event_type, old.event_type) AS event_type,
                  COALESCE(n_new, 0) AS n_new, COALESCE(n_old, 0) AS n_old,
                  COALESCE(n_new, 0) < COALESCE(n_old, 0) AS decreased
           FROM neu FULL OUTER JOIN old USING (event_type)""",

      "w1_adjacent_deltas" ->
        """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events)
           SELECT user_id, event_id,
                  ts_ms - LAG(ts_ms) OVER w AS gap_ms,
                  ROUND(value - LAG(value) OVER w, 4) AS value_delta
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
           QUALIFY LAG(ts_ms) OVER w IS NOT NULL""",

      "w2_latest_per_group" ->
        """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events)
           SELECT user_id, event_id, ts_ms, event_type FROM e
           QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) = 1""",

      "o4_topk" ->
        """SELECT c_nationkey, CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS total_bal
           FROM customer GROUP BY c_nationkey
           ORDER BY total_bal DESC, c_nationkey ASC LIMIT 15""",

      "u1_union_except" ->
        """WITH big AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000),
                urgent AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
           SELECT 'union_distinct' AS set_op, COUNT(*) AS n
             FROM (SELECT DISTINCT o_orderkey FROM (SELECT * FROM big UNION ALL SELECT * FROM urgent))
           UNION ALL
           SELECT 'except' AS set_op, COUNT(*) AS n
             FROM (SELECT o_orderkey FROM big EXCEPT SELECT o_orderkey FROM urgent)
           UNION ALL
           SELECT 'intersect' AS set_op, COUNT(*) AS n
             FROM (SELECT o_orderkey FROM big INTERSECT SELECT o_orderkey FROM urgent)""",

      "f1_germline_greatest" ->
        """SELECT l_returnflag, COUNT(*) AS n_kept FROM lineitem
           WHERE l_returnflag = 'A'
              OR COALESCE(GREATEST(l_discount, l_tax), 0.0) <= 0.05
           GROUP BY l_returnflag""",

      "f7_redaction" ->
        """WITH aged AS (
             SELECT c_custkey,
                    CASE WHEN c_custkey % 11 = 0 THEN '>32485'
                         WHEN c_custkey % 13 = 0 THEN '<6570'
                         ELSE CAST(c_custkey % 20000 + 6600 AS VARCHAR) END AS age_days
             FROM customer)
           SELECT c_custkey,
                  CASE WHEN age_days = '>32485' THEN '>89'
                       WHEN age_days = '<6570' THEN '<18'
                       WHEN regexp_matches(age_days, '^-?\d+$')
                         THEN CAST(CAST(FLOOR(CAST(age_days AS DOUBLE) / 365.25) AS BIGINT) AS VARCHAR)
                       ELSE age_days END AS age_years,
                  CASE WHEN age_days IS NULL THEN NULL
                       WHEN starts_with(age_days, '>') THEN 'cannotReleaseHIPAA'
                       WHEN starts_with(age_days, '<') THEN 'withheld'
                       ELSE age_days END AS age_redacted
           FROM aged""",

      "dedup_exact" ->
        """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
           FROM documents GROUP BY lang""",

      "dedup_repeated_spans" -> repeatedSpansOracle,

      // index read and O(delta) merge chain must land on the same
      // full-corpus audit as the scan-side pass
      "dedup_repeated_persisted" -> repeatedSpansOracle,
      "dedup_repeated_incremental" -> repeatedSpansOracle,



      "dedup_repeated_removal" ->
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           grams AS (
             SELECT doc_id, len(ts) AS n_tokens,
                    CASE WHEN len(ts) >= 5 THEN
                      list_transform(range(0, len(ts) - 4),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+5], ' ')})
                    ELSE [{'p': 0, 'g': array_to_string(ts, ' ')}] END AS gs
             FROM toks),
           g AS (SELECT doc_id, n_tokens, unnest(gs) AS u FROM grams),
           g2 AS (SELECT doc_id, n_tokens, u.p AS p, u.g AS gm FROM g),
           cnt AS (SELECT gm, count(*) AS c FROM g2 GROUP BY gm),
           rep AS (SELECT doc_id, n_tokens, p
                   FROM g2 JOIN cnt USING (gm) WHERE c >= 2),
           isl AS (SELECT doc_id, n_tokens, p,
                          CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                                                     ORDER BY p) <= 5
                               THEN 0 ELSE 1 END AS brk
                   FROM rep),
           grp AS (SELECT doc_id, n_tokens, p,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
                   FROM isl),
           spans AS (SELECT doc_id, min(p) AS s,
                            least(max(p) + 5, any_value(n_tokens)) AS e
                     FROM grp GROUP BY doc_id, grp),
           cov AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS cp FROM spans),
           tok AS (SELECT doc_id, unnest(ts) AS tk,
                          unnest(range(0, len(ts))) AS i
                   FROM toks),
           kept AS (SELECT t.doc_id, t.i, t.tk
                    FROM tok t LEFT JOIN cov c
                      ON t.doc_id = c.doc_id AND t.i = c.cp
                    WHERE c.cp IS NULL),
           agg AS (SELECT doc_id,
                          array_to_string(list(tk ORDER BY i), ' ') AS clean_text
                   FROM kept GROUP BY doc_id)
           SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
           FROM documents d LEFT JOIN agg a USING (doc_id)
           ORDER BY doc_id""",

      "dedup_minhash_sig" -> {
        s"""WITH tok AS (
             SELECT doc_id,
                    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
             FROM documents),
           hs AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM tok)
           SELECT doc_id, ${oracleMinhash(0)}, ${oracleMinhash(1)},
                  ${oracleMinhash(2)}, ${oracleMinhash(3)} FROM hs"""
      },

      "dedup_ngram_jaccard" ->
        """WITH sh AS (
             SELECT doc_id,
                    CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(range(0, len(toks) - 2),
                        i -> array_to_string(toks[i+1:i+3], ' ')))
                    ELSE [array_to_string(toks, ' ')] END AS shingles
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                   FROM documents))
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  ROUND(CASE WHEN len(list_distinct(a.shingles || b.shingles)) = 0 THEN 1.0
                        ELSE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                             / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE) END, 6) AS jaccard
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",

      "dedup_minhash_estimate" -> {
        val mhs = (0 until 16).map(oracleMinhash).mkString(", ")
        val agree = (0 until 16).map(i =>
          s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH tok AS (
             SELECT doc_id,
                    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
             FROM documents),
           sig AS (SELECT doc_id, toks,
                          list_transform(toks, t -> md5(t)) AS hs
                   FROM tok),
           sig2 AS (SELECT doc_id, toks, $mhs FROM sig)
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  ROUND(CAST($agree AS DOUBLE) / 16.0, 6) AS est_jaccard,
                  ROUND(CASE WHEN len(list_distinct(a.toks || b.toks)) = 0 THEN 1.0
                        ELSE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                             / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) END, 6)
                    AS exact_jaccard
           FROM sig2 a JOIN sig2 b ON b.doc_id = a.doc_id + 1"""
      },

      "dedup_minhash_audit" -> {
        val mhs = (0 until 16).map(oracleMinhash).mkString(", ")
        val bandCtes = (0 until 4).map { b =>
          val parts = (0 until 4).map(i => s"mh${b * 4 + i}").mkString(" || '|' || ")
          s"SELECT doc_id, md5('band$b:' || $parts) AS k FROM sig"
        }.mkString("\n             UNION ALL\n             ")
        s"""WITH tok AS (
             SELECT doc_id,
                    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
             FROM documents),
           hs0 AS (SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM tok),
           sig AS (SELECT doc_id, $mhs FROM hs0),
           bk AS (
             $bandCtes),
           bkk AS (SELECT doc_id, k FROM bk
                   QUALIFY COUNT(*) OVER (PARTITION BY k) <= 10000),
           cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM bkk a JOIN bkk b ON a.k = b.k AND a.doc_id < b.doc_id),
           cj AS (SELECT id_a, id_b,
                         len(list_intersect(ta.toks, tb.toks)) AS i,
                         len(list_distinct(ta.toks || tb.toks)) AS u
                  FROM cand JOIN tok ta ON ta.doc_id = id_a
                       JOIN tok tb ON tb.doc_id = id_b),
           adj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          len(list_intersect(a.toks, b.toks)) AS i,
                          len(list_distinct(a.toks || b.toks)) AS u
                   FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1),
           adjc AS (SELECT adj.id_a, adj.id_b, adj.i, adj.u,
                           CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
                    FROM adj LEFT JOIN cand
                      ON cand.id_a = adj.id_a AND cand.id_b = adj.id_b),
           taus AS (SELECT unnest([300000, 500000, 700000]) AS tau_ppm),
           cagg AS (SELECT tau_ppm, COUNT(*) AS n_cand,
                           SUM(CASE WHEN i * 1000000 >= u * tau_ppm THEN 1 ELSE 0 END) AS n_cand_true
                    FROM cj CROSS JOIN taus GROUP BY 1),
           aagg AS (SELECT tau_ppm,
                           SUM(CASE WHEN i * 1000000 >= u * tau_ppm THEN 1 ELSE 0 END) AS n_adj_true,
                           SUM(CASE WHEN i * 1000000 >= u * tau_ppm AND caught = 1 THEN 1 ELSE 0 END) AS n_adj_caught
                    FROM adjc CROSS JOIN taus GROUP BY 1)
           SELECT CAST(tau_ppm AS BIGINT) AS tau_ppm,
                  CAST(n_cand AS BIGINT) AS n_cand,
                  CAST(n_cand_true AS BIGINT) AS n_cand_true,
                  CAST(CASE WHEN n_cand = 0 THEN NULL
                       ELSE (2 * 1000000 * n_cand_true + n_cand) // (2 * n_cand) END
                       AS BIGINT) AS precision_ppm,
                  CAST(n_adj_true AS BIGINT) AS n_adj_true,
                  CAST(n_adj_caught AS BIGINT) AS n_adj_caught,
                  CAST(CASE WHEN n_adj_true = 0 THEN NULL
                       ELSE (2 * 1000000 * n_adj_caught + n_adj_true) // (2 * n_adj_true) END
                       AS BIGINT) AS recall_ppm
           FROM cagg JOIN aagg USING (tau_ppm) ORDER BY tau_ppm"""
      },

      "dedup_cluster_assign" ->
        s"""WITH RECURSIVE tok AS (
             SELECT doc_id,
                    list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks
             FROM documents),
           hs AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs FROM tok),
           sig AS (
             SELECT doc_id, ${oracleMinhash(0)}, ${oracleMinhash(1)},
                    ${oracleMinhash(2)}, ${oracleMinhash(3)}
             FROM hs),
           bk AS (
             SELECT doc_id, md5('band0:' || mh0 || '|' || mh1) AS k FROM sig
             UNION ALL
             SELECT doc_id, md5('band1:' || mh2 || '|' || mh3) AS k FROM sig),
           pairs AS (
             SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
             FROM bk a JOIN bk b ON a.k = b.k AND a.doc_id < b.doc_id),
           edges AS (SELECT ida AS u, idb AS v FROM pairs
                     UNION SELECT idb, ida FROM pairs),
           reach(id, lab) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT e.v, reach.lab FROM reach JOIN edges e ON e.u = reach.id)
           SELECT id AS doc_id, MIN(lab) AS cluster_id,
                  MIN(lab) = id AS is_canonical
           FROM reach GROUP BY id""",

      "text_stats" ->
        """SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                  ROUND(
                    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                    + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                      / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                    + CASE WHEN CAST(length(text) AS DOUBLE)
                                / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality,
                  md5(array_to_string(list_sort(list_distinct(
                    regexp_split_to_array(trim(lower(text)), '\s+'))), ' ')) AS fingerprint
           FROM documents""",

      "text_winnow_fingerprint" ->
        """WITH t AS (SELECT doc_id,
                             lower(regexp_replace(text, '[^ -~]', '', 'g')) AS s
                      FROM documents),
           c AS (SELECT doc_id,
                        list_transform(string_split(s, ''), ch -> ascii(ch)) AS codes
                 FROM t),
           h AS (SELECT doc_id,
                        CASE WHEN len(codes) >= 5 THEN
                          list_transform(range(1, len(codes) - 3), i ->
                            codes[i] * 923521 + codes[i+1] * 29791 + codes[i+2] * 961
                              + codes[i+3] * 31 + codes[i+4])
                        ELSE CAST([] AS BIGINT[]) END AS hs
                 FROM c),
           w AS (SELECT doc_id,
                        CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                             WHEN len(hs) < 4 THEN [list_min(hs)]
                             ELSE list_transform(range(1, len(hs) - 2), i ->
                                    LEAST(hs[i], hs[i+1], hs[i+2], hs[i+3]))
                        END AS sel
                 FROM h)
           SELECT doc_id,
                  CAST(len(list_distinct(sel)) AS BIGINT) AS n_selected,
                  md5(COALESCE(array_to_string(list_transform(list_sort(list_distinct(sel)),
                        x -> CAST(x AS VARCHAR)), ','), '')) AS fp_md5
           FROM w""",

      "corpus_report" ->
        """WITH t AS (
             SELECT doc_id, lang, n_chars, text,
                    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                    string_split(text, chr(10)) AS lines
             FROM documents),
           s AS (
             SELECT doc_id, lang, n_chars, text, len(toks) AS n_tok,
                    list_sum(list_transform(toks, x -> len(x))) AS sum_len,
                    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                    length(text) - length(replace(text, '#', '')) AS hash_cnt,
                    (length(text) - length(replace(text, '...', ''))) / 3 AS dots_cnt,
                    GREATEST(len(lines), 1) AS n_lines,
                    len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%')) AS bullet_lines,
                    len(list_filter(lines, l -> l LIKE '%...')) AS ellipsis_lines
             FROM t),
           r AS (
             SELECT lang, n_chars, n_tok, md5(text) AS dg,
                    ROUND(CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS mwl,
                    ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS awf,
                    ROUND(CAST(hash_cnt + dots_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS swr,
                    ROUND(CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS blf,
                    ROUND(CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS elf
             FROM s)
           SELECT lang, COUNT(*) AS n_docs,
                  ROUND(1.0 - CAST(COUNT(DISTINCT dg) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
                  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                  ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS med_chars,
                  ROUND(CAST(SUM(CASE WHEN mwl BETWEEN 3.0 AND 10.0 AND awf > 0.8
                                       AND swr < 0.1 AND blf < 0.9 AND elf < 0.3
                                      THEN 1 ELSE 0 END) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE), 6) AS keep_frac
           FROM r GROUP BY lang""",

      "text_intradoc_dedup" ->
        """WITH s AS (
             SELECT doc_id, string_split(text, '. ') AS segs FROM documents),
           k AS (
             SELECT doc_id, segs,
                    -- first-occurrence filter: DuckDB's list_distinct
                    -- does NOT preserve order, list_position does
                    list_transform(
                      list_filter(range(1, len(segs) + 1),
                        i -> list_position(segs, segs[i]) = i),
                      i -> segs[i]) AS uniq
             FROM s)
           SELECT doc_id,
                  CAST(len(segs) AS BIGINT) AS n_segments,
                  CAST(len(uniq) AS BIGINT) AS n_unique,
                  md5(array_to_string(uniq, '. ')) AS cleaned_md5
           FROM k""",

      "text_gopher_rules" ->
        """WITH t AS (
             SELECT doc_id, text,
                    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                    string_split(text, chr(10)) AS lines
             FROM documents),
           s AS (
             SELECT doc_id,
                    len(toks) AS n_tok,
                    list_sum(list_transform(toks, x -> len(x))) AS sum_len,
                    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                    length(text) - length(replace(text, '#', '')) AS hash_cnt,
                    (length(text) - length(replace(text, '...', ''))) / 3 AS dots_cnt,
                    GREATEST(len(lines), 1) AS n_lines,
                    len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%')) AS bullet_lines,
                    len(list_filter(lines, l -> l LIKE '%...')) AS ellipsis_lines
             FROM t),
           r AS (
             SELECT doc_id,
                    ROUND(CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS mean_word_len,
                    ROUND(CAST(n_alpha AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS alpha_word_frac,
                    ROUND(CAST(hash_cnt + dots_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS symbol_word_ratio,
                    ROUND(CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS bullet_line_frac,
                    ROUND(CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE), 6) AS ellipsis_line_frac
             FROM s)
           SELECT doc_id, mean_word_len, alpha_word_frac, symbol_word_ratio,
                  bullet_line_frac, ellipsis_line_frac,
                  (mean_word_len BETWEEN 3.0 AND 10.0 AND alpha_word_frac > 0.8
                   AND symbol_word_ratio < 0.1 AND bullet_line_frac < 0.9
                   AND ellipsis_line_frac < 0.3) AS keep
           FROM r""",

      "text_span_dedup" ->
        """WITH t AS (SELECT doc_id,
                             lower(regexp_replace(text, '[^ -~]', '', 'g')) AS s
                      FROM documents),
           c AS (SELECT doc_id,
                        list_transform(string_split(s, ''),
                          ch -> CAST(ascii(ch) AS BIGINT)) AS codes
                 FROM t),
           h AS (SELECT doc_id,
                        CASE WHEN len(codes) >= 6 THEN
                          list_transform(range(1, len(codes) - 4), i ->
                            codes[i] * 28629151 + codes[i+1] * 923521
                              + codes[i+2] * 29791 + codes[i+3] * 961
                              + codes[i+4] * 31 + codes[i+5])
                        ELSE CAST([] AS BIGINT[]) END AS hs
                 FROM c),
           w AS (SELECT doc_id,
                        CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                             WHEN len(hs) < 16 THEN [list_min(hs)]
                             ELSE list_transform(range(1, len(hs) - 14), i ->
                                    list_min(hs[i:i+15]))
                        END AS sel
                 FROM h),
           fp AS (SELECT doc_id, list_distinct(sel) AS fp FROM w),
           sel AS (SELECT doc_id, unnest(fp) AS h FROM fp),
           keep AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) <= 20),
           pr AS (SELECT s.doc_id, s.h FROM sel s JOIN keep USING (h)),
           shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                             COUNT(*) AS n_shared
                      FROM pr a JOIN pr b ON a.h = b.h AND a.doc_id < b.doc_id
                      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           sz AS (SELECT doc_id, len(fp) AS n FROM fp)
           SELECT id_a, id_b, n_shared,
                  ROUND(CAST(n_shared AS DOUBLE)
                        / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6) AS containment
           FROM shared
           JOIN sz sa ON id_a = sa.doc_id
           JOIN sz sb ON id_b = sb.doc_id""",

      "vec_quantize_int8" ->
        """SELECT vec_id,
                  ROUND(list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0, 6) AS scale,
                  CAST(len(embedding) AS BIGINT) AS n_dims,
                  md5(array_to_string(
                    CASE WHEN list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) = 0.0
                         THEN list_transform(embedding, x -> '0')
                         ELSE list_transform(embedding, x ->
                           CAST(CAST(ROUND(CAST(x AS DOUBLE)
                             / (list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) / 127.0), 0) AS INTEGER) AS VARCHAR))
                    END, ',')) AS q_md5
           FROM embeddings""",

      "text_tfidf_top3" ->
        """WITH tok AS (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           cnt AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
           dl AS (SELECT doc_id, SUM(c) AS n_tok FROM cnt GROUP BY 1),
           df AS (SELECT token, COUNT(*) AS doc_freq FROM cnt GROUP BY 1),
           n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
           scored AS (
             SELECT cnt.doc_id, cnt.token,
                    ROUND((CAST(c AS DOUBLE) / CAST(n_tok AS DOUBLE))
                          * ln(CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
             FROM cnt JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN n)
           SELECT doc_id, token, tfidf,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, token) AS rank
           FROM scored
           QUALIFY rank <= 3""",

      "text_bm25_topk" ->
        """WITH q(query_id, token) AS (VALUES
             (0, 'spark'), (0, 'window'),
             (1, 'hash'), (1, 'merge'), (1, 'vector'),
             (2, 'customer'), (2, 'query')),
           tok AS (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
           stats AS (SELECT COUNT(*) AS n_docs,
                            SUM(dl) / COUNT(*) AS avgdl FROM dl),
           tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
                  WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1, 2),
           df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
           term AS (
             SELECT q.query_id, tf.doc_id,
                    CAST(ROUND(
                      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                      * (CAST(tf AS DOUBLE) * 2.2)
                      / (CAST(tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
                      AS DECIMAL(18,6)) AS s
             FROM tf JOIN q USING (token) JOIN dl USING (doc_id)
                  JOIN df USING (token) CROSS JOIN stats),
           scored AS (SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score
                      FROM term GROUP BY 1, 2)
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc_id) AS rank
           FROM scored
           QUALIFY rank <= 5""",

      "text_bm25_incremental" ->
        """WITH q(query_id, token) AS (VALUES
             (0, 'spark'), (0, 'window'),
             (1, 'zzmergedtoken'), (1, 'vector'),
             (2, 'customer'), (2, 'query')),
           eff AS (
             SELECT doc_id,
                    CASE WHEN doc_id % 5 = 0 THEN text || ' zzmergedtoken'
                         ELSE text END AS text
             FROM documents),
           tok AS (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM eff),
           dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
           stats AS (SELECT COUNT(*) AS n_docs,
                            SUM(dl) / COUNT(*) AS avgdl FROM dl),
           tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
                  WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1, 2),
           df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
           term AS (
             SELECT q.query_id, tf.doc_id,
                    CAST(ROUND(
                      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                      * (CAST(tf AS DOUBLE) * 2.2)
                      / (CAST(tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
                      AS DECIMAL(18,6)) AS s
             FROM tf JOIN q USING (token) JOIN dl USING (doc_id)
                  JOIN df USING (token) CROSS JOIN stats),
           scored AS (SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score
                      FROM term GROUP BY 1, 2)
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, doc_id) AS rank
           FROM scored
           QUALIFY rank <= 5""",

      "text_bm25_asof" ->
        """WITH q(query_id, token) AS (VALUES
             (0, 'spark'), (0, 'window'),
             (1, 'zzasoftoken'), (1, 'vector'),
             (2, 'customer'), (2, 'query')),
           corpus AS (
             SELECT 0 AS version, doc_id, text
             FROM documents WHERE doc_id % 3 <> 0
             UNION ALL
             SELECT 1 AS version, doc_id,
                    CASE WHEN doc_id % 5 = 0 THEN text || ' zzasoftoken'
                         ELSE text END
             FROM documents
             WHERE NOT ((doc_id % 3 = 0 OR doc_id % 5 = 0)
                        AND doc_id % 7 = 1)),
           tok AS (
             SELECT version, doc_id,
                    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM corpus),
           dl AS (SELECT version, doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
                  FROM tok GROUP BY 1, 2),
           stats AS (SELECT version, COUNT(*) AS n_docs,
                            SUM(dl) / COUNT(*) AS avgdl FROM dl GROUP BY 1),
           tf AS (SELECT version, doc_id, token, COUNT(*) AS tf FROM tok
                  WHERE token IN (SELECT DISTINCT token FROM q)
                  GROUP BY 1, 2, 3),
           df AS (SELECT version, token, COUNT(*) AS df FROM tf GROUP BY 1, 2),
           term AS (
             SELECT tf.version, q.query_id, tf.doc_id,
                    CAST(ROUND(
                      ln((CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                         / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
                      * (CAST(tf.tf AS DOUBLE) * 2.2)
                      / (CAST(tf.tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)), 6)
                      AS DECIMAL(18,6)) AS s
             FROM tf JOIN q USING (token)
                  JOIN dl ON dl.version = tf.version AND dl.doc_id = tf.doc_id
                  JOIN df ON df.version = tf.version AND df.token = tf.token
                  JOIN stats ON stats.version = tf.version),
           scored AS (SELECT version, query_id, doc_id,
                             CAST(SUM(s) AS DOUBLE) AS score
                      FROM term GROUP BY 1, 2, 3)
           SELECT CAST(version AS BIGINT) AS version,
                  CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                  ROW_NUMBER() OVER (PARTITION BY version, query_id
                    ORDER BY score DESC, doc_id) AS rank
           FROM scored
           QUALIFY rank <= 5""",

      "text_bm25_changelog" ->
        """SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'added'
                       WHEN doc_id % 7 = 1 THEN 'deleted'
                       ELSE 'replaced' END AS change
           FROM documents
           WHERE (doc_id % 3 = 0 AND doc_id % 7 <> 1)
              OR (doc_id % 3 <> 0 AND doc_id % 5 = 0)""",

      "text_bm25_segments" ->
        """SELECT CAST(0 AS BIGINT) AS segment,
                  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)
                    AS n_rows,
                  CAST(0 AS BIGINT) AS n_tombstones
           UNION ALL
           SELECT CAST(1 AS BIGINT),
                  (SELECT COUNT(*) FROM documents
                   WHERE doc_id % 10 IN (1, 4)),
                  (SELECT COUNT(*) FROM documents
                   WHERE doc_id % 10 IN (4, 8))""",

      "text_hybrid_rerank" ->
        """WITH q(query_id, token) AS (VALUES
             (0, 'spark'), (0, 'window'),
             (1, 'hash'), (1, 'merge'), (1, 'vector'),
             (2, 'customer'), (2, 'query')),
           tok AS (
             SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
           stats AS (SELECT COUNT(*) AS n_docs,
                            SUM(dl) / COUNT(*) AS avgdl FROM dl),
           tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
                  WHERE token IN (SELECT DISTINCT token FROM q) GROUP BY 1, 2),
           df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
           term AS (
             SELECT q.query_id, tf.doc_id,
                    CAST(ROUND(
                      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                      * (CAST(tf AS DOUBLE) * 2.2)
                      / (CAST(tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
                      AS DECIMAL(18,6)) AS s
             FROM tf JOIN q USING (token) JOIN dl USING (doc_id)
                  JOIN df USING (token) CROSS JOIN stats),
           scored AS (SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score
                      FROM term GROUP BY 1, 2),
           short AS (
             SELECT query_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id) AS r
             FROM scored QUALIFY r <= 20),
           anchors(query_id, anchor_id) AS (VALUES (0, 0), (1, 1), (2, 2)),
           qv AS (SELECT query_id, embedding AS qvec
                  FROM anchors JOIN embeddings ON vec_id = anchor_id),
           cand AS (
             SELECT s.query_id, s.doc_id,
                    ROUND(
                      list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))
                      / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                         * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))))), 6) AS cos
             FROM short s JOIN embeddings e ON e.vec_id = s.doc_id
                  JOIN qv ON qv.query_id = s.query_id)
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, doc_id) AS rank
           FROM cand
           QUALIFY rank <= 5""",

      "text_hybrid_rrf" ->
        // replay: BM25 top-20 (same scoring chain as text_hybrid_rerank)
        // FULL OUTER the cosine top-20 per anchor, fuse by
        // Σ 1/(60+rank) from integer ranks, top-10 on the exact double
        (hybridRrfOracleCtes + """
           SELECT query_id, doc_id, ROUND(rrf, 6) AS rrf,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
           FROM fused
           QUALIFY rank <= 10
           ORDER BY query_id, rank"""),

      "text_hybrid_rrf_blocked" ->
        // n_brute per anchor replays the brute-fused top-10 count; the
        // overlap floor is asserted engine-side (IVF cells are not
        // SQL-replayable — the sim_bitext_blocked precedent)
        (hybridRrfOracleCtes + """
           SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_brute,
                  TRUE AS overlap_ok
           FROM (SELECT query_id, doc_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY rrf DESC, doc_id) AS rank
                 FROM fused QUALIFY rank <= 10)
           GROUP BY query_id
           ORDER BY query_id"""),

      "text_heavy_hitters" ->
        """WITH tok AS (
             SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
             FROM documents),
           tot AS (SELECT COUNT(*) AS total FROM tok)
           SELECT token, COUNT(*) AS cnt
           FROM tok CROSS JOIN tot
           GROUP BY token, total
           HAVING COUNT(*) * 50 > total * 1""",

      "sessionize_batch" ->
        """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
           m AS (SELECT user_id, event_id, ts_ms,
                        CASE WHEN lag(ts_ms) OVER w IS NULL
                                  OR ts_ms - lag(ts_ms) OVER w > 1800000
                             THEN 1 ELSE 0 END AS ns
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
           s AS (SELECT user_id, ts_ms,
                        SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
                 FROM m)
           SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                  COUNT(*) AS n_events,
                  MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms
           FROM s GROUP BY 1, 2""",

      "sessionize_native" ->
        """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
           m AS (SELECT user_id, ts_ms,
                        CASE WHEN lag(ts_ms) OVER w IS NULL
                                  OR ts_ms - lag(ts_ms) OVER w > 1800000
                             THEN 1 ELSE 0 END AS ns
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
           s AS (SELECT user_id, ts_ms,
                        SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_ms
                          ROWS UNBOUNDED PRECEDING) AS session_idx
                 FROM m)
           SELECT user_id, COUNT(*) AS n_events,
                  MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms
           FROM s GROUP BY user_id, session_idx""",

      "text_repetition" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                      FROM documents),
           g AS (SELECT doc_id, toks,
                        CASE WHEN len(toks) >= 2 THEN
                          list_transform(range(0, len(toks) - 1),
                            i -> array_to_string(toks[i+1:i+2], ' '))
                        ELSE CAST([] AS VARCHAR[]) END AS grams
                 FROM t),
           f AS (SELECT doc_id,
                        ROUND(COALESCE(CAST(list_max(list_transform(list_distinct(toks),
                                x -> len(list_filter(toks, tk -> tk = x)))) AS DOUBLE), 0.0)
                              / CAST(GREATEST(len(toks), 1) AS DOUBLE), 6) AS top_token_frac,
                        ROUND(CASE WHEN len(grams) = 0 THEN 0.0
                              ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                         / CAST(len(grams) AS DOUBLE) END, 6) AS dup_bigram_frac
                 FROM g)
           SELECT doc_id, top_token_frac, dup_bigram_frac,
                  top_token_frac <= 0.1 AND dup_bigram_frac <= 0.5 AS keep
           FROM f""",

      "text_pii_scrub" ->
        """WITH r AS (
             SELECT doc_id,
                    substr(text, 1, 80) || ' email ' || lang || CAST(doc_id AS VARCHAR)
                      || '@mail.example ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                      || ' phone 555-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') AS raw
             FROM documents)
           SELECT doc_id,
                  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                  CAST(len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
                  CAST(len(regexp_extract_all(raw, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                  md5(regexp_replace(regexp_replace(regexp_replace(raw,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                    '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
           FROM r""",

      "text_c4_segments" ->
        """WITH s AS (SELECT doc_id, string_split(text, ' the ') AS segs FROM documents),
           k AS (SELECT doc_id, segs,
                        list_filter(segs, x -> len(string_split(x, ' ')) >= 5) AS kept
                 FROM s)
           SELECT doc_id,
                  CAST(len(segs) AS BIGINT) AS n_segments,
                  CAST(len(kept) AS BIGINT) AS n_kept,
                  CAST(len(list_distinct(kept)) AS BIGINT) AS n_unique,
                  md5(COALESCE(array_to_string(kept, ' | '), '')) AS kept_md5
           FROM k""",

      "text_paragraph_dedup" ->
        (paragraphDedupOracleCtes + """
           SELECT doc_id, n_segments, n_kept, rebuilt_md5 FROM pdd"""),

      "text_boilerplate_lines" ->
        // replay: raw positional segments (trailing empties kept) →
        // per-segment distinct-doc frequency → df >= 3 anti filter →
        // per-doc totals + survivors rejoined in position order
        """WITH raw AS (
             SELECT doc_id, s[i] AS seg, i
             FROM (SELECT doc_id, string_split(text, ' the ') AS s,
                          unnest(range(1, len(string_split(text, ' the ')) + 1)) AS i
                   FROM documents WHERE text IS NOT NULL)),
           hot AS (
             SELECT seg FROM (
               SELECT seg, COUNT(DISTINCT doc_id) AS df FROM raw GROUP BY 1)
             WHERE df >= 3),
           kept AS (
             SELECT r.doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_kept,
                    md5(COALESCE(array_to_string(
                      list(r.seg ORDER BY r.i), ' the '), '')) AS rebuilt_md5
             FROM raw r ANTI JOIN hot h ON r.seg = h.seg
             GROUP BY 1),
           tot AS (
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments
             FROM raw GROUP BY 1)
           SELECT t.doc_id, t.n_segments,
                  COALESCE(k.n_kept, 0) AS n_kept,
                  COALESCE(k.rebuilt_md5, md5('')) AS rebuilt_md5
           FROM tot t LEFT JOIN kept k USING (doc_id)""",

      "paragraph_dedup_counts_only" ->
        (paragraphDedupOracleCtes + """
           SELECT doc_id, n_segments, n_kept FROM pdd"""),

      "paragraph_dedup_md5_only" ->
        (paragraphDedupOracleCtes + """
           SELECT doc_id, rebuilt_md5 FROM pdd"""),

      "text_phrase_search" ->
        // independent adjacency check: per-phrase list_filter
        // conjunction over the token array (the engine instead votes
        // offset-aligned starts from positional postings)
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           hits AS (
             SELECT 0 AS query_id, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'batch' AND ts[i+1] = 'batch')) AS n_occurrences
             FROM toks
             UNION ALL
             SELECT 1, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'spark' AND ts[i+1] = 'window'))
             FROM toks
             UNION ALL
             SELECT 2, doc_id,
                    len(list_filter(range(1, len(ts) - 1),
                        i -> ts[i] = 'merge' AND ts[i+1] = 'sort' AND ts[i+2] = 'agg'))
             FROM toks)
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                  CAST(n_occurrences AS BIGINT) AS n_occurrences
           FROM hits WHERE n_occurrences > 0
           ORDER BY query_id, doc_id""",

      "text_phrase_persisted" ->
        // identical contract to text_phrase_search — the index path
        // must be bit-identical to the scan path
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           hits AS (
             SELECT 0 AS query_id, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'batch' AND ts[i+1] = 'batch')) AS n_occurrences
             FROM toks
             UNION ALL
             SELECT 1, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'spark' AND ts[i+1] = 'window'))
             FROM toks
             UNION ALL
             SELECT 2, doc_id,
                    len(list_filter(range(1, len(ts) - 1),
                        i -> ts[i] = 'merge' AND ts[i+1] = 'sort' AND ts[i+2] = 'agg'))
             FROM toks)
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                  CAST(n_occurrences AS BIGINT) AS n_occurrences
           FROM hits WHERE n_occurrences > 0
           ORDER BY query_id, doc_id""",

      "text_phrase_incremental" ->
        // replay over the LATEST-version corpus: %5 docs carry the
        // re-ingested two-token tail
        """WITH eff AS (
             SELECT doc_id,
                    CASE WHEN doc_id % 5 = 0 THEN text || ' zzphrase marker'
                         ELSE text END AS text
             FROM documents),
           toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM eff),
           hits AS (
             SELECT 0 AS query_id, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'zzphrase' AND ts[i+1] = 'marker')) AS n_occurrences
             FROM toks
             UNION ALL
             SELECT 1, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'spark' AND ts[i+1] = 'window'))
             FROM toks
             UNION ALL
             SELECT 2, doc_id,
                    len(list_filter(range(1, len(ts)),
                        i -> ts[i] = 'batch' AND ts[i+1] = 'batch'))
             FROM toks)
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                  CAST(n_occurrences AS BIGINT) AS n_occurrences
           FROM hits WHERE n_occurrences > 0
           ORDER BY query_id, doc_id""",

      "text_proximity_search" ->
        // independent pair count: positions self-join with the range
        // predicate (the engine folds over per-doc position arrays)
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           pos AS (
             SELECT doc_id, unnest(ts) AS token,
                    unnest(range(0, len(ts))) AS p
             FROM toks),
           prs(query_id, t1, t2) AS (VALUES (0, 'spark', 'window'),
                                            (1, 'customer', 'query')),
           a AS (SELECT q.query_id, pos.doc_id, pos.p AS p1
                 FROM pos JOIN prs q ON pos.token = q.t1),
           b AS (SELECT q.query_id, pos.doc_id, pos.p AS p2
                 FROM pos JOIN prs q ON pos.token = q.t2)
           SELECT CAST(a.query_id AS BIGINT) AS query_id, a.doc_id,
                  CAST(count(*) AS BIGINT) AS n_pairs
           FROM a JOIN b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
           WHERE abs(a.p1 - b.p2) <= 4
           GROUP BY 1, 2
           ORDER BY 1, 2""",

      "text_proximity_persisted" ->
        // the index path must answer exactly like the scan path
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           pos AS (
             SELECT doc_id, unnest(ts) AS token,
                    unnest(range(0, len(ts))) AS p
             FROM toks),
           prs(query_id, t1, t2) AS (VALUES (0, 'spark', 'window'),
                                            (1, 'customer', 'query')),
           a AS (SELECT q.query_id, pos.doc_id, pos.p AS p1
                 FROM pos JOIN prs q ON pos.token = q.t1),
           b AS (SELECT q.query_id, pos.doc_id, pos.p AS p2
                 FROM pos JOIN prs q ON pos.token = q.t2)
           SELECT CAST(a.query_id AS BIGINT) AS query_id, a.doc_id,
                  CAST(count(*) AS BIGINT) AS n_pairs
           FROM a JOIN b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
           WHERE abs(a.p1 - b.p2) <= 4
           GROUP BY 1, 2
           ORDER BY 1, 2""",

      "text_collocations" ->
        // PMI over the bigram distribution: margins from the pair
        // table itself; 6-dp round before ranking, (w1, w2) tie-break
        """WITH toks AS (
             SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           pairs AS (
             SELECT ts[i] AS w1, ts[i + 1] AS w2
             FROM toks, LATERAL unnest(range(1, len(ts))) AS u(i)
             WHERE ts[i] <> '' AND ts[i + 1] <> ''),
           cnts AS (
             SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
             FROM pairs GROUP BY 1, 2),
           lefts AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c1
                     FROM cnts GROUP BY 1),
           rights AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS c2
                      FROM cnts GROUP BY 1),
           tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM cnts)
           SELECT c.w1, c.w2, c.n_pair,
                  round(ln((c.n_pair::DOUBLE * tot.n::DOUBLE) /
                           (l.c1::DOUBLE * r.c2::DOUBLE)), 6) AS pmi
           FROM cnts c
           JOIN lefts l ON c.w1 = l.w1
           JOIN rights r ON c.w2 = r.w2
           CROSS JOIN tot
           WHERE c.n_pair >= 5
           ORDER BY pmi DESC, c.w1, c.w2
           LIMIT 20""",

      "text_chunk_overlap" ->
        """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents),
           c AS (SELECT doc_id,
                        list_transform(range(0, len(toks), 40),
                          st -> array_to_string(toks[CAST(st + 1 AS BIGINT):CAST(st + 50 AS BIGINT)], ' ')) AS chunks
                 FROM t),
           u AS (SELECT doc_id,
                        unnest(list_transform(range(0, len(chunks)),
                          i -> {'idx': i, 'chunk': chunks[CAST(i + 1 AS BIGINT)]})) AS r
                 FROM c)
           SELECT doc_id, CAST(r.idx AS BIGINT) AS chunk_idx,
                  CAST(len(string_split(r.chunk, ' ')) AS BIGINT) AS n_chunk_tokens,
                  md5(r.chunk) AS chunk_md5
           FROM u""",

      "s17_jsonl_roundtrip" ->
        """SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
           FROM orders""",

      "text_length_quantiles" ->
        """SELECT lang, count(*) AS n,
                  ROUND(quantile_cont(n_chars, 0.25), 6) AS q25,
                  ROUND(quantile_cont(n_chars, 0.50), 6) AS q50,
                  ROUND(quantile_cont(n_chars, 0.75), 6) AS q75
           FROM documents GROUP BY lang""",

      "text_zscore" ->
        """WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS len FROM documents),
           st AS (SELECT lang, CAST(SUM(len) AS BIGINT) AS s1,
                         CAST(SUM(len * len) AS BIGINT) AS s2,
                         count(*) AS n
                  FROM d GROUP BY lang),
           m AS (SELECT lang,
                        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                        sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1.0)) AS std
                 FROM st)
           SELECT d.doc_id, d.lang, ROUND((CAST(len AS DOUBLE) - mean) / std, 6) AS z
           FROM d JOIN m ON d.lang = m.lang""",

      "decontam_overlap" ->
        """WITH sh AS (
             SELECT doc_id,
                    CASE WHEN len(toks) >= 5 THEN
                      list_distinct(list_transform(range(0, len(toks) - 4),
                        i -> array_to_string(toks[i+1:i+5], ' ')))
                    ELSE [array_to_string(toks, ' ')] END AS shingles
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                   FROM documents)),
           bench AS (SELECT DISTINCT s AS sh
                     FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0)),
           train AS (SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE doc_id % 97 <> 0)
           SELECT t.doc_id, COUNT(DISTINCT t.sh) AS n_overlap
           FROM train t JOIN bench b USING (sh)
           GROUP BY t.doc_id""",

      "decontam_span" ->
        // diagonal runs via gaps-and-islands over positional bigrams
        """WITH toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           grams AS (
             SELECT doc_id,
                    CASE WHEN len(ts) >= 2 THEN
                      list_transform(range(0, len(ts) - 1),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+2], ' ')})
                    ELSE [{'p': 0, 'g': array_to_string(ts, ' ')}] END AS gs
             FROM toks),
           tr AS (SELECT doc_id, unnest(gs) AS u FROM grams WHERE doc_id % 97 <> 0),
           ev AS (SELECT doc_id AS eval_id, unnest(gs) AS u FROM grams WHERE doc_id % 97 = 0),
           m AS (SELECT t.doc_id, e.eval_id, t.u.p - e.u.p AS diag, t.u.p AS tpos
                 FROM tr t JOIN ev e ON t.u.g = e.u.g),
           isl AS (SELECT doc_id, eval_id, diag, tpos,
                          tpos - row_number() OVER (PARTITION BY doc_id, eval_id, diag
                                                    ORDER BY tpos) AS grp
                   FROM m),
           runs AS (SELECT doc_id, eval_id, CAST(count(*) AS BIGINT) AS run
                    FROM isl GROUP BY doc_id, eval_id, diag, grp)
           SELECT doc_id, eval_id, CAST(max(run) + 1 AS BIGINT) AS span_tokens
           FROM runs GROUP BY doc_id, eval_id
           HAVING max(run) + 1 >= 3
           ORDER BY doc_id, eval_id""",

      "decontam_report" ->
        // replay: the overlap and span chains composed per benchmark
        // ('b' || (doc_id // 97) % 3), plus half-up ppm of flagged
        // training docs
        """WITH sh AS (
             SELECT doc_id,
                    CASE WHEN len(toks) >= 5 THEN
                      list_distinct(list_transform(range(0, len(toks) - 4),
                        i -> array_to_string(toks[i+1:i+5], ' ')))
                    ELSE [array_to_string(toks, ' ')] END AS shingles
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                   FROM documents)),
           bsh AS (SELECT DISTINCT benchmark, g
                   FROM (SELECT 'b' || CAST((doc_id // 97) % 3 AS VARCHAR) AS benchmark,
                                unnest(shingles) AS g
                         FROM sh WHERE doc_id % 97 = 0)),
           tsh AS (SELECT doc_id, unnest(shingles) AS g
                   FROM sh WHERE doc_id % 97 <> 0),
           flag AS (SELECT benchmark, COUNT(DISTINCT doc_id) AS n_train_flagged
                    FROM tsh JOIN bsh USING (g) GROUP BY 1),
           grams AS (
             SELECT doc_id,
                    CASE WHEN len(ts) >= 2 THEN
                      list_transform(range(0, len(ts) - 1),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+2], ' ')})
                    ELSE [{'p': 0, 'g': array_to_string(ts, ' ')}] END AS gs
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
                   FROM documents)),
           tr AS (SELECT doc_id, unnest(gs) AS u FROM grams WHERE doc_id % 97 <> 0),
           ev AS (SELECT doc_id AS eval_id, unnest(gs) AS u FROM grams WHERE doc_id % 97 = 0),
           m AS (SELECT t.doc_id, e.eval_id, t.u.p - e.u.p AS diag, t.u.p AS tpos
                 FROM tr t JOIN ev e ON t.u.g = e.u.g),
           isl AS (SELECT doc_id, eval_id, diag, tpos,
                          tpos - row_number() OVER (PARTITION BY doc_id, eval_id, diag
                                                    ORDER BY tpos) AS grp
                   FROM m),
           runs AS (SELECT doc_id, eval_id, CAST(count(*) AS BIGINT) AS run
                    FROM isl GROUP BY doc_id, eval_id, diag, grp),
           sp AS (SELECT eval_id, max(run) + 1 AS span_tokens
                  FROM runs GROUP BY eval_id HAVING max(run) + 1 >= 3),
           spb AS (SELECT 'b' || CAST((eval_id // 97) % 3 AS VARCHAR) AS benchmark,
                          MAX(span_tokens) AS max_span_tokens
                   FROM sp GROUP BY 1),
           nt AS (SELECT COUNT(*) AS n_train FROM documents WHERE doc_id % 97 <> 0),
           evc AS (SELECT 'b' || CAST((doc_id // 97) % 3 AS VARCHAR) AS benchmark,
                          COUNT(*) AS n_eval_docs
                   FROM documents WHERE doc_id % 97 = 0 GROUP BY 1)
           SELECT evc.benchmark, evc.n_eval_docs,
                  CAST(COALESCE(flag.n_train_flagged, 0) AS BIGINT) AS n_train_flagged,
                  CAST(COALESCE(spb.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
                  CAST((2 * 1000000 * COALESCE(flag.n_train_flagged, 0) + nt.n_train)
                       // (2 * nt.n_train) AS BIGINT) AS flagged_ppm
           FROM evc LEFT JOIN flag USING (benchmark)
                LEFT JOIN spb USING (benchmark) CROSS JOIN nt
           ORDER BY benchmark""",

      "agg_maintain_decontam" ->
        // the decontam_report replay computed DIRECTLY over the
        // survivor train population (base minus retractions plus
        // arrivals: doc_id % 10 = 7 OR doc_id % 9 <> 4) — any
        // maintenance error (a stale flagged count, an unretracted
        // span pair, a drifted n_train) breaks the compare
        """WITH sh AS (
             SELECT doc_id,
                    CASE WHEN len(toks) >= 5 THEN
                      list_distinct(list_transform(range(0, len(toks) - 4),
                        i -> array_to_string(toks[i+1:i+5], ' ')))
                    ELSE [array_to_string(toks, ' ')] END AS shingles
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                   FROM documents)),
           bsh AS (SELECT DISTINCT benchmark, g
                   FROM (SELECT 'b' || CAST((doc_id // 97) % 3 AS VARCHAR) AS benchmark,
                                unnest(shingles) AS g
                         FROM sh WHERE doc_id % 97 = 0)),
           tsh AS (SELECT doc_id, unnest(shingles) AS g
                   FROM sh WHERE doc_id % 97 <> 0
                     AND (doc_id % 10 = 7 OR doc_id % 9 <> 4)),
           flag AS (SELECT benchmark, COUNT(DISTINCT doc_id) AS n_train_flagged
                    FROM tsh JOIN bsh USING (g) GROUP BY 1),
           grams AS (
             SELECT doc_id,
                    CASE WHEN len(ts) >= 2 THEN
                      list_transform(range(0, len(ts) - 1),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+2], ' ')})
                    ELSE [{'p': 0, 'g': array_to_string(ts, ' ')}] END AS gs
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
                   FROM documents)),
           tr AS (SELECT doc_id, unnest(gs) AS u FROM grams
                  WHERE doc_id % 97 <> 0
                    AND (doc_id % 10 = 7 OR doc_id % 9 <> 4)),
           ev AS (SELECT doc_id AS eval_id, unnest(gs) AS u FROM grams WHERE doc_id % 97 = 0),
           m AS (SELECT t.doc_id, e.eval_id, t.u.p - e.u.p AS diag, t.u.p AS tpos
                 FROM tr t JOIN ev e ON t.u.g = e.u.g),
           isl AS (SELECT doc_id, eval_id, diag, tpos,
                          tpos - row_number() OVER (PARTITION BY doc_id, eval_id, diag
                                                    ORDER BY tpos) AS grp
                   FROM m),
           runs AS (SELECT doc_id, eval_id, CAST(count(*) AS BIGINT) AS run
                    FROM isl GROUP BY doc_id, eval_id, diag, grp),
           sp AS (SELECT eval_id, max(run) + 1 AS span_tokens
                  FROM runs GROUP BY eval_id HAVING max(run) + 1 >= 3),
           spb AS (SELECT 'b' || CAST((eval_id // 97) % 3 AS VARCHAR) AS benchmark,
                          MAX(span_tokens) AS max_span_tokens
                   FROM sp GROUP BY 1),
           nt AS (SELECT COUNT(*) AS n_train FROM documents
                  WHERE doc_id % 97 <> 0
                    AND (doc_id % 10 = 7 OR doc_id % 9 <> 4)),
           evc AS (SELECT 'b' || CAST((doc_id // 97) % 3 AS VARCHAR) AS benchmark,
                          COUNT(*) AS n_eval_docs
                   FROM documents WHERE doc_id % 97 = 0 GROUP BY 1)
           SELECT evc.benchmark, evc.n_eval_docs,
                  CAST(COALESCE(flag.n_train_flagged, 0) AS BIGINT) AS n_train_flagged,
                  CAST(COALESCE(spb.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
                  CAST((2 * 1000000 * COALESCE(flag.n_train_flagged, 0) + nt.n_train)
                       // (2 * nt.n_train) AS BIGINT) AS flagged_ppm
           FROM evc LEFT JOIN flag USING (benchmark)
                LEFT JOIN spb USING (benchmark) CROSS JOIN nt
           ORDER BY benchmark""",

      "decontam_bloom" ->
        // replays the Bloom filter exactly, false positives included:
        // the bit positions are salted-md5 mod 2^18, so the eval-side
        // DISTINCT position set IS the bitset; a train shingle "hits"
        // iff all 3 seed positions are present
        """WITH sh AS (
             SELECT doc_id,
                    CASE WHEN len(toks) >= 5 THEN
                      list_distinct(list_transform(range(0, len(toks) - 4),
                        i -> array_to_string(toks[i+1:i+5], ' ')))
                    ELSE [array_to_string(toks, ' ')] END AS shingles
             FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                   FROM documents)),
           ev AS (SELECT DISTINCT s AS sh
                  FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0)),
           sd AS (SELECT unnest([0, 1, 2]) AS seed),
           pos AS (SELECT DISTINCT
                     (('0x' || substr(md5(sh), 1, 8))::BIGINT
                      + seed * ('0x' || substr(md5(sh), 9, 8))::BIGINT)
                       % 262144 AS p
                   FROM ev CROSS JOIN sd),
           tr AS (SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE doc_id % 97 <> 0),
           trp AS (SELECT doc_id, sh,
                     (('0x' || substr(md5(sh), 1, 8))::BIGINT
                      + seed * ('0x' || substr(md5(sh), 9, 8))::BIGINT)
                       % 262144 AS p
                   FROM tr CROSS JOIN sd),
           hit AS (SELECT doc_id, sh,
                          SUM(CASE WHEN pos.p IS NOT NULL THEN 1 ELSE 0 END) = 3 AS is_hit
                   FROM trp LEFT JOIN pos ON trp.p = pos.p
                   GROUP BY doc_id, sh)
           SELECT doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_shingles,
                  CAST(SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
                  SUM(CASE WHEN is_hit THEN 1 ELSE 0 END) > 0 AS flagged
           FROM hit GROUP BY doc_id""",

      "sample_weighted_wor" ->
        """WITH d AS (
             SELECT lang, doc_id,
                    CAST(n_chars % 50 + 1 AS DOUBLE) AS w,
                    (CAST(('0x' || substr(md5('wor:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 0.5)
                      / 4294967296.0 AS u
             FROM documents),
           kd AS (SELECT lang, doc_id,
                         ROUND(ln(u) / w, 9) AS a_key
                  FROM d),
           r AS (SELECT lang, doc_id, a_key,
                        row_number() OVER (PARTITION BY lang
                          ORDER BY a_key DESC, doc_id ASC) AS rank
                 FROM kd)
           SELECT lang, doc_id, a_key, CAST(rank AS BIGINT) AS rank
           FROM r WHERE rank <= 10""",

      "sample_split" ->
        """SELECT doc_id,
                  CASE WHEN b < floor(0.8 * 4294967296.0) THEN 'train'
                       WHEN b < floor((0.8 + 0.1) * 4294967296.0) THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT doc_id,
                        ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b
                 FROM documents)""",

      "sample_epoch_shuffle" ->
        """SELECT doc_id,
                  CAST(b % 8 AS INTEGER) AS shard,
                  CAST(ROW_NUMBER() OVER (PARTITION BY b % 8
                         ORDER BY b ASC, doc_id ASC) AS BIGINT) AS pos
           FROM (SELECT doc_id,
                        ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b
                 FROM documents)""",

      "events_json_extract" ->
        """SELECT event_type,
                  CAST(COUNT(k) AS BIGINT) AS n_with_k,
                  CAST(SUM(k) AS BIGINT) AS sum_k,
                  CAST(MIN(k) AS BIGINT) AS min_k,
                  CAST(MAX(k) AS BIGINT) AS max_k
           FROM (SELECT event_type,
                        CASE WHEN props IS NULL OR props = '' THEN NULL
                             ELSE CAST(props ->> 'k' AS BIGINT) END AS k
                 FROM events)
           GROUP BY event_type ORDER BY event_type""",

      "sample_curriculum" ->
        """WITH q AS (
             SELECT doc_id,
                    CAST(floor(ROUND(
                      LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) * 10)
                      AS BIGINT) AS q_bucket,
                    ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b
             FROM documents)
           SELECT doc_id, q_bucket,
                  CAST(b % 8 AS INTEGER) AS shard,
                  CAST(ROW_NUMBER() OVER (PARTITION BY b % 8
                         ORDER BY q_bucket DESC, b ASC, doc_id ASC) AS BIGINT) AS pos
           FROM q""",

      "text_langid_confusion" ->
        """WITH sc AS (
             SELECT doc_id, lang,
                    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
             FROM documents),
           hits AS (
             SELECT doc_id, lang,
               len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','a','that'))) AS h_en,
               len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los','una'))) AS h_es,
               len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','un','une'))) AS h_fr,
               len(list_filter(toks, t -> t IN ('der','die','und','das','von','zu','mit','ein'))) AS h_de
             FROM sc),
           pred AS (
             SELECT lang,
                    CASE WHEN GREATEST(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                         WHEN h_fr = GREATEST(h_en, h_es, h_fr, h_de) THEN 'fr'
                         WHEN h_es = GREATEST(h_en, h_es, h_fr, h_de) THEN 'es'
                         WHEN h_en = GREATEST(h_en, h_es, h_fr, h_de) THEN 'en'
                         ELSE 'de' END AS lang_pred
             FROM hits)
           SELECT lang, lang_pred, COUNT(*) AS n
           FROM pred GROUP BY 1, 2 ORDER BY lang, lang_pred""",

      "sample_dsir_select" ->
        // same md5 buckets as the engine; add-1 smoothing over 64
        // dims; weights rounded 6 dp BEFORE the document-order
        // list_sum fold, exactly the literal array the engine embeds
        """WITH tok AS (
             SELECT (lang = 'en') AS is_t,
                    CAST(('0x' || substr(md5('feat:' || t), 1, 8))::BIGINT % 64
                         AS INT) AS b
             FROM (SELECT lang,
                          unnest(list_filter(
                            regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> strlen(t) > 0)) AS t
                   FROM documents)),
           cnt AS (SELECT b, COUNT(*) AS n_c,
                          SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS n_t
                   FROM tok GROUP BY 1),
           tot AS (SELECT SUM(n_c) AS tc, SUM(n_t) AS tt FROM cnt),
           allb AS (SELECT range AS b FROM range(0, 64)),
           w AS (SELECT allb.b,
                        ROUND(ln((COALESCE(cnt.n_t, 0) + 1.0) / (tt + 64.0))
                            - ln((COALESCE(cnt.n_c, 0) + 1.0) / (tc + 64.0)),
                          6) AS w
                 FROM allb LEFT JOIN cnt USING (b) CROSS JOIN tot),
           wl AS (SELECT list(w ORDER BY b) AS wl FROM w),
           scored AS (
             SELECT doc_id,
                    ROUND(COALESCE(list_sum(list_transform(
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  t -> strlen(t) > 0),
                      t -> wl[CAST(('0x' || substr(md5('feat:' || t), 1, 8))::BIGINT
                                   % 64 AS INT) + 1])), 0.0), 6) AS log_w
             FROM documents CROSS JOIN wl
             WHERE text IS NOT NULL)
           SELECT doc_id, log_w,
                  ROW_NUMBER() OVER (ORDER BY log_w DESC, doc_id) AS rank
           FROM scored
           QUALIFY rank <= 200""",

      "sample_mix_plan" ->
        (mixPlanOracleCtes + """
           SELECT lang, avail, n_docs, rate_ppm, undersupplied FROM mixplan"""),

      "mix_plan_rates_only" ->
        (mixPlanOracleCtes + """
           SELECT lang, rate_ppm FROM mixplan"""),

      "mix_plan_flags_only" ->
        (mixPlanOracleCtes + """
           SELECT lang, undersupplied FROM mixplan"""),

      "sample_epoch_mix" ->
        // replay: tenths by source index mod 4 → n = whole copies +
        // hash-fraction extra (bucket·10 < frac·2³², pure integers) →
        // one row per copy via range(0, n)
        """WITH r AS (
             SELECT doc_id, source,
                    CASE CAST(substring(source, 4) AS INT) % 4
                      WHEN 0 THEN 25 WHEN 1 THEN 10 WHEN 2 THEN 5
                      ELSE 15 END AS t,
                    ('0x' || substr(md5('epoch_mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b
             FROM documents),
           n AS (
             SELECT doc_id, source,
                    t // 10 + CASE WHEN b * 10 < (t % 10) * 4294967296
                                   THEN 1 ELSE 0 END AS n
             FROM r)
           SELECT doc_id, source, CAST(unnest(range(0, n)) AS BIGINT) AS copy_idx
           FROM n WHERE n > 0
           ORDER BY doc_id, copy_idx""",

      "sample_neyman_alloc" ->
        // replay: per-stratum integer sums → exact radicand
        // N·Σx² − (Σx)² → 6-dp sqrt scaled to an integer weight →
        // Hamilton apportionment (floor quotas, leftovers by remainder
        // desc / lang asc)
        """WITH st AS (
             SELECT lang, COUNT(*) AS n_docs,
                    SUM(CAST(nt AS HUGEINT)) AS sx,
                    SUM(CAST(nt AS HUGEINT) * CAST(nt AS HUGEINT)) AS sxx
             FROM (SELECT lang,
                          len(regexp_split_to_array(trim(text), '\s+')) AS nt
                   FROM documents)
             GROUP BY 1),
           w AS (SELECT lang, n_docs,
                        CAST(CAST(ROUND(SQRT(CAST(n_docs * sxx - sx * sx AS DOUBLE)), 6)
                             AS DECIMAL(28,6)) * 1000000 AS HUGEINT) AS w6
                 FROM st),
           tot AS (SELECT SUM(w6) AS bigw FROM w),
           quota AS (
             SELECT lang, n_docs, w6,
                    (1000 * w6) // bigw AS base,
                    (1000 * w6) % bigw AS rem
             FROM w CROSS JOIN tot),
           lo AS (SELECT SUM(base) AS sb FROM quota),
           ranked AS (
             SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS lr
             FROM quota)
           SELECT lang, n_docs,
                  CAST(w6 AS DOUBLE) / 1000000.0 AS neyman_weight,
                  CAST(base + CASE WHEN lr <= 1000 - sb THEN 1 ELSE 0 END
                       AS BIGINT) AS alloc
           FROM ranked CROSS JOIN lo
           ORDER BY lang""",

      "sample_mix_weighted" ->
        """SELECT doc_id, lang, source
           FROM (SELECT doc_id, lang, source,
                        ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b,
                        CASE lang WHEN 'en' THEN 0.3 WHEN 'de' THEN 1.0
                                  WHEN 'es' THEN 0.8 WHEN 'fr' THEN 0.5
                                  ELSE 0.6 END AS rate
                 FROM documents)
           WHERE b < floor(rate * 4294967296.0)""",

      "sample_per_group" ->
        """SELECT doc_id, lang, source,
                  ROW_NUMBER() OVER (PARTITION BY lang, source
                    ORDER BY ('0x' || substr(md5('pg:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                             doc_id) AS rn
           FROM documents
           QUALIFY rn <= 3""",

      "sample_budget_select" ->
        """WITH t AS (
             SELECT doc_id,
                    ROUND(
                      LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality,
                    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
             FROM documents),
           c AS (
             SELECT doc_id, quality, n_tokens,
                    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum_cost
             FROM t)
           SELECT doc_id, quality, n_tokens, CAST(cum_cost AS BIGINT) AS cum_cost
           FROM c WHERE cum_cost <= 10000""",

      "sample_source_cap" ->
        """WITH t AS (
             SELECT doc_id, source,
                    ROUND(
                      LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality,
                    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
             FROM documents),
           c AS (
             SELECT doc_id, source, quality, n_tokens,
                    SUM(n_tokens) OVER (PARTITION BY source
                      ORDER BY quality DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum_cost
             FROM t)
           SELECT doc_id, source, quality, n_tokens, CAST(cum_cost AS BIGINT) AS cum_cost
           FROM c WHERE cum_cost <= 800""",

      "sample_split_grouped" ->
        // same variant pair + canonical key as text_canonical_dedup,
        // same split hash as sample_split — taken on the cluster
        // representative (min variant id per canonical key)
        """WITH v AS (
             SELECT doc_id * 2 + i AS vid, v
             FROM (SELECT doc_id,
                          unnest([text || ' Cafe' || chr(769) || ' #1',
                                  upper(text) || '  caf' || chr(233) || '  1']) AS v,
                          unnest([0, 1]) AS i
                   FROM documents)),
           c AS (
             SELECT vid,
                    md5(trim(regexp_replace(regexp_replace(
                      lower(nfc_normalize(v)), '[[:punct:]]+', ' ', 'g'),
                      '[[:space:]]+', ' ', 'g'))) AS ck
             FROM v),
           r AS (SELECT vid, MIN(vid) OVER (PARTITION BY ck) AS rep_id FROM c),
           h AS (SELECT vid, rep_id,
                        ('0x' || substr(md5('split:' || CAST(rep_id AS VARCHAR)), 1, 8))::BIGINT AS b
                 FROM r)
           SELECT vid, rep_id,
                  CASE WHEN b < floor(0.8 * 4294967296.0) THEN 'train'
                       WHEN b < floor((0.8 + 0.1) * 4294967296.0) THEN 'val'
                       ELSE 'test' END AS split
           FROM h""",

      "text_quality_classifier" ->
        // same md5 bucket as the engine, weight regenerated inline from
        // the pseudoWeights mix; list_sum folds in token order, the
        // sequential-add parity the dot-product oracles already prove
        """SELECT doc_id, ROUND(m, 6) AS margin, m >= 0 AS keep
           FROM (
             SELECT doc_id,
                    COALESCE(list_sum(list_transform(
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  t -> strlen(t) > 0),
                      t -> CAST(((('0x' || substr(md5('feat:' || t), 1, 8))::BIGINT % 64)
                                 * 2654435761) % 4294967296 AS DOUBLE)
                           / 4294967296.0 * 2.0 - 1.0)), 0.0) AS m
             FROM documents)""",

      "text_classifier_auc" ->
        // replay: same PER-TOKEN-MEAN margin + 4-dp round (bounded
        // [−1,1] histogram) → windowed rank prefix (oracle side may
        // window freely) → Mann-Whitney with midranks, half-up ppm
        (classifierMarginCte + """,
           h AS (SELECT s, COUNT(*) AS c, SUM(y) AS p FROM sc GROUP BY 1),
           r AS (SELECT s, c, p,
                        COALESCE(SUM(c) OVER (ORDER BY s ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS lo
                 FROM h),
           agg AS (SELECT SUM(p * (2 * lo + c + 1)) AS sum2,
                          SUM(p) AS npos, SUM(c) AS n
                   FROM r)
           SELECT CAST(npos AS BIGINT) AS n_pos,
                  CAST(n - npos AS BIGINT) AS n_neg,
                  CAST(CASE WHEN npos = 0 OR npos = n THEN NULL
                       ELSE ((sum2 - npos * (npos + 1)) * 1000000 * 2
                             + 2 * npos * (n - npos))
                            // (2 * 2 * npos * (n - npos)) END AS BIGINT) AS auc_ppm
           FROM agg"""),

      "text_classifier_calibration" ->
        // replay: same margin CTE as the AUC audit → DECIMAL-derived
        // 0.1-wide bin (no double multiply at a boundary) → integer
        // counts + half-up ppm positive rate
        (classifierMarginCte + """
           SELECT CAST(FLOOR(CAST(s AS DECIMAL(10,4)) * 10) AS BIGINT) AS bin,
                  COUNT(*) AS n_docs, CAST(SUM(y) AS BIGINT) AS n_pos,
                  CAST((2 * 1000000 * SUM(y) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
                    AS pos_rate_ppm
           FROM sc GROUP BY 1 ORDER BY 1"""),

      "text_classifier_train" -> {
        // the same generic GD step twice: pred via DECIMAL(30,10) sums
        // of c·w per doc, gradient via DECIMAL sums of c·err per
        // bucket, update w − 0.5·(g/n) — the exact expressions the
        // engine's driver loop evaluates
        def step(wPrev: String, p: String, e: String, g: String, wNext: String) =
          s"""$p AS (SELECT f.doc_id, f.y,
                           CAST(SUM(CAST(f.x * w.w AS DECIMAL(30,10))) AS DOUBLE) AS p
                     FROM feat f JOIN $wPrev w USING (b) GROUP BY 1, 2),
             $e AS (SELECT doc_id, p - y AS e FROM $p),
             $g AS (SELECT f.b, CAST(SUM(CAST(f.x * e.e AS DECIMAL(30,10))) AS DOUBLE) AS g
                    FROM feat f JOIN $e e USING (doc_id) GROUP BY 1),
             $wNext AS (SELECT $wPrev.b, $wPrev.w - 0.5 * (COALESCE($g.g, 0.0) / n.n) AS w
                        FROM $wPrev LEFT JOIN $g ON $wPrev.b = $g.b CROSS JOIN n)"""
        s"""WITH d AS (SELECT doc_id,
                              CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, text
                       FROM documents),
           tok AS (SELECT doc_id, y,
                          unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                             t -> strlen(t) > 0)) AS t
                   FROM d),
           cnts AS (SELECT doc_id, y,
                           CAST(('0x' || substr(md5('feat:' || t), 1, 8))::BIGINT % 64 AS INT) AS b,
                           COUNT(*) AS c
                    FROM tok GROUP BY 1, 2, 3),
           lens AS (SELECT doc_id, SUM(c) AS l FROM cnts GROUP BY 1),
           feat AS (SELECT c.doc_id, c.y, c.b,
                           CAST(c.c AS DOUBLE) / CAST(l.l AS DOUBLE) AS x
                    FROM cnts c JOIN lens l USING (doc_id)),
           n AS (SELECT COUNT(*) AS n FROM d),
           w0 AS (SELECT CAST(UNNEST(range(64)) AS INT) AS b, 0.0 AS w),
           ${step("w0", "p1", "e1", "g1", "w1")},
           ${step("w1", "p2", "e2", "g2", "w2")}
           SELECT CAST(b AS BIGINT) AS bucket, ROUND(w, 6) AS weight FROM w2"""
      },

      "text_blocklist_hits" ->
        """WITH p AS (
             SELECT * FROM (VALUES ('small query line'), ('query big part'),
                                   ('window merge hash'), ('slow key')) t(phrase)),
           d AS (
             SELECT doc_id,
                    ' ' || array_to_string(
                      regexp_split_to_array(trim(lower(text)), '\s+'), ' ')
                        || ' ' AS norm
             FROM documents)
           SELECT DISTINCT doc_id, phrase
           FROM d JOIN p ON d.norm LIKE '% ' || p.phrase || ' %'
           ORDER BY doc_id, phrase""",

      "pipeline_curation_v2" ->
        """WITH p AS (
             SELECT * FROM (VALUES ('small query line', 3), ('query big part', 3),
                                   ('window merge hash', 3), ('slow key', 2)) t(phrase, n)),
           toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           bg AS (
             SELECT doc_id, n,
                    unnest(list_filter(
                      list_transform(range(0, greatest(len(ts) - n + 1, 0)),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+n], ' ')}),
                      x -> x.g = phrase)) AS m
             FROM toks CROSS JOIN p WHERE len(ts) >= n),
           bcov AS (SELECT DISTINCT doc_id, unnest(range(m.p, m.p + n)) AS cp FROM bg),
           btok AS (SELECT doc_id, unnest(ts) AS tk,
                           unnest(range(0, len(ts))) AS i FROM toks),
           bkept AS (SELECT t.doc_id, t.i, t.tk
                     FROM btok t LEFT JOIN bcov c
                       ON t.doc_id = c.doc_id AND t.i = c.cp
                     WHERE c.cp IS NULL),
           c1 AS (SELECT d.doc_id, coalesce(a.ct, '') AS clean1
                  FROM documents d LEFT JOIN
                    (SELECT doc_id, array_to_string(list(tk ORDER BY i), ' ') AS ct
                     FROM bkept GROUP BY doc_id) a USING (doc_id)),
           t2 AS (SELECT doc_id, regexp_split_to_array(clean1, '\s+') AS ts FROM c1),
           g2 AS (SELECT doc_id, len(ts) AS ntk,
                         CASE WHEN len(ts) >= 5 THEN
                           list_transform(range(0, len(ts) - 4),
                             i -> {'p': i, 'g': array_to_string(ts[i+1:i+5], ' ')})
                         ELSE [{'p': 0, 'g': array_to_string(ts, ' ')}] END AS gs
                  FROM t2),
           g3 AS (SELECT doc_id, ntk, unnest(gs) AS u FROM g2),
           g4 AS (SELECT doc_id, ntk, u.p AS p, u.g AS gm FROM g3),
           cnt AS (SELECT gm, count(*) AS c FROM g4 GROUP BY gm),
           rep AS (SELECT doc_id, ntk, p FROM g4 JOIN cnt USING (gm) WHERE c >= 2),
           isl AS (SELECT doc_id, ntk, p,
                          CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                                                     ORDER BY p) <= 5
                               THEN 0 ELSE 1 END AS brk
                   FROM rep),
           grp AS (SELECT doc_id, ntk, p,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS grp
                   FROM isl),
           spans AS (SELECT doc_id, min(p) AS s,
                            least(max(p) + 5, any_value(ntk)) AS e
                     FROM grp GROUP BY doc_id, grp),
           cov2 AS (SELECT DISTINCT doc_id, unnest(range(s, e)) AS cp FROM spans),
           tok2 AS (SELECT doc_id, unnest(ts) AS tk,
                           unnest(range(0, len(ts))) AS i FROM t2),
           kept2 AS (SELECT t.doc_id, t.i, t.tk
                     FROM tok2 t LEFT JOIN cov2 c
                       ON t.doc_id = c.doc_id AND t.i = c.cp
                     WHERE c.cp IS NULL),
           c2 AS (SELECT d.doc_id, coalesce(a.ct, '') AS clean2
                  FROM documents d LEFT JOIN
                    (SELECT doc_id, array_to_string(list(tk ORDER BY i), ' ') AS ct
                     FROM kept2 GROUP BY doc_id) a USING (doc_id)),
           fin AS (SELECT doc_id,
                          CASE WHEN clean2 = '' THEN 0
                               ELSE len(string_split(clean2, ' ')) END AS n_tok
                   FROM c2)
           SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(f.n_tok) AS BIGINT) AS n_tokens
           FROM fin f JOIN documents d USING (doc_id)
           WHERE f.n_tok >= 10
           GROUP BY d.lang, d.source ORDER BY d.lang, d.source""",

      "text_blocklist_removal" ->
        """WITH p AS (
             SELECT * FROM (VALUES ('small query line', 3), ('query big part', 3),
                                   ('window merge hash', 3), ('slow key', 2)) t(phrase, n)),
           toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           g AS (
             SELECT doc_id, n,
                    unnest(list_filter(
                      list_transform(range(0, greatest(len(ts) - n + 1, 0)),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+n], ' ')}),
                      x -> x.g = phrase)) AS m
             FROM toks CROSS JOIN p WHERE len(ts) >= n),
           cov AS (SELECT DISTINCT doc_id, unnest(range(m.p, m.p + n)) AS cp FROM g),
           tok AS (SELECT doc_id, unnest(ts) AS tk,
                          unnest(range(0, len(ts))) AS i
                   FROM toks),
           kept AS (SELECT t.doc_id, t.i, t.tk
                    FROM tok t LEFT JOIN cov c
                      ON t.doc_id = c.doc_id AND t.i = c.cp
                    WHERE c.cp IS NULL),
           agg AS (SELECT doc_id,
                          array_to_string(list(tk ORDER BY i), ' ') AS clean_text
                   FROM kept GROUP BY doc_id)
           SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
           FROM documents d LEFT JOIN agg a USING (doc_id)
           ORDER BY doc_id""",

      "decontam_scrub" ->
        // replay: eval positional 5-gram strings → distinct set →
        // train hits by gram equality → covered-position set → token
        // cut + in-order rebuild (the text_blocklist_removal shape)
        """WITH ev AS (
             SELECT DISTINCT g FROM (
               SELECT unnest(list_transform(range(0, greatest(len(ts) - 4, 0)),
                        i -> array_to_string(ts[i+1:i+5], ' '))) AS g
               FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
                     FROM documents WHERE doc_id % 97 = 0)
               WHERE len(ts) >= 5)),
           toks AS (
             SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents WHERE doc_id % 97 <> 0),
           hit AS (
             SELECT h.doc_id, h.m.p AS p FROM (
               SELECT doc_id,
                      unnest(list_transform(range(0, greatest(len(ts) - 4, 0)),
                        i -> {'p': i, 'g': array_to_string(ts[i+1:i+5], ' ')})) AS m
               FROM toks WHERE len(ts) >= 5) h
             JOIN ev ON h.m.g = ev.g),
           cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS cp FROM hit),
           tok AS (SELECT doc_id, unnest(ts) AS tk,
                          unnest(range(0, len(ts))) AS i
                   FROM toks),
           kept AS (SELECT t.doc_id, t.i, t.tk
                    FROM tok t LEFT JOIN cov c
                      ON t.doc_id = c.doc_id AND t.i = c.cp
                    WHERE c.cp IS NULL),
           agg AS (SELECT doc_id,
                          array_to_string(list(tk ORDER BY i), ' ') AS clean_text
                   FROM kept GROUP BY doc_id)
           SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
           FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
           LEFT JOIN agg a USING (doc_id)
           ORDER BY doc_id""",

      "text_ngram_diversity" ->
        """WITH toks AS (
             SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
             FROM documents),
           grams AS (
             SELECT source,
                    CASE WHEN len(ts) >= 3 THEN
                      list_transform(range(0, len(ts) - 2),
                        i -> array_to_string(ts[i+1:i+3], ' '))
                    ELSE [array_to_string(ts, ' ')] END AS gs
             FROM toks),
           g AS (SELECT source, unnest(gs) AS gm FROM grams)
           SELECT source, CAST(count(*) AS BIGINT) AS total_grams,
                  CAST(count(DISTINCT gm) AS BIGINT) AS distinct_grams,
                  CAST((count(DISTINCT gm) * 1000000 * 2 + count(*)) // (2 * count(*))
                       AS BIGINT) AS distinct_ppm
           FROM g GROUP BY source ORDER BY source""",

      "corpus_source_overlap" ->
        """WITH tok AS (
             SELECT DISTINCT source AS g, t
             FROM (SELECT source,
                          unnest(list_filter(
                            regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> strlen(t) > 0)) AS t
                   FROM documents)),
           sz AS (SELECT g, COUNT(*) AS n FROM tok GROUP BY g),
           sh AS (SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS shared
                  FROM tok a JOIN tok b ON a.t = b.t AND a.g < b.g
                  GROUP BY 1, 2)
           SELECT source_a, source_b,
                  sa.n AS n_a, sb.n AS n_b, shared,
                  CAST((shared * 1000000 * 2 + (sa.n + sb.n - shared))
                       // (2 * (sa.n + sb.n - shared)) AS BIGINT) AS jaccard_ppm
           FROM sh
           JOIN sz sa ON sh.source_a = sa.g
           JOIN sz sb ON sh.source_b = sb.g
           ORDER BY source_a, source_b""",

      "corpus_overlap_incremental" ->
        // ground truth directly over the survivor corpus: the
        // incremental path must land on this bit for bit
        """WITH tok AS (
             SELECT DISTINCT source AS g, t
             FROM (SELECT source,
                          unnest(list_filter(
                            regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> strlen(t) > 0)) AS t
                   FROM documents WHERE doc_id % 11 <> 5)),
           sz AS (SELECT g, COUNT(*) AS n FROM tok GROUP BY g),
           sh AS (SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS shared
                  FROM tok a JOIN tok b ON a.t = b.t AND a.g < b.g
                  GROUP BY 1, 2)
           SELECT source_a, source_b,
                  sa.n AS n_a, sb.n AS n_b, shared,
                  CAST((shared * 1000000 * 2 + (sa.n + sb.n - shared))
                       // (2 * (sa.n + sb.n - shared)) AS BIGINT) AS jaccard_ppm
           FROM sh
           JOIN sz sa ON sh.source_a = sa.g
           JOIN sz sb ON sh.source_b = sb.g
           ORDER BY source_a, source_b""",

      "corpus_source_overlap_minhash" ->
        // per-source signature = componentwise min over the source's
        // distinct-token km hashes (same HUGEINT replay as the
        // doc-level minhash oracles); estimate = agreement/16 as
        // half-up ppm, joined against the exact Jaccard ppm
        """WITH tok AS (
             SELECT DISTINCT source AS g, t
             FROM (SELECT source,
                          unnest(list_filter(
                            regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> strlen(t) > 0)) AS t
                   FROM documents)),
           hs AS (SELECT g, md5(t) AS h FROM tok),
           sd AS (SELECT range AS i FROM range(0, 16)),
           comp AS (
             SELECT g, i,
                    MIN(lower(lpad(to_hex(CAST(
                      (CAST(CAST(('0x' || substring(h, 1, 16)) AS UBIGINT) AS HUGEINT)
                       + i * CAST(CAST(('0x' || substring(h, 17, 16)) AS UBIGINT) AS HUGEINT))
                      % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT)), 16, '0'))) AS v
             FROM hs CROSS JOIN sd GROUP BY g, i),
           agr AS (SELECT a.g AS source_a, b.g AS source_b,
                          CAST(SUM(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS agree
                   FROM comp a JOIN comp b ON a.i = b.i AND a.g < b.g
                   GROUP BY 1, 2),
           sz AS (SELECT g, COUNT(*) AS n FROM tok GROUP BY g),
           sh AS (SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS shared
                  FROM tok a JOIN tok b ON a.t = b.t AND a.g < b.g
                  GROUP BY 1, 2)
           SELECT agr.source_a, agr.source_b, agree,
                  CAST((agree * 1000000 * 2 + 16) // 32 AS BIGINT) AS est_ppm,
                  CAST((shared * 1000000 * 2 + (sa.n + sb.n - shared))
                       // (2 * (sa.n + sb.n - shared)) AS BIGINT) AS jaccard_ppm
           FROM agr
           JOIN sh ON agr.source_a = sh.source_a AND agr.source_b = sh.source_b
           JOIN sz sa ON agr.source_a = sa.g
           JOIN sz sb ON agr.source_b = sb.g
           ORDER BY agr.source_a, agr.source_b""",

      "text_fertility" ->
        (fertilityOracleCtes + """
           SELECT lang, n_chars, n_words, n_bpe_tokens,
                  chars_per_token_ppm, tokens_per_word_ppm
           FROM fert ORDER BY lang"""),

      "fertility_sums_only" ->
        (fertilityOracleCtes + """
           SELECT lang, n_chars, n_words, n_bpe_tokens
           FROM fert ORDER BY lang"""),

      "fertility_ppm_only" ->
        (fertilityOracleCtes + """
           SELECT lang, chars_per_token_ppm, tokens_per_word_ppm
           FROM fert ORDER BY lang"""),

      "text_zipf_slope" ->
        // ln terms rounded 6 dp THEN summed in rank order (list_sum
        // over rank-ordered lists == the engine's sequential fold —
        // the same ordered-sum parity the dot-product oracles prove)
        """WITH tok AS (
             SELECT source,
                    unnest(list_filter(
                      regexp_split_to_array(trim(lower(text)), '\s+'),
                      t -> strlen(t) > 0)) AS tok
             FROM documents),
           cnt AS (SELECT source, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
           rk AS (SELECT source, cnt,
                         ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY cnt DESC, tok ASC) AS r
                  FROM cnt),
           l AS (SELECT source,
                        list(ROUND(ln(CAST(r AS DOUBLE)), 6) ORDER BY r) AS lx,
                        list(ROUND(ln(CAST(cnt AS DOUBLE)), 6) ORDER BY r) AS ly
                 FROM rk WHERE r <= 100 GROUP BY source),
           s AS (SELECT source,
                        CAST(len(lx) AS DOUBLE) AS n,
                        list_sum(lx) AS sx,
                        list_sum(ly) AS sy,
                        list_sum(list_transform(range(1, len(lx) + 1),
                          i -> lx[i] * ly[i])) AS sxy,
                        list_sum(list_transform(range(1, len(lx) + 1),
                          i -> lx[i] * lx[i])) AS sxx
                 FROM l WHERE len(lx) >= 2)
           SELECT source, CAST(n AS BIGINT) AS n_toks,
                  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope
           FROM s""",

      "text_langid" ->
        """WITH sc AS (
             SELECT doc_id, lang,
                    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
             FROM documents),
           hits AS (
             SELECT doc_id, lang,
               len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','a','that'))) AS h_en,
               len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los','una'))) AS h_es,
               len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','un','une'))) AS h_fr,
               len(list_filter(toks, t -> t IN ('der','die','und','das','von','zu','mit','ein'))) AS h_de
             FROM sc)
           SELECT doc_id, lang,
                  CASE WHEN GREATEST(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                       WHEN h_fr = GREATEST(h_en, h_es, h_fr, h_de) THEN 'fr'
                       WHEN h_es = GREATEST(h_en, h_es, h_fr, h_de) THEN 'es'
                       WHEN h_en = GREATEST(h_en, h_es, h_fr, h_de) THEN 'en'
                       ELSE 'de' END AS lang_pred
           FROM hits""",

      "sim_pair_cosine" ->
        """WITH a AS (SELECT vec_id AS id_a, embedding AS vec_a FROM embeddings WHERE vec_id % 25 = 0),
                b AS (SELECT vec_id AS id_b, embedding AS vec_b FROM embeddings)
           SELECT id_a, id_b,
                  ROUND(
                    list_sum(list_transform(range(1, 65), i -> CAST(vec_a[i] AS DOUBLE) * CAST(vec_b[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(vec_a[i] AS DOUBLE) * CAST(vec_a[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(vec_b[i] AS DOUBLE) * CAST(vec_b[i] AS DOUBLE))))), 6) AS cos
           FROM b JOIN a ON id_b > id_a AND id_b <= id_a + 25""",

      "sim_int8_topk" -> int8OracleSql("embeddings"),

      // the persisted index must serve EXACTLY the train-per-call
      // ranking (quantization is per-row) — one replay gates both
      "sim_int8_persisted" -> int8OracleSql("embeddings"),

      // merged index ≡ train-per-call over the latest-version corpus
      // (deletes gone; re-ingests landed identical codes)
      "sim_int8_incremental" -> int8OracleSql(
        "(SELECT * FROM embeddings WHERE vec_id % 100 <> 97)"),

      "vec_normalize" ->
        """WITH n AS (
             SELECT vec_id,
                    SQRT(list_sum(list_transform(range(1, 65),
                      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm,
                    embedding
             FROM embeddings),
           v AS (
             SELECT vec_id, nrm,
                    CASE WHEN nrm = 0.0
                         THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
                    END AS nv
             FROM n)
           SELECT vec_id,
                  ROUND(SQRT(list_sum(list_transform(nv, x -> x * x))), 6) AS unit_norm,
                  md5(array_to_string(list_transform(nv,
                    x -> CAST(CAST(ROUND(x, 6) + 0.0 AS DECIMAL(10,6)) AS VARCHAR)), ',')) AS nv_md5
           FROM v""",

      "sim_label_centroids" ->
        """SELECT label, CAST(dim - 1 AS BIGINT) AS dim,
                  ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE), 6) AS centroid
           FROM (SELECT label, unnest(embedding) AS x,
                        unnest(range(1, len(embedding) + 1)) AS dim
                 FROM embeddings)
           GROUP BY label, dim""",

      "sim_centroid_drift" ->
        // centroids via decimal cell means (6 dp), cosine folded over
        // dim-ordered lists — list_sum ≡ the engine's sequential fold
        """WITH co AS (
             SELECT label, dim,
                    COUNT(*) AS n_old,
                    ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE), 6) AS c
             FROM (SELECT label, unnest(embedding) AS x,
                          unnest(range(1, len(embedding) + 1)) AS dim
                   FROM embeddings WHERE vec_id % 2 = 0)
             GROUP BY label, dim),
           cn AS (
             SELECT label, dim,
                    COUNT(*) AS n_new,
                    ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,10))) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE), 6) AS c
             FROM (SELECT label, unnest(embedding) AS x,
                          unnest(range(1, len(embedding) + 1)) AS dim
                   FROM embeddings WHERE vec_id % 2 = 1)
             GROUP BY label, dim),
           j AS (SELECT co.label,
                        MAX(n_old) AS n_old, MAX(n_new) AS n_new,
                        list(co.c ORDER BY co.dim) AS a,
                        list(cn.c ORDER BY co.dim) AS b
                 FROM co JOIN cn ON co.label = cn.label AND co.dim = cn.dim
                 GROUP BY co.label)
           SELECT CAST(label AS BIGINT) AS label,
                  CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
                  ROUND(list_sum(list_transform(range(1, len(a) + 1), i -> a[i] * b[i]))
                        / (SQRT(list_sum(list_transform(range(1, len(a) + 1), i -> a[i] * a[i])))
                           * SQRT(list_sum(list_transform(range(1, len(a) + 1), i -> b[i] * b[i])))), 6)
                    AS drift_cos
           FROM j""",

      "sim_hard_negatives" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
                      FROM embeddings WHERE vec_id % 100 = 0),
                c AS (SELECT vec_id AS c_id, embedding AS c_vec, label AS c_label
                      FROM embeddings),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))) AS score
             FROM q JOIN c ON q_id <> c_id AND q_label <> c_label)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3""",

      "sim_topk_bruteforce" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
                c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))) AS score
             FROM q JOIN c ON q_id <> c_id)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 5""",

      "sim_bitext_mine" ->
        // replay: cross cosines (same ordered-fold parity as
        // sim_topk_bruteforce) → top-4 each direction → decimal sums of
        // 6-dp scores → mutual rank-1 pairs → 8·num/(denA+denB) margin
        (bitextOracleCtes + """
           SELECT a_id, b_id, cos6, margin FROM m
           WHERE margin >= 1.0 ORDER BY a_id"""),

      "sim_bitext_blocked" ->
        // the blocked tier's n_brute is the brute replay's mined-pair
        // count; recall vs that set is asserted engine-side (k-means
        // cells are not replayable in SQL — sim_knn_graph_blocked
        // precedent)
        (bitextOracleCtes + """
           SELECT CAST(COUNT(*) AS BIGINT) AS n_brute, TRUE AS recall_ok
           FROM m WHERE margin >= 1.0"""),

      "c1_string_ops" ->
        """SELECT c_custkey,
                  UPPER(c_mktsegment) AS seg_upper,
                  regexp_replace(c_name, '#', '-', 'g') AS name_dashed,
                  UPPER(substring(LOWER(c_mktsegment), 1, 1)) || substring(LOWER(c_mktsegment), 2) AS seg_title,
                  'GENIE-' || c_name AS genie_id
           FROM customer""",

      "c5_date_ops" ->
        """SELECT o_orderkey,
                  year(o_orderdate) AS o_year,
                  month(o_orderdate) AS o_month,
                  strftime(o_orderdate, '%b-%Y') AS seq_date,
                  ROUND((1998 - year(o_orderdate)) * 12 + (6 - month(o_orderdate))
                        + (1 - day(o_orderdate)) / 31.0, 2) AS months_to_cutoff
           FROM orders""",

      "c8_imputation" ->
        """WITH l AS (
             SELECT l_orderkey, l_linenumber,
                    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS depth,
                    l_quantity * 0.6 AS alt
             FROM lineitem)
           SELECT l_orderkey, l_linenumber,
                  COALESCE(depth, alt / 0.6) AS depth_imputed,
                  ROUND(CASE WHEN depth IS NULL OR depth = 0 THEN 1.0 ELSE alt / depth END, 6) AS vaf
           FROM l""",

      "c10_concat_key" ->
        """SELECT CAST(l_orderkey AS VARCHAR) || ' ' || CAST(l_partkey AS VARCHAR) || ' '
                  || CAST(l_suppkey AS VARCHAR) || ' ' || CAST(l_linenumber AS VARCHAR) || ' '
                  || l_returnflag AS variant_key,
                  COUNT(*) AS n
           FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1""",

      "c13_split_extract" ->
        """SELECT o_orderkey,
                  string_split(o_orderpriority, '-')[2] AS priority_word,
                  CAST(string_split(o_orderpriority, '-')[1] AS INT) AS priority_rank
           FROM orders""",

      "c_misc_cleanup" ->
        """SELECT doc_id,
                  CASE WHEN NOT starts_with(source, 'GENIE-')
                       THEN 'GENIE-' || UPPER(source) ELSE source END AS genie_id,
                  regexp_replace('chr' || CAST(doc_id % 23 AS VARCHAR), '^chr', '') AS chrom,
                  contains(text, ' ') AS has_ws,
                  len(string_split(text, ' ')) - 1 AS n_spaces
           FROM documents""",

      "a7_merge_values" ->
        """WITH e AS (
             SELECT user_id, event_type, CAST(FLOOR(value) AS BIGINT) % 3 AS v FROM events),
           g AS (
             SELECT user_id, event_type,
                    COUNT(DISTINCT v) AS n_distinct, MAX(v) AS vmax,
                    MAX(CASE WHEN v <> 0 THEN v END) AS vmax_nonzero,
                    BOOL_OR(v = 0) AS has_zero
             FROM e GROUP BY user_id, event_type)
           SELECT user_id, event_type,
                  CASE WHEN n_distinct = 1 THEN vmax
                       WHEN n_distinct = 2 AND has_zero THEN vmax_nonzero
                       ELSE NULL END AS merged
           FROM g""",

      "o5_sorted_collect" ->
        """SELECT r_name, string_agg(n_name, ';' ORDER BY n_name) AS nations
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name""",

      "f2_containment" ->
        """WITH ranges AS (
             SELECT o_orderpriority AS r_priority,
                    MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
             FROM orders WHERE o_orderkey % 100 = 0 GROUP BY o_orderpriority)
           SELECT o_orderpriority, COUNT(*) AS n_whitelisted
           FROM orders o
           WHERE EXISTS (SELECT 1 FROM ranges r
                         WHERE o.o_orderpriority = r.r_priority
                           AND o.o_totalprice >= r.lo AND o.o_totalprice <= r.hi)
           GROUP BY o_orderpriority""",

      "f3_inbed_filter" ->
        """WITH bands AS (
             SELECT p_brand, MIN(p_retailprice) - 10.0 AS lo, MAX(p_retailprice) + 10.0 AS hi
             FROM part GROUP BY p_brand),
           points AS (
             SELECT l_orderkey, l_linenumber,
                    l_extendedprice / greatest(l_quantity, 1.0) AS unit_price
             FROM lineitem),
           matched AS (
             SELECT l_orderkey, l_linenumber, unit_price,
                    COUNT(DISTINCT p_brand) AS n_panels
             FROM points JOIN bands ON unit_price >= lo AND unit_price <= hi
             GROUP BY l_orderkey, l_linenumber, unit_price)
           SELECT n_panels, COUNT(*) AS n_variants FROM matched GROUP BY n_panels""",

      "w3_newest_two" ->
        """SELECT o_custkey, o_orderkey, rn FROM (
             SELECT o_custkey, o_orderkey,
                    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate DESC, o_orderkey DESC) AS INT) AS rn
             FROM orders)
           WHERE rn <= 2""",

      "stream_tumbling_counts" ->
        """WITH e AS (SELECT epoch_ms(ts) AS ts_ms, event_type, value FROM events)
           SELECT ts_ms - (ts_ms % 3600000) AS win_start_ms, event_type,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
           FROM e GROUP BY 1, 2""",

      "w5_session_paths" ->
        """WITH e AS (SELECT epoch_ms(ts) AS ts_ms, event_id, user_id, event_type
                      FROM events),
           s AS (SELECT *,
                        CASE WHEN lag(ts_ms) OVER w IS NULL
                               OR ts_ms - lag(ts_ms) OVER w > 1800000
                             THEN 1 ELSE 0 END AS brk
                 FROM e
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
           s2 AS (SELECT *,
                         SUM(brk) OVER (PARTITION BY user_id
                                        ORDER BY ts_ms, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_idx
                  FROM s),
           p AS (SELECT user_id, session_idx,
                        string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
                 FROM s2 GROUP BY 1, 2)
           SELECT path, COUNT(*) AS n_sessions
           FROM p GROUP BY 1
           ORDER BY n_sessions DESC, path LIMIT 10""",

      "text_chunk_windows" ->
        """WITH tok AS (
             SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
             FROM documents),
           st AS (
             SELECT doc_id, toks,
                    unnest(range(0, CASE WHEN len(toks) < 1 THEN 1 ELSE len(toks) END, 32)) AS start
             FROM tok)
           SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_idx,
                  CAST(LEAST(40, len(toks) - start) AS BIGINT) AS n_tokens,
                  md5(array_to_string(list_slice(toks, start + 1,
                    LEAST(start + 40, len(toks))), ' ')) AS chunk_md5
           FROM st""",

      "pipeline_training_export" ->
        // replay of the whole export chain: canonical dedup → exact-Long
        // acceptance thresholds from the deduped supply → mix-salted
        // acceptance → split-salted assignment → manifest counts
        (exportOracleCtes + """
           SELECT lang,
                  CASE WHEN sb < floor(0.8 * 4294967296.0) THEN 'train'
                       WHEN sb < floor((0.8 + 0.1) * 4294967296.0) THEN 'val'
                       ELSE 'test' END AS split,
                  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
           FROM acc GROUP BY 1, 2"""),

      "pipeline_stage_dedup" ->
        (exportOracleCtes + """
           SELECT lang, COUNT(*) AS n_kept, CAST(SUM(nt) AS BIGINT) AS avail
           FROM kept GROUP BY 1"""),

      "pipeline_stage_avail" ->
        (exportOracleCtes + """
           SELECT lang, avail, thr FROM rates"""),

      "pipeline_stage_accept" ->
        (exportOracleCtes + """
           SELECT lang, COUNT(*) AS n_acc, CAST(SUM(nt) AS BIGINT) AS nt_acc
           FROM acc GROUP BY 1"""),

      "url_canonicalize" ->
        (urlOracleCtes + """
           SELECT doc_id, url, canonical, host FROM canon"""),

      "url_domain_stats" ->
        (urlOracleCtes + """
           SELECT host, COUNT(*) AS n_raw,
                  COUNT(DISTINCT canonical) AS n_canonical,
                  CAST(COUNT(*) - COUNT(DISTINCT canonical) AS BIGINT) AS n_dupes
           FROM canon GROUP BY host ORDER BY host"""),

      "url_dedup_keep_best" ->
        // replay: canonical CTE chain, then the keep-best rule over
        // canonical groups — same 6-dp quality, quality DESC + doc_id
        // ASC winner, groups of one excluded
        (urlOracleCtes + """,
           q AS (
             SELECT c.canonical, d.doc_id,
                    ROUND(
                      LEAST(CAST(length(d.text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(d.text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(d.text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(d.text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality
             FROM canon c JOIN documents d USING (doc_id)),
           g AS (SELECT canonical, doc_id, quality,
                        ROW_NUMBER() OVER (PARTITION BY canonical
                          ORDER BY quality DESC, doc_id ASC) AS rn,
                        COUNT(*) OVER (PARTITION BY canonical) AS n_copies
                 FROM q)
           SELECT canonical, CAST(n_copies AS BIGINT) AS n_copies, doc_id, quality
           FROM g WHERE rn = 1 AND n_copies > 1 ORDER BY canonical"""),

      "pipeline_stage_split" ->
        (exportOracleCtes + """
           SELECT CASE WHEN sb < floor(0.8 * 4294967296.0) THEN 'train'
                       WHEN sb < floor((0.8 + 0.1) * 4294967296.0) THEN 'val'
                       ELSE 'test' END AS split,
                  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
           FROM acc GROUP BY 1"""),

      "diag_channel_hugeint" ->
        // RETIRED control (r10): formerly a bare SUM(1) (HUGEINT →
        // float64-rendered) whose predicted red vs the green cast twin
        // confirmed the driver hashes rendered values. Now cast like
        // every other integer SUM; kept registered to document the
        // mechanism.
        """SELECT lang, CAST(SUM(1) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang ORDER BY lang""",

      "diag_channel_bigint" ->
        """SELECT lang, CAST(SUM(1) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang ORDER BY lang""",

      "text_bpe_merges" -> {
        // step-for-step replay of the BPE trainer: pair stats over the
        // evolving symbol sequences, argmax with the (freq desc, l, r)
        // tie-break, literal-replace merge application
        def pairCte(i: Int) =
          s"""p$i AS (SELECT t[i] AS l, t[i + 1] AS r, CAST(SUM(wc) AS BIGINT) AS freq
                     FROM (SELECT regexp_split_to_array(trim(seq), ' ') AS t, wc,
                                  unnest(range(1, len(regexp_split_to_array(trim(seq), ' ')))) AS i
                           FROM v${i - 1}) GROUP BY 1, 2),
             m$i AS (SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1)"""
        def applyCte(i: Int) =
          s"""v$i AS (SELECT replace(seq,
                        ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
                        ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS seq, wc
                     FROM v${i - 1})"""
        s"""WITH words AS (
              SELECT w, COUNT(*) AS wc FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
                FROM documents)
              WHERE len(w) > 0 GROUP BY w),
            v0 AS (
              SELECT ' ' || array_to_string(list_transform(range(1, len(w) + 1),
                       i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS seq, wc
              FROM words),
            ${pairCte(1)},
            ${applyCte(1)},
            ${pairCte(2)},
            ${applyCte(2)},
            ${pairCte(3)}
            SELECT * FROM (
              SELECT 1::BIGINT AS step, l AS l_tok, r AS r_tok, freq FROM m1
              UNION ALL SELECT 2::BIGINT, l, r, freq FROM m2
              UNION ALL SELECT 3::BIGINT, l, r, freq FROM m3)"""
      },

      "text_bpe_tokenize" -> {
        // re-train (same replay as text_bpe_merges, words kept through
        // the chain), then per-doc counts from the word-type table
        def pairCte(i: Int) =
          s"""p$i AS (SELECT t[i] AS l, t[i + 1] AS r, CAST(SUM(wc) AS BIGINT) AS freq
                     FROM (SELECT regexp_split_to_array(trim(seq), ' ') AS t, wc,
                                  unnest(range(1, len(regexp_split_to_array(trim(seq), ' ')))) AS i
                           FROM v${i - 1}) GROUP BY 1, 2),
             m$i AS (SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1)"""
        def applyCte(i: Int) =
          s"""v$i AS (SELECT w, wc, replace(seq,
                        ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
                        ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS seq
                     FROM v${i - 1})"""
        s"""WITH words AS (
              SELECT w, COUNT(*) AS wc FROM (
                SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
                FROM documents)
              WHERE len(w) > 0 GROUP BY w),
            v0 AS (
              SELECT w, wc, ' ' || array_to_string(list_transform(range(1, len(w) + 1),
                       i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS seq
              FROM words),
            ${pairCte(1)},
            ${applyCte(1)},
            ${pairCte(2)},
            ${applyCte(2)},
            ${pairCte(3)},
            ${applyCte(3)},
            wtok AS (SELECT w, len(w) AS nc,
                            len(regexp_split_to_array(trim(seq), ' ')) AS nt
                     FROM v3),
            docw AS (SELECT doc_id, w FROM (
                       SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
                       FROM documents)
                     WHERE len(w) > 0),
            agg AS (SELECT doc_id, CAST(SUM(nc) AS BIGINT) AS n_char_tokens,
                           CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens
                    FROM docw JOIN wtok USING (w) GROUP BY doc_id)
            SELECT d.doc_id, COALESCE(a.n_char_tokens, 0) AS n_char_tokens,
                   COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens
            FROM documents d LEFT JOIN agg a USING (doc_id)"""
      },

      "text_canonical_dedup" ->
        // chr(769) = U+0301 combining acute (decomposed), chr(233) =
        // U+00E9 composed; nfc_normalize + POSIX classes replay the
        // native normalize_text pipeline step for step
        """WITH v AS (
             SELECT doc_id, unnest([
               text || ' Cafe' || chr(769) || ' #1',
               upper(text) || '  caf' || chr(233) || '  1']) AS v
             FROM documents),
           c AS (
             SELECT v, md5(trim(regexp_replace(regexp_replace(
               lower(nfc_normalize(v)), '[[:punct:]]+', ' ', 'g'),
               '[[:space:]]+', ' ', 'g'))) AS ck
             FROM v)
           SELECT count(*) AS n_rows, count(DISTINCT v) AS n_raw,
                  count(DISTINCT ck) AS n_canonical
           FROM c""",

      "agg_maintain_quantile" ->
        """SELECT l_returnflag,
                  ROUND(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
                  true AS incr_eq_rebuild, true AS within_10pct
           FROM lineitem GROUP BY 1""",

      "agg_maintain_sample" ->
        // ground truth directly: per flag, the 5 distinct part keys
        // with the smallest salted 32-bit hash (value tie-break)
        """WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
           h AS (SELECT l_returnflag, l_partkey,
                        ('0x' || substr(md5('sample:' || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT AS hh
                 FROM d)
           SELECT l_returnflag, l_partkey AS sample_partkey
           FROM h
           QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hh, l_partkey) <= 5""",

      "agg_maintain_distinct" ->
        // the engine asserts the sketch contracts in-plan; the oracle
        // pins the exact counts and that both assertions came out true
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
                  true AS incr_eq_rebuild, true AS within_5pct
           FROM lineitem GROUP BY 1""",

      "funnel_conversion" ->
        // chained strict-min CTEs: t_i = min ts of step-i events with
        // ts > t_{i-1}; n_users per step = users with t_i defined
        """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
           s1 AS (SELECT user_id, min(ts_ms) AS t FROM e
                  WHERE event_type = 'view' GROUP BY 1),
           s2 AS (SELECT e.user_id, min(e.ts_ms) AS t FROM e JOIN s1 USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts_ms > s1.t GROUP BY 1),
           s3 AS (SELECT e.user_id, min(e.ts_ms) AS t FROM e JOIN s2 USING (user_id)
                  WHERE e.event_type = 'signup' AND e.ts_ms > s2.t GROUP BY 1),
           s4 AS (SELECT e.user_id, min(e.ts_ms) AS t FROM e JOIN s3 USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts_ms > s3.t GROUP BY 1)
           SELECT * FROM (
             SELECT 1::BIGINT AS step, 'view' AS event_type, count(*) AS n_users FROM s1
             UNION ALL SELECT 2::BIGINT, 'click', count(*) FROM s2
             UNION ALL SELECT 3::BIGINT, 'signup', count(*) FROM s3
             UNION ALL SELECT 4::BIGINT, 'purchase', count(*) FROM s4)""",

      "w4_sliding_rates" ->
        """WITH e AS (SELECT epoch_ms(ts) AS ts_ms, event_type, value FROM events),
           f AS (SELECT *, ts_ms - (ts_ms % 300000) AS fl FROM e),
           x AS (SELECT event_type, value, ts_ms,
                        unnest([fl, fl - 300000]) AS win_start_ms
                 FROM f)
           SELECT win_start_ms, event_type, COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
           FROM x
           WHERE win_start_ms + 600000 > ts_ms AND win_start_ms <= ts_ms
           GROUP BY 1, 2""",

      "sample_temperature" ->
        """WITH counts AS (
             SELECT lang, COUNT(*) AS n,
                    CAST(ROUND(sqrt(COUNT(*)), 6) AS DECIMAL(30,6)) AS num
             FROM documents GROUP BY 1),
           tot AS (SELECT SUM(n) AS n_tot, SUM(num) AS denom FROM counts),
           rates AS (
             SELECT lang, n,
                    ROUND(LEAST(1.0,
                      0.5 * CAST(n_tot AS DOUBLE)
                        * (CAST(num AS DOUBLE) / CAST(denom AS DOUBLE))
                        / CAST(n AS DOUBLE)), 6) AS rate
             FROM counts, tot)
           SELECT d.lang, COUNT(*) AS n_docs, MAX(r.rate) AS rate,
                  CAST(SUM(CASE WHEN
                    ('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                      < floor(r.rate * 4294967296.0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           FROM documents d JOIN rates r USING (lang)
           GROUP BY 1""",

      "dedup_simhash" -> {
        val bitExprs = (0 until 16).map { i =>
          s"""CAST(CASE WHEN list_sum(list_transform(hs,
              h -> CASE WHEN substring(h, ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f')
                   THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END AS BIGINT)"""
        }.mkString(" + ")
        s"""WITH tok AS (
             SELECT doc_id,
                    list_transform(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
                                   t -> md5(t)) AS hs
             FROM documents)
           SELECT doc_id, $bitExprs AS simhash16 FROM tok"""
      },

      // one oracle gates the scan-side, persisted, and incremental
      // simhash Hamming tiers — the index paths must be bit-identical
      // to the batch pass over the same (full) corpus
      "dedup_simhash_hamming" -> simhashHammingOracle,
      "dedup_simhash_persisted" -> simhashHammingOracle,
      "dedup_simhash_incremental" -> simhashHammingOracle,

      "sim_lsh_topk" -> {
        val bucket = (0 until 8).map(i => s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, $bucket AS bucket
                      FROM embeddings WHERE vec_id < 10),
                c AS (SELECT vec_id AS c_id, embedding AS c_vec, $bucket AS bucket FROM embeddings),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))) AS score
             FROM q JOIN c USING (bucket) WHERE q_id <> c_id)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3"""
      },

      "s3_maf_na_roundtrip" ->
        """SELECT CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'NA' WHEN 1 THEN 'nan'
                       WHEN 2 THEN 'ATCG' WHEN 3 THEN '-' ELSE 'TT' END AS reference_allele,
                  COUNT(*) AS n,
                  COUNT(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS n_hgvsp_null
           FROM documents GROUP BY 1""",

      "s9_sql_pushdown" ->
        """SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS n_cust,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           GROUP BY c_mktsegment""",

      "s11_tsv_roundtrip" ->
        """SELECT COUNT(*) AS n_rows,
                  COUNT(CASE WHEN l_quantity <> FLOOR(l_quantity) THEN 1 END) AS n_with_dot
           FROM lineitem WHERE l_orderkey % 100 = 0""",

      "p_battery_synthetic" -> {
        val ruleRows = Seq(
          ("p2_multi_domain", "error",
            """multi_val IS NOT NULL AND len(list_filter(string_split(multi_val, ';'),
               x -> trim(x) NOT IN ('de','en','es','fr','zh'))) > 0"""),
          ("p4_integer", "error",
            """int_col IS NOT NULL AND NOT regexp_matches(int_col, '^-?\d+$')"""),
          ("p6_year", "error",
            """year_col IS NOT NULL AND year_col NOT IN ('Unknown')
               AND (NOT regexp_matches(year_col, '^\d{4}$') OR TRY_CAST(year_col AS INT) > 2026)"""),
          ("p16_allele", "error",
            """allele IS NOT NULL AND NOT regexp_matches(allele, '(?i)^([ATCGN]+|-+)$')"""),
          ("p18_chromosome", "error",
            """chrom IS NULL OR chrom NOT IN ('1','2','3','4','5','6','7','8','9','10','11','12',
               '13','14','15','16','17','18','19','20','21','22','X','Y','MT')"""),
          ("p19_start_end", "warning",
            """start_pos IS NOT NULL AND end_pos IS NOT NULL AND start_pos > end_pos""")
        ).map { case (rule, sev, viol) =>
          s"""SELECT '$rule' AS rule, '$sev' AS severity,
              COUNT(CASE WHEN $viol THEN 1 END) AS n_violations,
              MIN(CASE WHEN $viol THEN CAST(doc_id AS VARCHAR) END) AS example FROM d"""
        }.mkString("\n UNION ALL \n")
        s"""WITH d AS (
             SELECT doc_id,
                    CASE WHEN doc_id % 11 = 0 THEN lang || ';INVALID' ELSE lang END AS multi_val,
                    CASE WHEN doc_id % 13 = 0 THEN '2199'
                         WHEN doc_id % 17 = 0 THEN 'Unknown'
                         ELSE '19' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') END AS year_col,
                    (['ATCG','N','-','xx','NA','GG'])[CAST(doc_id % 6 AS INT) + 1] AS allele,
                    CAST(doc_id % 25 AS VARCHAR) AS chrom,
                    n_chars AS start_pos,
                    CASE WHEN doc_id % 19 = 0 THEN n_chars - 5 ELSE n_chars + 10 END AS end_pos,
                    CASE WHEN doc_id % 23 = 0 THEN 'x' || CAST(doc_id AS VARCHAR)
                         ELSE CAST(doc_id AS VARCHAR) END AS int_col
             FROM documents)
           $ruleRows"""
      },

      "f4_cis_flags" ->
        """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
           d AS (SELECT user_id,
                        ts_ms - LAG(ts_ms) OVER w AS td,
                        value - LAG(value) OVER w AS vd
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
           SELECT user_id,
                  COUNT(CASE WHEN td IS NOT NULL AND td > 0 AND td < 6000
                             AND ABS(vd / 100.0) < 0.05 THEN 1 END) AS n_flagged,
                  COUNT(*) AS n_events
           FROM d GROUP BY user_id""",

      "f10_sample_subset" ->
        """SELECT source, COUNT(*) AS n_kept, COUNT(DISTINCT lang) AS n_langs
           FROM documents
           WHERE doc_id IN (SELECT doc_id FROM documents
                            WHERE lang IN ('en','fr') AND doc_id % 3 = 0)
           GROUP BY source""",

      "j2_outer_merge" ->
        """WITH l AS (SELECT l_partkey % 40 AS gene, l_quantity, l_orderkey FROM lineitem),
           a AS (SELECT gene, CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty_a
                 FROM l WHERE l_orderkey % 2 = 0 GROUP BY gene),
           b AS (SELECT gene, CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty_b
                 FROM l WHERE l_orderkey % 2 = 1 GROUP BY gene)
           SELECT gene, COALESCE(qty_a, 0.0) AS qty_a, COALESCE(qty_b, 0.0) AS qty_b
           FROM a FULL OUTER JOIN b USING (gene)""",

      "text_bpe_tokens" ->
        """SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
                  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens
           FROM documents""",

      "dedup_embedding_neardup" -> {
        val bucket = (0 until 12).map(i => s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
           pairs AS (
             SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                    ROUND(
                      list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE)))
                      / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                         * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(b2.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE))))), 6) AS cos
             FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id)
           SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.35"""
      },

      "sim_ivf_label" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label FROM embeddings WHERE vec_id < 10),
                c AS (SELECT vec_id AS c_id, embedding AS c_vec, label FROM embeddings),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))) AS score
             FROM q JOIN c USING (label) WHERE q_id <> c_id)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3""",

      "dedup_ingest_probe" -> {
        // Lloyd unroll over the EXISTING corpus only (id < 490); the
        // arriving rows are assigned to the learned cells by the same
        // argmin (ROW_NUMBER ≡ the engine's literal-centroid array_min
        // with the cid tie-break), then pairwise cos ≥ 0.2 in-cell
        def dist(v: String, c: String) =
          s"""list_sum(list_transform(range(1, 65), j -> $v[j] * $v[j]))
              - 2 * list_sum(list_transform(range(1, 65), j -> $v[j] * $c[j]))
              + list_sum(list_transform(range(1, 65), j -> $c[j] * $c[j]))"""
        def assignFrom(src: String, cents: String) =
          s"""SELECT id, vec, cid FROM (
                SELECT s.id, s.vec, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY s.id
                         ORDER BY ${dist("s.vec", "c.cvec")} ASC, c.cid ASC) AS rn
                FROM $src s CROSS JOIN $cents c) WHERE rn = 1"""
        def means(assigned: String) =
          s"""SELECT cid, list(m ORDER BY i) AS cvec FROM (
                SELECT cid, i,
                       CAST(SUM(CAST(vec[CAST(i AS INT)] AS DECIMAL(30,10))) AS DOUBLE)
                         / COUNT(*) AS m
                FROM $assigned CROSS JOIN range(1, 65) AS r(i)
                GROUP BY cid, i) GROUP BY cid"""
        s"""WITH v_all AS (SELECT vec_id AS id,
                                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                           FROM embeddings),
           v AS (SELECT * FROM v_all WHERE id < 490),
           c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) - 1 AS cid, vec AS cvec
                  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 4)),
           a0 AS (${assignFrom("v", "c0")}),
           c1 AS (${means("a0")}),
           a1 AS (${assignFrom("v", "c1")}),
           c2 AS (${means("a1")}),
           cells AS (${assignFrom("v", "c2")}),
           inc AS (SELECT * FROM v_all WHERE id >= 490),
           inc_cells AS (${assignFrom("inc", "c2")})
           SELECT i.id AS q_id, c.id AS c_id,
                  ROUND(
                    list_sum(list_transform(range(1, 65), k -> i.vec[k] * c.vec[k]))
                    / (SQRT(list_sum(list_transform(range(1, 65), k -> i.vec[k] * i.vec[k])))
                       * SQRT(list_sum(list_transform(range(1, 65), k -> c.vec[k] * c.vec[k])))), 6) AS cos
           FROM inc_cells i JOIN cells c USING (cid)
           WHERE ROUND(
                   list_sum(list_transform(range(1, 65), k -> i.vec[k] * c.vec[k]))
                   / (SQRT(list_sum(list_transform(range(1, 65), k -> i.vec[k] * i.vec[k])))
                      * SQRT(list_sum(list_transform(range(1, 65), k -> c.vec[k] * c.vec[k])))), 6)
                 >= 0.2"""
      },

      "dedup_semantic" -> {
        // same unrolled-Lloyd cell assignment as sim_ivf_kmeans, then
        // the min-id survivor rule inside each cell at ROUND(cos,6) >=
        // 0.25, with the >10000-occupancy cells exempted (the cap)
        def dist(v: String, c: String) =
          s"""list_sum(list_transform(range(1, 65), j -> $v[j] * $v[j]))
              - 2 * list_sum(list_transform(range(1, 65), j -> $v[j] * $c[j]))
              + list_sum(list_transform(range(1, 65), j -> $c[j] * $c[j]))"""
        def assign(cents: String) =
          s"""SELECT id, vec, cid FROM (
                SELECT v.id, v.vec, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY v.id
                         ORDER BY ${dist("v.vec", "c.cvec")} ASC, c.cid ASC) AS rn
                FROM v CROSS JOIN $cents c) WHERE rn = 1"""
        def means(assigned: String) =
          s"""SELECT cid, list(m ORDER BY i) AS cvec FROM (
                SELECT cid, i,
                       CAST(SUM(CAST(vec[CAST(i AS INT)] AS DECIMAL(30,10))) AS DOUBLE)
                         / COUNT(*) AS m
                FROM $assigned CROSS JOIN range(1, 65) AS r(i)
                GROUP BY cid, i) GROUP BY cid"""
        s"""WITH v AS (SELECT vec_id AS id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                       FROM embeddings),
           c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) - 1 AS cid, vec AS cvec
                  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 4)),
           a0 AS (${assign("c0")}),
           c1 AS (${means("a0")}),
           a1 AS (${assign("c1")}),
           c2 AS (${means("a1")}),
           cells AS (${assign("c2")}),
           occ AS (SELECT cid FROM cells GROUP BY cid HAVING COUNT(*) <= 10000),
           bounded AS (SELECT c.* FROM cells c JOIN occ USING (cid)),
           dups AS (
             SELECT DISTINCT b.id
             FROM bounded a JOIN bounded b USING (cid)
             WHERE a.id < b.id
               AND ROUND(
                     list_sum(list_transform(range(1, 65), i -> a.vec[i] * b.vec[i]))
                     / (SQRT(list_sum(list_transform(range(1, 65), i -> a.vec[i] * a.vec[i])))
                        * SQRT(list_sum(list_transform(range(1, 65), i -> b.vec[i] * b.vec[i])))), 6)
                   >= 0.25)
           SELECT c.id AS vec_id, c.cid
           FROM cells c LEFT JOIN dups d ON c.id = d.id
           WHERE d.id IS NULL"""
      },

      "sim_ivf_kmeans" -> {
        // unrolled Lloyd iterations, replaying the engine's exact op
        // order: three sequential folds for the distance, DECIMAL(30,10)
        // per-dim sums, double(sum)/count means, cid tie-breaks
        def dist(v: String, c: String) =
          s"""list_sum(list_transform(range(1, 65), j -> $v[j] * $v[j]))
              - 2 * list_sum(list_transform(range(1, 65), j -> $v[j] * $c[j]))
              + list_sum(list_transform(range(1, 65), j -> $c[j] * $c[j]))"""
        def assign(cents: String) =
          s"""SELECT id, vec, cid FROM (
                SELECT v.id, v.vec, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY v.id
                         ORDER BY ${dist("v.vec", "c.cvec")} ASC, c.cid ASC) AS rn
                FROM v CROSS JOIN $cents c) WHERE rn = 1"""
        def means(assigned: String) =
          s"""SELECT cid, list(m ORDER BY i) AS cvec FROM (
                SELECT cid, i,
                       CAST(SUM(CAST(vec[CAST(i AS INT)] AS DECIMAL(30,10))) AS DOUBLE)
                         / COUNT(*) AS m
                FROM $assigned CROSS JOIN range(1, 65) AS r(i)
                GROUP BY cid, i) GROUP BY cid"""
        s"""WITH v AS (SELECT vec_id AS id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                       FROM embeddings),
           c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) - 1 AS cid, vec AS cvec
                  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 4)),
           a0 AS (${assign("c0")}),
           c1 AS (${means("a0")}),
           a1 AS (${assign("c1")}),
           c2 AS (${means("a1")}),
           cells AS (${assign("c2")}),
           cand AS (SELECT q.id AS q_id, c.id AS c_id, q.vec AS q_vec, c.vec AS c_vec
                    FROM (SELECT * FROM cells WHERE id < 10) q
                    JOIN cells c USING (cid) WHERE c.id <> q.id),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> q_vec[i] * c_vec[i]))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> q_vec[i] * q_vec[i])))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> c_vec[i] * c_vec[i])))) AS score
             FROM cand)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3"""
      },

      "sim_ivf_incremental" -> {
        // Lloyd unroll over the BASE slice only (id % 3 <> 0, original
        // vectors — the frozen centroids the merge assigns against),
        // then ONE fresh assignment of the latest-version corpus
        // (deletes out, %10==5 re-ingests halved), then the same IVF
        // search tail as sim_ivf_kmeans. The engine's segment+tombstone
        // merge must reproduce this exactly.
        def dist(v: String, c: String) =
          s"""list_sum(list_transform(range(1, 65), j -> $v[j] * $v[j]))
              - 2 * list_sum(list_transform(range(1, 65), j -> $v[j] * $c[j]))
              + list_sum(list_transform(range(1, 65), j -> $c[j] * $c[j]))"""
        def assignFrom(src: String, cents: String) =
          s"""SELECT id, vec, cid FROM (
                SELECT s.id, s.vec, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY s.id
                         ORDER BY ${dist("s.vec", "c.cvec")} ASC, c.cid ASC) AS rn
                FROM $src s CROSS JOIN $cents c) WHERE rn = 1"""
        def means(assigned: String) =
          s"""SELECT cid, list(m ORDER BY i) AS cvec FROM (
                SELECT cid, i,
                       CAST(SUM(CAST(vec[CAST(i AS INT)] AS DECIMAL(30,10))) AS DOUBLE)
                         / COUNT(*) AS m
                FROM $assigned CROSS JOIN range(1, 65) AS r(i)
                GROUP BY cid, i) GROUP BY cid"""
        s"""WITH v AS (SELECT vec_id AS id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                       FROM embeddings WHERE vec_id % 3 <> 0),
           latest AS (SELECT vec_id AS id,
                             CASE WHEN vec_id % 10 = 5
                               THEN list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.5)
                               ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS vec
                      FROM embeddings WHERE vec_id % 100 <> 97),
           c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) - 1 AS cid, vec AS cvec
                  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 4)),
           a0 AS (${assignFrom("v", "c0")}),
           c1 AS (${means("a0")}),
           a1 AS (${assignFrom("v", "c1")}),
           c2 AS (${means("a1")}),
           cells AS (${assignFrom("latest", "c2")}),
           cand AS (SELECT q.id AS q_id, c.id AS c_id, q.vec AS q_vec, c.vec AS c_vec
                    FROM (SELECT * FROM cells WHERE id < 10) q
                    JOIN cells c USING (cid) WHERE c.id <> q.id),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> q_vec[i] * c_vec[i]))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> q_vec[i] * q_vec[i])))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> c_vec[i] * c_vec[i])))) AS score
             FROM cand)
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3"""
      },

      "cna_melt_merge" -> {
        val srcList = (0 until 20).map(i => s"'src$i'").mkString(", ")
        s"""WITH langs AS (SELECT DISTINCT lang FROM documents),
           srcs AS (SELECT UNNEST([$srcList]) AS source),
           counts AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2)
           SELECT l.lang AS hugo_symbol, s.source AS sample_id, c.n AS value
           FROM langs l CROSS JOIN srcs s
           LEFT JOIN counts c ON c.lang = l.lang AND c.source = s.source"""
      },

      "bed_remap_90pct" ->
        """WITH genes AS (
             SELECT p_brand AS sym,
                    CAST(FLOOR(MIN(p_retailprice)) AS BIGINT) AS gs,
                    CAST(FLOOR(MAX(p_retailprice)) AS BIGINT) AS ge
             FROM part GROUP BY p_brand),
           regions AS (
             SELECT DISTINCT
                    CAST(FLOOR(l_extendedprice / greatest(l_quantity, 1.0)) AS BIGINT) AS rs,
                    CAST(FLOOR(l_extendedprice / greatest(l_quantity, 1.0)) AS BIGINT) + 50 AS re
             FROM lineitem WHERE l_orderkey % 50 = 0),
           joined AS (
             SELECT r.rs, r.re, g.sym, g.gs,
                    CASE WHEN g.sym IS NOT NULL THEN
                      CAST(LEAST(r.re, g.ge) - GREATEST(r.rs, g.gs) + 1 AS DOUBLE)
                        / CAST(r.re - r.rs + 1 AS DOUBLE) END AS ratio
             FROM regions r LEFT JOIN genes g ON r.rs <= g.ge AND r.re >= g.gs),
           best AS (
             SELECT rs, re, sym, ratio,
                    ROW_NUMBER() OVER (PARTITION BY rs
                      ORDER BY ratio DESC NULLS LAST, gs ASC NULLS LAST, sym ASC NULLS LAST) AS rn
             FROM joined)
           SELECT COALESCE(ratio >= 0.9, FALSE) AS IN_GENE,
                  CASE WHEN COALESCE(ratio >= 0.9, FALSE) THEN sym ELSE 'submitted' END AS hugo_symbol,
                  COUNT(*) AS n_regions
           FROM best WHERE rn = 1
           GROUP BY 1, 2""",

      "mm_binary_meta" ->
        """SELECT doc_id, strlen(text) AS n_bytes,
                  strlen(text) % 64 + 1 AS fake_width,
                  strlen(text) % 7 + 1 AS fake_frames
           FROM documents""",

      "mm_frame_sample" ->
        """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx
           FROM (SELECT doc_id, unnest(range(0, strlen(text) % 7 + 1, 2)) AS f
                 FROM documents)""",

      "mm_video_keyframes_frag" ->
        // fixture layout replay: fragment k's data starts 76 + 8·n_k
        // bytes after its moof start (per-sample-flags trun), fragments
        // are back-to-back (mdat body ends where the next moof begins),
        // so rel_offset of fragment-2 sample j is
        // sum(frag1 sizes) + 76 + 8·n2 + cum sizes before j
        """WITH d AS (
             SELECT doc_id, doc_id % 3 + 2 AS n1, doc_id % 2 + 2 AS n2,
                    CAST(COALESCE(list_sum(list_transform(range(0, doc_id % 3 + 2),
                           i -> 10 + (doc_id + i) % 4)), 0) AS BIGINT) AS sum1
             FROM documents),
           f1 AS (SELECT doc_id, unnest(range(1, n1 + 1, 2)) AS j, n1, n2, sum1, 1 AS frag FROM d),
           f2 AS (SELECT doc_id, unnest(range(1, n2 + 1, 2)) AS j, n1, n2, sum1, 2 AS frag FROM d),
           u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
           SELECT doc_id,
                  CAST(CASE WHEN frag = 1 THEN j ELSE n1 + j END AS BIGINT) AS sample,
                  CAST(CASE WHEN frag = 1
                    THEN COALESCE(list_sum(list_transform(range(0, j - 1),
                           i -> 10 + (doc_id + i) % 4)), 0)
                    ELSE sum1 + 76 + 8 * n2 + COALESCE(list_sum(list_transform(range(0, j - 1),
                           i -> 10 + (doc_id + n1 + i) % 4)), 0)
                  END AS BIGINT) AS rel_offset,
                  CAST(CASE WHEN frag = 1 THEN 10 + (doc_id + j - 1) % 4
                       ELSE 10 + (doc_id + n1 + j - 1) % 4 END AS BIGINT) AS n_bytes
           FROM u""",

      "mm_frame_features" ->
        // keyframes are odd samples (1 to n by 2); stride 2 over that
        // list keeps every other one → s ≡ 1 (mod 4); the decoder
        // reports each slice's byte length = the sample's stsz size
        """WITH d AS (SELECT doc_id, doc_id % 5 + 4 AS n FROM documents),
           k AS (SELECT doc_id, unnest(range(1, n + 1, 4)) AS s FROM d)
           SELECT doc_id, CAST(s AS BIGINT) AS sample,
                  CAST(10 + ((doc_id + s - 1) % 4) AS BIGINT) AS frame_bytes
           FROM k""",

      "mm_image_phash" ->
        // closed-form replay of ImageFixture pixels → 2×2 integer box
        // cells → aHash bits, packed as two unsigned 32-bit words (the
        // sign bit never participates in BIGINT arithmetic)
        """WITH raw AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               ((i + (doc_id // 2) * 37) * (i + (doc_id // 2) * 37)
                + 3 * (i + (doc_id // 2) * 37) + doc_id // 2) % 251) AS r
             FROM documents),
           px AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               CASE WHEN doc_id % 2 = 1 AND list_contains(
                      list_transform(range(0, doc_id % 4),
                                     j -> ((doc_id // 2 + 7 * j) * 53) % 256), i)
                    THEN 255 - r[i + 1] ELSE r[i + 1] END) AS p
             FROM raw),
           cells AS (
             SELECT doc_id, list_transform(range(0, 64), c ->
               (p[((c // 8) * 2) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2) * 16 + (c % 8) * 2 + 2]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 2]) // 4) AS cell
             FROM px),
           meaned AS (
             SELECT doc_id, cell, CAST(list_sum(cell) // 64 AS BIGINT) AS mean FROM cells)
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32), i ->
               CASE WHEN cell[i + 33] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_hi,
             CAST(list_sum(list_transform(range(0, 32), i ->
               CASE WHEN cell[i + 1] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_lo
           FROM meaned""",

      "mm_image_neardup" ->
        // same hash replay, then the banded-candidate + popcount-verify
        // chain: 4×16-bit band keys, occupancy cap 10000, Hamming ≤ 10
        """WITH raw AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               ((i + (doc_id // 2) * 37) * (i + (doc_id // 2) * 37)
                + 3 * (i + (doc_id // 2) * 37) + doc_id // 2) % 251) AS r
             FROM documents),
           px AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               CASE WHEN doc_id % 2 = 1 AND list_contains(
                      list_transform(range(0, doc_id % 4),
                                     j -> ((doc_id // 2 + 7 * j) * 53) % 256), i)
                    THEN 255 - r[i + 1] ELSE r[i + 1] END) AS p
             FROM raw),
           cells AS (
             SELECT doc_id, list_transform(range(0, 64), c ->
               (p[((c // 8) * 2) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2) * 16 + (c % 8) * 2 + 2]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 2]) // 4) AS cell
             FROM px),
           meaned AS (
             SELECT doc_id, cell, CAST(list_sum(cell) // 64 AS BIGINT) AS mean FROM cells),
           words AS (
             SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 33] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_hi,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 1] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_lo
             FROM meaned),
           bands AS (
             SELECT doc_id, hash_hi, hash_lo, g.b,
               CASE g.b WHEN 0 THEN hash_lo & 65535 WHEN 1 THEN (hash_lo >> 16) & 65535
                        WHEN 2 THEN hash_hi & 65535 ELSE (hash_hi >> 16) & 65535 END AS key
             FROM words, (SELECT unnest(range(0, 4)) AS b) g),
           ok_b AS (SELECT b, key FROM bands GROUP BY b, key HAVING count(*) <= 10000),
           cand AS (
             SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                    a.hash_hi AS ah, a.hash_lo AS al, b.hash_hi AS bh, b.hash_lo AS bl
             FROM (SELECT bands.* FROM bands JOIN ok_b USING (b, key)) a
             JOIN (SELECT bands.* FROM bands JOIN ok_b USING (b, key)) b
               ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
           SELECT a_id, b_id,
                  CAST(bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) AS BIGINT) AS hamming
           FROM cand
           WHERE bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) <= 10""",

      "mm_phash_index_probe" ->
        // same aHash replay; the live index = even ids minus the
        // %10==0 deletions; probe = odd ids banded against it
        """WITH raw AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               ((i + (doc_id // 2) * 37) * (i + (doc_id // 2) * 37)
                + 3 * (i + (doc_id // 2) * 37) + doc_id // 2) % 251) AS r
             FROM documents),
           px AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               CASE WHEN doc_id % 2 = 1 AND list_contains(
                      list_transform(range(0, doc_id % 4),
                                     j -> ((doc_id // 2 + 7 * j) * 53) % 256), i)
                    THEN 255 - r[i + 1] ELSE r[i + 1] END) AS p
             FROM raw),
           cells AS (
             SELECT doc_id, list_transform(range(0, 64), c ->
               (p[((c // 8) * 2) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2) * 16 + (c % 8) * 2 + 2]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 2]) // 4) AS cell
             FROM px),
           meaned AS (
             SELECT doc_id, cell, CAST(list_sum(cell) // 64 AS BIGINT) AS mean FROM cells),
           words AS (
             SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 33] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_hi,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 1] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_lo
             FROM meaned),
           bands AS (
             SELECT doc_id, hash_hi, hash_lo, g.b,
               CASE g.b WHEN 0 THEN hash_lo & 65535 WHEN 1 THEN (hash_lo >> 16) & 65535
                        WHEN 2 THEN hash_hi & 65535 ELSE (hash_hi >> 16) & 65535 END AS key
             FROM words, (SELECT unnest(range(0, 4)) AS b) g),
           idx AS (
             SELECT * FROM bands WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0),
           ok_b AS (SELECT b, key FROM idx GROUP BY b, key HAVING count(*) <= 10000),
           probe AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
           cand AS (
             SELECT DISTINCT p.doc_id AS in_id, x.doc_id AS index_id,
                    p.hash_hi AS qh, p.hash_lo AS ql, x.hash_hi AS xh, x.hash_lo AS xl
             FROM probe p
             JOIN (SELECT idx.* FROM idx JOIN ok_b USING (b, key)) x
               ON p.b = x.b AND p.key = x.key)
           SELECT in_id, index_id,
                  CAST(bit_count(xor(qh, xh)) + bit_count(xor(ql, xl)) AS BIGINT) AS hamming
           FROM cand
           WHERE bit_count(xor(qh, xh)) + bit_count(xor(ql, xl)) <= 10""",

      "mm_image_dedup_keep" ->
        // near-dup pair replay, then keepers = ids never on the
        // larger-id side of an accepted pair
        """WITH raw AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               ((i + (doc_id // 2) * 37) * (i + (doc_id // 2) * 37)
                + 3 * (i + (doc_id // 2) * 37) + doc_id // 2) % 251) AS r
             FROM documents),
           px AS (
             SELECT doc_id, list_transform(range(0, 256), i ->
               CASE WHEN doc_id % 2 = 1 AND list_contains(
                      list_transform(range(0, doc_id % 4),
                                     j -> ((doc_id // 2 + 7 * j) * 53) % 256), i)
                    THEN 255 - r[i + 1] ELSE r[i + 1] END) AS p
             FROM raw),
           cells AS (
             SELECT doc_id, list_transform(range(0, 64), c ->
               (p[((c // 8) * 2) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2) * 16 + (c % 8) * 2 + 2]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 1]
              + p[((c // 8) * 2 + 1) * 16 + (c % 8) * 2 + 2]) // 4) AS cell
             FROM px),
           meaned AS (
             SELECT doc_id, cell, CAST(list_sum(cell) // 64 AS BIGINT) AS mean FROM cells),
           words AS (
             SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 33] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_hi,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 1] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_lo
             FROM meaned),
           bands AS (
             SELECT doc_id, hash_hi, hash_lo, g.b,
               CASE g.b WHEN 0 THEN hash_lo & 65535 WHEN 1 THEN (hash_lo >> 16) & 65535
                        WHEN 2 THEN hash_hi & 65535 ELSE (hash_hi >> 16) & 65535 END AS key
             FROM words, (SELECT unnest(range(0, 4)) AS b) g),
           ok_b AS (SELECT b, key FROM bands GROUP BY b, key HAVING count(*) <= 10000),
           cand AS (
             SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                    a.hash_hi AS ah, a.hash_lo AS al, b.hash_hi AS bh, b.hash_lo AS bl
             FROM (SELECT bands.* FROM bands JOIN ok_b USING (b, key)) a
             JOIN (SELECT bands.* FROM bands JOIN ok_b USING (b, key)) b
               ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
           dropped AS (
             SELECT DISTINCT b_id FROM cand
             WHERE bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) <= 10)
           SELECT doc_id FROM documents
           WHERE doc_id NOT IN (SELECT b_id FROM dropped)""",

      "mm_audio_fingerprint" ->
        // closed-form replay of AudioFixture samples → 64 window means
        // → fingerprint bits, packed as two unsigned 32-bit words
        """WITH wm AS (
             SELECT doc_id, list_transform(range(0, 64), w ->
               CAST(list_sum(list_transform(range(0, 16), t ->
                 abs((((w * 16 + t) + (doc_id // 2) * 17) * ((w * 16 + t) + (doc_id // 2) * 17)
                      + 5 * ((w * 16 + t) + (doc_id // 2) * 17) + doc_id // 2) % 4001 - 2000)
                 + CASE WHEN doc_id % 2 = 1 AND list_contains(
                          list_transform(range(0, doc_id % 4),
                                         j -> ((doc_id // 2 + 11 * j) * 29) % 64), w)
                        THEN 100 ELSE 0 END)) // 16 AS BIGINT)) AS cell
             FROM documents),
           meaned AS (
             SELECT doc_id, cell, CAST(list_sum(cell) // 64 AS BIGINT) AS mean FROM wm)
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32), i ->
               CASE WHEN cell[i + 33] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_hi,
             CAST(list_sum(list_transform(range(0, 32), i ->
               CASE WHEN cell[i + 1] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_lo
           FROM meaned""",

      "mm_audio_neardup" ->
        // same fingerprint replay, then the shared banded-candidate +
        // popcount-verify chain (cap 10000, Hamming ≤ 10)
        """WITH wm AS (
             SELECT doc_id, list_transform(range(0, 64), w ->
               CAST(list_sum(list_transform(range(0, 16), t ->
                 abs((((w * 16 + t) + (doc_id // 2) * 17) * ((w * 16 + t) + (doc_id // 2) * 17)
                      + 5 * ((w * 16 + t) + (doc_id // 2) * 17) + doc_id // 2) % 4001 - 2000)
                 + CASE WHEN doc_id % 2 = 1 AND list_contains(
                          list_transform(range(0, doc_id % 4),
                                         j -> ((doc_id // 2 + 11 * j) * 29) % 64), w)
                        THEN 100 ELSE 0 END)) // 16 AS BIGINT)) AS cell
             FROM documents),
           meaned AS (
             SELECT doc_id, cell, CAST(list_sum(cell) // 64 AS BIGINT) AS mean FROM wm),
           words AS (
             SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 33] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_hi,
               CAST(list_sum(list_transform(range(0, 32), i ->
                 CASE WHEN cell[i + 1] > mean THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hash_lo
             FROM meaned),
           bands AS (
             SELECT doc_id, hash_hi, hash_lo, g.b,
               CASE g.b WHEN 0 THEN hash_lo & 65535 WHEN 1 THEN (hash_lo >> 16) & 65535
                        WHEN 2 THEN hash_hi & 65535 ELSE (hash_hi >> 16) & 65535 END AS key
             FROM words, (SELECT unnest(range(0, 4)) AS b) g),
           ok_b AS (SELECT b, key FROM bands GROUP BY b, key HAVING count(*) <= 10000),
           cand AS (
             SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                    a.hash_hi AS ah, a.hash_lo AS al, b.hash_hi AS bh, b.hash_lo AS bl
             FROM (SELECT bands.* FROM bands JOIN ok_b USING (b, key)) a
             JOIN (SELECT bands.* FROM bands JOIN ok_b USING (b, key)) b
               ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
           SELECT a_id, b_id,
                  CAST(bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) AS BIGINT) AS hamming
           FROM cand
           WHERE bit_count(xor(ah, bh)) + bit_count(xor(al, bl)) <= 10""",

      "mm_video_keyframes" ->
        """WITH d AS (SELECT doc_id, doc_id % 5 + 4 AS n FROM documents),
           k AS (SELECT doc_id, unnest(range(1, n + 1, 2)) AS s FROM d)
           SELECT doc_id, CAST(s AS BIGINT) AS sample,
                  CAST(COALESCE(list_sum(list_transform(range(0, s - 1),
                         j -> 10 + ((doc_id + j) % 4))), 0) AS BIGINT) AS rel_offset,
                  CAST(10 + ((doc_id + s - 1) % 4) AS BIGINT) AS n_bytes
           FROM k""",

      "s4_p20_vcf_roundtrip" ->
        """SELECT COUNT(*) AS n_rows,
                  COUNT(CASE WHEN doc_id % 4 = 0 THEN 1 END) AS n_ref_na,
                  COUNT(CASE WHEN doc_id % 4 = 0 THEN 1 END) AS n_alt_nan,
                  COUNT(CASE WHEN doc_id % 5 = 0 THEN 1 END) AS n_filter_null,
                  COUNT(CASE WHEN doc_id % 6 = 0 THEN 1 END) AS n_sample_missing,
                  COUNT(CASE WHEN doc_id % 9 = 0 THEN 1 END) AS n_ws_rows,
                  CAST(8 AS BIGINT) AS n_req_present
           FROM documents""",

      "s5_bed_readback" ->
        """SELECT CAST(p_partkey % 22 + 1 AS VARCHAR) AS chromosome,
                  COUNT(*) AS n,
                  COUNT(CASE WHEN p_partkey % 2 = 0 THEN 1 END) AS n_in_panel,
                  COUNT(DISTINCT p_brand) AS n_symbols,
                  CAST(120 * COUNT(*) AS BIGINT) AS span_sum
           FROM part GROUP BY 1""",

      "s6_assay_yaml" ->
        """SELECT n_name || '-A1' AS seq_assay_id,
                  n_name || '-P1' AS pipeline_id,
                  CAST(100 + n_nationkey AS BIGINT) AS read_length,
                  CAST(10 * n_nationkey AS BIGINT) AS n_genes,
                  CAST(10 AS BIGINT) AS gene_padding,
                  'snv;small_indels' AS alteration_types
           FROM nation""",

      "s7_s8_csv_variants" ->
        """SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 500 = 0) AS n_cis,
                  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
                   FROM orders WHERE o_orderkey % 500 = 0) AS sum_val,
                  (SELECT COUNT(*) FROM customer WHERE c_custkey % 100 = 0) AS n_retracted,
                  (SELECT MIN(c_name) FROM customer WHERE c_custkey % 100 = 0) AS first_retracted""",

      "s16_layout_roundtrip" ->
        """SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
                  MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
           FROM events WHERE event_type = 'click'""",

      "s13_cbio_clinical_sink" ->
        """SELECT COUNT(*) AS n_data_rows,
                  COUNT(DISTINCT c_mktsegment) AS n_segments,
                  MIN(c_name) AS first_sample,
                  CAST(4 AS BIGINT) AS n_meta_lines
           FROM customer WHERE c_custkey % 50 = 0""",

      "s14_case_lists" ->
        """SELECT regexp_replace(lower(c_mktsegment), '[^a-z0-9]+', '_', 'g') AS slug,
                  COUNT(DISTINCT c_name) AS n_ids
           FROM customer GROUP BY 1""",

      "s15_gene_panel" ->
        """SELECT 'GRAFT-PANEL1' AS panel_id,
                  CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_genes,
                  MIN(p_brand) AS first_gene
           FROM part WHERE p_partkey % 3 <> 0""",

      "o2_o3_latest_release" ->
        """SELECT CAST(major AS VARCHAR) || '.' || CAST(minor AS VARCHAR) AS name, major, minor
           FROM (SELECT DISTINCT o_orderkey % 5 AS major, o_orderkey % 97 AS minor FROM orders)
           ORDER BY major DESC, minor DESC LIMIT 1""",

      "p_battery_patient" -> {
        val p7 = """regexp_matches(year_death, '^\d{4}$') AND regexp_matches(year_contact, '^\d{4}$')
                    AND CAST(year_death AS INT) < CAST(year_contact AS INT)"""
        val p8 = """(dead = 'True' AND int_dod IS NOT DISTINCT FROM 'Not Applicable')
                    OR (dead = 'False' AND int_dod IS DISTINCT FROM 'Not Applicable')
                    OR (dead IN ('Unknown','Not Collected','Not Applicable','Not Released')
                        AND dead IS DISTINCT FROM int_dod)"""
        val p9 = """((int_contact = '>32485') <> (year_contact IN ('>89','cannotReleaseHIPAA')))
                    OR ((int_contact = '<6570') <> (year_contact = '<18'))"""
        val p27 = """col_a IS NULL AND col_b IS NULL"""
        val pInt = """TRY_CAST(int_dod AS DOUBLE) IS NOT NULL
                      AND TRY_CAST(int_contact AS DOUBLE) IS NOT NULL
                      AND TRY_CAST(int_dod AS DOUBLE) < TRY_CAST(int_contact AS DOUBLE)"""
        val rows = Seq(
          ("death_after_contact", "error", p7),
          ("int_dod_validity", "error", pInt),
          ("dead_dod_consistency", "error", p8),
          ("int_year_redaction_consistency", "error", p9),
          ("p27_empty_row", "error", p27)
        ).map { case (rule, sev, pred) =>
          s"""SELECT '$rule' AS rule, '$sev' AS severity,
              COUNT(CASE WHEN $pred THEN 1 END) AS n_violations,
              MIN(CASE WHEN $pred THEN patient_id END) AS example FROM d"""
        }.mkString("\n UNION ALL \n")
        s"""WITH d AS (
             SELECT 'GENIE-C-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS patient_id,
                    CASE WHEN doc_id % 6 = 0 THEN '>89'
                         ELSE '19' || lpad(CAST(doc_id % 60 + 20 AS VARCHAR), 2, '0') END AS year_contact,
                    CASE WHEN doc_id % 7 = 0 THEN '1915'
                         WHEN doc_id % 11 = 0 THEN 'Unknown' ELSE '1990' END AS year_death,
                    (['True','False','Unknown','Not Collected'])[CAST(doc_id % 4 AS INT) + 1] AS dead,
                    (['Not Applicable','500','Unknown'])[CAST(doc_id % 3 AS INT) + 1] AS int_dod,
                    CASE WHEN doc_id % 9 = 0 THEN '>32485' ELSE '20000' END AS int_contact,
                    CASE WHEN doc_id % 31 = 0 THEN NULL ELSE 'x' END AS col_a,
                    CASE WHEN doc_id % 31 = 0 THEN NULL ELSE 'y' END AS col_b
             FROM documents)
           $rows"""
      },

      "p28_deprecated_check" ->
        """WITH s AS (SELECT 'S' || CAST(c_custkey % 100 AS VARCHAR) AS sid, c_custkey AS ck
                      FROM customer),
           orph AS (SELECT sid FROM s WHERE ck % 10 = 0)
           SELECT 'deprecated_col_SEQ_DATE' AS rule, 'error' AS severity, CAST(1 AS BIGINT) AS n,
                  'Sample Clinical File: SEQ_DATE is now deprecated. Please remove.' AS message
           UNION ALL
           SELECT 'duplicate_sample_id', 'error',
                  (SELECT CAST(COUNT(*) AS BIGINT)
                   FROM (SELECT sid FROM s GROUP BY sid HAVING COUNT(*) > 1) t),
                  'Sample Clinical File: No duplicated SAMPLE_ID allowed.' || chr(10) ||
                  'If there are no duplicated SAMPLE_IDs, and both sample and patient files are uploaded, then please check to make sure no duplicated PATIENT_IDs exist in the patient clinical file.'
           UNION ALL
           SELECT 'orphan_samples', 'error',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s WHERE ck % 10 = 0),
                  'Patient Clinical File: All samples must have associated patient information and no null patient ids allowed. These samples are missing patient data: '
                    || (SELECT string_agg(DISTINCT sid, ', ' ORDER BY sid) FROM orph)""",

      "p10_sex_primary_conflicts" ->
        """WITH tree(code, primary_code) AS (
             SELECT * FROM (VALUES ('PRAD','PROSTATE'), ('TGCT','TESTIS'), ('UCEC','UTERUS'),
                                   ('HGSOC','OVARY'), ('LUAD','LUNG')) t),
           s AS (SELECT c_name AS sample_id,
                        (['PRAD','TGCT','UCEC','HGSOC','LUAD','ZZZ'])[CAST(c_custkey % 6 AS INT) + 1] AS code,
                        CASE WHEN c_custkey % 5 = 0 THEN '' ELSE CAST(c_custkey % 3 AS VARCHAR) END AS sex
                 FROM customer)
           SELECT primary_code, COUNT(*) AS n_conflicts, MIN(sample_id) AS example
           FROM s JOIN tree ON s.code = tree.code
           WHERE (primary_code IN ('TESTIS','PROSTATE','PENIS')
                    AND TRY_CAST(sex AS DOUBLE) IS DISTINCT FROM 1.0)
              OR (primary_code IN ('CERVIX','VULVA','UTERUS','OVARY')
                    AND TRY_CAST(sex AS DOUBLE) IS DISTINCT FROM 2.0)
           GROUP BY 1""",

      "p13_p15_maf_validate" -> {
        val chromList = ((1 to 22).map(i => s"'$i'") ++ Seq("'X'", "'Y'", "'MT'")).mkString(", ")
        val rules = Seq(
          ("chromosome_domain", "error", s"chrom IS NULL OR chrom NOT IN ($chromList)"),
          ("start_le_end", "warning",
            "TRY_CAST(start_pos AS BIGINT) > TRY_CAST(end_pos AS BIGINT)"),
          ("tsa2_allele", "error",
            """tsa2 IS NOT NULL AND NOT regexp_matches(tsa2, '(?i)^([ATCGN]+|-+)$')"""),
          ("ref_allele", "error",
            """ref IS NOT NULL AND NOT regexp_matches(ref, '(?i)^([ATCGN]+|-+)$')"""),
          ("barcode_prefix", "error",
            "barcode IS NULL OR NOT starts_with(barcode, 'GENIE-C') OR length(barcode) >= 50"),
          ("numeric_start_position", "error",
            "start_pos IS NOT NULL AND TRY_CAST(start_pos AS DOUBLE) IS NULL"),
          ("numeric_end_position", "error",
            "end_pos IS NOT NULL AND TRY_CAST(end_pos AS DOUBLE) IS NULL"),
          ("numeric_t_depth", "error",
            "t_depth IS NOT NULL AND TRY_CAST(t_depth AS DOUBLE) IS NULL"),
          ("numeric_n_depth", "error",
            "n_depth IS NOT NULL AND TRY_CAST(n_depth AS DOUBLE) IS NULL")
        ).map { case (rule, sev, pred) =>
          s"""SELECT 'full' AS variant, '$rule' AS rule, '$sev' AS severity,
              COUNT(CASE WHEN $pred THEN 1 END) AS n FROM d"""
        }.mkString("\n UNION ALL \n")
        s"""WITH d AS (
             SELECT CASE WHEN l_partkey % 30 = 0 THEN '23'
                         ELSE CAST(l_partkey % 22 + 1 AS VARCHAR) END AS chrom,
                    CAST(l_orderkey AS VARCHAR) AS start_pos,
                    CASE WHEN l_linenumber % 5 = 0 THEN CAST(l_orderkey - 1 AS VARCHAR)
                         ELSE CAST(l_orderkey + 100 AS VARCHAR) END AS end_pos,
                    (['A','TT','NA','xx'])[CAST(l_linenumber % 4 AS INT) + 1] AS ref,
                    (['C','GG','-','zz'])[CAST(l_suppkey % 4 AS INT) + 1] AS tsa2,
                    CASE WHEN l_suppkey % 6 = 0 THEN 'BAD-' || CAST(l_suppkey AS VARCHAR)
                         ELSE 'GENIE-C-' || CAST(l_suppkey AS VARCHAR) END AS barcode,
                    CASE WHEN l_linenumber % 7 = 0 THEN '12x'
                         ELSE CAST(CAST(l_quantity AS INT) AS VARCHAR) END AS t_depth,
                    CASE WHEN l_partkey % 9 = 0 THEN NULL ELSE '30' END AS n_depth
             FROM lineitem WHERE l_orderkey % 40 = 0)
           $rules
           UNION ALL
           SELECT 'full', 'duplicate_variants', 'error',
             (SELECT COUNT(*) FROM (SELECT 1 FROM d
               GROUP BY TRIM(chrom), TRIM(start_pos), TRIM(ref), TRIM(barcode), TRIM(tsa2)
               HAVING COUNT(*) > 1))
           UNION ALL
           SELECT 'full', 'tsa2_equals_ref_everywhere', 'error',
             (SELECT CASE WHEN BOOL_AND(COALESCE(tsa2 = ref, FALSE)) THEN 1 ELSE 0 END FROM d)
           UNION ALL
           SELECT 'missing', 'missing_headers', 'error', 2"""
      },

      "p21_cna_values" ->
        """WITH long AS (
             SELECT 'S' || CAST(l_suppkey % 30 AS VARCHAR) AS sample_id,
                    CASE WHEN l_linenumber % 6 = 0 THEN 0.3
                         ELSE CAST(l_linenumber % 5 - 2 AS DOUBLE) END AS value
             FROM lineitem WHERE l_orderkey % 20 = 0)
           SELECT COUNT(*) AS n_invalid, MIN(value) AS min_bad,
                  COUNT(DISTINCT sample_id) AS n_samples
           FROM long
           WHERE value IS NOT NULL
             AND value NOT IN (-2.0, -1.5, -1.0, 0.0, 0.5, 1.0, 1.5, 2.0)""",

      "p22_seg_battery" -> {
        val chromList = ((1 to 22).map(i => s"'$i'") ++ Seq("'X'", "'Y'", "'MT'")).mkString(", ")
        val rules = Seq(
          ("id_prefix", "error",
            "id IS NULL OR NOT starts_with(id, 'GENIE-C')"),
          ("id_length", "error", "length(id) >= 50"),
          ("chr_prefix", "warning", "COALESCE(contains(chrom, 'chr'), FALSE)"),
          ("chrom_domain", "error",
            s"chrom IS NULL OR regexp_replace(chrom, '^chr', '') NOT IN ($chromList)"),
          ("loc_start_int", "error",
            """loc_start IS NOT NULL AND NOT regexp_matches(loc_start, '^-?\d+$')"""),
          ("loc_end_int", "error",
            """loc_end IS NOT NULL AND NOT regexp_matches(loc_end, '^-?\d+$')"""),
          ("num_mark_int", "error",
            """num_mark IS NOT NULL AND NOT regexp_matches(num_mark, '^-?\d+$')"""),
          ("seg_mean_numeric", "error",
            "seg_mean IS NOT NULL AND TRY_CAST(seg_mean AS DOUBLE) IS NULL"),
          ("no_nulls", "error",
            """id IS NULL OR chrom IS NULL OR loc_start IS NULL OR loc_end IS NULL
               OR num_mark IS NULL OR seg_mean IS NULL""")
        ).map { case (rule, sev, pred) =>
          s"""SELECT '$rule' AS rule, '$sev' AS severity,
              COUNT(CASE WHEN $pred THEN 1 END) AS n_violations,
              MIN(CASE WHEN $pred THEN id END) AS example FROM d"""
        }.mkString("\n UNION ALL \n")
        s"""WITH d AS (
             SELECT CASE WHEN o_custkey % 13 = 0 THEN 'BAD-' || CAST(o_custkey AS VARCHAR)
                         ELSE 'GENIE-C-' || CAST(o_custkey AS VARCHAR) END AS id,
                    (CASE WHEN o_orderkey % 4 = 0 THEN 'chr' ELSE '' END)
                      || CAST(o_custkey % 26 + 1 AS VARCHAR) AS chrom,
                    CASE WHEN o_orderkey % 7 = 0 THEN '12.5'
                         ELSE CAST(o_orderkey AS VARCHAR) END AS loc_start,
                    CAST(o_orderkey + 500 AS VARCHAR) AS loc_end,
                    CASE WHEN o_orderkey % 11 = 0 THEN 'abc' ELSE '0.25' END AS seg_mean,
                    CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE '5' END AS num_mark
             FROM orders WHERE o_orderkey % 10 = 0)
           $rules"""
      },

      "p23_assay_battery" -> {
        val rules = Seq(
          ("seq_assay_id_prefix", "error",
            "NOT COALESCE(starts_with(upper(seq_assay_id), 'C'), FALSE)"),
          ("library_selection", "error",
            """library_selection IS NOT NULL AND library_selection NOT IN
               ('Hybrid Selection','PCR','Affinity Enrichment','Poly-T Enrichment','Random')"""),
          ("read_length_int", "error",
            "read_length IS NOT NULL AND TRY_CAST(read_length AS INT) IS NULL"),
          ("cellularity_format", "error",
            """cellularity IS NOT NULL AND NOT regexp_matches(cellularity, '^>\d+%$')"""),
          ("alteration_types", "error",
            """alteration_types IS NOT NULL AND len(list_filter(alteration_types,
               x -> x NOT IN ('snv','small_indels','gene_level_cna','intragenic_cna','structural_variants'))) > 0""")
        ).map { case (rule, sev, pred) =>
          s"""SELECT '$rule' AS rule, '$sev' AS severity,
              COUNT(CASE WHEN $pred THEN 1 END) AS n_violations,
              MIN(CASE WHEN $pred THEN seq_assay_id END) AS example FROM d"""
        }.mkString("\n UNION ALL \n")
        s"""WITH d AS (
             SELECT CASE WHEN s_suppkey % 4 = 0 THEN 'X-' || s_name
                         ELSE 'C-' || s_name END AS seq_assay_id,
                    (['Hybrid Selection','PCR','Laser Capture'])[CAST(s_suppkey % 3 AS INT) + 1] AS library_selection,
                    CASE WHEN s_suppkey % 5 = 0 THEN 'abc' ELSE '150' END AS read_length,
                    CASE WHEN s_suppkey % 6 = 0 THEN '20%' ELSE '>30%' END AS cellularity,
                    ['snv', CASE WHEN s_suppkey % 7 = 0 THEN 'bogus' ELSE 'small_indels' END] AS alteration_types
             FROM supplier)
           $rules"""
      },

      "c14_canonical_renames" ->
        """SELECT CAST(l_partkey % 22 + 1 AS VARCHAR) AS chromosome,
                  COUNT(*) AS n,
                  COUNT(CASE WHEN l_linenumber % 3 = 0 THEN 1 END) AS n_ref_na,
                  COUNT(CASE WHEN l_linenumber % 2 = 0 THEN 1 END) AS n_hgvsp_null,
                  COUNT(DISTINCT l_suppkey) AS n_samples
           FROM lineitem WHERE l_orderkey % 200 = 0
           GROUP BY 1""",

      "c15_oncotree_json" ->
        """SELECT r_name AS code, r_name AS primary_code,
                  '' AS secondary_code, 'ct_' || r_name AS cancer_type
           FROM region
           UNION ALL
           SELECT n_name, r_name, n_name, 'ct_' || r_name
           FROM nation JOIN region ON n_regionkey = r_regionkey""",

      "p24_p25_p26_crossfile" ->
        """WITH clin AS (SELECT DISTINCT 'C-A' || CAST(c_custkey % 30 AS VARCHAR) AS aid FROM customer),
           assay AS (SELECT DISTINCT 'C-A' || CAST(s_suppkey % 25 AS VARCHAR) AS aid FROM supplier),
           clin_raw AS (SELECT DISTINCT 'C_A' || CAST(c_custkey % 30 AS VARCHAR) AS aid FROM customer),
           mafb AS (SELECT DISTINCT 'CUSTOMER#' || lpad(CAST(o_custkey * 2 AS VARCHAR), 9, '0') AS b
                    FROM orders WHERE o_orderkey % 30 = 0),
           dbk AS (SELECT DISTINCT 'GENIE-C-' || CAST(l_suppkey AS VARCHAR)
                     || ' p.A' || CAST(l_partkey % 22 AS VARCHAR)
                     || ' ' || CAST(l_orderkey AS VARCHAR) || ' A T' AS k
                   FROM lineitem WHERE l_orderkey % 40 = 0),
           rek AS (SELECT DISTINCT 'GENIE-C-' || CAST(l_suppkey AS VARCHAR)
                     || ' p.A' || CAST(l_partkey % 22 AS VARCHAR)
                     || ' ' || CAST(l_orderkey + CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 0 END AS VARCHAR)
                     || ' A T' AS k
                   FROM lineitem WHERE l_orderkey % 80 = 0)
           SELECT 'p24_clinical_assay' AS check,
                  (SELECT COUNT(*) FROM clin WHERE aid NOT IN (SELECT aid FROM assay)) AS n
           UNION ALL
           SELECT 'p24_maf_samples',
                  (SELECT COUNT(*) FROM mafb WHERE b NOT IN (SELECT upper(c_name) FROM customer))
           UNION ALL
           SELECT 'p25_db_assay',
                  (SELECT COUNT(*) FROM clin_raw
                   WHERE upper(replace(aid, '_', '-')) NOT IN
                     (SELECT upper(replace(aid, '_', '-')) FROM assay))
           UNION ALL
           SELECT 'p26_unknown_cis',
                  (SELECT COUNT(*) FROM rek WHERE k NOT IN (SELECT k FROM dbk))""",

      "p29_p30_j7_status" ->
        """WITH files AS (
             SELECT p_partkey AS id,
                    'file_' || CAST(p_partkey AS VARCHAR) || '.txt' AS name,
                    md5(p_name) AS md5v
             FROM part WHERE p_partkey % 25 = 0),
           prior AS (SELECT id, name,
                            CASE WHEN id % 6 = 0 THEN 'stale' ELSE md5v END AS md5v
                     FROM files WHERE id % 2 = 0),
           uploads AS (
             SELECT CASE WHEN p_partkey % 300 = 0 THEN 'data_clinical_supp_sample.txt'
                         WHEN p_partkey % 200 = 0 THEN 'batch_' || CAST(p_partkey AS VARCHAR) || '.seg'
                         ELSE 'maf_' || CAST(p_partkey AS VARCHAR) || '.txt' END AS name
             FROM part WHERE p_partkey % 100 = 0)
           SELECT
             (SELECT COUNT(*) FROM files f
               WHERE EXISTS (SELECT 1 FROM prior p WHERE p.name = f.name AND p.md5v = f.md5v)) AS n_skip,
             (SELECT COUNT(*) FROM files f
               WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.name = f.name AND p.md5v = f.md5v)) AS n_revalidate,
             (SELECT COUNT(*) FROM files f
               JOIN (SELECT p_partkey AS id FROM part WHERE p_partkey % 175 = 0) e ON f.id = e.id
               JOIN prior p ON f.id = p.id) AS n_with_errors,
             (SELECT CAST(COUNT(CASE WHEN starts_with(name, 'data_clinical_supp') THEN 1 END) > 2 AS BIGINT)
              FROM uploads) AS clinical_dup_flag,
             (SELECT CAST(COUNT(CASE WHEN name LIKE '%.seg' THEN 1 END) > 1 AS BIGINT)
              FROM uploads) AS seg_dup_flag""",

      "f5_f6_sample_filters" ->
        """WITH tree(code, cancer_type) AS (
             SELECT * FROM (VALUES ('LUAD','NSCLC'), ('PRAD','Prostate Cancer'),
                                   ('UCEC','Endometrial Cancer')) t),
           panels AS (SELECT DISTINCT 'C-A' || CAST(s_suppkey % 25 AS VARCHAR) AS aid FROM supplier),
           clin AS (SELECT c_name AS sample_id,
                           'C-A' || CAST(c_custkey % 30 AS VARCHAR) AS aid,
                           (['LUAD','PRAD','UCEC','ZZZ'])[CAST(c_custkey % 4 AS INT) + 1] AS code
                    FROM customer)
           SELECT cancer_type, COUNT(*) AS n_samples, COUNT(DISTINCT aid) AS n_assays
           FROM clin JOIN tree ON clin.code = tree.code
           WHERE aid IN (SELECT aid FROM panels)
           GROUP BY 1""",

      "f11_retraction_cascade" ->
        """SELECT COUNT(*) AS n_kept, COUNT(DISTINCT o_custkey) AS n_patients
           FROM orders
           WHERE o_orderkey % 50 <> 0
             AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 40 = 0)""",

      "f12_f13_f14_public" -> {
        val monthsArr = "['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec']"
        s"""WITH keep AS (
             SELECT c_custkey, c_name, c_mktsegment FROM customer
             WHERE date_diff('month',
               strptime(($monthsArr)[CAST(c_custkey % 12 AS INT) + 1] || '-'
                 || CAST(2024 + c_custkey % 3 AS VARCHAR), '%b-%Y'),
               TIMESTAMP '2026-01-01 00:00:00') >= 12)
           SELECT (SELECT COUNT(*) FROM keep) AS n_clinical,
                  (SELECT COUNT(DISTINCT c_mktsegment) FROM keep) AS n_types,
                  CAST(2 AS BIGINT) AS n_clinical_cols,
                  (SELECT COUNT(*) FROM keep WHERE c_custkey % 4 <> 0 AND c_custkey % 6 <> 0) AS n_maf,
                  (SELECT COUNT(*) FROM keep WHERE c_custkey % 4 <> 0 AND c_custkey % 6 <> 0) AS n_pass"""
      },

      "p3_row_index_report" ->
        """SELECT row_id, doc_id, lang FROM (
             SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_id, doc_id, lang
             FROM documents)
           WHERE lang IS NOT NULL AND lang NOT IN ('de','en','es','fr')""",

      "dedup_neardup_banded" -> {
        def bandKey(b: Int) = (0 until 8)
          .map(i => s"CASE WHEN embedding[${b * 8 + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        val cos =
          """list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
             / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE))))
                * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))))"""
        // the engine's maxBucket occupancy cap (bandedNearDup default
        // 10000) mirrored exactly: over-cap buckets are excluded from
        // pairwise generation, so the oracle agrees at ANY scale factor,
        // not just the ones where no bucket binds
        val bandCtes = (0 until 3)
          .map(b => s"k$b AS (SELECT vec_id, bucket FROM (" +
            s"SELECT vec_id, ${bandKey(b)} AS bucket FROM embeddings) " +
            s"QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 10000)")
          .mkString(",\n           ")
        val unions = (0 until 3)
          .map(b => s"SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM k$b a JOIN k$b b2 USING (bucket) WHERE a.vec_id < b2.vec_id")
          .mkString("\n             UNION\n             ")
        s"""WITH $bandCtes,
           cand AS (
             $unions
           )
           SELECT id_a, id_b, cos FROM (
             SELECT id_a, id_b, ROUND($cos, 6) AS cos
             FROM cand
             JOIN embeddings ea ON ea.vec_id = id_a
             JOIN embeddings eb ON eb.vec_id = id_b)
           WHERE cos >= 0.35"""
      },

      "sim_lsh_topk_banded" -> {
        def qKey(b: Int) = (0 until 8)
          .map(i => s"CASE WHEN q_vec[${b * 8 + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        def cKey(b: Int) = (0 until 8)
          .map(i => s"CASE WHEN c_vec[${b * 8 + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
          .mkString(" + ")
        val unions = (0 until 3)
          .map(b => s"""SELECT q_id, c_id FROM
               (SELECT q_id, q_vec, ${qKey(b)} AS bucket FROM q0) qk
               JOIN (SELECT c_id, c_vec, ${cKey(b)} AS bucket FROM c0) ck USING (bucket)
               WHERE q_id <> c_id""")
          .mkString("\n             UNION\n             ")
        s"""WITH q0 AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
           c0 AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
           cand AS (
             $unions
           ),
           scored AS (
             SELECT q_id, c_id,
                    list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
                    / (SQRT(list_sum(list_transform(range(1, 65), i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
                       * SQRT(list_sum(list_transform(range(1, 65), i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))) AS score
             FROM cand JOIN q0 USING (q_id) JOIN c0 USING (c_id))
           SELECT q_id, c_id, ROUND(score, 6) AS score,
                  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS INT) AS rank
           FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) <= 3"""
      },

      "dash_failed_annotations" ->
        """SELECT 'C' || CAST(l_suppkey % 7 AS VARCHAR) AS Center, COUNT(*) AS n_failed
           FROM lineitem
           WHERE l_orderkey % 25 = 0 AND l_partkey % 5 = 0
           GROUP BY 1""",

      "dash_center_distribution" ->
        """WITH c AS (
             SELECT c_mktsegment AS center, CAST(c_custkey % 3 AS VARCHAR) AS sex,
                    COUNT(*) AS n
             FROM customer GROUP BY 1, 2)
           SELECT center AS CENTER, sex AS SEX, n,
                  ROUND(n / SUM(n) OVER (PARTITION BY center) * 100.0, 4) AS pct
           FROM c""",

      "dash_release_content" ->
        """WITH s AS (SELECT 'C' || CAST(c_custkey % 5 AS VARCHAR) AS center,
                             COUNT(DISTINCT c_custkey) AS samples
                      FROM customer GROUP BY 1),
           m AS (SELECT 'C' || CAST(o_custkey % 7 AS VARCHAR) AS center,
                        COUNT(*) AS variants
                 FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
           merged AS (
             SELECT COALESCE(s.center, m.center) AS center,
                    COALESCE(samples, 0) AS samples,
                    COALESCE(variants, 0) AS variants
             FROM s FULL OUTER JOIN m ON s.center = m.center)
           SELECT center AS Center, samples AS Samples, variants AS Variants FROM merged
           UNION ALL
           SELECT 'Total', CAST(SUM(samples) AS BIGINT), CAST(SUM(variants) AS BIGINT)
           FROM merged""",

      "c2_clinical_process" ->
        """WITH m(code, label, descr) AS (
             SELECT * FROM (VALUES ('1','Male','Male'), ('2','Female','Female'),
                                   ('3','Unknown','Not coded')) t),
           d AS (SELECT c_custkey,
                        CAST(c_custkey % 3 + 1 AS VARCHAR) AS sexcode,
                        CASE WHEN c_custkey % 7 = 0 THEN 'Release'
                             ELSE 'Jan-' || CAST(2015 + c_custkey % 5 AS VARCHAR) END AS seq_date,
                        CAST(1940 + c_custkey % 40 AS VARCHAR) AS birth
                 FROM customer)
           SELECT label AS sex, descr AS sex_detailed, COUNT(*) AS n,
                  COUNT(DISTINCT 'CTR-A' || CAST(c_custkey % 5 AS VARCHAR)) AS n_assays,
                  COUNT(CASE WHEN seq_date = 'Release' THEN 1 END) AS n_release,
                  MIN(birth) AS min_birth,
                  MIN(CASE WHEN seq_date <> 'Release'
                           THEN CAST(2015 + c_custkey % 5 AS INT) END) AS min_seq_year
           FROM d JOIN m ON d.sexcode = m.code
           GROUP BY 1, 2""",

      "curate_docs" ->
        """WITH sc AS (
             SELECT doc_id, text,
                    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
             FROM documents),
           hits AS (
             SELECT doc_id, text,
               len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','a','that'))) AS h_en,
               len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los','una'))) AS h_es,
               len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','un','une'))) AS h_fr,
               len(list_filter(toks, t -> t IN ('der','die','und','das','von','zu','mit','ein'))) AS h_de
             FROM sc),
           base AS (
             SELECT doc_id,
                    CASE WHEN GREATEST(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                         WHEN h_fr = GREATEST(h_en, h_es, h_fr, h_de) THEN 'fr'
                         WHEN h_es = GREATEST(h_en, h_es, h_fr, h_de) THEN 'es'
                         WHEN h_en = GREATEST(h_en, h_es, h_fr, h_de) THEN 'en'
                         ELSE 'de' END AS lang_pred,
                    ROUND(
                      LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                      + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 0.4
                      + CASE WHEN CAST(length(text) AS DOUBLE)
                                  / GREATEST(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0)
                                  BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.5 END * 0.2, 6) AS quality,
                    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank
             FROM hits)
           SELECT doc_id, lang_pred, quality,
                  (CASE WHEN lang_pred NOT IN ('de','en','es','fr') THEN 'lang'
                        WHEN quality < 0.5 THEN 'quality'
                        WHEN dup_rank > 1 THEN 'exact_dup' END) IS NULL AS keep,
                  CASE WHEN lang_pred NOT IN ('de','en','es','fr') THEN 'lang'
                       WHEN quality < 0.5 THEN 'quality'
                       WHEN dup_rank > 1 THEN 'exact_dup' END AS drop_reason
           FROM base""",

      "pack_sequences" ->
        """WITH d AS (
             SELECT doc_id, doc_id % 8 AS shard,
                    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
             FROM documents),
           c AS (
             SELECT doc_id, shard, n_tokens,
                    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
             FROM d)
           SELECT doc_id, shard, n_tokens,
                  CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id
           FROM c""",

      "pack_efficiency" ->
        """WITH d AS (
             SELECT doc_id, doc_id % 8 AS shard,
                    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
             FROM documents),
           c AS (
             SELECT doc_id, shard, n_tokens,
                    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
             FROM d),
           p AS (
             SELECT shard,
                    CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id,
                    COUNT(*) AS nd, SUM(n_tokens) AS pt
             FROM c GROUP BY shard,
                    CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT))
           SELECT shard,
                  CAST(SUM(nd) AS BIGINT) AS n_docs,
                  CAST(COUNT(*) AS BIGINT) AS n_packs,
                  CAST(SUM(pt) AS BIGINT) AS total_tokens,
                  CAST(MIN(pt) AS BIGINT) AS min_pack_tokens,
                  CAST(MAX(pt) AS BIGINT) AS max_pack_tokens
           FROM p GROUP BY shard ORDER BY shard""",

      "release_gene_matrix" ->
        """WITH base AS (
             SELECT c_name AS SAMPLE_ID,
                    'C-A' || CAST(c_custkey % 6 AS VARCHAR) AS mutations,
                    c_custkey
             FROM customer
             WHERE 'C-A' || CAST(c_custkey % 6 AS VARCHAR) <> 'C-A5'),
           cnap AS (SELECT DISTINCT mutations FROM base WHERE c_custkey % 3 = 0),
           svp  AS (SELECT DISTINCT mutations FROM base WHERE c_custkey % 7 = 0)
           SELECT SAMPLE_ID, mutations,
                  CASE WHEN mutations IN (SELECT mutations FROM cnap)
                       THEN mutations ELSE 'NA' END AS cna,
                  CASE WHEN mutations IN (SELECT mutations FROM svp)
                       THEN mutations ELSE 'NA' END AS sv
           FROM base""",

      "mm_feature_pipeline" ->
        """WITH counts AS (
             SELECT doc_id, length(text) AS n,
                    list_transform(range(0, 16), j ->
                      len(list_filter(range(1, length(text) + 1),
                        i -> ascii(substr(text, i, 1)) % 16 = j))) AS c
             FROM documents)
           SELECT doc_id,
                  CAST(list_position(c, list_max(c)) AS BIGINT) AS top_bucket,
                  CAST(len(list_filter(c, x -> x > 0)) AS BIGINT) AS n_active,
                  CAST(n % 64 + 1 AS BIGINT) AS width,
                  CAST(n % 7 + 1 AS BIGINT) AS n_frames
           FROM counts"""
    )
    // the persisted-index IVF path must be bit-identical to the
    // train-per-call path, and the bucketed-existing upsert fast path
    // must match the plain diff row-for-row — gate each against the
    // same oracle as its logical twin
    // leakage guard = the banded near-dup oracle with the hash-split
    // CASE applied to each pair id (same md5 bucket math as
    // sample_split), keeping only pairs that straddle splits
    val splitCase = (idc: String) =>
      s"""CASE WHEN ('0x' || substr(md5('split:' || CAST($idc AS VARCHAR)), 1, 8))::BIGINT
                    < ${math.floor(0.8 * 4294967296.0).toLong} THEN 'train'
               WHEN ('0x' || substr(md5('split:' || CAST($idc AS VARCHAR)), 1, 8))::BIGINT
                    < ${math.floor(0.9 * 4294967296.0).toLong} THEN 'val'
               ELSE 'test' END"""
    m + ("sim_ivf_persisted" -> m("sim_ivf_kmeans")) +
      ("dedup_semantic_persisted" -> m("dedup_semantic")) +
      ("text_bm25_persisted" -> m("text_bm25_topk")) +
      ("s12_upsert_bucketed" -> m("s12_upsert_diff")) +
      ("sim_pq_persisted" -> m("sim_pq_recall")) +
      ("split_leakage_guard" ->
        s"""SELECT * FROM (
              SELECT id_a, id_b, cos,
                     ${splitCase("id_a")} AS split_a,
                     ${splitCase("id_b")} AS split_b
              FROM (${m("dedup_neardup_banded")}))
            WHERE split_a <> split_b""")
  }
}
