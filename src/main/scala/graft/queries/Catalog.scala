package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GraftDB, GraftOptions}
import graft.functions.Text
import graft.graph.GraphOps
import graft.llmops.{Classify, Curation, Dedup, Importance, Multimodal, NearDupIndex, Recall, Search, Similarity, Tokenize}
import graft.operators.KVOps
import graft.streaming.EventStream

/** The driver-facing query catalog: every operator from SURVEY §2 plus the
  * LLM-pipeline extension surface, each as a (Spark plan, DuckDB oracle SQL)
  * pair. Conventions for oracle hash-parity:
  *   - identical column names/aliases on both sides;
  *   - a deterministic total ORDER BY on both sides;
  *   - doubles rounded (2dp money, 6dp ratios); counts cast to long;
  *   - event timestamps surfaced as epoch milliseconds (`unix_millis` /
  *     `epoch_ms`) — the testdata `events.ts` is nanosecond-precision
  *     parquet, which Spark truncates to micros while DuckDB keeps nanos,
  *     so raw timestamps can never hash-match.
  */
object Catalog {

  final case class QueryDef(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      headline: Boolean = false)

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // the events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    // refuses by default; long nanos are also the determinism-friendly form
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** events with a ms-precision version column — the common KV framing:
    * key = user_id, version = (ts_ms, event_id). `ts` is surfaced as a real
    * (micro-precision, UTC) timestamp for window functions; `ts_ms` is the
    * integral epoch-milliseconds used for ordering and output.
    *
    * SCHEMA-ADAPTIVE: the driver has shipped `events.ts` as both INT64
    * nanoseconds and parquet `timestamp[us]` across regenerations. An engine
    * whose query surface hard-codes the physical encoding of a table it does
    * not own breaks on every re-encode (round 7 lost all 14 events queries
    * this way), so the loader branches on the arriving type and normalizes
    * to the one logical shape every downstream query was written against.
    * The DuckDB oracles use `epoch_ms(ts)`, which is encoding-agnostic —
    * only this Spark side needs the branch. All entry points pin the session
    * timezone to UTC, making the NTZ→LTZ cast the exact epoch instant.
    */
  def loadEvents(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // INT64 epoch-nanoseconds (read via nanosAsLong)
        raw.withColumn("ts_ms", expr("ts div 1000000"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // naive micros; session tz is UTC → exact
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ms", unix_millis(col("ts").cast(TimestampType)))
      case TimestampType =>
        raw.withColumn("ts_ms", unix_millis(col("ts")))
      case other => throw new IllegalArgumentException(
        s"events.ts arrived as unsupported type $other " +
          "(expected INT64 nanos, timestamp, or timestamp_ntz)")
    }
  }

  private def events(s: SparkSession, dir: String): DataFrame =
    loadEvents(s, dir)

  private val normSql =
    """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""
  private val toksSql = s"string_split($normSql, ' ')"

  /** Shared oracle of pipeline_temperature_mix / _sql: replays the whole
    * alpha=0.5 rate recipe (counts — NULL is a stratum of its own, so no
    * NOT NULL filter and a null-safe join back — sqrt shares,
    * sorted-stratum ordered denominator sum with NULLS LAST, 9dp HALF_UP
    * round) and the certified Knuth draw, verifying the EXACT surviving
    * set.
    */
  private lazy val temperatureMixOracleSql: String =
    """WITH c AS (SELECT lang AS s, count(*) AS n FROM documents
          GROUP BY lang),
        tt AS (SELECT sum(n)::DOUBLE AS nn FROM c),
        q AS (SELECT s, n, sqrt(n::DOUBLE / (SELECT nn FROM tt)) AS qa FROM c),
        z AS (SELECT max(zz) AS z FROM
          (SELECT sum(qa) OVER (ORDER BY s NULLS LAST) AS zz FROM q)),
        r AS (SELECT s, round(least(1.0,
            250.0 * (qa / (SELECT z FROM z)) / n::DOUBLE), 9) AS rate FROM q)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.s
      WHERE ((d.doc_id % 1000003 + 1) * 2654435761
           + (d.doc_id % 999983 + 1) * 2246822519) % 4294967296
          < rate * 4294967296
      ORDER BY d.doc_id"""

  /** Shared oracle of pipeline_temperature_mix_exact / _sql: replays the
    * water-filling prefix scan — strata sorted by the correctly-rounded
    * saturation ratio n/q (stratum name NULLS LAST as tiebreak), running
    * sums in that order (the sequential fold temperatureMix uses), the
    * first rank whose water level λ = (budget − Σn_clamped) /
    * (Z − Σq_clamped) clears its own ratio, rate 1 before it and
    * round(least(1, (λ*·q)/n), 9) from it on — then the certified Knuth
    * draw on the exact per-stratum rates. Budget 420 at sf0.01 clamps
    * four of the five languages (only `en` stays fractional), so the
    * redistribution path is genuinely exercised; every step is one
    * correctly-rounded IEEE op on values both engines derive
    * identically.
    */
  private lazy val temperatureMixExactOracleSql: String =
    """WITH c AS (SELECT lang AS s, count(*) AS n FROM documents
          GROUP BY lang),
        tt AS (SELECT sum(n)::DOUBLE AS nn FROM c),
        q AS (SELECT s, n, sqrt(n::DOUBLE / (SELECT nn FROM tt)) AS qa FROM c),
        o AS (SELECT s, n, qa, n::DOUBLE / qa AS ratio,
            row_number() OVER (ORDER BY n::DOUBLE / qa, s NULLS LAST) AS rk,
            sum(n) OVER (ORDER BY n::DOUBLE / qa, s NULLS LAST) AS cni,
            sum(qa) OVER (ORDER BY n::DOUBLE / qa, s NULLS LAST) AS cqi
          FROM q),
        f AS (SELECT s, n, qa, ratio, rk,
            (420.0 - coalesce(lag(cni) OVER (ORDER BY rk), 0)::DOUBLE)
              / ((SELECT max(cqi) FROM o)
                 - coalesce(lag(cqi) OVER (ORDER BY rk), 0.0)) AS lam
          FROM o),
        k AS (SELECT min(rk) AS fs FROM f WHERE lam < ratio),
        ls AS (SELECT lam AS lamstar FROM f WHERE rk = (SELECT fs FROM k)),
        r AS (SELECT s, CASE
            WHEN (SELECT fs FROM k) IS NULL OR rk < (SELECT fs FROM k)
              THEN 1.0
            ELSE least(1.0,
              round(((SELECT lamstar FROM ls) * qa) / n::DOUBLE, 9))
            END AS rate FROM f)
      SELECT d.doc_id, d.lang, d.source
      FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.s
      WHERE ((d.doc_id % 1000003 + 1) * 2654435761
           + (d.doc_id % 999983 + 1) * 2246822519) % 4294967296
          < rate * 4294967296
      ORDER BY d.doc_id"""

  /** Shared oracle of text_codeid / text_codeid_sql: every feature is a
    * character/token count both engines derive identically, composed
    * with the exact parenthesization of [[graft.functions.Text.codeScore]].
    */
  private lazy val codeidOracleSql: String = {
    val kw = graft.functions.Text.codeKeywords.map(w => s"'$w'").mkString(", ")
    s"""WITH lines AS (SELECT doc_id,
        list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS nel
      FROM documents),
    f AS (SELECT d.doc_id,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[{}\\[\\]();=<>#_]', '', 'g')))::DOUBLE / length(text) END AS sym,
        CASE WHEN len($toksSql) = 0 THEN 0.0
             ELSE len(list_filter($toksSql, tk -> tk IN ($kw)))::DOUBLE / len($toksSql) END AS kw,
        CASE WHEN len($toksSql) = 0 THEN 0.0
             ELSE len(list_filter(string_split_regex(text, '\\s+'),
                 x -> regexp_matches(x, '[a-z][A-Z]')))::DOUBLE / len($toksSql) END AS cam,
        CASE WHEN len(nel) = 0 THEN 0.0
             ELSE len(list_filter(nel, l -> regexp_matches(l, '[;{}:] *$$')
                 OR regexp_matches(l, '^(    |\t)')))::DOUBLE / len(nel) END AS ln
      FROM documents d JOIN lines ON d.doc_id = lines.doc_id)
    SELECT doc_id, round(sym, 6) AS symbol_ratio, round(kw, 6) AS keyword_ratio,
      round(cam, 6) AS camel_ratio, round(ln, 6) AS line_ratio,
      round((least(sym * 8.0, 1.0) + least(kw * 10.0, 1.0) +
        least(cam * 5.0, 1.0) + least(ln * 2.0, 1.0)) / 4.0, 6) AS code_score
    FROM f ORDER BY doc_id"""
  }

  /** Shared oracle of text_encoding / _sql: numerators and the code-point
    * denominator are regex counts both engines derive identically (Java's
    * regex engine and RE2 are both code-point based, so `(?s).` on the
    * Spark side equals DuckDB's `length()`); ratios and the composite
    * keep one fixed parenthesization.
    */
  private lazy val encodingOracleSql: String =
    """WITH f AS (SELECT doc_id, length(text) AS ncp,
          len(regexp_extract_all(text, chr(65533))) AS repl,
          len(regexp_extract_all(text,
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS ctrl
        FROM documents),
      g AS (SELECT doc_id, ncp,
          CASE WHEN ncp = 0 THEN 0.0 ELSE repl::DOUBLE / ncp END AS rr,
          CASE WHEN ncp = 0 THEN 0.0 ELSE ctrl::DOUBLE / ncp END AS cr
        FROM f)
      SELECT doc_id, ncp AS n_cp, round(rr, 6) AS repl_ratio,
        round(cr, 6) AS ctrl_ratio,
        round(greatest(0.0, 1.0 - (rr * 25.0 + cr * 25.0)), 6) AS enc_score
      FROM g ORDER BY doc_id"""

  /** Shared oracle of text_script / _sql: per-script code-point counts via
    * RE2's `\p{Script}` classes (the assignments Java's `\p{IsScript}`
    * agrees on), ratios over ALL code points, argmax on the INTEGER
    * counts with the fixed tie order latin > han > cyrillic > arabic.
    */
  private lazy val scriptOracleSql: String =
    """WITH f AS (SELECT doc_id, length(text) AS ncp,
          len(regexp_extract_all(text, '\p{Latin}')) AS lat,
          len(regexp_extract_all(text, '\p{Han}')) AS han,
          len(regexp_extract_all(text, '\p{Cyrillic}')) AS cyr,
          len(regexp_extract_all(text, '\p{Arabic}')) AS ara
        FROM documents)
      SELECT doc_id,
        CASE WHEN ncp = 0 THEN 0.0
          ELSE round(lat::DOUBLE / ncp, 6) END AS script_latin,
        CASE WHEN ncp = 0 THEN 0.0
          ELSE round(han::DOUBLE / ncp, 6) END AS script_han,
        CASE WHEN ncp = 0 THEN 0.0
          ELSE round(cyr::DOUBLE / ncp, 6) END AS script_cyrillic,
        CASE WHEN ncp = 0 THEN 0.0
          ELSE round(ara::DOUBLE / ncp, 6) END AS script_arabic,
        CASE WHEN ncp = 0 THEN 0.0
          ELSE round((ncp - lat - han - cyr - ara)::DOUBLE / ncp, 6)
          END AS script_other,
        CASE WHEN lat >= han AND lat >= cyr AND lat >= ara AND lat > 0
            THEN 'latin'
          WHEN han >= cyr AND han >= ara AND han > 0 THEN 'han'
          WHEN cyr >= ara AND cyr > 0 THEN 'cyrillic'
          WHEN ara > 0 THEN 'arabic'
          ELSE 'und' END AS script_pred
      FROM f ORDER BY doc_id"""

  /** Shared oracle of pipeline_c4_clean / _sql: the documents are first
    * LINE-IFIED deterministically (every 5-token run becomes a
    * period-terminated line — the synthetic corpus has no newlines or
    * punctuation of its own, and the trailing sub-5-token remainder
    * stays unterminated, so both kept AND dropped lines are exercised
    * on real data), then the C4 rules replay line-by-line: non-empty,
    * >= 3 tokens, terminal punctuation, no "javascript", no braces.
    */
  private lazy val c4CleanOracleSql: String =
    """WITH f AS (SELECT doc_id,
          string_split(regexp_replace(text,
            '((\S+ ){4}\S+) ', '\1.' || chr(10), 'g'), chr(10)) AS ls
        FROM documents),
      k AS (SELECT doc_id, ls,
          list_filter(ls, l -> len(trim(l)) > 0
            AND len(string_split_regex(trim(l), '\s+')) >= 3
            AND regexp_matches(l, '[.!?"”] *$')
            AND NOT contains(lower(l), 'javascript')
            AND NOT contains(l, '{') AND NOT contains(l, '}')) AS kept
        FROM f)
      SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        len(ls) AS n_lines, len(kept) AS n_kept,
        len(ls) - len(kept) AS n_dropped
      FROM k ORDER BY doc_id"""

  /** Shared oracle of pipeline_corpus_report: every aggregated value is
    * an integer sum of per-document signals the other oracles already
    * certify (nonempty token counts, char counts, the codeid composite
    * thresholded at 0.5, U+FFFD counts), so the GROUP BY replays
    * exactly; the averages are one division + one 6dp round off exact
    * integer inputs.
    */
  /** The corpus-report replay over any (doc_id, source, text) relation
    * `src` — shared by pipeline_corpus_report (over raw documents) and
    * pipeline_e2e (over the cleaned/gated/deduped/mixed survivor set).
    * Continues an open WITH chain: callers prepend `WITH ...src...,`.
    */
  private def corpusReportSqlTail(src: String): String = {
    val kw = graft.functions.Text.codeKeywords.map(w => s"'$w'").mkString(", ")
    s"""crlines AS (SELECT doc_id,
        list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS nel
      FROM $src),
    crf AS (SELECT d.doc_id, d.source,
        len(list_filter($toksSql, tk -> len(tk) > 0)) AS ntoks,
        length(text) AS nchars,
        len(regexp_extract_all(text, chr(65533))) AS nrepl,
        len(regexp_extract_all(text,
          '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')) AS nctrl,
        len(regexp_extract_all(text, '\\p{Latin}')) AS lat,
        len(regexp_extract_all(text, '\\p{Han}')) AS han,
        len(regexp_extract_all(text, '\\p{Cyrillic}')) AS cyr,
        len(regexp_extract_all(text, '\\p{Arabic}')) AS ara,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE (length(text) - length(regexp_replace(text, '[{}\\[\\]();=<>#_]', '', 'g')))::DOUBLE / length(text) END AS sym,
        CASE WHEN len($toksSql) = 0 THEN 0.0
             ELSE len(list_filter($toksSql, tk -> tk IN ($kw)))::DOUBLE / len($toksSql) END AS kw,
        CASE WHEN len($toksSql) = 0 THEN 0.0
             ELSE len(list_filter(string_split_regex(text, '\\s+'),
                 x -> regexp_matches(x, '[a-z][A-Z]')))::DOUBLE / len($toksSql) END AS cam,
        CASE WHEN len(nel) = 0 THEN 0.0
             ELSE len(list_filter(nel, l -> regexp_matches(l, '[;{}:] *$$')
                 OR regexp_matches(l, '^(    |\t)')))::DOUBLE / len(nel) END AS ln
      FROM $src d JOIN crlines ON d.doc_id = crlines.doc_id),
    crg AS (SELECT source, ntoks, nchars, nrepl, nctrl,
        CASE WHEN round((least(sym * 8.0, 1.0) + least(kw * 10.0, 1.0) +
          least(cam * 5.0, 1.0) + least(ln * 2.0, 1.0)) / 4.0, 6) >= 0.5
          THEN 1 ELSE 0 END AS iscode,
        CASE WHEN lat >= han AND lat >= cyr AND lat >= ara AND lat > 0
          THEN 1 ELSE 0 END AS islatin
      FROM crf)
    SELECT source, count(*)::BIGINT AS n_docs,
      sum(ntoks)::BIGINT AS n_tokens, sum(nchars)::BIGINT AS n_chars,
      sum(iscode)::BIGINT AS n_code_docs,
      sum(nrepl)::BIGINT AS n_repl_chars,
      sum(nctrl)::BIGINT AS n_ctrl_chars,
      sum(islatin)::BIGINT AS n_latin_docs,
      round(sum(ntoks)::DOUBLE / count(*), 6) AS avg_tokens,
      round(sum(nchars)::DOUBLE / count(*), 6) AS avg_chars,
      round(sum(islatin)::DOUBLE / count(*), 6) AS latin_share
    FROM crg GROUP BY source ORDER BY source"""
  }

  private lazy val corpusReportOracleSql: String =
    s"""WITH docs0 AS (SELECT doc_id, source, coalesce(text, '') AS text
        FROM documents),
    ${corpusReportSqlTail("docs0")}"""

  /** Shared oracle of pipeline_e2e: the full composite replay — C4
    * line-ification + cleaning (the pipeline_c4_clean recipe), the
    * encoding/script audit gate on the CLEANED text plus a kept-line
    * floor (n_kept >= 8 drops ~1/3 of this corpus), exact dedup on the
    * normalized clean text (min doc_id survives — after cleaning the
    * synthetic corpus has real duplicate groups), alpha=0.5
    * temperature mixing over lang at budget 150 (the certified rate
    * recipe + Knuth draw), and the corpus health report aggregated
    * over the surviving CLEANED documents.
    */
  private lazy val pipelineE2eOracleSql: String =
    s"""WITH e2f AS (SELECT doc_id, lang, source,
          string_split(regexp_replace(text,
            '((\\S+ ){4}\\S+) ', '\\1.' || chr(10), 'g'), chr(10)) AS ls
        FROM documents),
      e2c AS (SELECT doc_id, lang, source,
          array_to_string(list_filter(ls, l -> len(trim(l)) > 0
            AND len(string_split_regex(trim(l), '\\s+')) >= 3
            AND regexp_matches(l, '[.!?"\u201d] *$$')
            AND NOT contains(lower(l), 'javascript')
            AND NOT contains(l, '{') AND NOT contains(l, '}')), chr(10)) AS ct,
          len(list_filter(ls, l -> len(trim(l)) > 0
            AND len(string_split_regex(trim(l), '\\s+')) >= 3
            AND regexp_matches(l, '[.!?"\u201d] *$$')
            AND NOT contains(lower(l), 'javascript')
            AND NOT contains(l, '{') AND NOT contains(l, '}'))) AS nk
        FROM e2f),
      e2g AS (SELECT doc_id, lang, source, ct FROM (
          SELECT doc_id, lang, source, ct, length(ct) AS ncp,
            len(regexp_extract_all(ct, chr(65533))) AS repl,
            len(regexp_extract_all(ct,
              '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')) AS ctrl,
            len(regexp_extract_all(ct, '\\p{Latin}')) AS lat,
            len(regexp_extract_all(ct, '\\p{Han}')) AS han,
            len(regexp_extract_all(ct, '\\p{Cyrillic}')) AS cyr,
            len(regexp_extract_all(ct, '\\p{Arabic}')) AS ara
          FROM e2c WHERE nk >= 8)
        WHERE round(greatest(0.0, 1.0 -
            ((CASE WHEN ncp = 0 THEN 0.0 ELSE repl::DOUBLE / ncp END) * 25.0
             + (CASE WHEN ncp = 0 THEN 0.0 ELSE ctrl::DOUBLE / ncp END) * 25.0)),
            6) >= 0.9
          AND lat >= han AND lat >= cyr AND lat >= ara AND lat > 0),
      e2d AS (SELECT doc_id, lang, source, ct FROM e2g WHERE doc_id IN
        (SELECT min(doc_id) FROM e2g
          GROUP BY md5(trim(regexp_replace(lower(ct), '\\s+', ' ', 'g'))))),
      e2cnt AS (SELECT lang AS st, count(*) AS n FROM e2d GROUP BY lang),
      e2tt AS (SELECT sum(n)::DOUBLE AS nn FROM e2cnt),
      e2q AS (SELECT st, n,
          sqrt(n::DOUBLE / (SELECT nn FROM e2tt)) AS qa FROM e2cnt),
      e2z AS (SELECT max(zz) AS z FROM
        (SELECT sum(qa) OVER (ORDER BY st NULLS LAST) AS zz FROM e2q)),
      e2r AS (SELECT st, round(least(1.0,
          150.0 * (qa / (SELECT z FROM e2z)) / n::DOUBLE), 9) AS rate FROM e2q),
      docs0 AS (SELECT d.doc_id, d.source, d.ct AS text
        FROM e2d d JOIN e2r ON d.lang IS NOT DISTINCT FROM e2r.st
        WHERE ((d.doc_id % 1000003 + 1) * 2654435761
             + (d.doc_id % 999983 + 1) * 2246822519) % 4294967296
            < rate * 4294967296),
      ${corpusReportSqlTail("docs0")}"""

  /** Shared oracle of text_oov / _sql: replays the exact top-15
    * vocabulary fit (count DESC, term ASC — a total order) and the
    * per-document miss counts, with zero-token documents surfaced via
    * the left join back to the corpus.
    */
  private lazy val oovOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, tk
          FROM documents, unnest($toksSql) AS t(tk) WHERE len(tk) > 0),
        v AS (SELECT tk FROM (SELECT tk, count(*) AS cnt FROM toks
          GROUP BY tk ORDER BY cnt DESC, tk LIMIT 15)),
        c AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
            sum(CASE WHEN tk IN (SELECT tk FROM v) THEN 0 ELSE 1
              END)::BIGINT AS n_oov
          FROM toks GROUP BY doc_id)
      SELECT d.doc_id, coalesce(c.n_tokens, 0)::BIGINT AS n_tokens,
        coalesce(c.n_oov, 0)::BIGINT AS n_oov,
        CASE WHEN coalesce(c.n_tokens, 0) = 0 THEN 0.0
          ELSE round(c.n_oov::DOUBLE / c.n_tokens, 6) END AS oov_rate
      FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id"""

  /** The shared DSIR CTE prefix (fit + per-doc weights as integer
    * micros): hashed unigram+bigram buckets (first 8 md5 hex chars mod
    * 1024 — the engine's md5-bucket convention), add-one log ratios of
    * the target (lang='en') vs raw (all documents) distributions
    * rounded to 6dp micros, and each document's integer-micros sum.
    * Ends with the `w` CTE: (doc_id, n_grams, slw).
    */
  private lazy val dsirCtePrefix: String =
    s"""WITH d AS (SELECT doc_id, lang,
          list_filter($toksSql, t -> len(t) > 0) AS toks FROM documents),
      g AS (SELECT doc_id, lang, unnest(toks) AS gr FROM d
            UNION ALL
            SELECT doc_id, lang, unnest([toks[i] || ' ' || toks[i+1]
                for i in generate_series(1, len(toks) - 1)]) AS gr FROM d),
      gb AS (SELECT doc_id, lang,
          ('0x' || substr(md5(gr), 1, 8))::BIGINT % 1024 AS bucket FROM g),
      tc AS (SELECT bucket, count(*) AS ct FROM gb WHERE lang = 'en'
        GROUP BY bucket),
      rc AS (SELECT bucket, count(*) AS cr FROM gb GROUP BY bucket),
      tt AS (SELECT (SELECT sum(ct) FROM tc)::DOUBLE AS nt,
                    (SELECT sum(cr) FROM rc)::DOUBLE AS nr),
      m AS (SELECT r.range AS bucket,
          CAST(round(round(ln((coalesce(ct, 0) + 1.0) / (nt + 1024.0))
                   - ln((coalesce(cr, 0) + 1.0) / (nr + 1024.0)), 6)
            * 1000000, 0) AS BIGINT) AS lwm
        FROM range(1024) r
        LEFT JOIN tc ON r.range = tc.bucket
        LEFT JOIN rc ON r.range = rc.bucket, tt),
      per AS (SELECT gb.doc_id, count(*) AS n_grams,
          sum(m.lwm)::BIGINT AS slw
        FROM gb JOIN m ON gb.bucket = m.bucket GROUP BY gb.doc_id),
      w AS (SELECT d0.doc_id, coalesce(per.n_grams, 0)::BIGINT AS n_grams,
          coalesce(per.slw, 0)::BIGINT AS slw
        FROM documents d0 LEFT JOIN per USING (doc_id))"""

  /** Shared oracle of pipeline_dsir_weights / _model / _sql twins: the
    * full fit-and-apply replay, logw surfaced as the 6dp double.
    */
  private lazy val dsirWeightsOracleSql: String =
    s"""$dsirCtePrefix
      SELECT doc_id, n_grams,
        round(slw::DOUBLE / 1000000.0, 6) AS logw
      FROM w ORDER BY doc_id"""

  /** Shared oracle of pipeline_boilerplate / _sql: replays the 8-token
    * chunking (the paragraph-dedup construction), the doc-frequency
    * threshold max(3, ceil(0.5% of docs)), every-occurrence removal,
    * and the exact position-ordered reassembled strings.
    */
  private lazy val boilerplateOracleSql: String =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      n AS (SELECT doc_id, toks, len(toks)::BIGINT AS nt FROM d),
      c AS (SELECT doc_id, toks, nt,
        unnest(range(0, CAST(ceil(greatest(nt - 8, 0) / 8.0) AS BIGINT) + 1)) AS pos
        FROM n),
      u AS (SELECT doc_id, pos,
        array_to_string(toks[pos*8+1 : pos*8+8], ' ') AS unit FROM c),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      dfreq AS (SELECT unit, count(DISTINCT doc_id) AS dc FROM u GROUP BY unit),
      bp AS (SELECT unit FROM dfreq, nd
        WHERE dc >= greatest(3, ceil(0.005 * n_docs))),
      k AS (SELECT doc_id, pos, unit FROM u
        WHERE unit NOT IN (SELECT unit FROM bp))
    SELECT d0.doc_id,
      coalesce(pu.n_units, 0)::BIGINT AS n_units,
      coalesce(kk.n_kept, 0)::BIGINT AS n_kept,
      coalesce(kk.text_cleaned, '') AS text_cleaned
    FROM documents d0
    LEFT JOIN (SELECT doc_id, count(*) AS n_units FROM u
      GROUP BY doc_id) pu USING (doc_id)
    LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
        string_agg(unit, ' ' ORDER BY pos) AS text_cleaned
      FROM k GROUP BY doc_id) kk USING (doc_id)
    ORDER BY doc_id"""

  // ======================================================== A. relational ==

  /** Write-once bucketed copies of (lineitem, orders) per dataset,
    * co-located on the orderkey ([[graft.operators.Bucketing]]): the
    * persistent shuffle-elimination story — the bucket shuffle is paid
    * ONCE at write, then every q_bucketed_join run joins co-located
    * buckets with no exchange on either side (PlanShapeSpec pins it).
    * Memoized like the ANN indexes, keyed on the source's
    * (path, size, mtime); table names carry the key's hash so two
    * datasets never collide in one JVM's warehouse.
    */
  private val bucketedPairs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  // table names carry a per-JVM tag so two JVMs (or rapid sequential
  // driver runs against an in-memory catalog) NEVER contend for one
  // managed-table location. This JVM's own dirs are removed by a
  // shutdown hook — a normal exit leaves nothing behind — and only
  // CRASHED JVMs' leftovers are GC'd here, past a grace long enough
  // (24h) that no live interactive session plausibly still reads them
  // (table dirs are written once, so mtime age is a weak liveness
  // signal — the long grace is what keeps this from deleting a
  // long-lived foreign session's live tables).
  private val jvmTag = java.util.UUID.randomUUID.toString.take(8)
  @volatile private var cleanupRegistered = false
  private def registerBucketedCleanup(s: SparkSession): Unit =
    if (!cleanupRegistered) synchronized {
      if (!cleanupRegistered) {
        cleanupRegistered = true
        val whDir = s.conf.get("spark.sql.warehouse.dir")
        val hconf = new org.apache.hadoop.conf.Configuration(
          s.sparkContext.hadoopConfiguration)
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          try {
            val wh = new org.apache.hadoop.fs.Path(whDir)
            val fs = wh.getFileSystem(hconf)
            if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
              val n = st.getPath.getName
              if (st.isDirectory && (n.startsWith("graft_bl_") || n.startsWith("graft_bo_")) &&
                  n.endsWith(s"_$jvmTag"))
                fs.delete(st.getPath, true)
            }
          } catch { case _: Throwable => () } // best-effort on shutdown
        }))
      }
    }
  private def gcStaleBucketedDirs(s: SparkSession): Unit = {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) {
      val cutoff = System.currentTimeMillis() - 86400000L // 24h: crashed JVMs only
      fs.listStatus(wh).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && (n.startsWith("graft_bl_") || n.startsWith("graft_bo_")) &&
            !n.endsWith(s"_$jvmTag") && st.getModificationTime <= cutoff)
          fs.delete(st.getPath, true)
      }
    }
  }
  private def bucketedFor(s: SparkSession, dir: String): (String, String) = {
    def sig(name: String): String = tableSig(new java.io.File(s"$dir/$name.parquet"))
    // both sources fingerprinted: a regenerated orders.parquet under an
    // unchanged lineitem.parquet must rebuild too
    val key = s"$dir|${sig("lineitem")}|${sig("orders")}"
    bucketedPairs.computeIfAbsent(key, _ => {
      registerBucketedCleanup(s)
      gcStaleBucketedDirs(s)
      val sfx = java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key)) + s"_$jvmTag"
      val lt = s"graft_bl_$sfx"; val ot = s"graft_bo_$sfx"
      graft.operators.Bucketing.writeBucketed(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
        lt, 16, Seq("l_orderkey"))
      graft.operators.Bucketing.writeBucketed(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        ot, 16, Seq("o_orderkey"))
      (lt, ot)
    })
  }

  private val relational: Seq[(String, QueryDef)] = Seq(

    "q1_agg" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        round(avg(l_quantity), 6) AS avg_qty,
        round(avg(l_discount), 6) AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
      headline = true),

    "q3_top_orders" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
          .select("l_orderkey", "o_date_ms", "revenue")
      },
      Some("""SELECT l_orderkey, epoch_ms(o_orderdate) AS o_date_ms,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, epoch_ms(o_orderdate)
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      headline = true),

    "q5_region_revenue" -> QueryDef(
      (s, dir) => {
        val r = t(s, dir, "region"); val n = t(s, dir, "nation")
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
      headline = true),

    "q7_volume" -> QueryDef(
      // TPC-H Q7 shape: a 6-relation join (nation aliased TWICE) with a
      // selective cross-side nation-pair predicate — the multi-join
      // ordering + AQE-broadcast composition class nothing pairwise
      // covers. Scale shape: each side's nation filter is applied
      // BEFORE its join (supplier/customer pruned to 2 of 25 nations
      // via broadcast dims), so the fact table is cut to ~8% at the
      // first (broadcast) join and the cross-side pair test runs on
      // name columns already riding the row — no late filter over a
      // wide join.
      (s, dir) => {
        val nn = Seq("NATION_3", "NATION_7")
        val n1 = t(s, dir, "nation").filter(col("n_name").isin(nn: _*))
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation").filter(col("n_name").isin(nn: _*))
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        val suppN = t(s, dir, "supplier")
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val custN = t(s, dir, "customer")
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .select(col("c_custkey"), col("cust_nation"))
        val l = t(s, dir, "lineitem").filter(
          col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
            lit("1997-12-31").cast("timestamp")))
        l.join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(custN, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          year(l_shipdate)::BIGINT AS l_year,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_3', 'NATION_7')
          AND n2.n_name IN ('NATION_3', 'NATION_7')
          AND n1.n_name <> n2.n_name
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      headline = true),

    "q8_market_share" -> QueryDef(
      // TPC-H Q8 shape: 8 relations (nation twice, region once), a
      // conditional-share aggregate — NATION_3's share of PROMO-part
      // volume sold into ASIA-region customers by order year. The
      // region restriction reaches customers through a broadcast
      // nation⋈region dim; parts filter broadcast-prunes lineitem
      // first (1/6 selectivity); the supplier nation name rides a
      // broadcast supplier dim. Share = conditional sum / total sum in
      // ONE aggregation pass (no self-join, no second scan).
      (s, dir) => {
        val n1r = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("c_nk"))
        val custAsia = t(s, dir, "customer")
          .join(broadcast(n1r), col("c_nationkey") === col("c_nk"))
          .select(col("c_custkey"))
        val suppN = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
              .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val promo = t(s, dir, "part").filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))
        val o = t(s, dir, "orders").filter(
          col("o_orderdate").between(lit("1996-01-01").cast("timestamp"),
            lit("1997-12-31").cast("timestamp")))
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        t(s, dir, "lineitem")
          .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
          .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(custAsia, col("o_custkey") === col("c_custkey"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0)))
              / sum(vol), 6).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""SELECT year(o_orderdate)::BIGINT AS o_year,
          round(sum(CASE WHEN n2.n_name = 'NATION_3'
              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
            / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        GROUP BY 1 ORDER BY 1"""),
      headline = true),

    "q9_profit" -> QueryDef(
      // TPC-H Q9 shape: product-line profit by supplier nation and order
      // year over a 5-relation join with an unselective-but-real LIKE
      // part filter. The testdata has no partsupp, so the cost model is
      // a retail-price proxy (0.6 * p_retailprice * l_quantity) — the
      // join/agg SHAPE (the point of the row) is Q9's. part and
      // supplier⋈nation ride broadcasts; orders joins shuffled; one
      // aggregation pass.
      (s, dir) => {
        val redParts = t(s, dir, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice"))
        val suppN = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
              .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))),
            col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("nation"))
        t(s, dir, "lineitem")
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            - lit(0.6) * col("p_retailprice") * col("l_quantity")), 2)
            .as("sum_profit"))
          .orderBy("nation", "o_year")
      },
      Some("""SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
          round(sum(l_extendedprice * (1 - l_discount)
            - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      headline = true),

    // -- subquery decorrelation pack (TPC-H q17/q2/q21/q22 shapes) --------
    // These four are deliberately written as SQL WITH CORRELATED
    // SUBQUERIES (not pre-joined DataFrames): the unit under test is
    // Catalyst's decorrelation — RewriteCorrelatedScalarSubquery turning
    // per-row scalar aggregates into grouped aggregates joined on the
    // correlation key, and RewritePredicateSubquery turning EXISTS /
    // NOT EXISTS into LeftSemi / LeftAnti joins. At 100 TB the naive
    // reading of these queries is a per-row re-scan of the fact table
    // (quadratic, a scale-killer); the decorrelated plan is one extra
    // aggregate + equi-joins — linear and shuffle-bounded.
    // PlanShapeSpec pins: no CartesianProduct / BroadcastNestedLoopJoin
    // anywhere in the four plans.

    "q17_small_qty" -> QueryDef(
      // TPC-H Q17 shape: revenue from "small-quantity" lineitems, where
      // "small" is a correlated scalar aggregate (half the part's own mean
      // quantity). Decorrelated: ONE extra aggregate over lineitem grouped
      // by l_partkey, joined back on the correlation key — the fact table
      // is scanned twice total, never per-part.
      (s0, dir) => {
        val s = s0.newSession()
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        t(s, dir, "part").createOrReplaceTempView("part")
        s.sql("""SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
            count(*) AS n_small
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_brand IN ('Brand#11','Brand#17','Brand#23')
            AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
          GROUP BY p_brand ORDER BY p_brand""")
      },
      Some("""SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
          count(*)::BIGINT AS n_small
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand IN ('Brand#11','Brand#17','Brand#23')
          AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand ORDER BY p_brand"""),
      headline = true),

    "q2_min_cost" -> QueryDef(
      // TPC-H Q2 shape: the min-cost supplier per part inside one region,
      // with the minimum itself a correlated scalar subquery that repeats
      // the supplier→nation→region restriction. No partsupp in the
      // testdata, so unit cost is l_extendedprice/l_quantity from the
      // actual sale rows — the correlated-min-then-join-back SHAPE (the
      // point of the row) is Q2's. Both the outer and inner pipelines
      // prune suppliers through broadcast dims BEFORE touching lineitem.
      (s0, dir) => {
        val s = s0.newSession()
        for (n <- Seq("lineitem", "part", "supplier", "nation", "region"))
          t(s, dir, n).createOrReplaceTempView(n)
        s.sql("""SELECT DISTINCT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
            p_partkey, p_brand, round(l_extendedprice / l_quantity, 2) AS unit_cost
          FROM part, supplier, lineitem, nation, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND p_size = 30 AND s_nationkey = n_nationkey
            AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
            AND l_extendedprice / l_quantity = (
              SELECT min(l2.l_extendedprice / l2.l_quantity)
              FROM lineitem l2, supplier s2, nation n2, region r2
              WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
                AND s2.s_nationkey = n2.n_nationkey
                AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
          ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""")
      },
      Some("""SELECT DISTINCT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
          p_partkey, p_brand, round(l_extendedprice / l_quantity, 2) AS unit_cost
        FROM part, supplier, lineitem, nation, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND p_size = 30 AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
          AND l_extendedprice / l_quantity = (
            SELECT min(l2.l_extendedprice / l2.l_quantity)
            FROM lineitem l2, supplier s2, nation n2, region r2
            WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""")),

    "q21_waiting" -> QueryDef(
      // TPC-H Q21 shape: the lone-fault supplier — a returned line on a
      // finished multi-supplier order where NO OTHER supplier's line was
      // returned. EXISTS and NOT EXISTS are both correlated on l_orderkey
      // and carry a non-equi conjunct (suppkey <>), so the rewrite is a
      // LeftSemi and a LeftAnti equi-join on the order key with the
      // inequality as a residual condition — three passes over lineitem
      // total, never per-row probes.
      (s0, dir) => {
        val s = s0.newSession()
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        t(s, dir, "supplier").createOrReplaceTempView("supplier")
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT s_name, count(*) AS numwait
          FROM supplier, lineitem l1, orders
          WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
            AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
            AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
          GROUP BY s_name ORDER BY numwait DESC, s_name""")
      },
      Some("""SELECT s_name, count(*)::BIGINT AS numwait
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        GROUP BY s_name ORDER BY numwait DESC, s_name"""),
      headline = true),

    "q22_idle_cust" -> QueryDef(
      // TPC-H Q22 shape: well-funded customers with no large orders — an
      // UNcorrelated scalar subquery (the global positive-balance mean,
      // one broadcast scalar) plus a correlated NOT EXISTS (LeftAnti on
      // o_custkey; the o_totalprice conjunct is uncorrelated, so it
      // pushes INTO the anti side's scan rather than bloating the join).
      (s0, dir) => {
        val s = s0.newSession()
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_mktsegment AS segment, count(*) AS numcust,
            round(sum(c_acctbal), 2) AS totacctbal
          FROM customer
          WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
            WHERE c_acctbal > 0.0)
            AND NOT EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
          GROUP BY c_mktsegment ORDER BY segment""")
      },
      Some("""SELECT c_mktsegment AS segment, count(*)::BIGINT AS numcust,
          round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
          WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        GROUP BY c_mktsegment ORDER BY segment""")),

    "q20_dominant_supplier" -> QueryDef(
      // TPC-H Q20 shape: DEPTH-2 nesting — an IN subquery whose HAVING
      // carries a correlated scalar aggregate (the supplier's shipped
      // quantity of a part vs 20% of that part's total). Two
      // decorrelations compose: the inner scalar becomes a per-part
      // aggregate joined on the correlation key, the outer IN a
      // LeftSemi; lineitem is scanned twice (grouped two ways), never
      // probed per row or per group.
      (s0, dir) => {
        val s = s0.newSession()
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        t(s, dir, "supplier").createOrReplaceTempView("supplier")
        s.sql("""SELECT s_name, round(s_acctbal, 2) AS s_acctbal
          FROM supplier
          WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem l1
            GROUP BY l_suppkey, l_partkey
            HAVING sum(l_quantity) > (
              SELECT 0.2 * sum(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = l1.l_partkey))
          ORDER BY s_name""")
      },
      Some("""SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem l1
          GROUP BY l_suppkey, l_partkey
          HAVING sum(l_quantity) > (
            SELECT 0.2 * sum(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey))
        ORDER BY s_name""")),

    "q4_priority" -> QueryDef(
      // TPC-H Q4 shape: EXISTS → LeftSemi then aggregate. Orders in a
      // one-year window that have at least one returned line, counted by
      // priority. The R-flag filter lands on the lineitem side BEFORE the
      // semi join (probe side shrinks ~3×), and the semi join never
      // duplicates an order no matter how many lines match — the
      // dedup-free alternative to join+distinct.
      (s, dir) => {
        val o = t(s, dir, "orders").filter(
          col("o_orderdate").between(lit("1996-01-01").cast("timestamp"),
            lit("1996-12-31").cast("timestamp")))
        val returned = t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("o_orderkey"))
        o.join(returned, Seq("o_orderkey"), "leftsemi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
            AND TIMESTAMP '1996-12-31'
          AND EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY 1 ORDER BY 1""")),

    "q13_cust_dist" -> QueryDef(
      // TPC-H Q13 shape: LEFT OUTER join + two stacked aggregations —
      // how many customers placed exactly k non-urgent orders, INCLUDING
      // the zero-order customers (the rows an inner join silently drops).
      // Scale shape: the first agg keys on c_custkey, the join key — at
      // dim-broadcast sizes the agg is the row's first exchange; at SMJ
      // scale the join's hash partitioning satisfies it (exchange
      // reused). The second agg input is customer-sized, its key space
      // tiny (~50 distinct counts).
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
        t(s, dir, "customer").select(col("c_custkey"))
          .join(o, Seq("c_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*)::BIGINT AS custdist FROM (
          SELECT c.c_custkey, count(o_orderkey)::BIGINT AS c_count
          FROM customer c LEFT JOIN orders
            ON o_custkey = c.c_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY 1)
        GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    "q14_promo" -> QueryDef(
      // TPC-H Q14 shape: conditional-share aggregate over a fact⋈dim
      // join — PROMO parts' share of one month's revenue, numerator and
      // denominator in ONE aggregation pass (conditional sum, no second
      // scan, no self-join). The month filter prunes lineitem before the
      // broadcast part join.
      (s, dir) => {
        val l = t(s, dir, "lineitem").filter(
          col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
        l.join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .agg(round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
              * 100.0 / sum(rev), 6).as("promo_share"))
      },
      Some("""SELECT round(
          sum(CASE WHEN p_type = 'PROMO'
            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
          * 100.0 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'""")),

    "q15_top_supplier" -> QueryDef(
      // TPC-H Q15 shape: an aggregate view consumed TWICE in one query —
      // once as the join input, once under a scalar max() subquery (the
      // argmax-by-scalar-subquery idiom). Catalyst plans the revenue agg
      // twice (CTE inlining), but both instances hash-partition on
      // l_suppkey over the same pruned scan, and AQE reuses the exchange
      // at runtime; the max() side collapses to a one-row broadcast.
      // Ties all surface (no LIMIT), ordered by s_suppkey.
      (s0, dir) => {
        val s = s0.newSession()
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        t(s, dir, "supplier").createOrReplaceTempView("supplier")
        s.sql("""WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
              sum(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1)
          SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
          FROM supplier JOIN revenue ON s_suppkey = supplier_no
          WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
          ORDER BY s_suppkey""")
      },
      Some("""WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            sum(l_extendedprice * (1 - l_discount)) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey"""),
      headline = true),

    "q16_supp_count" -> QueryDef(
      // TPC-H Q16 shape (partsupp synthesized from lineitem's
      // part⋈supplier pairs): how many distinct suppliers can furnish
      // each surviving (brand, type, size) cell, excluding one brand,
      // one type, and every negative-balance supplier (the NOT IN →
      // LeftAnti class composed with a grouped count-distinct). The
      // part filters broadcast-prune lineitem first; the anti join's
      // right side is supplier-sized (tiny, broadcast); distinct pairs
      // collapse BEFORE the count-distinct agg.
      (s, dir) => {
        val p = t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        val badSupp = t(s, dir, "supplier")
          .filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("l_suppkey"))
        t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(badSupp), Seq("l_suppkey"), "leftanti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
          count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
          AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    "q18_big_orders" -> QueryDef(
      // TPC-H Q18 shape: large-volume orders — a HAVING-filtered
      // aggregate drives a 3-table join-back (agg → filter → join, the
      // decorrelated form of `o_orderkey IN (GROUP BY … HAVING)`).
      // Scale shape: the lineitem agg shrinks 60k lines → ~1.5k
      // qualifying orders BEFORE any join; both join-backs then
      // broadcast the small aggregated side, and the top-100 is a
      // TakeOrdered, never a global sort.
      (s, dir) => {
        val big = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(sum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 180)
        t(s, dir, "orders")
          .join(big, Seq("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
            round(col("o_totalprice"), 2).as("o_totalprice"),
            round(col("total_qty"), 2).as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
          epoch_ms(o_orderdate) AS o_date_ms,
          round(o_totalprice, 2) AS o_totalprice,
          round(total_qty, 2) AS total_qty
        FROM orders
        JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180) big
          ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
      headline = true),

    "q19_disjunct" -> QueryDef(
      // TPC-H Q19 shape: a join whose ON clause is a DISJUNCTION of
      // brand/size/quantity conjunct bundles. The equi key (partkey)
      // appears in every branch, so Catalyst must EXTRACT it and plan a
      // hash join with the residual OR as a post-join filter — the plan
      // class where a naive engine falls back to nested loops. The whole
      // composite predicate rides the join call to make that extraction
      // the unit under test (pinned in PlanShapeSpec: no BNL/cartesian).
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        val branch = (brand: String, maxSize: Int, qLo: Int, qHi: Int) =>
          col("p_brand") === brand &&
            col("p_size").between(1, maxSize) &&
            col("l_quantity").between(qLo, qHi)
        l.join(p, col("l_partkey") === col("p_partkey") &&
            (branch("Brand#12", 15, 1, 11) ||
             branch("Brand#23", 20, 10, 20) ||
             branch("Brand#3", 25, 20, 30)))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("revenue"))
      },
      Some("""SELECT count(*)::BIGINT AS n_items,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
          AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 20 AND 30))"""),
      headline = true),

    "q6_forecast_revenue" -> QueryDef(
      // TPC-H Q6: the pure scan showcase — no join at all, revenue delta
      // from a discount band over one shipping year. All three predicates
      // (shipdate range, discount band, quantity cap) must land in the
      // parquet scan's PushedFilters with a 3-column ReadSchema; at 100 TB
      // this is the difference between a footer-pruned column scan and
      // reading the table. Pinned in PlanShapeSpec.
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue")),
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24"""),
      headline = true),

    "q10_returned_items" -> QueryDef(
      // TPC-H Q10 shape: the 4-table returned-item report — customers
      // ranked by revenue they returned in one quarter. The quarter
      // filter prunes orders BEFORE the big-big lineitem join; the
      // R-flag filter prunes lineitem before it; nation broadcasts.
      // The top-20 cutoff orders by the ROUNDED revenue with c_custkey
      // as tiebreak so the limit boundary is engine-stable. Revenue
      // sums FIXED-POINT: prices/discounts carry 2dp, so each term is
      // exact at 4 decimals — summing e4-scaled BIGINTs makes the
      // total independent of summation order, and the half-up round to
      // cents stays INTEGER ((s+50) div 100) because a float round at
      // a .005 boundary diverges across engines (Spark rounds the
      // shortest-decimal rendering via BigDecimal.valueOf, DuckDB the
      // exact binary value — hit 307843.595 at sf0.01).
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
        val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
              .cast("long").as("rev_e4"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("rev_e4")).as("rev_e4s"))
          .select(col("o_custkey"),
            (expr("(rev_e4s + 50) div 100") / 100.0).as("revenue"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            round(col("c_acctbal"), 2).as("c_acctbal"), col("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
          round(c_acctbal, 2) AS c_acctbal,
          ((sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
            + 50) // 100) / 100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey LIMIT 20"""),
      headline = true),

    "q11_important_stock" -> QueryDef(
      // TPC-H Q11 shape (partsupp synthesized from lineitem like q16:
      // each distinct (partkey, suppkey) pair is a stock cell whose
      // value is that pair's exact-e4 revenue): per-part stock value
      // held by ONE nation's suppliers, keeping parts whose value
      // exceeds a FRACTION of the nation's grand total — the
      // correlated HAVING-share subquery, decorrelated: the grand
      // total is a one-row aggregate equi-joined back on a dummy key
      // (BroadcastHashJoin, NOT a nested loop — plan-pinned). Scale
      // shape: lineitem collapses to pair cells first (keyed shuffle,
      // map-side partials), the nation's supplier list broadcasts,
      // the part-level agg is cell-sized, and e4 integer sums make
      // every total order-independent.
      (s, dir) => {
        val natSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .filter(col("n_name") === "NATION_8")
          .select(col("s_suppkey").as("l_suppkey"))
        val ps = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000,
            0).cast("long")).as("__e4"))
        val g = ps.join(broadcast(natSupp), Seq("l_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("__e4")).as("__val"))
        // the dummy key must DERIVE from data (val*0), not lit(1):
        // a literal key constant-folds the join condition to true and
        // the plan degrades to the nested loop this query pins against
        val tot = g.agg(sum(col("__val")).as("__tot"))
          .withColumn("__one", coalesce(col("__tot") * 0L, lit(0L)))
        // share threshold in EXACT integer math (val*1000 > tot), never
        // `__tot * 0.001`: Spark would compare in IEEE double while the
        // DuckDB oracle's decimal literal multiplies exactly — a
        // borderline part could flip inclusion between engines
        g.withColumn("__one", coalesce(col("__val") * 0L, lit(0L)))
          .join(broadcast(tot), Seq("__one"))
          .filter(col("__val") * 1000L > col("__tot"))
          .select(col("l_partkey").as("ps_partkey"),
            (expr("(__val + 50) div 100") / 100.0).as("value"))
          .orderBy(col("value").desc, col("ps_partkey"))
      },
      Some("""WITH ps AS (SELECT l_partkey, l_suppkey,
          sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT) AS e4
        FROM lineitem GROUP BY 1, 2),
        g AS (SELECT l_partkey, sum(e4) AS val
          FROM ps
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_8' GROUP BY 1)
        SELECT l_partkey AS ps_partkey, ((val + 50) // 100) / 100.0 AS value
        FROM g WHERE val * 1000 > (SELECT sum(val) FROM g)
        ORDER BY value DESC, ps_partkey"""),
      headline = true),

    "q12_priority_class" -> QueryDef(
      // TPC-H Q12 shape on the available columns (no l_shipmode /
      // commit / receipt dates in this schema): a BIG-BIG equi join
      // (lineitem ⋈ orders on orderkey — neither side broadcastable at
      // scale) feeding a TWO-CHANNEL conditional aggregation: per
      // linestatus, how many 1996-shipped lines belong to high-priority
      // vs low-priority orders, in one pass (CASE sums, no second scan).
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linestatus"))
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        l.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus,
          sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
          sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1""")),

    "q_outer_join" -> QueryDef(
      // left outer with null-aware aggregation: customers WITHOUT orders
      // surface with zero counts instead of vanishing (the join class the
      // inner/semi/anti rows don't cover)
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
          Seq("c_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_totalprice")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, count(o_totalprice) AS n_orders,
        round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    "q_rank_funcs" -> QueryDef(
      // the ranking-function family over one window: rank/dense_rank/ntile/
      // percent_rank/cume_dist (q_window_running covers frames; this covers
      // the rank class). Deterministic: ordering key (o_totalprice, o_orderkey)
      // is unique per partition.
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            rank().over(w).cast("long").as("rnk"),
            dense_rank().over(w).cast("long").as("drnk"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cdist"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        ntile(4) OVER w AS quartile,
        round(percent_rank() OVER w, 6) AS pct_rank,
        round(cume_dist() OVER w, 6) AS cdist
        FROM orders WHERE o_orderkey % 7 = 0
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        ORDER BY o_orderkey"""),
      headline = true),

    "q_complex_types" -> QueryDef(
      // array + map + json scalar functions with scalar outputs (arrays
      // never cross the oracle boundary — element access and sizes do):
      // json_extract on the events props column, a per-user sorted DISTINCT
      // event-type array (size/first/last), and a map built from it
      (s, dir) => events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sort_array(collect_set(col("event_type"))).as("types"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))
        .select(col("user_id"),
          size(col("types")).cast("long").as("n_types"),
          element_at(col("types"), 1).as("first_type"),
          element_at(col("types"), -1).as("last_type"),
          element_at(map_from_arrays(col("types"),
            transform(col("types"), t => length(t))), element_at(col("types"), 1))
            .cast("long").as("first_type_len"),
          col("k_sum"))
        .orderBy("user_id"),
      Some("""WITH u AS (SELECT user_id,
          list_sort(list(DISTINCT event_type)) AS types,
          sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS k_sum
        FROM events GROUP BY user_id)
        SELECT user_id, len(types)::BIGINT AS n_types,
          types[1] AS first_type, types[-1] AS last_type,
          length(types[1])::BIGINT AS first_type_len, k_sum
        FROM u ORDER BY user_id""")),

    "q_semi_join" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")),

    "q_anti_join" -> QueryDef(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
        ORDER BY c_custkey""")),

    "q_merge_upsert" -> QueryDef(
      // Three-clause MERGE INTO (operators.Merge.mergeInto): a delta of
      // updates (key%3=0, price*1.1), deletes (key%9=0, flagged 'D' and
      // matched by deleteWhen on the INCOMING row), and inserts (key%97=0
      // re-keyed past the domain) folds into the orders snapshot in ONE
      // keyed full-outer join — the set-oriented dual of the engine's
      // per-key Set/Del write path. Duplicate-source keys raise on the
      // executors (SQL MERGE's ambiguous-match rule).
      (s, dir) => {
        val tgt = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        val upd = tgt.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 9 === 0, lit("D")).otherwise(lit("U")))
          // decimal multiply: round(double * 1.1) puts the two engines on
          // opposite sides of the half-ulp boundary; exact decimal doesn't
          .withColumn("o_totalprice",
            round(col("o_totalprice").cast("decimal(18,2)")
              * lit(new java.math.BigDecimal("1.1")), 2).cast("double"))
        val ins = tgt.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("o_orderstatus", lit("N"))
        graft.operators.Merge.mergeInto(
            tgt, upd.unionAll(ins), keys = Seq("o_orderkey"),
            deleteWhen = col("src_o_orderstatus") === "D")
          .withColumn("o_totalprice", round(col("o_totalprice"), 2))
          .orderBy("o_orderkey")
      },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
            o_totalprice FROM orders),
        src AS (
          SELECT o_orderkey, o_custkey,
            CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS o_orderstatus,
            round(o_totalprice::DECIMAL(18,2) * 1.1, 2)::DOUBLE AS o_totalprice
          FROM t WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice
          FROM t WHERE o_orderkey % 97 = 0),
        kept AS (
          SELECT t.* FROM t ANTI JOIN src s ON t.o_orderkey = s.o_orderkey),
        updated AS (
          SELECT s.* FROM t JOIN src s ON t.o_orderkey = s.o_orderkey
          WHERE s.o_orderstatus <> 'D'),
        inserted AS (
          SELECT s.* FROM src s ANTI JOIN t ON s.o_orderkey = t.o_orderkey)
        SELECT o_orderkey, o_custkey, o_orderstatus,
          round(o_totalprice, 2) AS o_totalprice
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM updated
              UNION ALL SELECT * FROM inserted)
        ORDER BY o_orderkey"""),
      headline = true),

    "q_setop_intersect" -> QueryDef(
      (s, dir) => t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        .intersect(t(s, dir, "customer").filter(col("c_acctbal") > 1000)
          .select(col("c_custkey").as("custkey")))
        .orderBy("custkey"),
      Some("""SELECT o_custkey AS custkey FROM orders
        INTERSECT
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000
        ORDER BY custkey""")),

    "q_window_running" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            round(sum(col("value")).over(w), 2).as("running_value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        round(sum(value) OVER (PARTITION BY user_id
          ORDER BY epoch_ms(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        FROM events ORDER BY event_id"""),
      headline = true),

    "q_lag_lead" -> QueryDef(
      // explicit lag/lead offsets (the window-family members the running
      // frames and rank functions don't exercise): per user, delta vs the
      // previous event's value, inter-event gap, and the next event's
      // type — one window shuffle on the key, fully oracled.
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            round(col("value") - lag(col("value"), 1).over(w), 2).as("value_delta"),
            (col("ts_ms") - lag(col("ts_ms"), 1).over(w)).as("gap_ms"),
            lead(col("event_type"), 1).over(w).as("next_type"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        round(value - lag(value, 1) OVER w, 2) AS value_delta,
        epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS gap_ms,
        lead(event_type, 1) OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
        ORDER BY event_id""")),

    "q_hopping_window" -> QueryDef(
      // HOPPING (sliding) time windows — Spark's built-in
      // `window(ts, dur, slide)`: 1-hour windows every 30 minutes, so
      // each event lands in exactly dur/slide = 2 windows. The generator
      // is a Expand-style projection (no join, no explode shuffle);
      // the aggregation is one hash shuffle on (window, type). Oracled by
      // replicating each event to its two epoch-aligned window starts in
      // SQL.
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start_ms", "event_type"),
      Some("""WITH e AS (SELECT epoch_ms(ts) AS tms, event_type, value FROM events),
        w AS (SELECT tms, event_type, value,
            (tms // 1800000) * 1800000 - s.off AS wstart
          FROM e, (SELECT unnest([0, 1800000]) AS off) s
          WHERE tms < (tms // 1800000) * 1800000 - s.off + 3600000)
        SELECT wstart AS window_start_ms, event_type,
          count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM w GROUP BY 1, 2 ORDER BY window_start_ms, event_type""")),

    "q_window_range_frame" -> QueryDef(
      // RANGE frame on a numeric ordering key (the window-frame member
      // rows-frames can't express): per event, the sum of the user's
      // values in the trailing hour INCLUDING ts peers — peer rows share
      // one frame, so the result is deterministic under ts ties in both
      // engines. Same single shuffle on user_id as every keyed window.
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
          .rangeBetween(-3600000L, Window.currentRow)
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            round(sum(col("value")).over(w), 2).as("hour_sum"),
            count(lit(1)).over(w).as("hour_n"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        round(sum(value) OVER w, 2) AS hour_sum,
        count(*) OVER w AS hour_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
          RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    "q_funnel" -> QueryDef(
      // Ordered-sequence funnel (operators.Analytics.funnelCounts:
      // view -> click -> purchase, every later stage within 7 days of
      // the first view): the stage frontier is a running conditional min
      // over ONE keyed sort — no per-stage self-joins, so the plan is a
      // single window shuffle on user_id regardless of funnel depth.
      // Value-predicate semantics (>= on timestamps, not row order) make
      // the result replayable in any engine; fully oracled.
      (s, dir) => graft.operators.Analytics.funnelCounts(
        events(s, dir),
        stages = Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        keys = Seq("user_id"),
        horizonMs = Some(7L * 86400000L)),
      Some("""WITH s1 AS (
          SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
            min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END)
              OVER w AS v_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        s2 AS (
          SELECT user_id, event_id, event_type, ts_ms, v_ts,
            min(CASE WHEN event_type = 'click' AND ts_ms >= v_ts
              AND ts_ms - v_ts <= 604800000 THEN ts_ms END) OVER w AS c_ts
          FROM s1
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        staged AS (
          SELECT user_id, event_type, ts_ms, v_ts, c_ts,
            min(CASE WHEN event_type = 'purchase' AND ts_ms >= c_ts
              AND ts_ms - v_ts <= 604800000 THEN ts_ms END) OVER w AS p_ts
          FROM s2
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        per_user AS (
          SELECT user_id, max(v_ts) AS v, max(c_ts) AS c, max(p_ts) AS p
          FROM staged GROUP BY user_id)
        SELECT count(v)::BIGINT AS n_view,
          count(c)::BIGINT AS n_click,
          count(p)::BIGINT AS n_purchase
        FROM per_user"""),
      headline = true),

    "q_cohort_retention" -> QueryDef(
      // Cohort retention (operators.Analytics.cohortRetention): users
      // grouped by first-active week, counted per week offset they
      // return. Two-level shape — (user, week) hash agg first so the
      // per-user window runs over weeks not raw events, then the cohort
      // roll-up; two shuffles at any scale.
      (s, dir) => graft.operators.Analytics.cohortRetention(
          events(s, dir), keyCol = "user_id", periodMs = 604800000L)
        .select(col("cohort_period").as("cohort_week"),
          col("period_offset").as("week_offset"),
          col("n_entities").as("n_users"))
        .orderBy("cohort_week", "week_offset"),
      Some("""WITH per_week AS (
          SELECT user_id, epoch_ms(ts) // 604800000 AS week
          FROM events GROUP BY 1, 2),
        tagged AS (
          SELECT min(week) OVER (PARTITION BY user_id) AS cohort_week,
            week FROM per_week)
        SELECT cohort_week, week - cohort_week AS week_offset,
          count(*) AS n_users
        FROM tagged GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""),
      headline = true),

    "q_rfm" -> QueryDef(
      // RFM segmentation: per customer, days since last order (R),
      // order count (F), lifetime spend (M), each scored into quartiles
      // WITHIN the customer's market segment (standard practice, and it
      // keeps the ntile window partitioned instead of global), then the
      // 3-digit segment code. The order aggregation distributes on
      // o_custkey; the scoring windows run over the already-aggregated
      // customer frame. "Now" is the corpus max order date riding a
      // one-row broadcast. Monetary sums FIXED-POINT cents (the q10
      // float-boundary lesson); every ntile ordering carries c_custkey
      // so tie assignment is engine-stable.
      (s, dir) => {
        val o = t(s, dir, "orders")
        val now = o.agg(max(col("o_orderdate")).as("now_d"))
        val agg = o.groupBy(col("o_custkey").as("c_custkey"))
          .agg(max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("frequency"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        val base = agg
          .join(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
            Seq("c_custkey"))
          .crossJoin(broadcast(now))
          .select(col("c_custkey"), col("c_mktsegment"),
            datediff(col("now_d"), col("last_order")).cast("long").as("recency_days"),
            col("frequency"), col("cents"))
        def w(ord: Column*) = Window.partitionBy(col("c_mktsegment")).orderBy(ord: _*)
        base.select(col("c_custkey"), col("c_mktsegment"),
            col("recency_days"), col("frequency"),
            (col("cents") / 100.0).as("monetary"),
            ntile(4).over(w(col("recency_days"), col("c_custkey")))
              .cast("long").as("r_score"),
            ntile(4).over(w(col("frequency").desc, col("c_custkey")))
              .cast("long").as("f_score"),
            ntile(4).over(w(col("cents").desc, col("c_custkey")))
              .cast("long").as("m_score"))
          .withColumn("segment", concat(col("r_score").cast("string"),
            col("f_score").cast("string"), col("m_score").cast("string")))
          .orderBy("c_custkey")
      },
      Some("""WITH nowv AS (SELECT max(o_orderdate) AS now_d FROM orders),
        agg AS (SELECT o_custkey AS c_custkey, max(o_orderdate) AS last_order,
            count(*) AS frequency,
            sum(round(o_totalprice * 100)::BIGINT) AS cents
          FROM orders GROUP BY 1),
        base AS (SELECT a.c_custkey, c.c_mktsegment,
            datediff('day', last_order, now_d) AS recency_days,
            frequency, cents
          FROM agg a JOIN customer c ON a.c_custkey = c.c_custkey, nowv),
        scored AS (SELECT c_custkey, c_mktsegment,
            recency_days::BIGINT AS recency_days,
            frequency::BIGINT AS frequency,
            cents / 100.0 AS monetary,
            ntile(4) OVER (PARTITION BY c_mktsegment
              ORDER BY recency_days, c_custkey)::BIGINT AS r_score,
            ntile(4) OVER (PARTITION BY c_mktsegment
              ORDER BY frequency DESC, c_custkey)::BIGINT AS f_score,
            ntile(4) OVER (PARTITION BY c_mktsegment
              ORDER BY cents DESC, c_custkey)::BIGINT AS m_score
          FROM base)
        SELECT *, r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
            AS segment
        FROM scored ORDER BY c_custkey""")),

    "q_attribution" -> QueryDef(
      // Multi-touch attribution (operators.Analytics.attribution):
      // purchase value credited to the click/view touches in the 7 days
      // before each purchase, under first_touch / last_touch / linear at
      // once. Candidates ride the binned pointInInterval equi-join
      // ((user, day-bin) shuffle — no per-user cross product); ONE
      // exchange on the conversion id then serves the per-channel rollup,
      // the per-conversion frontier windows, and the model explode; the
      // final (model, channel) agg is cells-sized.
      (s, dir) => graft.operators.Analytics.attribution(
          events(s, dir), convType = "purchase",
          touchTypes = Seq("click", "view"), lookbackMs = 604800000L)
        .select(col("model"), col("channel"), col("n_conv"),
          round(col("credit"), 2).as("credit"))
        .orderBy("model", "channel"),
      Some("""WITH conv AS (SELECT event_id AS conv_id, user_id,
            epoch_ms(ts) AS cts, value FROM events
          WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, event_type AS channel, epoch_ms(ts) AS tts,
            event_id AS tid FROM events
          WHERE event_type IN ('click', 'view')),
        cand AS (SELECT c.conv_id, c.value, t.channel, t.tts, t.tid
          FROM conv c JOIN tch t ON c.user_id = t.user_id
            AND t.tts >= c.cts - 604800000 AND t.tts < c.cts),
        per AS (SELECT conv_id, value, channel,
            row_number() OVER (PARTITION BY conv_id ORDER BY tts, tid)
              AS rn_first,
            row_number() OVER (PARTITION BY conv_id ORDER BY tts DESC, tid DESC)
              AS rn_last,
            count(*) OVER (PARTITION BY conv_id) AS n
          FROM cand),
        credits AS (
          -- one row per (model, channel, conversion): the linear branch
          -- folds a conversion's same-channel touches into ONE row with
          -- credit = value * cnt / n (the exact multiply-then-divide the
          -- Spark side computes — float-for-float, so 2dp rounding can
          -- never straddle differently)
          SELECT 'first_touch' AS model, channel, conv_id, value AS credit
            FROM per WHERE rn_first = 1
          UNION ALL
          SELECT 'last_touch', channel, conv_id, value
            FROM per WHERE rn_last = 1
          UNION ALL
          SELECT 'linear', channel, conv_id,
            any_value(value) * count(*) / any_value(n)
          FROM per GROUP BY channel, conv_id)
        SELECT model, channel, count(*)::BIGINT AS n_conv,
          round(sum(credit), 2) AS credit
        FROM credits GROUP BY 1, 2 ORDER BY model, channel"""),
      headline = true),

    "q_attribution_sql" -> QueryDef(
      // the same attribution cells through the graft_attribution TVF —
      // the SQL boundary itself under the oracle gate (the q_asof_sql /
      // search_bm25_sql discipline): a pure-SQL session gets the same
      // binned-candidates + one-conv-exchange plan the Column API runs.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        events(s, dir).createOrReplaceTempView("graft_ev")
        s.sql("""SELECT model, channel, n_conv, round(credit, 2) AS credit
          FROM graft_attribution('graft_ev', 'purchase', 'click,view', 604800000)
          ORDER BY model, channel""")
      },
      Some("""WITH conv AS (SELECT event_id AS conv_id, user_id,
            epoch_ms(ts) AS cts, value FROM events
          WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, event_type AS channel, epoch_ms(ts) AS tts,
            event_id AS tid FROM events
          WHERE event_type IN ('click', 'view')),
        cand AS (SELECT c.conv_id, c.value, t.channel, t.tts, t.tid
          FROM conv c JOIN tch t ON c.user_id = t.user_id
            AND t.tts >= c.cts - 604800000 AND t.tts < c.cts),
        per AS (SELECT conv_id, value, channel,
            row_number() OVER (PARTITION BY conv_id ORDER BY tts, tid)
              AS rn_first,
            row_number() OVER (PARTITION BY conv_id ORDER BY tts DESC, tid DESC)
              AS rn_last,
            count(*) OVER (PARTITION BY conv_id) AS n
          FROM cand),
        credits AS (
          SELECT 'first_touch' AS model, channel, conv_id, value AS credit
            FROM per WHERE rn_first = 1
          UNION ALL
          SELECT 'last_touch', channel, conv_id, value
            FROM per WHERE rn_last = 1
          UNION ALL
          SELECT 'linear', channel, conv_id,
            any_value(value) * count(*) / any_value(n)
          FROM per GROUP BY channel, conv_id)
        SELECT model, channel, count(*)::BIGINT AS n_conv,
          round(sum(credit), 2) AS credit
        FROM credits GROUP BY 1, 2 ORDER BY model, channel""")),

    "q_basket_rules" -> QueryDef(
      // Market-basket association rules (Analytics.basketRules): which
      // part brands co-occur in an order, as support/confidence/lift
      // rules in both directions. Pairs generate MAP-SIDE from sorted
      // per-basket item arrays (no basket self-join); the oracle is the
      // classic self-join formulation — two different algorithms, same
      // cells. A-priori item pruning inside the operator can't change
      // the answer (a frequent pair's members are frequent), so the
      // oracle skips it.
      (s, dir) => {
        val bi = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
        graft.operators.Analytics
          .basketRules(bi, "l_orderkey", "p_brand", minSupport = 0.01)
          .select(col("antecedent"), col("consequent"), col("n_pair"),
            round(col("support"), 6).as("support"),
            round(col("confidence"), 6).as("confidence"),
            round(col("lift"), 6).as("lift"))
          .orderBy("antecedent", "consequent")
      },
      Some("""WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
            p_brand AS item
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        nb AS (SELECT count(DISTINCT basket) AS n FROM bi),
        ic AS (SELECT item, count(*) AS cnt FROM bi GROUP BY 1),
        pr AS (SELECT a.item AS ia, b.item AS ib, count(*) AS n_pair
          FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
          GROUP BY 1, 2),
        dirs AS (
          SELECT ia AS antecedent, ib AS consequent, n_pair FROM pr
          UNION ALL
          SELECT ib, ia, n_pair FROM pr)
      SELECT antecedent, consequent, n_pair::BIGINT AS n_pair,
        round(n_pair / n, 6) AS support,
        round(n_pair / ca.cnt, 6) AS confidence,
        round(n_pair / ca.cnt * n / cc.cnt, 6) AS lift
      FROM dirs
      JOIN ic ca ON antecedent = ca.item
      JOIN ic cc ON consequent = cc.item, nb
      WHERE n_pair / n >= 0.01
      ORDER BY antecedent, consequent"""),
      headline = true),

    "q_basket_sql" -> QueryDef(
      // association rules reached from PURE SQL: the graft_rules TVF
      // (GraftExtensions) routes to Analytics.basketRules, so a SQL
      // user gets q_basket_rules' exact cells without the Column API —
      // same independent self-join oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
          .join(broadcast(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .createOrReplaceTempView("graft_rules_bi")
        s.sql("""SELECT antecedent, consequent, n_pair,
            round(support, 6) AS support,
            round(confidence, 6) AS confidence,
            round(lift, 6) AS lift
          FROM graft_rules('graft_rules_bi', 'l_orderkey', 'p_brand', 0.01)
          ORDER BY antecedent, consequent""")
      },
      Some("""WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
            p_brand AS item
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        nb AS (SELECT count(DISTINCT basket) AS n FROM bi),
        ic AS (SELECT item, count(*) AS cnt FROM bi GROUP BY 1),
        pr AS (SELECT a.item AS ia, b.item AS ib, count(*) AS n_pair
          FROM bi a JOIN bi b ON a.basket = b.basket AND a.item < b.item
          GROUP BY 1, 2),
        dirs AS (
          SELECT ia AS antecedent, ib AS consequent, n_pair FROM pr
          UNION ALL
          SELECT ib, ia, n_pair FROM pr)
      SELECT antecedent, consequent, n_pair::BIGINT AS n_pair,
        round(n_pair / n, 6) AS support,
        round(n_pair / ca.cnt, 6) AS confidence,
        round(n_pair / ca.cnt * n / cc.cnt, 6) AS lift
      FROM dirs
      JOIN ic ca ON antecedent = ca.item
      JOIN ic cc ON consequent = cc.item, nb
      WHERE n_pair / n >= 0.01
      ORDER BY antecedent, consequent""")),

    "q_mode_per_group" -> QueryDef(
      // Deterministic mode (most frequent value, smallest wins ties) per
      // group. Spark's native mode() is tie-nondeterministic, so the
      // replayable form is counts + max_by over a (cnt, -value) ordering
      // struct — still two hash aggs, no window over the raw table.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(max_by(col("l_quantity"),
            struct(col("cnt"), (-col("l_quantity")).as("neg")))
          .cast("long").as("mode_qty"),
          max(col("cnt")).as("mode_n"))
        .orderBy("l_returnflag"),
      Some("""WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt
          FROM lineitem GROUP BY 1, 2),
        r AS (SELECT l_returnflag, l_quantity, cnt,
            row_number() OVER (PARTITION BY l_returnflag
              ORDER BY cnt DESC, l_quantity) AS rn
          FROM c)
        SELECT l_returnflag, l_quantity::BIGINT AS mode_qty, cnt AS mode_n
        FROM r WHERE rn = 1 ORDER BY l_returnflag""")),

    "q_setop_except" -> QueryDef(
      // EXCEPT (set difference with dedup) — the set-op family member
      // intersect doesn't cover. Plans as a left-anti over distinct
      // inputs; same single pair of shuffles as INTERSECT.
      (s, dir) => t(s, dir, "customer")
        .filter(col("c_acctbal") > 1000)
        .select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey"),
      Some("""SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        ORDER BY custkey""")),

    "q_topk_parts" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_partkey"))
        .limit(5),
      Some("""SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem GROUP BY l_partkey ORDER BY revenue DESC, l_partkey LIMIT 5""")),

    "q_distinct_agg" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    "q_rollup" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
        coalesce(l_linestatus, 'ALL') AS ls,
        count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rf, ls""")),

    "q_scalar_dates" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).cast("long").as("yr"),
          month(col("l_shipdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("yr", "mo"),
      Some("""SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mo,
        count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY 1, 2 ORDER BY yr, mo""")),

    "q_case_buckets" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .select(when(col("l_discount") < 0.02, "low")
          .when(col("l_discount") < 0.05, "mid")
          .otherwise("high").as("bucket"), col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("bucket"),
      Some("""SELECT CASE WHEN l_discount < 0.02 THEN 'low'
                          WHEN l_discount < 0.05 THEN 'mid'
                          ELSE 'high' END AS bucket,
        count(*) AS n, round(avg(l_extendedprice), 4) AS avg_price
        FROM lineitem GROUP BY 1 ORDER BY bucket""")),

    "q_string_funcs" -> QueryDef(
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"),
          upper(substring(col("p_name"), 1, 6)).as("prefix6"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_brand, upper(substr(p_name, 1, 6)) AS prefix6,
        length(p_name) AS name_len, replace(p_type, ' ', '_') AS type_u
        FROM part ORDER BY p_partkey""")),

    "q_hash_funcs" -> QueryDef(
      // cryptographic hash + encoding scalar functions — the content-
      // addressing primitives every dedup/fingerprint pipeline leans on,
      // proven byte-parity against DuckDB (lowercase hex both sides;
      // base64 over the UTF-8 bytes of a char-addressed prefix).
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("text")).as("md5_hex"),
          sha2(col("text"), 256).as("sha256_hex"),
          base64(substring(col("text"), 1, 24).cast("binary")).as("prefix_b64"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
        base64(encode(substr(text, 1, 24))) AS prefix_b64
        FROM documents ORDER BY doc_id""")),

    "q_stat_moments" -> QueryDef(
      // statistical aggregate family: Pearson correlation, sample
      // covariance/stddev (standard definitions, built-ins both sides),
      // and population skewness/kurtosis derived from raw power sums with
      // ONE shared formula on both engines — Spark's and DuckDB's native
      // skewness/kurtosis use different bias corrections, so the moments
      // are computed from sums (exact here: l_quantity is integer-valued,
      // so every power sum is an exact double) rather than trusting either
      // engine's adjustment. All one hash-aggregate pass, map-side partial.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val grouped = li.groupBy(col("l_returnflag").as("rf"))
          .agg(count(lit(1)).as("n"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
            round(stddev_samp(col("l_quantity")), 6).as("stddev_qty"),
            sum(col("l_quantity")).as("s1"),
            sum(pow(col("l_quantity"), 2)).as("s2"),
            sum(pow(col("l_quantity"), 3)).as("s3"),
            sum(pow(col("l_quantity"), 4)).as("s4"))
        grouped.select(col("rf"), col("n"), col("corr_qty_price"),
            col("covar_qty_price"), col("stddev_qty"),
            expr("""round(
              ((s3/n) - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3))
                / pow((s2/n) - pow(s1/n, 2), 1.5), 6)""").as("skew_qty"),
            expr("""round(
              ((s4/n) - 4*(s1/n)*(s3/n) + 6*pow(s1/n, 2)*(s2/n) - 3*pow(s1/n, 4))
                / pow((s2/n) - pow(s1/n, 2), 2) - 3, 6)""").as("kurt_qty"))
          .orderBy("rf")
      },
      Some("""WITH g AS (SELECT l_returnflag AS rf, count(*) AS n,
          round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
          round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
          round(stddev_samp(l_quantity), 6) AS stddev_qty,
          sum(l_quantity) AS s1, sum(pow(l_quantity, 2)) AS s2,
          sum(pow(l_quantity, 3)) AS s3, sum(pow(l_quantity, 4)) AS s4
        FROM lineitem GROUP BY 1)
        SELECT rf, n, corr_qty_price, covar_qty_price, stddev_qty,
          round(((s3/n) - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3))
            / pow((s2/n) - pow(s1/n, 2), 1.5), 6) AS skew_qty,
          round(((s4/n) - 4*(s1/n)*(s3/n) + 6*pow(s1/n, 2)*(s2/n) - 3*pow(s1/n, 4))
            / pow((s2/n) - pow(s1/n, 2), 2) - 3, 6) AS kurt_qty
        FROM g ORDER BY rf""")),

    "q_ab_test" -> QueryDef(
      // experiment readout: Welch's two-sample t statistic per event
      // type between a deterministic user split (user_id parity = the
      // variant), with the Welch-Satterthwaite df — one conditional-
      // aggregate pass (each variant's n/mean/variance as a filtered
      // agg, map-side partials), the closed form every metrics pipeline
      // computes before anyone trusts a dashboard delta.
      (s, dir) => {
        val ev = events(s, dir)
          .withColumn("va", (col("user_id") % 2 === 0).cast("int"))
        def side(f: Column => Column, v: Int) =
          f(when(col("va") === v, col("value")))
        val g = ev.groupBy(col("event_type"))
          .agg(count(when(col("va") === 1, 1)).as("n_a"),
            count(when(col("va") === 0, 1)).as("n_b"),
            side(avg, 1).as("m_a"), side(avg, 0).as("m_b"),
            side(var_samp, 1).as("v_a"), side(var_samp, 0).as("v_b"))
        g.select(col("event_type"), col("n_a"), col("n_b"),
            round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
            round((col("m_a") - col("m_b")) /
              sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")), 6).as("t_stat"),
            round(pow(col("v_a") / col("n_a") + col("v_b") / col("n_b"), 2) /
              (pow(col("v_a") / col("n_a"), 2) / (col("n_a") - 1) +
               pow(col("v_b") / col("n_b"), 2) / (col("n_b") - 1)), 4).as("df"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (SELECT event_type,
          count(CASE WHEN user_id % 2 = 0 THEN 1 END)::BIGINT AS n_a,
          count(CASE WHEN user_id % 2 = 1 THEN 1 END)::BIGINT AS n_b,
          avg(CASE WHEN user_id % 2 = 0 THEN value END) AS m_a,
          avg(CASE WHEN user_id % 2 = 1 THEN value END) AS m_b,
          var_samp(CASE WHEN user_id % 2 = 0 THEN value END) AS v_a,
          var_samp(CASE WHEN user_id % 2 = 1 THEN value END) AS v_b
        FROM events GROUP BY 1)
        SELECT event_type, n_a, n_b,
          round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
          round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
          round(pow(v_a / n_a + v_b / n_b, 2) /
            (pow(v_a / n_a, 2) / (n_a - 1) + pow(v_b / n_b, 2) / (n_b - 1)),
            4) AS df
        FROM g ORDER BY event_type""")),

    "q_chi_square" -> QueryDef(
      // chi-square test of independence (event type x 6-hour band of
      // day) + Cramer's V — the categorical companion to q_ab_test's
      // Welch t. One distributed hash agg builds the contingency counts;
      // everything after runs on the CELLS frame (|types| x 4 rows):
      // the zero-observed grid completion (tiny x tiny cross join), the
      // margin windows, and the statistic. Cell contributions round to
      // 6dp and sum as DECIMALs so the total is independent of
      // summation order (margins are integer-valued doubles, exact at
      // any order already).
      (s, dir) => {
        val ev = events(s, dir).select(col("event_type").as("t"),
          floor(hour(col("ts")) / 6).cast("long").as("band"))
        val obs = ev.groupBy("t", "band").agg(count(lit(1)).as("oc"))
        val grid = obs.select("t").distinct().crossJoin(obs.select("band").distinct())
        val cells = grid.join(obs, Seq("t", "band"), "left")
          .select(col("t"), col("band"),
            coalesce(col("oc"), lit(0L)).cast("double").as("o"))
        val m = cells.select(col("o"),
          sum(col("o")).over(Window.partitionBy(col("t"))).as("rt"),
          sum(col("o")).over(Window.partitionBy(col("band"))).as("ct"),
          sum(col("o")).over(Window.partitionBy()).as("n"),
          col("t"), col("band"))
        val e = col("rt") * col("ct") / col("n")
        val agg = m.agg(
          sum(round(pow(col("o") - e, 2) / e, 6).cast("decimal(20,6)"))
            .cast("double").as("chi2"),
          countDistinct(col("t")).as("r"), countDistinct(col("band")).as("c"),
          max(col("n")).as("nd"))
        agg.select(round(col("chi2"), 6).as("chi2"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          col("nd").cast("long").as("n"),
          round(sqrt(col("chi2") /
            (col("nd") * least(col("r") - 1, col("c") - 1))), 6).as("cramers_v"))
      },
      Some("""WITH ev AS (SELECT event_type AS t, hour(ts) // 6 AS band
          FROM events),
        obs AS (SELECT t, band, count(*) AS oc FROM ev GROUP BY 1, 2),
        grid AS (SELECT t, band
          FROM (SELECT DISTINCT t FROM obs), (SELECT DISTINCT band FROM obs)),
        cells AS (SELECT g.t, g.band, coalesce(oc, 0)::DOUBLE AS o
          FROM grid g LEFT JOIN obs ON g.t = obs.t AND g.band = obs.band),
        m AS (SELECT o,
            sum(o) OVER (PARTITION BY t) AS rt,
            sum(o) OVER (PARTITION BY band) AS ct,
            sum(o) OVER () AS n, t, band
          FROM cells),
        agg AS (SELECT
            sum(round(pow(o - rt * ct / n, 2) / (rt * ct / n), 6)
              ::DECIMAL(20,6))::DOUBLE AS chi2,
            count(DISTINCT t) AS r, count(DISTINCT band) AS c,
            max(n) AS nd
          FROM m)
        SELECT round(chi2, 6) AS chi2, ((r - 1) * (c - 1))::BIGINT AS dof,
          nd::BIGINT AS n,
          round(sqrt(chi2 / (nd * least(r - 1, c - 1))), 6) AS cramers_v
        FROM agg""")),

    "q_benford" -> QueryDef(
      // Benford first-digit screen over order totals — the forensic
      // data-quality check for fabricated/defaulted numeric columns.
      // The first digit comes from the STRING of exact integer cents
      // (never floor(log10(x)): a price at a power-of-ten boundary can
      // flip digits across libm implementations); expected shares are
      // log10(1+1/d), whose 6dp roundings sit nowhere near a rounding
      // boundary. One hash agg to digits, everything after on 9 rows.
      (s, dir) => {
        val cents = round(col("o_totalprice") * 100, 0).cast("long")
        val digits = t(s, dir, "orders")
          .select(cents.as("cents")).filter(col("cents") > 0)
          .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        digits.crossJoin(broadcast(digits.agg(sum(col("n")).as("total"))))
          .select(col("digit"), col("n"),
            round(col("n") / col("total"), 6).as("obs_frac"),
            round(log10(lit(1) + lit(1.0) / col("digit")), 6).as("benford_frac"),
            round(abs(col("n") / col("total") -
              log10(lit(1) + lit(1.0) / col("digit"))), 6).as("abs_dev"))
          .orderBy("digit")
      },
      Some("""WITH d AS (
          SELECT substr((round(o_totalprice * 100)::BIGINT)::VARCHAR, 1, 1)
              ::BIGINT AS digit, count(*) AS n
          FROM orders WHERE round(o_totalprice * 100)::BIGINT > 0
          GROUP BY 1),
        tot AS (SELECT sum(n) AS total FROM d)
        SELECT digit, n::BIGINT AS n,
          round(n / total, 6) AS obs_frac,
          round(log10(1 + 1.0 / digit), 6) AS benford_frac,
          round(abs(n / total - log10(1 + 1.0 / digit)), 6) AS abs_dev
        FROM d, tot ORDER BY digit""")),

    "q_gini" -> QueryDef(
      // Gini coefficient of customer lifetime spend (revenue-inequality
      // readout): on the PER-CUSTOMER aggregate (one distributed keyed
      // agg over orders), rank-weighted sum formula
      // G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending spend.
      // The customer frame is NOT structurally bounded (one row per
      // customer), so the global rank rides Rank.rowNumber's two-phase
      // distributed scan — quantile buckets on cents, per-bucket
      // row_number, broadcast count offsets; no single-partition window
      // (PlanShapeSpec pins it). Tie order can't move the statistic
      // (equal x swap freely in sum(i*x_i)); spend is exact integer
      // cents so both sums are order-independent.
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        val ranked = graft.operators.Rank.rowNumber(spend,
          Seq(col("cents"), col("o_custkey")), bucketOn = col("cents"),
          out = "rn")
        ranked.agg(count(lit(1)).as("n"),
            sum(col("rn") * col("cents")).as("s1"), sum(col("cents")).as("s0"))
          .select(col("n"),
            round(lit(2.0) * col("s1") / (col("n") * col("s0")) -
              (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT) AS cents
          FROM orders GROUP BY 1),
        ranked AS (SELECT cents,
            row_number() OVER (ORDER BY cents, o_custkey) AS rn
          FROM spend),
        agg AS (SELECT count(*) AS n, sum(rn * cents) AS s1, sum(cents) AS s0
          FROM ranked)
        SELECT n::BIGINT AS n,
          round(2.0 * s1 / (n * s0) - (n + 1.0) / n, 6) AS gini
        FROM agg""")),

    "q_new_vs_returning" -> QueryDef(
      // the weekly new-vs-returning split every growth dashboard opens
      // with: per week, how many active users are in their FIRST week
      // vs coming back. (user, week) dedup agg distributes; the
      // first-week marker is a per-user window over weeks (not raw
      // events); final roll-up is weeks-sized.
      (s, dir) => {
        val perWeek = events(s, dir)
          .select(col("user_id"), (col("ts_ms") / 604800000L).cast("long").as("week"))
          .distinct()
        val tagged = perWeek.withColumn("first_week",
          min(col("week")).over(Window.partitionBy(col("user_id"))))
        tagged.groupBy(col("week"))
          .agg(count(lit(1)).as("n_users"),
            sum(when(col("week") === col("first_week"), 1L).otherwise(0L)).as("n_new"),
            sum(when(col("week") === col("first_week"), 0L).otherwise(1L)).as("n_returning"))
          .orderBy("week")
      },
      Some("""WITH per_week AS (
          SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
          FROM events),
        tagged AS (SELECT week,
            min(week) OVER (PARTITION BY user_id) AS first_week
          FROM per_week)
        SELECT week, count(*)::BIGINT AS n_users,
          sum(CASE WHEN week = first_week THEN 1 ELSE 0 END)::BIGINT AS n_new,
          sum(CASE WHEN week = first_week THEN 0 ELSE 1 END)::BIGINT AS n_returning
        FROM tagged GROUP BY 1 ORDER BY 1""")),

    "q_interpurchase" -> QueryDef(
      // inter-purchase interval distribution per market segment: the
      // per-customer order-gap lag window distributes on o_custkey;
      // gaps are exact integer days, so mean is an exact-integer ratio
      // and the percentiles ride the proven quantile_cont parity.
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val gaps = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
          .withColumn("gap_days",
            datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
              .cast("long"))
          .filter(col("gap_days").isNotNull)
        gaps.join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_gaps"),
            round(sum(col("gap_days")) / count(lit(1)), 6).as("mean_gap"),
            round(expr("percentile(gap_days, 0.5)"), 6).as("p50_gap"),
            round(expr("percentile(gap_days, 0.9)"), 6).as("p90_gap"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH gaps AS (
          SELECT o_custkey,
            datediff('day',
              lag(o_orderdate) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS gap_days
          FROM orders),
        g AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL)
        SELECT c_mktsegment, count(*)::BIGINT AS n_gaps,
          round(sum(gap_days) / count(*), 6) AS mean_gap,
          round(quantile_cont(gap_days, 0.5), 6) AS p50_gap,
          round(quantile_cont(gap_days, 0.9), 6) AS p90_gap
        FROM g JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1""")),

    "q_rolling_corr" -> QueryDef(
      // rolling 24-hour correlation between the click and purchase
      // hourly series — the co-movement monitor dashboards run on metric
      // pairs. One conditional agg builds both series in a single pass;
      // the rolling window carries SIX integer sums (n, Σx, Σy, Σx²,
      // Σy², Σxy — exact at any order) and Pearson assembles from them
      // identically on both engines (never a native windowed corr: its
      // accumulation order is engine-private). Zero-variance windows
      // yield NULL explicitly (Spark would produce NaN/Inf on /0.0).
      // Post-agg hours frame rides one unpartitioned window (q_pareto
      // pattern).
      (s, dir) => {
        val series = events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(when(col("event_type") === "click", 1)).as("x"),
            count(when(col("event_type") === "purchase", 1)).as("y"))
        val w = Window.orderBy(col("h")).rowsBetween(-23, 0)
        val sums = series.select(col("h"),
          count(lit(1)).over(w).as("n"),
          sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
          sum(col("x") * col("x")).over(w).as("sxx"),
          sum(col("y") * col("y")).over(w).as("syy"),
          sum(col("x") * col("y")).over(w).as("sxy"))
        sums.select(unix_millis(col("h")).as("hour_ms"), col("n"),
            round(when(
              (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0,
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                     (col("n") * col("syy") - col("sy") * col("sy")))
            ), 6).as("roll_corr"))
          .orderBy("hour_ms")
      },
      Some("""WITH series AS (
          SELECT date_trunc('hour', ts) AS h,
            count(CASE WHEN event_type = 'click' THEN 1 END) AS x,
            count(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY 1),
        sums AS (
          SELECT h, count(*) OVER w AS n,
            sum(x) OVER w AS sx, sum(y) OVER w AS sy,
            sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
            sum(x * y) OVER w AS sxy
          FROM series
          WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        SELECT epoch_ms(h) AS hour_ms, n::BIGINT AS n,
          round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN (n * sxy - sx * sy) /
              sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            END, 6) AS roll_corr
        FROM sums ORDER BY hour_ms""")),

    "q_time_to_convert" -> QueryDef(
      // conversion latency: first click -> first purchase per user,
      // distribution in minutes. One (user, type) hash agg finds both
      // frontiers; the self-join-free pivot pairs them per user; stats
      // aggregate exact integer MILLISECONDS (sum/percentile on BIGINT,
      // divide to minutes once at the end) so no float summation order
      // can move the 6dp rounds.
      (s, dir) => {
        val f = events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(col("ts_ms")).as("t"))
        val paired = f.groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "click", col("t"))).as("tc"),
            min(when(col("event_type") === "purchase", col("t"))).as("tp"))
          .filter(col("tc").isNotNull && col("tp").isNotNull && col("tp") >= col("tc"))
          .select((col("tp") - col("tc")).as("gap_ms"))
        paired.agg(count(lit(1)).as("n_converted"),
            round(sum(col("gap_ms")) / count(lit(1)) / 60000.0, 6).as("mean_min"),
            round(expr("percentile(gap_ms, 0.5)") / 60000.0, 6).as("p50_min"),
            round(expr("percentile(gap_ms, 0.9)") / 60000.0, 6).as("p90_min"))
      },
      Some("""WITH f AS (SELECT user_id, event_type, min(epoch_ms(ts)) AS t
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY 1, 2),
        paired AS (SELECT user_id,
            min(CASE WHEN event_type = 'click' THEN t END) AS tc,
            min(CASE WHEN event_type = 'purchase' THEN t END) AS tp
          FROM f GROUP BY 1),
        g AS (SELECT tp - tc AS gap_ms FROM paired
          WHERE tc IS NOT NULL AND tp IS NOT NULL AND tp >= tc)
        SELECT count(*)::BIGINT AS n_converted,
          round(sum(gap_ms) / count(*) / 60000.0, 6) AS mean_min,
          round(quantile_cont(gap_ms, 0.5) / 60000.0, 6) AS p50_min,
          round(quantile_cont(gap_ms, 0.9) / 60000.0, 6) AS p90_min
        FROM g""")),

    "q_skyline_parts" -> QueryDef(
      // 2-attribute skyline (Pareto frontier): parts where no other part
      // is both cheaper and larger — the multi-objective "best tradeoff"
      // operator relational engines lack natively. Sort-scan algorithm
      // on the DISTINCT (price, size) cells: ordered by (price asc,
      // size desc), a cell is on the frontier iff its size beats the
      // running max of every EARLIER cell (earlier == cheaper, or same
      // price and strictly larger — exactly the dominance candidates;
      // distinct cells make >= vs > unambiguous). The grouping agg
      // distributes; the frontier window runs on the cells frame
      // (bounded by the price x size domain, not the table).
      (s, dir) => graft.operators.Analytics
        .skyline2(t(s, dir, "part"), "p_retailprice", "p_size")
        .select(round(col("p_retailprice"), 2).as("price"),
          col("p_size").cast("long").as("p_size"),
          col("n_rows").as("n_parts"))
        .orderBy("price"),
      Some("""WITH cells AS (SELECT p_retailprice AS price, p_size AS sz,
            count(*) AS n_parts
          FROM part GROUP BY 1, 2),
        marked AS (SELECT price, sz, n_parts,
            max(sz) OVER (ORDER BY price, sz DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
          FROM cells)
        SELECT round(price, 2) AS price, sz::BIGINT AS p_size,
          n_parts::BIGINT AS n_parts
        FROM marked WHERE runmax IS NULL OR sz > runmax
        ORDER BY price""")),

    "q_skyline_sql" -> QueryDef(
      // the skyline reached from PURE SQL: the graft_skyline TVF
      // (GraftExtensions) routes to Analytics.skyline2, so a SQL user
      // gets q_skyline_parts' exact semantics without the Column API —
      // same independent DuckDB window-scan oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "part").createOrReplaceTempView("graft_sky_parts")
        s.sql("""SELECT round(p_retailprice, 2) AS price,
            CAST(p_size AS BIGINT) AS p_size, n_rows AS n_parts
          FROM graft_skyline('graft_sky_parts', 'p_retailprice', 'p_size')
          ORDER BY price""")
      },
      Some("""WITH cells AS (SELECT p_retailprice AS price, p_size AS sz,
            count(*) AS n_parts
          FROM part GROUP BY 1, 2),
        marked AS (SELECT price, sz, n_parts,
            max(sz) OVER (ORDER BY price, sz DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
          FROM cells)
        SELECT round(price, 2) AS price, sz::BIGINT AS p_size,
          n_parts::BIGINT AS n_parts
        FROM marked WHERE runmax IS NULL OR sz > runmax
        ORDER BY price""")),

    "q_quantiles_sql" -> QueryDef(
      // exact quantiles from PURE SQL: the graft_quantiles TVF routes
      // to Rank.quantilesDisc, so a SQL user gets q_quantiles_exact's
      // distributed-exact selection without the Column API — same
      // explicit rank-formula oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          .createOrReplaceTempView("graft_q_cents")
        // SQL numeric literals parse as DECIMAL under ANSI — cast the
        // display math back to DOUBLE or the hash diverges on rendering
        s.sql("""SELECT CAST(round(p, 2) AS DOUBLE) AS p,
            cents / CAST(100 AS DOUBLE) AS value
          FROM graft_quantiles('graft_q_cents', 'cents', '0.25, 0.5, 0.75')
          ORDER BY p""")
      },
      Some("""WITH c AS (SELECT round(o_totalprice * 100)::BIGINT AS cents
          FROM orders),
        r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
            count(*) OVER () AS n FROM c),
        p AS (SELECT unnest([0.25, 0.5, 0.75]) AS p)
        SELECT round(p.p, 2)::DOUBLE AS p, (cents / 100.0)::DOUBLE AS value
        FROM r JOIN p ON r.rn = greatest(1, ceil(p.p::DOUBLE * r.n)::BIGINT)
        ORDER BY p""")),

    "q_rank_sql" -> QueryDef(
      // the two-phase distributed row_number from PURE SQL: the
      // graft_rank TVF routes to Rank.rowNumber, so a SQL user ranks a
      // data-sized frame with no single-partition window (pinned with
      // the rest of the rank family); oracle replays the rank as a
      // plain window over the same total order.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_rank_spend")
        s.sql("""SELECT o_custkey, cents, rn
          FROM graft_rank('graft_rank_spend', 'cents', 'o_custkey')
          ORDER BY rn""")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents,
          row_number() OVER (ORDER BY cents, o_custkey) AS rn
        FROM spend ORDER BY rn""")),

    "q_rank_desc_sql" -> QueryDef(
      // the graft_rank TVF's DESCENDING mode: rank customers by spend
      // high-to-low from pure SQL — the TVF negates the numeric key
      // internally (the Rank contract's "pass the negated key for
      // descending"), so a SQL user never hand-negates; same two-phase
      // no-single-partition-window plan, pinned with the family.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_rankd_spend")
        s.sql("""SELECT o_custkey, cents, rn
          FROM graft_rank('graft_rankd_spend', 'cents', 'o_custkey', true)
          ORDER BY rn""")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents,
          row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn
        FROM spend ORDER BY rn""")),

    "q_running_sum_sql" -> QueryDef(
      // the distributed global running total from PURE SQL: the
      // graft_running_sum TVF routes to Rank.runningSum — before this
      // surface existed, a SQL user writing `sum(x) OVER (ORDER BY ...)`
      // got exactly the single-partition window the Rank family exists
      // to avoid. Exact-integer cents per the Rank contract (two-phase
      // summation is order-independent only in exact arithmetic).
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_rs_spend")
        s.sql("""SELECT o_custkey, cents, running_sum
          FROM graft_running_sum('graft_rs_spend', 'cents', 'o_custkey', 'cents')
          ORDER BY cents, o_custkey""")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents,
          (sum(cents) OVER (ORDER BY cents, o_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
            AS running_sum
        FROM spend ORDER BY cents, o_custkey""")),

    "q_prefix_max_sql" -> QueryDef(
      // the distributed STRICT-prefix max from PURE SQL: best
      // order-count seen so far while walking customers in spend order —
      // prefix max of a DIFFERENT attribute than the ordering key, the
      // frontier-scan shape skyline2 builds on. NULL first row coalesced
      // to 0 on both sides (counts are >= 1, so 0 is unambiguous).
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"),
            count(lit(1)).as("nord"))
          .createOrReplaceTempView("graft_pm_spend")
        s.sql("""SELECT o_custkey, cents, nord,
            coalesce(prefix_max, 0) AS prefix_max
          FROM graft_prefix_max('graft_pm_spend', 'cents', 'o_custkey', 'nord')
          ORDER BY cents, o_custkey""")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
            count(*)::BIGINT AS nord
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents, nord,
          coalesce(max(nord) OVER (ORDER BY cents, o_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
            AS prefix_max
        FROM spend ORDER BY cents, o_custkey""")),

    "q_ntile_sql" -> QueryDef(
      // global EXACT-SQL ntile from PURE SQL: 7 tiles over 1500
      // customers (1500 % 7 = 2) so both bucket-size branches of the
      // integer arithmetic are exercised; the TVF routes to Rank.ntile
      // (two-phase rank + one-row count broadcast, integer `div` only —
      // never floor(a/b), whose IEEE quotient can floor off by one at
      // large counts). Oracle replays with the native ntile() window.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_nt_spend")
        s.sql("""SELECT o_custkey, cents, bucket
          FROM graft_ntile('graft_nt_spend', 'cents', 'o_custkey', 7)
          ORDER BY cents, o_custkey""")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents,
          ntile(7) OVER (ORDER BY cents, o_custkey) AS bucket
        FROM spend ORDER BY cents, o_custkey""")),

    "q_percent_rank_sql" -> QueryDef(
      // global percent_rank from PURE SQL: (rn-1)/(c-1) in IEEE double,
      // the identical division DuckDB's percent_rank() performs —
      // rounded 6dp on both sides per the ratio convention.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_pr_spend")
        s.sql("""SELECT o_custkey, cents, round(percent_rank, 6) AS pr
          FROM graft_percent_rank('graft_pr_spend', 'cents', 'o_custkey')
          ORDER BY cents, o_custkey""")
      },
      Some("""WITH spend AS (
          SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents,
          round(percent_rank() OVER (ORDER BY cents, o_custkey), 6) AS pr
        FROM spend ORDER BY cents, o_custkey""")),

    "q_cume_dist_sql" -> QueryDef(
      // global cume_dist from PURE SQL — the rank-family member with
      // the SQL TIE rule (all peers share their last member's
      // cumulative count), which the TVF computes on the DISTINCT-VALUE
      // frame (per-value counts -> two-phase running sum -> keyed join
      // back), never a single-partition window. Probing on order
      // PRIORITY (5 distinct values over 150k orders) makes ties the
      // whole test: every row shares its cume_dist with ~30k peers.
      // Rounded 6dp both sides per the ratio convention.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            substring(col("o_orderpriority"), 1, 1).cast("int").as("prio"))
          .createOrReplaceTempView("graft_cd_orders")
        s.sql("""SELECT o_orderkey, prio, round(cume_dist, 6) AS cd
          FROM graft_cume_dist('graft_cd_orders', 'prio')
          ORDER BY prio, o_orderkey""")
      },
      Some("""WITH o AS (SELECT o_orderkey,
            substr(o_orderpriority, 1, 1)::INT AS prio FROM orders)
        SELECT o_orderkey, prio,
          round(cume_dist() OVER (ORDER BY prio), 6) AS cd
        FROM o ORDER BY prio, o_orderkey""")),

    "q_skyline3_sql" -> QueryDef(
      // the d-dimensional skyline from PURE SQL: graft_skyline_n routes
      // to Analytics.skylineN over the same 3 lineitem attributes
      // q_skyline3 certifies via the Column API; oracle is the literal
      // quadratic NOT-EXISTS dominance definition (no algorithm shared).
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "lineitem").createOrReplaceTempView("graft_skyn_lineitem")
        s.sql("""SELECT round(l_extendedprice, 2) AS price,
            round(l_quantity, 2) AS qty, round(l_discount, 2) AS disc, n_rows
          FROM graft_skyline_n('graft_skyn_lineitem',
            'l_extendedprice', 'l_quantity,l_discount')
          ORDER BY price, qty, disc""")
      },
      Some("""WITH cells AS (
          SELECT l_extendedprice AS a, l_quantity AS b, l_discount AS c,
            count(*)::BIGINT AS n_rows
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            AND l_discount IS NOT NULL
          GROUP BY 1, 2, 3)
        SELECT round(a, 2) AS price, round(b, 2) AS qty,
          round(c, 2) AS disc, n_rows
        FROM cells x WHERE NOT EXISTS (
          SELECT 1 FROM cells y
          WHERE y.a <= x.a AND y.b >= x.b AND y.c >= x.c
            AND (y.a < x.a OR y.b > x.b OR y.c > x.c))
        ORDER BY price, qty, disc""")),

    "q_hhi" -> QueryDef(
      // Herfindahl–Hirschman market-concentration index per region:
      // squared revenue shares of each region's suppliers, summed — the
      // antitrust-style complement to q_gini (share concentration, not
      // rank inequality). Revenue aggregates fixed-point on
      // (region, supplier) — one distributed keyed agg through two
      // broadcast dims; shares and the HHI run on the suppliers frame;
      // squared-share contributions round to 9dp and sum as DECIMALs so
      // the statistic is summation-order independent.
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("s_suppkey"))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000, 0)
            .cast("long")).as("rev_e4"))
        val tot = rev.groupBy(col("r_name")).agg(sum(col("rev_e4")).as("tot"))
        rev.join(tot, Seq("r_name"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_suppliers"),
            round(sum(round(pow(col("rev_e4") / col("tot"), 2), 9)
              .cast("decimal(20,9)")).cast("double"), 6).as("hhi"))
          .orderBy("r_name")
      },
      Some("""WITH rev AS (SELECT r_name, s_suppkey,
            sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT)
              AS rev_e4
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2),
        tot AS (SELECT r_name, sum(rev_e4) AS tot FROM rev GROUP BY 1)
        SELECT r.r_name, count(*)::BIGINT AS n_suppliers,
          round(sum(round(pow(rev_e4 / tot, 2), 9)::DECIMAL(20,9))::DOUBLE, 6)
            AS hhi
        FROM rev r JOIN tot USING (r_name) GROUP BY 1 ORDER BY 1""")),

    "q_json_keys" -> QueryDef(
      // semi-structured profiling: the key inventory of a JSON column
      // (which props keys exist, how often) — explode over
      // json_object_keys, one scan + one hash agg; the schema-discovery
      // question every ingest of loosely-typed event payloads starts
      // with. NULL/empty props drop out on both engines.
      (s, dir) => events(s, dir)
        .select(explode(json_object_keys(col("props"))).as("key"))
        .groupBy("key").agg(count(lit(1)).as("n"))
        .orderBy("key"),
      Some("""SELECT k AS key, count(*)::BIGINT AS n
        FROM events, unnest(json_keys(props)) AS t(k)
        GROUP BY 1 ORDER BY 1""")),

    "q_linkage_pairs" -> QueryDef(
      // record linkage with blocking: candidate pairs only within a
      // blocking key (brand), scored by the native Jaro-Winkler
      // expression, kept at >= 0.92 AFTER 6dp rounding (both engines
      // filter on the same rounded value, so the threshold can never
      // disagree at a float boundary). The blocked self-join is
      // quadratic per block, NOT per table — the standard linkage
      // scale contract (pick blocking keys so blocks stay bounded);
      // the kernel runs inside whole-stage codegen.
      (s, dir) => {
        import graft.functions.expressions.TextExpressions.jaro_winkler
        val p = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        p.as("a").join(p.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
            col("a.p_partkey") < col("b.p_partkey"))
          .select(col("a.p_partkey").as("id_a"),
            col("b.p_partkey").as("id_b"),
            round(jaro_winkler(col("a.p_name"), col("b.p_name")), 6).as("jw"))
          .filter(col("jw") >= 0.92)
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
          round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.92
        ORDER BY id_a, id_b""")),

    "q_linkage_clusters" -> QueryDef(
      // entity resolution, end to end: the blocked Jaro-Winkler match
      // pairs of q_linkage_pairs become edges of a similarity graph and
      // GraphX connected components assigns each matched record its
      // entity id (= min partkey reachable through any chain of >= 0.92
      // matches — transitive closure, the step pairwise linkage alone
      // can't express: A~B, B~C groups A with C even when jw(A,C) is
      // below threshold). Unmatched records are their own entity and
      // are omitted. Oracle: recursive-CTE reachability closure over
      // the same pair SQL (the graph_cc pattern), MATERIALIZED so the
      // quadratic-per-block similarity join runs once, not per
      // recursion step.
      (s, dir) => {
        import graft.functions.expressions.TextExpressions.jaro_winkler
        val p = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_name"))
        val pairs = p.as("a").join(p.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
            col("a.p_partkey") < col("b.p_partkey"))
          .filter(round(jaro_winkler(col("a.p_name"), col("b.p_name")), 6) >= 0.92)
          .select(col("a.p_partkey").as("src"), col("b.p_partkey").as("dst"))
        GraphOps.connectedComponents(pairs)
          .select(col("vertex").as("p_partkey"), col("component").as("entity_id"))
          .orderBy("p_partkey")
      },
      Some("""WITH RECURSIVE
        pairs AS MATERIALIZED (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
          WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.92),
        und AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        verts AS (SELECT a AS v FROM und UNION SELECT b FROM und),
        reach(a, b) AS (
          SELECT v, v FROM verts
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        SELECT a AS p_partkey, min(b) AS entity_id FROM reach
        GROUP BY a ORDER BY p_partkey""")),

    "q_corr_matrix" -> QueryDef(
      // pairwise Pearson correlation matrix of four measures in ONE
      // aggregation pass (six corr accumulators, map-side partials),
      // emitted long-form (var_a, var_b, corr) — the profiling
      // companion piece to q_regression; cost is one scan regardless of
      // how many pairs are requested.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i < j
        } yield (cols(i), cols(j))
        val agged = li.agg(
          round(corr(col(pairs.head._1), col(pairs.head._2)), 6).as("c0"),
          pairs.tail.zipWithIndex.map { case ((a, b), ix) =>
            round(corr(col(a), col(b)), 6).as(s"c${ix + 1}") }: _*)
        val rows = pairs.zipWithIndex.map { case ((a, b), ix) =>
          struct(lit(a).as("var_a"), lit(b).as("var_b"),
            col(s"c$ix").as("corr")) }
        agged.select(explode(array(rows: _*)).as("r"))
          .select(col("r.var_a"), col("r.var_b"), col("r.corr"))
          .orderBy("var_a", "var_b")
      },
      Some("""WITH m AS (SELECT
          round(corr(l_quantity, l_extendedprice), 6) AS c_qe,
          round(corr(l_quantity, l_discount), 6) AS c_qd,
          round(corr(l_quantity, l_tax), 6) AS c_qt,
          round(corr(l_extendedprice, l_discount), 6) AS c_ed,
          round(corr(l_extendedprice, l_tax), 6) AS c_et,
          round(corr(l_discount, l_tax), 6) AS c_dt
        FROM lineitem)
        SELECT * FROM (
          SELECT 'l_discount' AS var_a, 'l_tax' AS var_b, c_dt AS corr FROM m
          UNION ALL SELECT 'l_extendedprice', 'l_discount', c_ed FROM m
          UNION ALL SELECT 'l_extendedprice', 'l_tax', c_et FROM m
          UNION ALL SELECT 'l_quantity', 'l_discount', c_qd FROM m
          UNION ALL SELECT 'l_quantity', 'l_extendedprice', c_qe FROM m
          UNION ALL SELECT 'l_quantity', 'l_tax', c_qt FROM m
        ) ORDER BY var_a, var_b""")),

    "q_acf" -> QueryDef(
      // autocorrelation function of the hourly event-count series at
      // lags 1..6 — the "is there a daily/weekly pulse" primitive that
      // decides q_decompose's period. Two-stage shape: the hourly agg
      // DISTRIBUTES (one keyed exchange); the lag window and the single
      // 6-corr aggregation pass then run over a dimension-sized series
      // (hours, not events) — the q_pareto post-aggregation
      // single-partition pattern, legitimate because the series is
      // bounded by the time range, not the data volume. Pairwise corr
      // over lagged copies == standard sample-ACF up to edge terms;
      // both engines compute the identical estimator.
      (s, dir) => {
        val series = events(s, dir)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).cast("double").as("x"))
        val w = Window.orderBy(col("h"))
        val lagged = series.select(col("x") +:
          (1 to 6).map(k => lag(col("x"), k).over(w).as(s"l$k")): _*)
        val agged = lagged.agg(
          round(corr(col("x"), col("l1")), 6).as("a1"),
          (2 to 6).map(k => round(corr(col("x"), col(s"l$k")), 6).as(s"a$k")): _*)
        val rows = (1 to 6).map(k =>
          struct(lit(k).cast("long").as("lag_h"), col(s"a$k").as("acf")))
        agged.select(explode(array(rows: _*)).as("r"))
          .select(col("r.lag_h"), col("r.acf"))
          .orderBy("lag_h")
      },
      Some("""WITH series AS (
          SELECT date_trunc('hour', ts) AS h, count(*)::DOUBLE AS x
          FROM events GROUP BY 1),
        lagged AS (
          SELECT x,
            lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
            lag(x, 3) OVER w AS l3, lag(x, 4) OVER w AS l4,
            lag(x, 5) OVER w AS l5, lag(x, 6) OVER w AS l6
          FROM series WINDOW w AS (ORDER BY h)),
        m AS (SELECT
            round(corr(x, l1), 6) AS a1, round(corr(x, l2), 6) AS a2,
            round(corr(x, l3), 6) AS a3, round(corr(x, l4), 6) AS a4,
            round(corr(x, l5), 6) AS a5, round(corr(x, l6), 6) AS a6
          FROM lagged)
        SELECT * FROM (
          SELECT 1::BIGINT AS lag_h, a1 AS acf FROM m
          UNION ALL SELECT 2, a2 FROM m
          UNION ALL SELECT 3, a3 FROM m
          UNION ALL SELECT 4, a4 FROM m
          UNION ALL SELECT 5, a5 FROM m
          UNION ALL SELECT 6, a6 FROM m
        ) ORDER BY lag_h""")),

    "q_cusum" -> QueryDef(
      // two-sided CUSUM control chart per user (Resample.cusum): the
      // max-recurrence folds to pure window algebra via the reflection
      // identity s_i = P_i - min(0, running-min P) — two running sums +
      // two running mins over ONE key exchange; breach = either side
      // over threshold. The drift-detection dual of q_psi_drift
      // (distributional) at the per-observation level.
      (s, dir) => graft.operators.Resample.cusum(
          events(s, dir).select(col("user_id"), col("ts_ms"),
            col("event_id"), col("value")),
          keys = Seq("user_id"), target = 50.0, slack = 5.0,
          threshold = 300.0)
        .withColumn("value", round(col("value"), 6))
        .orderBy("user_id", "ts_ms", "event_id"),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
          value FROM events),
        p AS (SELECT user_id, ts_ms, event_id, value,
            sum(value - 50 - 5) OVER w AS ph,
            sum(50 - 5 - value) OVER w AS pl
          FROM e WINDOW w AS (PARTITION BY user_id
            ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING)),
        c AS (SELECT user_id, ts_ms, event_id, value,
            round(ph - least(0, min(ph) OVER w2), 6) AS cusum_high,
            round(pl - least(0, min(pl) OVER w2), 6) AS cusum_low
          FROM p WINDOW w2 AS (PARTITION BY user_id
            ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING))
        SELECT user_id, ts_ms, event_id, round(value, 6) AS value,
          cusum_high, cusum_low,
          (cusum_high > 300 OR cusum_low > 300) AS breach
        FROM c ORDER BY user_id, ts_ms, event_id"""),
      headline = true),

    "q_holt" -> QueryDef(
      // Holt double exponential smoothing per user (Resample.holt,
      // alpha=0.3, beta=0.2): level + trend of a drifting series — the
      // 2-STATE sequential recurrence run as a segmented AFFINE scan
      // (2x2-matrix block composition, scanAffine2), same single
      // materialized exchange as q_ewma. No closed scalar form exists
      // for the oracle this time; DuckDB replays the recurrence with a
      // RECURSIVE CTE stepping one row ordinal per iteration (depth =
      // max per-key row count — fine at oracle scale, and exactly the
      // sequential semantics the scan must reproduce).
      (s, dir) => graft.operators.Resample.holt(
          events(s, dir).select(col("user_id"), col("ts_ms"),
            col("event_id"), col("value")),
          keys = Seq("user_id"), alpha = 0.3, beta = 0.2, blockSize = 64)
        .withColumn("value", round(col("value"), 6))
        .orderBy("user_id", "ts_ms", "event_id"),
      Some("""WITH RECURSIVE e AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
            event_id, value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY epoch_ms(ts), event_id) AS rn
          FROM events),
        rec AS (
          SELECT user_id, ts_ms, event_id, value, rn,
            value::DOUBLE AS level, 0.0::DOUBLE AS trend
          FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.ts_ms, e.event_id, e.value, e.rn,
            0.3 * e.value + 0.7 * (r.level + r.trend) AS level,
            0.2 * ((0.3 * e.value + 0.7 * (r.level + r.trend)) - r.level)
              + 0.8 * r.trend AS trend
          FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        SELECT user_id, ts_ms, event_id, round(value, 6) AS value,
          round(level, 6) AS level, round(trend, 6) AS trend
        FROM rec ORDER BY user_id, ts_ms, event_id"""),
      headline = true),

    "q_decompose" -> QueryDef(
      // Classical additive seasonal decomposition (Resample.decompose,
      // period 24) over the regularized hourly event-count series per
      // type — trend (2x24 centered MA), hour-of-day seasonal indices
      // (centered phase means), residual. Composed with
      // resampleForwardFill so the series is genuinely gap-free. ONE key
      // exchange carries the MA window, the phase window, and the
      // centering window (superset rule; PlanShapeSpec pins it) — the
      // phase-mean state never joins back.
      (s, dir) => {
        val grid = graft.operators.Resample.resampleForwardFill(
            events(s, dir), keys = Seq("event_type"), tsMsCol = "ts_ms",
            valueCol = "value", tieCol = "event_id", stepMs = 3600000L)
          .select(col("event_type"),
            (col("bucket_ms") / 3600000L).cast("long").as("hr"),
            col("n_events"))
        graft.operators.Resample.decompose(
            grid, Seq("event_type"), "hr", "n_events", period = 24)
          .select(col("event_type"), col("hr"), col("n_events"),
            round(col("trend"), 6).as("trend"),
            round(col("seasonal"), 6).as("seasonal"))
          // the surfaced residual derives from the ROUNDED components:
          // v - trend - seasonal chains three engine-ordered float sums,
          // and the compounded low bits flaked a 6dp boundary at sf0.01
          // (observed: one row at .2265625); v - trend6 - seasonal6 is
          // bit-identical on both engines whenever the components match
          .withColumn("residual", when(col("trend").isNotNull,
            round(col("n_events").cast("double") - col("trend") - col("seasonal"), 6)))
          .orderBy("event_type", "hr")
      },
      Some("""WITH e AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hr
            FROM events),
        b AS (SELECT event_type, hr, count(*) AS n FROM e GROUP BY 1, 2),
        g AS (SELECT event_type,
            unnest(generate_series(min(hr), max(hr))) AS hr
          FROM b GROUP BY event_type),
        s AS (SELECT g.event_type, g.hr, coalesce(b.n, 0)::DOUBLE AS v,
            coalesce(b.n, 0)::BIGINT AS n_events
          FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.hr = b.hr),
        tr AS (SELECT event_type, hr, v, n_events,
            CASE WHEN count(v) OVER f1 = 24 AND count(v) OVER f2 = 24
              THEN (sum(v) OVER f1 + sum(v) OVER f2) / 48.0 END AS trend
          FROM s
          WINDOW f1 AS (PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
            f2 AS (PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        d AS (SELECT event_type, hr, v, n_events, trend, v - trend AS det,
            hr % 24 AS phase FROM tr),
        ph AS (SELECT event_type, phase, avg(det) AS sraw
          FROM d GROUP BY 1, 2),
        ctr AS (SELECT event_type, avg(sraw) AS center FROM ph
          WHERE sraw IS NOT NULL GROUP BY 1)
        SELECT d.event_type, d.hr, d.n_events, round(d.trend, 6) AS trend,
          round(ph.sraw - ctr.center, 6) AS seasonal,
          round(d.v - round(d.trend, 6)
            - round(ph.sraw - ctr.center, 6), 6) AS residual
        FROM d JOIN ph ON d.event_type = ph.event_type AND d.phase = ph.phase
        JOIN ctr ON d.event_type = ctr.event_type
        ORDER BY d.event_type, d.hr"""),
      headline = true),

    "q_seasonal_holt" -> QueryDef(
      // Seasonality-adjusted Holt (Resample.seasonalHolt): decompose's
      // fixed hour-of-day indices strip the daily cycle, the certified
      // 2-state segmented affine scan tracks level+trend of the
      // adjusted series, and fitted = level + seasonal. The scalable
      // stand-in for recursive Holt-Winters (whose seasonal state would
      // need an (m+2)-dim scan); the oracle replays decomposition in
      // plain SQL then the recurrence with the q_holt recursive CTE.
      (s, dir) => {
        val grid = graft.operators.Resample.resampleForwardFill(
            events(s, dir), keys = Seq("event_type"), tsMsCol = "ts_ms",
            valueCol = "value", tieCol = "event_id", stepMs = 3600000L)
          .select(col("event_type"),
            (col("bucket_ms") / 3600000L).cast("long").as("hr"),
            col("n_events"))
        graft.operators.Resample.seasonalHolt(
            grid, Seq("event_type"), "hr", "n_events", period = 24,
            alpha = 0.3, beta = 0.2, blockSize = 64)
          .select(col("event_type"), col("hr"),
            round(col("seasonal"), 6).as("seasonal"),
            round(col("adjusted"), 6).as("adjusted"),
            col("level"), col("trend"),
            round(col("fitted"), 6).as("fitted"))
          .orderBy("event_type", "hr")
      },
      Some("""WITH RECURSIVE e AS (SELECT event_type,
            epoch_ms(ts) // 3600000 AS hr FROM events),
        b AS (SELECT event_type, hr, count(*) AS n FROM e GROUP BY 1, 2),
        g AS (SELECT event_type,
            unnest(generate_series(min(hr), max(hr))) AS hr
          FROM b GROUP BY event_type),
        s AS (SELECT g.event_type, g.hr, coalesce(b.n, 0)::DOUBLE AS v
          FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.hr = b.hr),
        tr AS (SELECT event_type, hr, v,
            CASE WHEN count(v) OVER f1 = 24 AND count(v) OVER f2 = 24
              THEN (sum(v) OVER f1 + sum(v) OVER f2) / 48.0 END AS trend
          FROM s
          WINDOW f1 AS (PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
            f2 AS (PARTITION BY event_type ORDER BY hr
              ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        d AS (SELECT event_type, hr, v, trend, v - trend AS det,
            hr % 24 AS phase FROM tr),
        ph AS (SELECT event_type, phase, avg(det) AS sraw
          FROM d GROUP BY 1, 2),
        ctr AS (SELECT event_type, avg(sraw) AS center FROM ph
          WHERE sraw IS NOT NULL GROUP BY 1),
        r0 AS (SELECT d.event_type, d.hr,
            ph.sraw - ctr.center AS seasonal,
            d.v - (ph.sraw - ctr.center) AS a,
            row_number() OVER (PARTITION BY d.event_type ORDER BY d.hr) AS rn
          FROM d JOIN ph ON d.event_type = ph.event_type AND d.phase = ph.phase
          JOIN ctr ON d.event_type = ctr.event_type),
        rec AS (
          SELECT event_type, hr, seasonal, a, rn,
            a AS level, 0.0::DOUBLE AS trend
          FROM r0 WHERE rn = 1
          UNION ALL
          SELECT e2.event_type, e2.hr, e2.seasonal, e2.a, e2.rn,
            0.3 * e2.a + 0.7 * (r.level + r.trend) AS level,
            0.2 * ((0.3 * e2.a + 0.7 * (r.level + r.trend)) - r.level)
              + 0.8 * r.trend AS trend
          FROM rec r JOIN r0 e2 ON e2.event_type = r.event_type
            AND e2.rn = r.rn + 1)
        SELECT event_type, hr, round(seasonal, 6) AS seasonal,
          round(a, 6) AS adjusted, round(level, 6) AS level,
          round(trend, 6) AS trend,
          round(round(level, 6) + seasonal, 6) AS fitted
        FROM rec ORDER BY event_type, hr"""),
      headline = true),

    "q_string_sim" -> QueryDef(
      // the string-similarity function family over adjacent part names
      // per brand: native codegen'd Jaro / Jaro-Winkler (expressions.
      // JaroWinkler — Spark has no built-in Jaro family) next to the
      // built-in levenshtein, certified 6dp against DuckDB's independent
      // C++ implementations of the same three measures. One window
      // exchange; the similarity kernels run inside whole-stage codegen.
      (s, dir) => {
        import graft.functions.expressions.TextExpressions.{jaro, jaro_winkler}
        val w = Window.partitionBy(col("p_brand")).orderBy(col("p_partkey"))
        t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"),
            lead(col("p_name"), 1).over(w).as("next_name"))
          .filter(col("next_name").isNotNull)
          .select(col("p_partkey"),
            round(jaro(col("p_name"), col("next_name")), 6).as("jaro"),
            round(jaro_winkler(col("p_name"), col("next_name")), 6).as("jw"),
            levenshtein(col("p_name"), col("next_name")).cast("long").as("lev"))
          .orderBy("p_partkey")
      },
      Some("""WITH n AS (SELECT p_partkey, p_name,
          lead(p_name) OVER (PARTITION BY p_brand ORDER BY p_partkey)
            AS next_name
        FROM part)
        SELECT p_partkey, round(jaro_similarity(p_name, next_name), 6) AS jaro,
          round(jaro_winkler_similarity(p_name, next_name), 6) AS jw,
          levenshtein(p_name, next_name)::BIGINT AS lev
        FROM n WHERE next_name IS NOT NULL ORDER BY p_partkey""")),

    "q_scd2" -> QueryDef(
      // SCD Type-2 history build (operators.Scd): the event log becomes a
      // versioned dimension — one validity interval per maximal run of an
      // unchanged event_type per user, half-open [valid_from, valid_to),
      // NULL-open current row. ONE hash exchange end to end (marker
      // window, version aggregation, and valid_to lead all reuse the
      // user_id partitioning — pinned by ScdSpec).
      (s, dir) => graft.operators.Scd.scd2(events(s, dir),
          keys = Seq("user_id"), tsCol = "ts_ms", tieCol = "event_id",
          attrs = Seq("event_type"))
        .orderBy("user_id", "version"),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
          event_type FROM events),
        mark AS (SELECT user_id, ts_ms, event_id, event_type,
            -- the first row ALWAYS opens version 1 (Spark compares lagged
            -- attr STRUCTS with <=>, and the first row's NULL struct
            -- differs from any real struct — including one holding a NULL
            -- attr, where a scalar lag-IS DISTINCT FROM would yield 0)
            CASE WHEN lag(ts_ms) OVER
                (PARTITION BY user_id ORDER BY ts_ms, event_id) IS NULL
              THEN 1
              WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts_ms, event_id)
                IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS opens
          FROM e),
        ver AS (SELECT *, sum(opens) OVER (PARTITION BY user_id
            ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS version
          FROM mark),
        g AS (SELECT user_id, event_type, version::BIGINT AS version,
            min(ts_ms) AS valid_from, count(*)::BIGINT AS n_events
          FROM ver GROUP BY 1, 2, 3),
        f AS (SELECT user_id, event_type, version, valid_from,
            lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
              AS valid_to, n_events
          FROM g)
        SELECT user_id, event_type, version, valid_from, valid_to,
          valid_to IS NULL AS is_current, n_events
        FROM f ORDER BY user_id, version"""),
      headline = true),

    "q_scd2_lookup" -> QueryDef(
      // Effective-dated dimension lookup — the warehouse query SCD2
      // exists FOR: each purchase fact joined to the attribute version
      // valid AT its timestamp (the user's last non-purchase activity
      // state). Composition of two certified one-exchange operators:
      // Scd.scd2 builds the versioned dimension, KVOps.asofJoinBackward
      // attaches the as-of version (union-window — one key exchange, no
      // interval pair explosion; rightOrderCol=version makes same-ms
      // zero-length versions collapse to the survivor, matching the
      // half-open interval semantics). Purchases before any tracked
      // activity surface with NULL state (40 rows at sf0.01 — the null
      // path is exercised, not vacuous). Oracled via DuckDB's native
      // ASOF LEFT JOIN over the replayed version CTE.
      (s, dir) => {
        val ev = events(s, dir)
        val dim = graft.operators.Scd.scd2(
            ev.filter(col("event_type") =!= "purchase"),
            keys = Seq("user_id"), tsCol = "ts_ms", tieCol = "event_id",
            attrs = Seq("event_type"))
          .select(col("user_id"), col("event_type").as("state"),
            col("version"), col("valid_from"))
        val facts = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
        graft.operators.KVOps.asofJoinBackward(
            facts, dim, keys = Seq("user_id"),
            leftTime = "ts_ms", rightTime = "valid_from",
            payloadCols = Seq("state", "version"),
            rightOrderCol = Some("version"))
          .select(col("user_id"), col("ts_ms"), col("event_id"),
            round(col("value"), 2).as("value"),
            col("asof_state").as("state"),
            col("asof_version").cast("long").as("version"))
          .orderBy("user_id", "ts_ms", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
            event_type, value FROM events),
        ne AS (SELECT * FROM e WHERE event_type <> 'purchase'),
        mark AS (SELECT user_id, ts_ms, event_id, event_type,
            CASE WHEN lag(ts_ms) OVER w IS NULL THEN 1
              WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS opens
          FROM ne WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        ver AS (SELECT *, sum(opens) OVER (PARTITION BY user_id
            ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS version
          FROM mark),
        g AS (SELECT user_id, event_type AS state, version::BIGINT AS version,
            min(ts_ms) AS valid_from FROM ver GROUP BY 1, 2, 3),
        d AS (SELECT * FROM g QUALIFY row_number() OVER
            (PARTITION BY user_id, valid_from ORDER BY version DESC) = 1),
        facts AS (SELECT user_id, ts_ms, event_id, value FROM e
          WHERE event_type = 'purchase')
        SELECT f.user_id, f.ts_ms, f.event_id, round(f.value, 2) AS value,
          d.state, d.version
        FROM facts f ASOF LEFT JOIN d
          ON f.user_id = d.user_id AND f.ts_ms >= d.valid_from
        ORDER BY f.user_id, f.ts_ms, f.event_id"""),
      headline = true),

    "q_dq_by_group" -> QueryDef(
      // the per-slice audit (Quality.checkGrouped): the same constraint
      // batch measured inside every group — the "WHICH ingest slice is
      // broken" readout, one grouped aggregation pass, one result row
      // per (slice, constraint).
      (s, dir) => {
        import graft.operators.Quality._
        graft.operators.Quality.checkGrouped(t(s, dir, "lineitem"),
          Seq("l_returnflag"), Seq(
            Completeness("l_shipdate"),
            Bounds("l_quantity", 1, 50),
            MeanInRange("l_discount", 0.02, 0.08)))
      },
      Some("""WITH m AS (SELECT l_returnflag,
          round(avg(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END::DOUBLE), 6) AS m_c,
          round(avg(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END::DOUBLE), 6) AS m_b,
          round(avg(l_discount::DOUBLE), 6) AS m_m
        FROM lineitem GROUP BY 1)
        SELECT * FROM (
          SELECT l_returnflag, 'bounds:l_quantity' AS "check",
            'l_quantity' AS target, m_b AS metric, 1.0::DOUBLE AS threshold,
            m_b >= 1.0 - 1e-9 AS passed FROM m
          UNION ALL SELECT l_returnflag, 'completeness:l_shipdate',
            'l_shipdate', m_c, 1.0::DOUBLE, m_c >= 1.0 - 1e-9 FROM m
          UNION ALL SELECT l_returnflag, 'mean_in_range:l_discount',
            'l_discount', m_m, 0.02::DOUBLE,
            m_m >= 0.02 - 1e-9 AND m_m <= 0.08 + 1e-9 FROM m
        ) ORDER BY l_returnflag, "check"""")),

    "q_hopping_distinct" -> QueryDef(
      // sliding-window DISTINCT counting: unique users per 1-hour window
      // hopping every 30 minutes — the dashboard "active users" curve.
      // The window generator replicates each event to its 2 windows
      // (Expand projection, no join), then ONE keyed distinct-aggregate
      // (Spark plans the two-phase keyed pre-aggregate); the HLL switch
      // for extreme scale is q_approx_distinct's sketch family, this row
      // certifies the exact form.
      (s, dir) => events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count_distinct(col("user_id")).as("uniques"),
          count(lit(1)).as("n_events"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("uniques"), col("n_events"))
        .orderBy("window_start_ms"),
      Some("""WITH e AS (SELECT epoch_ms(ts) AS tms, user_id FROM events),
        w AS (SELECT tms, user_id,
            (tms // 1800000) * 1800000 - s.off AS wstart
          FROM e, (SELECT unnest([0, 1800000]) AS off) s
          WHERE tms < (tms // 1800000) * 1800000 - s.off + 3600000)
        SELECT wstart AS window_start_ms,
          count(DISTINCT user_id)::BIGINT AS uniques,
          count(*)::BIGINT AS n_events
        FROM w GROUP BY 1 ORDER BY window_start_ms""")),

    "q_skyline3" -> QueryDef(
      // 3-attribute skyline (Analytics.skylineN): lineitem cells no
      // other cell beats on (price low, quantity high, discount high)
      // simultaneously — the d>2 frontier the 2-attribute sort-scan
      // cannot express. Local-skyline-then-merge: per-partition
      // frontier scans, exact under any partitioning (a skyline point
      // survives its partition; dominator chains end at skyline
      // points), merged through the same scan with a loud candidate
      // guard. Oracle: literal quadratic NOT-EXISTS dominance over the
      // 60k distinct cells (feasible at sf0.01, and the definition
      // itself — no algorithm shared with the operator).
      (s, dir) => graft.operators.Analytics.skylineN(
          t(s, dir, "lineitem"),
          minCols = Seq("l_extendedprice"),
          maxCols = Seq("l_quantity", "l_discount"))
        .select(round(col("l_extendedprice"), 2).as("price"),
          round(col("l_quantity"), 2).as("qty"),
          round(col("l_discount"), 2).as("disc"), col("n_rows"))
        .orderBy("price", "qty", "disc"),
      Some("""WITH cells AS (
          SELECT l_extendedprice AS a, l_quantity AS b, l_discount AS c,
            count(*)::BIGINT AS n_rows
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
            AND l_discount IS NOT NULL
          GROUP BY 1, 2, 3)
        SELECT round(a, 2) AS price, round(b, 2) AS qty,
          round(c, 2) AS disc, n_rows
        FROM cells x WHERE NOT EXISTS (
          SELECT 1 FROM cells y
          WHERE y.a <= x.a AND y.b >= x.b AND y.c >= x.c
            AND (y.a < x.a OR y.b > x.b OR y.c > x.c))
        ORDER BY price, qty, disc""")),

    "q_quantiles_exact" -> QueryDef(
      // EXACT order-value deciles (Rank.quantilesDisc): the quantile
      // whose rank is max(1, ceil(p*n)) in the GLOBAL cents order —
      // computed by the two-phase distributed rank, so no
      // single-partition sort and no whole-column aggregation buffer
      // (Spark's exact `percentile` holds the full value multiset in
      // one buffer; percentile_approx trades exactness). The oracle
      // replays the identical rank formula — both engines do the same
      // IEEE ceil(p*n) on the same doubles, so selection is
      // bit-stable even when p*n lands a ulp off an integer.
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        graft.operators.Rank.quantilesDisc(o, "cents",
            probs = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
          .select(round(col("p"), 2).as("p"),
            (col("cents") / 100.0).as("value"))
          .orderBy("p")
      },
      Some("""WITH c AS (SELECT round(o_totalprice * 100)::BIGINT AS cents
          FROM orders),
        r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
            count(*) OVER () AS n FROM c),
        p AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS p)
        SELECT round(p.p, 2)::DOUBLE AS p, (cents / 100.0)::DOUBLE AS value
        FROM r JOIN p ON r.rn = greatest(1, ceil(p.p::DOUBLE * r.n)::BIGINT)
        ORDER BY p"""),
      headline = true),

    "q_pareto" -> QueryDef(
      // Pareto / contribution analysis: revenue per supplier, cumulative
      // share in descending order, and the 80%-head flag. The facts
      // aggregate FIRST (keyed shuffle, map-side partials); the
      // cumulative sum over the supplier frame rides Rank.runningSum's
      // two-phase distributed scan (bucket on -rev for the descending
      // order) and the grand total is a one-row broadcast — no
      // single-partition window anywhere (PlanShapeSpec pins it). The
      // prefix sums run on exact e4 fixed-point (the q10 idiom: 2dp
      // price x 2dp discount is exact at 4 decimals) so two-phase
      // summation is order-independent (float running sums would drift
      // with bucket placement); display rev half-up-rounds to cents in
      // INTEGER arithmetic; one divide to double at the end.
      (s, dir) => {
        val g = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000,
            0).cast("long")).as("__e4"))
        val cum = graft.operators.Rank.runningSum(g,
          Seq(col("__e4").desc, col("l_suppkey")),
          bucketOn = -col("__e4"), value = col("__e4"), out = "__crev")
        val tot = g.agg(sum(col("__e4")).as("__tot"))
        cum.crossJoin(broadcast(tot))
          .select(col("l_suppkey"),
            (expr("(__e4 + 50) div 100") / 100.0).as("rev"),
            round(col("__crev") / col("__tot").cast("double"), 6).as("cum_share"))
          .withColumn("head80", col("cum_share") <= 0.8)
          .orderBy(col("rev").desc, col("l_suppkey"))
      },
      Some("""WITH g AS (SELECT l_suppkey,
          sum(round(l_extendedprice * (1 - l_discount) * 10000)::BIGINT) AS e4
        FROM lineitem GROUP BY 1),
        c AS (SELECT l_suppkey, e4,
            sum(e4) OVER (ORDER BY e4 DESC, l_suppkey
              ROWS UNBOUNDED PRECEDING) AS crev,
            sum(e4) OVER () AS tot
          FROM g)
        SELECT l_suppkey, ((e4 + 50) // 100) / 100.0 AS rev,
          round(crev / tot, 6) AS cum_share,
          round(crev / tot, 6) <= 0.8 AS head80
        FROM c ORDER BY rev DESC, l_suppkey""")),

    "q_transitions" -> QueryDef(
      // first-order Markov transition matrix of the event stream: per
      // user, each event pairs with its predecessor (one lag window),
      // then one hash agg builds the (prev, next) counts and a
      // prev-partitioned window normalizes rows into probabilities —
      // the sequence model behind "what do users do after X", two keyed
      // shuffles total (user window, then the 5x5 matrix agg).
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
        events(s, dir)
          .select(col("user_id"), col("ts_ms"), col("event_id"),
            col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", round(col("n") /
            sum(col("n")).over(Window.partitionBy(col("prev"))), 6))
          .orderBy("prev", "next")
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
          event_type FROM events),
        s AS (SELECT event_type, lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts_ms, event_id) AS prev FROM e),
        g AS (SELECT prev, event_type AS next, count(*)::BIGINT AS n
          FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
        SELECT prev, next, n,
          round(n / sum(n) OVER (PARTITION BY prev), 6) AS p
        FROM g ORDER BY prev, next""")),

    "q_seasonal_profile" -> QueryDef(
      // seasonal-profile anomaly scoring: per (event_type, hour-of-day)
      // the mean/stddev profile (one agg over the facts), broadcast back
      // onto every event as a z-score — the 120-row profile is the
      // broadcast side, so the fact table never reshuffles; the per-
      // observation dual of the CUSUM chart for cyclic baselines.
      (s, dir) => {
        val ev = events(s, dir).select(col("event_id"), col("event_type"),
          hour(col("ts")).cast("long").as("hr"), col("value"))
        val prof = ev.groupBy("event_type", "hr")
          .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
        ev.join(broadcast(prof), Seq("event_type", "hr"))
          .select(col("event_id"), col("event_type"), col("hr"),
            round(col("value"), 6).as("value"),
            round((col("value") - col("mu")) / col("sd"), 6).as("z"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, event_type,
          extract(hour FROM ts)::BIGINT AS hr, value FROM events),
        p AS (SELECT event_type, hr, avg(value) AS mu,
          stddev_samp(value) AS sd FROM e GROUP BY 1, 2)
        SELECT e.event_id, e.event_type, e.hr, round(e.value, 6) AS value,
          round((e.value - p.mu) / p.sd, 6) AS z
        FROM e JOIN p USING (event_type, hr) ORDER BY e.event_id""")),

    "q_regression" -> QueryDef(
      // per-group closed-form OLS (the regr_* aggregate family): slope,
      // intercept, R², and the supporting moments of price-on-quantity
      // per return flag — one hash-aggregate pass with map-side partials
      // (each regr_* is a second-moment accumulator, so scale cost equals
      // q1_agg regardless of group sizes). Identical built-ins both sides.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6).as("avg_qty"),
          round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 6).as("avg_price"))
        .orderBy("rf"),
      Some("""SELECT l_returnflag AS rf,
          regr_count(l_extendedprice, l_quantity)::BIGINT AS n,
          round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
          round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
          round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
          round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
          round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_price
        FROM lineitem GROUP BY 1 ORDER BY rf""")),

    "q_dq_checks" -> QueryDef(
      // declarative data-quality audit (operators.Quality): eight
      // constraint families — completeness, composite-key uniqueness,
      // bounds, set membership, regex shape, volume, mean band — ALL
      // measured in ONE aggregation pass (single scan; the exact
      // distinct adds one Expand-free keyed pre-aggregate). The oracle
      // replays every metric formula including the null-marked
      // chr(1)/chr(2) uniqueness key, so the audit itself is audited.
      (s, dir) => {
        import graft.operators.Quality._
        graft.operators.Quality.check(t(s, dir, "lineitem"), Seq(
          Completeness("l_shipdate"),
          Unique(Seq("l_orderkey", "l_linenumber")),
          Bounds("l_quantity", 1, 50),
          Bounds("l_extendedprice", 0, 50000),
          MemberOf("l_returnflag", Seq("A", "N", "R")),
          Matches("l_linestatus", "[OF]"),
          MinRows(1000L),
          MeanInRange("l_discount", 0.02, 0.08)))
      },
      Some("""WITH m AS (SELECT
          round(avg(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END::DOUBLE), 6) AS m_complete,
          round(count(DISTINCT concat_ws(chr(1),
              coalesce(l_orderkey::VARCHAR, chr(2)),
              coalesce(l_linenumber::VARCHAR, chr(2))))::DOUBLE / count(*), 6) AS m_unique,
          round(avg(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END::DOUBLE), 6) AS m_qty,
          round(avg(CASE WHEN l_extendedprice BETWEEN 0 AND 50000 THEN 1 ELSE 0 END::DOUBLE), 6) AS m_price,
          round(avg(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END::DOUBLE), 6) AS m_member,
          round(avg(CASE WHEN l_linestatus IS NOT NULL
            AND regexp_matches(l_linestatus, '^(?:[OF])$') THEN 1 ELSE 0 END::DOUBLE), 6) AS m_regex,
          round(least(count(*)::DOUBLE / 1000, 1.0::DOUBLE), 6) AS m_rows,
          round(avg(l_discount::DOUBLE), 6) AS m_mean
        FROM lineitem)
        SELECT * FROM (
          SELECT 'bounds:l_extendedprice' AS "check", 'l_extendedprice' AS target,
            m_price AS metric, 1.0::DOUBLE AS threshold, m_price >= 1.0 - 1e-9 AS passed FROM m
          UNION ALL SELECT 'bounds:l_quantity', 'l_quantity', m_qty, 1.0::DOUBLE,
            m_qty >= 1.0 - 1e-9 FROM m
          UNION ALL SELECT 'completeness:l_shipdate', 'l_shipdate', m_complete, 1.0::DOUBLE,
            m_complete >= 1.0 - 1e-9 FROM m
          UNION ALL SELECT 'matches:l_linestatus', 'l_linestatus', m_regex, 1.0::DOUBLE,
            m_regex >= 1.0 - 1e-9 FROM m
          UNION ALL SELECT 'mean_in_range:l_discount', 'l_discount', m_mean, 0.02::DOUBLE,
            m_mean >= 0.02 - 1e-9 AND m_mean <= 0.08 + 1e-9 FROM m
          UNION ALL SELECT 'member_of:l_returnflag', 'l_returnflag', m_member, 1.0::DOUBLE,
            m_member >= 1.0 - 1e-9 FROM m
          UNION ALL SELECT 'min_rows:1000', '*', m_rows, 1.0::DOUBLE,
            m_rows >= 1.0 - 1e-9 FROM m
          UNION ALL SELECT 'unique:l_orderkey+l_linenumber', 'l_orderkey,l_linenumber',
            m_unique, 1.0::DOUBLE, m_unique >= 1.0 - 1e-9 FROM m
        ) ORDER BY "check""""),
      headline = true),

    "q_interval_coalesce" -> QueryDef(
      // interval coalescing (operators.Intervals): each event opens a
      // closed 5-minute activity interval; overlapping intervals merge
      // into maximal islands per user. Output is the per-user island
      // count and total covered milliseconds — the session-coverage
      // question sessionization windows can't answer (islands carry exact
      // merged extents, not gap-delimited groups). One key shuffle total.
      (s, dir) => {
        val iv = events(s, dir).select(col("user_id"),
          col("ts_ms").as("s"), (col("ts_ms") + lit(300000L)).as("e"))
        graft.operators.Intervals.coalesce(iv, Seq("user_id"), "s", "e")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("island_end") - col("island_start")).as("covered_ms"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id, epoch_ms(ts) AS s,
          epoch_ms(ts) + 300000 AS e FROM events),
        o AS (SELECT user_id, s, e,
            max(e) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv),
        i AS (SELECT user_id, s, e,
            sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e
                ROWS UNBOUNDED PRECEDING) AS island
          FROM o),
        g AS (SELECT user_id, island, min(s) AS island_start,
            max(e) AS island_end
          FROM i GROUP BY 1, 2)
        SELECT user_id, count(*)::BIGINT AS n_islands,
          sum(island_end - island_start)::BIGINT AS covered_ms
        FROM g GROUP BY 1 ORDER BY user_id"""),
      headline = true),

    "q_interval_gaps" -> QueryDef(
      // the islands' complement (Intervals.gaps): per-user count and
      // total span of the idle gaps BETWEEN 5-minute activity islands —
      // same one-shuffle pedigree as coalesce (gaps derive from islands
      // by one lag over the same key partitioning). Users with a single
      // island have no gaps and drop out (inner aggregation semantics,
      // mirrored in the oracle by the pm IS NOT NULL filter shape).
      (s, dir) => {
        val iv = events(s, dir).select(col("user_id"),
          col("ts_ms").as("s"), (col("ts_ms") + lit(300000L)).as("e"))
        graft.operators.Intervals.gaps(iv, Seq("user_id"), "s", "e")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("gap_end") - col("gap_start")).as("idle_ms"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id, epoch_ms(ts) AS s,
          epoch_ms(ts) + 300000 AS e FROM events),
        o AS (SELECT user_id, s, e,
            max(e) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv),
        i AS (SELECT user_id, s, e,
            sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e
                ROWS UNBOUNDED PRECEDING) AS island
          FROM o),
        g AS (SELECT user_id, island, min(s) AS island_start,
            max(e) AS island_end
          FROM i GROUP BY 1, 2),
        gp AS (SELECT user_id, island_start,
            lag(island_end) OVER (PARTITION BY user_id ORDER BY island) AS prev_end
          FROM g)
        SELECT user_id, count(*)::BIGINT AS n_gaps,
          sum(island_start - prev_end)::BIGINT AS idle_ms
        FROM gp WHERE prev_end IS NOT NULL
        GROUP BY 1 ORDER BY user_id""")),

    "q_interval_subtract" -> QueryDef(
      // Interval-set SUBTRACTION (Intervals.subtract): per user, the
      // maximal spans of 30-minute view coverage NOT inside any 1-hour
      // error window — "clean viewing time". One boundary sweep: +-1
      // deltas at each bound, both running coverages in one window pass,
      // islands merge — all on a single hashpartitioning(user_id)
      // exchange (pinned). Fully oracled by replaying the sweep in SQL.
      (s, dir) => {
        val ev = events(s, dir)
        val l = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_ms").as("s"),
            (col("ts_ms") + lit(1800000L)).as("e"))
        val r = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts_ms").as("s"),
            (col("ts_ms") + lit(3600000L)).as("e"))
        graft.operators.Intervals.subtract(l, r, Seq("user_id"),
            "s", "e", "s", "e")
          .orderBy("user_id", "seg_start")
      },
      Some("""WITH l AS (SELECT user_id, epoch_ms(ts) AS s,
            epoch_ms(ts) + 1800000 AS e FROM events WHERE event_type = 'view'),
        r AS (SELECT user_id, epoch_ms(ts) AS s,
            epoch_ms(ts) + 3600000 AS e FROM events WHERE event_type = 'error'),
        b AS (
          SELECT user_id, s AS pos, 1 AS dl, 0 AS dr FROM l
          UNION ALL SELECT user_id, e + 1, -1, 0 FROM l
          UNION ALL SELECT user_id, s, 0, 1 FROM r
          UNION ALL SELECT user_id, e + 1, 0, -1 FROM r),
        g AS (SELECT user_id, pos, sum(dl) AS dl, sum(dr) AS dr
          FROM b GROUP BY user_id, pos),
        c AS (SELECT user_id, pos,
            sum(dl) OVER w AS covl, sum(dr) OVER w AS covr,
            lead(pos) OVER w AS next_pos
          FROM g WINDOW w AS (PARTITION BY user_id ORDER BY pos)),
        q AS (SELECT user_id, pos, next_pos,
            (covl > 0 AND covr = 0 AND next_pos IS NOT NULL) AS qual FROM c),
        i0 AS (SELECT user_id, pos, next_pos, qual,
            coalesce(lag(qual) OVER (PARTITION BY user_id ORDER BY pos),
              false) AS prev_qual
          FROM q),
        i AS (SELECT user_id, pos, next_pos, qual,
            sum(CASE WHEN qual AND NOT prev_qual THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY pos) AS island
          FROM i0)
        SELECT user_id, min(pos)::BIGINT AS seg_start,
          (max(next_pos) - 1)::BIGINT AS seg_end
        FROM i WHERE qual GROUP BY user_id, island
        ORDER BY user_id, seg_start"""),
      headline = true),

    "q_interval_intersect" -> QueryDef(
      // Interval-set INTERSECTION (Intervals.intersect): the spans where
      // view coverage and an error window OVERLAP — same single-shuffle
      // sweep with the other keep-condition, summarized per user (total
      // overlapped ms and span count) to keep the row compact.
      (s, dir) => {
        val ev = events(s, dir)
        val l = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_ms").as("s"),
            (col("ts_ms") + lit(1800000L)).as("e"))
        val r = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts_ms").as("s"),
            (col("ts_ms") + lit(3600000L)).as("e"))
        graft.operators.Intervals.intersect(l, r, Seq("user_id"),
            "s", "e", "s", "e")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("seg_end") - col("seg_start") + 1L).as("overlap_ms"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (SELECT user_id, epoch_ms(ts) AS s,
            epoch_ms(ts) + 1800000 AS e FROM events WHERE event_type = 'view'),
        r AS (SELECT user_id, epoch_ms(ts) AS s,
            epoch_ms(ts) + 3600000 AS e FROM events WHERE event_type = 'error'),
        b AS (
          SELECT user_id, s AS pos, 1 AS dl, 0 AS dr FROM l
          UNION ALL SELECT user_id, e + 1, -1, 0 FROM l
          UNION ALL SELECT user_id, s, 0, 1 FROM r
          UNION ALL SELECT user_id, e + 1, 0, -1 FROM r),
        g AS (SELECT user_id, pos, sum(dl) AS dl, sum(dr) AS dr
          FROM b GROUP BY user_id, pos),
        c AS (SELECT user_id, pos,
            sum(dl) OVER w AS covl, sum(dr) OVER w AS covr,
            lead(pos) OVER w AS next_pos
          FROM g WINDOW w AS (PARTITION BY user_id ORDER BY pos)),
        q AS (SELECT user_id, pos, next_pos,
            (covl > 0 AND covr > 0 AND next_pos IS NOT NULL) AS qual FROM c),
        i0 AS (SELECT user_id, pos, next_pos, qual,
            coalesce(lag(qual) OVER (PARTITION BY user_id ORDER BY pos),
              false) AS prev_qual
          FROM q),
        i AS (SELECT user_id, pos, next_pos, qual,
            sum(CASE WHEN qual AND NOT prev_qual THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY pos) AS island
          FROM i0),
        segs AS (SELECT user_id, min(pos) AS seg_start,
            max(next_pos) - 1 AS seg_end
          FROM i WHERE qual GROUP BY user_id, island)
        SELECT user_id, count(*)::BIGINT AS n_spans,
          sum(seg_end - seg_start + 1)::BIGINT AS overlap_ms
        FROM segs GROUP BY user_id ORDER BY user_id""")),

    "q_asof_nearest" -> QueryDef(
      // nearest-mode as-of (KVOps.asofJoinNearest, pandas
      // direction='nearest'): each click attached to the user's closest
      // purchase within 1h either way — min |dt|, backward wins distance
      // ties, deterministic order-col tie-break within a timestamp. Both
      // direction carries ride ONE hash exchange (OperatorsSpec pin);
      // the oracle replays the full preference order with a correlated
      // LIMIT 1 (no native nearest in SQL — fine at oracle scale).
      (s, dir) => {
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_ms"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
        KVOps.asofJoinNearest(clicks, purchases, keys = Seq("user_id"),
            leftTime = "ts_ms", rightTime = "ts_ms",
            payloadCols = Seq("value"), rightOrderCol = Some("event_id"),
            toleranceMs = Some(3600000L))
          .select(col("event_id"), col("user_id"),
            round(col("asof_value"), 2).as("near_value"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
          FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id AS seq, value
          FROM events WHERE event_type = 'purchase')
        SELECT c.event_id, c.user_id,
          (SELECT round(p.value, 2) FROM p
           WHERE p.user_id = c.user_id
             AND abs(p.ts_ms - c.ts_ms) <= 3600000
           ORDER BY abs(p.ts_ms - c.ts_ms),
             CASE WHEN p.ts_ms <= c.ts_ms THEN 0 ELSE 1 END,
             CASE WHEN p.ts_ms <= c.ts_ms THEN -p.seq ELSE p.seq END
           LIMIT 1) AS near_value
        FROM c ORDER BY event_id"""),
      headline = true),

    "q_asof_join" -> QueryDef(
      // the generic as-of join OPERATOR (KVOps.asofJoinBackward — one
      // shuffle, union-window form), oracled against DuckDB's native
      // ASOF JOIN.
      (s, dir) => {
        val ev = events(s, dir)
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
        KVOps.asofJoinBackward(
            ev.select(col("event_id"), col("user_id"), col("ts_ms")),
            signups, keys = Seq("user_id"),
            leftTime = "ts_ms", rightTime = "ts_ms",
            payloadCols = Seq("value"), rightOrderCol = Some("event_id"))
          .select(col("event_id"), col("user_id"),
            round(col("asof_value"), 2).as("signup_value"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id, round(s.value, 2) AS signup_value
        FROM events e ASOF LEFT JOIN
          (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
          ON e.user_id = s.user_id AND epoch_ms(e.ts) >= epoch_ms(s.ts)
        ORDER BY e.event_id"""),
      headline = true),

    "q_asof_tolerance" -> QueryDef(
      // as-of with a STALENESS BOUND (KVOps.asofJoinBackward toleranceMs
      // — pandas merge_asof's tolerance): each purchase attaches the
      // user's most recent error only when it happened within 30 minutes;
      // older matches null out AFTER the one window pass, so the plan is
      // identical to the unbounded as-of. Oracled with DuckDB's native
      // ASOF plus the tolerance CASE.
      (s, dir) => {
        val ev = events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts_ms"), col("event_id").as("err_id"))
        KVOps.asofJoinBackward(
            ev.filter(col("event_type") === "purchase")
              .select(col("event_id"), col("user_id"), col("ts_ms")),
            errors, keys = Seq("user_id"),
            leftTime = "ts_ms", rightTime = "ts_ms",
            payloadCols = Seq("err_id"), rightOrderCol = Some("err_id"),
            toleranceMs = Some(1800000L))
          .select(col("event_id"), col("user_id"),
            col("asof_err_id").as("recent_err_id"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id,
          CASE WHEN epoch_ms(p.ts) - epoch_ms(er.ts) <= 1800000
            THEN er.err_id END AS recent_err_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
          (SELECT user_id, ts, event_id AS err_id FROM events
           WHERE event_type = 'error') er
          ON p.user_id = er.user_id AND epoch_ms(p.ts) >= epoch_ms(er.ts)
        ORDER BY p.event_id""")),

    "q_asof_forward" -> QueryDef(
      // the FORWARD as-of join (KVOps.asofJoinForward — same one-shuffle
      // union-window shape, ordering flipped): each event paired with the
      // user's next purchase at-or-after it. Oracled against DuckDB's
      // native forward ASOF (`l.ts <= r.ts`).
      (s, dir) => {
        val ev = events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
        KVOps.asofJoinForward(
            ev.select(col("event_id"), col("user_id"), col("ts_ms")),
            purchases, keys = Seq("user_id"),
            leftTime = "ts_ms", rightTime = "ts_ms",
            payloadCols = Seq("value"), rightOrderCol = Some("event_id"))
          .select(col("event_id"), col("user_id"),
            round(col("asof_value"), 2).as("next_purchase_value"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id, round(p.value, 2) AS next_purchase_value
        FROM events e ASOF LEFT JOIN
          (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND epoch_ms(e.ts) <= epoch_ms(p.ts)
        ORDER BY e.event_id""")),

    "q_asof_sql" -> QueryDef(
      // the as-of join reached from PURE SQL: the graft_asof table
      // function (GraftExtensions) routes to KVOps.asofJoinBackward, so
      // a SQL user gets q_asof_join's exact semantics without the Column
      // API — oracled against DuckDB's native ASOF JOIN. The TVF inlines
      // the analyzed union-window plan: the SQL path keeps the ONE-hash-
      // exchange no-join shape (PlanShapeSpec pins it).
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        val ev = loadEvents(s, dir)
        ev.select(col("event_id"), col("user_id"), col("ts_ms"))
          .createOrReplaceTempView("graft_asof_l")
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
          .createOrReplaceTempView("graft_asof_r")
        s.sql("""SELECT event_id, user_id, round(asof_value, 2) AS signup_value
          FROM graft_asof('graft_asof_l', 'graft_asof_r', 'user_id',
                          'ts_ms', 'ts_ms', 'value', 'backward', 'event_id')
          ORDER BY event_id""")
      },
      Some("""SELECT e.event_id, e.user_id, round(s.value, 2) AS signup_value
        FROM events e ASOF LEFT JOIN
          (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
          ON e.user_id = s.user_id AND epoch_ms(e.ts) >= epoch_ms(s.ts)
        ORDER BY e.event_id"""),
      headline = true),

    "q_skew_distinct" -> QueryDef(
      // two-phase distinct count (Skew.distinctCountTwoPhase) — identical
      // result to count(DISTINCT), skew-safe shuffle shape.
      (s, dir) => graft.operators.Skew.distinctCountTwoPhase(
          t(s, dir, "events"), Seq("event_type"), "user_id", "n_users")
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1 ORDER BY event_type""")),

    "q_salted_join" -> QueryDef(
      // Skew.saltedJoin — row-identical to the plain equi-join (the salt
      // spreads each hot key over saltFactor reducers); oracled against the
      // unsalted SQL join, aggregated so the result is order-insensitive.
      (s, dir) => {
        val l = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.operators.Skew.saltedJoin(l, o, Seq("l_orderkey"), saltFactor = 8)
          .groupBy(col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q_bucketed_join" -> QueryDef(
      // Write-once bucketed tables joined with NO exchange on either side
      // (see bucketedFor): at 100 TB a repeated fact-fact join on the
      // same key is exactly what bucketing exists for — the shuffle moves
      // to write time and amortizes over every later join. The only
      // exchange in this plan is the groupBy ABOVE the join
      // (PlanShapeSpec pins that neither orderkey ever hash-partitions).
      // Values are identical to the plain join, so the row is fully
      // oracled against DuckDB's ordinary join.
      (s, dir) => {
        val (lt, ot) = bucketedFor(s, dir)
        s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      // headline times the CO-LOCATED read path (tables memoized per
      // dataset, so only the first run pays the bucket write)
      headline = true),

    "q_zorder_scan" -> QueryDef(
      // Z-order layout (operators.Layout): lineitem rewritten ONCE
      // clustered on (l_orderkey, l_partkey) — quantile-bucketed Morton
      // key, range-sorted write — then scanned with a predicate on BOTH
      // clustered columns. At 100 TB the win is parquet footer min/max
      // skipping on EITHER column from one layout (the reference's
      // key-sorted-SST pruning, kv/lsm/levels.go, widened to n
      // dimensions); the values are layout-independent, so the row is
      // fully oracled against DuckDB over the ORIGINAL table. LayoutSpec
      // pins the clustering property itself (bounded per-file spans on
      // both dimensions, row parity with the source).
      (s, dir) => s.read.parquet(zorderFor(s, dir))
        .filter(col("l_orderkey") <= 1000 && col("l_partkey") <= 150)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n_items,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem WHERE l_orderkey <= 1000 AND l_partkey <= 150
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      // headline times the CLUSTERED READ (layout memoized per dataset —
      // only the first run pays the z-order write, like q_bucketed_join)
      headline = true),

    "q_hilbert_key" -> QueryDef(
      // The Hilbert curve position ITSELF, fully oracled: fixed
      // power-of-two buckets (no quantile fit — this row certifies the
      // curve math, not the layout) and the kernel's quadrant-rotation
      // rounds replayed in DuckDB as generated integer-only CTEs
      // (hilbertOracleSql). LayoutSpec separately pins the curve's
      // adjacency/bijection properties and its locality win over Morton;
      // this row pins the EXACT position of every row cross-engine.
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 400)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 64).cast("int").as("bx"),
          (col("l_suppkey") % 64).cast("int").as("by"))
        .withColumn("h", graft.functions.expressions.LayoutExpressions
          .hilbert_key(col("bx"), col("by"), 6))
        .orderBy("l_orderkey", "l_linenumber"),
      Some(hilbertOracleSql(6,
        src = "SELECT l_orderkey, l_linenumber, " +
          "(l_partkey % 64)::INT AS bx, (l_suppkey % 64)::INT AS by, " +
          "(l_partkey % 64)::BIGINT AS x, (l_suppkey % 64)::BIGINT AS y, " +
          "0::BIGINT AS d FROM lineitem WHERE l_orderkey <= 400",
        outCols = "l_orderkey, l_linenumber, bx, by",
        orderBy = "l_orderkey, l_linenumber"))),

    "q_hilbert_key_sql" -> QueryDef(
      // the curve position from PURE SQL: the hilbert_key scalar
      // function (GraftExtensions) on fixed buckets, same generated
      // integer-CTE oracle as q_hilbert_key over a different slice.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "lineitem").createOrReplaceTempView("graft_hk_li")
        s.sql("""SELECT l_orderkey, l_linenumber, bx, by,
            hilbert_key(bx, by, 6) AS h
          FROM (SELECT l_orderkey, l_linenumber,
              CAST(l_partkey % 64 AS INT) AS bx,
              CAST(l_suppkey % 64 AS INT) AS by
            FROM graft_hk_li WHERE l_orderkey <= 200)
          ORDER BY l_orderkey, l_linenumber""")
      },
      Some(hilbertOracleSql(6,
        src = "SELECT l_orderkey, l_linenumber, " +
          "(l_partkey % 64)::INT AS bx, (l_suppkey % 64)::INT AS by, " +
          "(l_partkey % 64)::BIGINT AS x, (l_suppkey % 64)::BIGINT AS y, " +
          "0::BIGINT AS d FROM lineitem WHERE l_orderkey <= 200",
        outCols = "l_orderkey, l_linenumber, bx, by",
        orderBy = "l_orderkey, l_linenumber"))),

    "q_hilbert_scan" -> QueryDef(
      // Hilbert-curve layout (Layout.writeHilbertOrdered): the
      // q_zorder_scan read over the TIGHTER curve — consecutive key
      // values are always grid-adjacent (LayoutSpec measures hilbert
      // worst-chunk spans strictly below Morton's off power-of-4
      // alignment), so per-file min/max spans shrink and footer
      // pruning keeps fewer files for the same two-column predicate.
      // Values are layout-independent — fully oracled against DuckDB
      // over the ORIGINAL table, same as q_zorder_scan. Revenue is
      // summed in EXACT decimal (the q_agg_view convention): the
      // clustered rewrite reorders rows, and a double sum is
      // order-dependent (measured: one cent of drift at sf0.01), so
      // only an order-independent exact sum can hash-match a layout
      // the oracle never sees.
      (s, dir) => s.read.parquet(hilbertFor(s, dir))
        .filter(col("l_orderkey") <= 1000 && col("l_partkey") <= 150)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum((col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount")).cast("decimal(18,2)"))
            .cast("decimal(38,4)")).cast("double"), 2).as("revenue"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n_items,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum((l_extendedprice::DECIMAL(18,2) *
            (1 - l_discount)::DECIMAL(18,2))::DECIMAL(38,4))::DOUBLE, 2) AS revenue
        FROM lineitem WHERE l_orderkey <= 1000 AND l_partkey <= 150
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      // headline times the CLUSTERED READ (layout memoized per dataset)
      headline = true),

    "q_agg_view" -> QueryDef(
      // Incrementally-maintained materialized aggregate (operators.AggView):
      // the orders GROUP BY is built from a base third of the table and
      // REFRESHED with two O(delta) appends — partial-agg roots merged on
      // read, the LSM discipline applied to aggregate state. Because
      // count/sum/min/max are monoids over per-row decimal-cast values,
      // the incremental view is bit-identical to DuckDB's one-shot GROUP
      // BY over the whole table — which is exactly the oracle. The view
      // is memoized per dataset (bucketedFor convention), so bench runs
      // time the MERGE-ON-READ path across the three roots.
      (s, dir) => graft.operators.AggView
        .readAggView(s, aggViewFor(s, dir))
        .select("o_orderstatus", "o_orderpriority", "cnt",
          "o_totalprice_sum", "o_totalprice_min", "o_totalprice_max",
          "o_totalprice_avg", "o_totalprice_std")
        .orderBy("o_orderstatus", "o_orderpriority"),
      Some("""WITH p AS (SELECT o_orderstatus, o_orderpriority,
          count(*) AS cnt,
          sum(o_totalprice::DECIMAL(18,2)) AS s,
          min(o_totalprice::DECIMAL(18,2)) AS mn,
          max(o_totalprice::DECIMAL(18,2)) AS mx,
          sum((o_totalprice::DECIMAL(18,2) * o_totalprice::DECIMAL(18,2))::DECIMAL(38,4)) AS sq
        FROM orders GROUP BY o_orderstatus, o_orderpriority)
        SELECT o_orderstatus, o_orderpriority, cnt,
          round(s::DOUBLE, 2) AS o_totalprice_sum,
          round(mn::DOUBLE, 2) AS o_totalprice_min,
          round(mx::DOUBLE, 2) AS o_totalprice_max,
          round(s::DOUBLE / cnt, 6) AS o_totalprice_avg,
          round(sqrt(greatest(0.0, sq::DOUBLE / cnt - (s::DOUBLE / cnt) * (s::DOUBLE / cnt))), 6)
            AS o_totalprice_std
        FROM p ORDER BY o_orderstatus, o_orderpriority"""),
      headline = true),

    "q_agg_view_distinct" -> QueryDef(
      // Distinct counting INSIDE the incremental view: exact distinct is
      // not a monoid, so the view carries per-root HLL sketches and
      // merges them at read (hll_union_agg) — the only refresh shape that
      // stays O(delta) at 100 TB. Sketch estimates can't hash-match an
      // oracle; the gate certifies the hard property instead: every
      // group's merged estimate lands within 5% of the exact distinct
      // count over everything ingested.
      (s, dir) => {
        val view = graft.operators.AggView.readAggView(s, aggViewFor(s, dir))
          .select(col("o_orderstatus"), col("o_orderpriority"),
            col("o_custkey_approx_distinct"))
        val exact = t(s, dir, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(countDistinct(col("o_custkey")).as("exact"))
        view.join(exact, Seq("o_orderstatus", "o_orderpriority"))
          .agg(max(abs(col("o_custkey_approx_distinct") - col("exact")) /
            col("exact")).as("err"))
          .select(lit("agg_view_distinct").as("gate"),
            (col("err") <= 0.05).as("floor_met"))
      },
      Some("SELECT 'agg_view_distinct' AS gate, true AS floor_met")),

    "q_agg_view_hist" -> QueryDef(
      // Mergeable percentiles from the incremental view's equi-width
      // histogram state (AggView histCols): counts are monoids, so the
      // merged histogram equals a one-shot histogram over the union of
      // all ingested batches, and the percentile estimate (first bucket
      // whose cumulative count reaches q*n, reported as its right edge)
      // is DETERMINISTIC — fully oracled by replaying bucket/cum/crossing
      // in SQL. Accuracy vs the exact quantile is the gate row's bound.
      (s, dir) => graft.operators.AggView
        .readAggView(s, aggViewFor(s, dir))
        .select("o_orderstatus", "o_orderpriority",
          "o_totalprice_p50", "o_totalprice_p90", "o_totalprice_p99")
        .orderBy("o_orderstatus", "o_orderpriority"),
      Some("""WITH e AS (SELECT o_orderstatus, o_orderpriority,
            (least(greatest(floor(o_totalprice / 10000.0), -1), 60))::BIGINT + 1 AS b
          FROM orders),
        bkt AS (SELECT o_orderstatus, o_orderpriority, b, count(*) AS c
          FROM e GROUP BY o_orderstatus, o_orderpriority, b),
        cum AS (SELECT *, sum(c) OVER (PARTITION BY o_orderstatus, o_orderpriority
              ORDER BY b) AS cum,
            sum(c) OVER (PARTITION BY o_orderstatus, o_orderpriority) AS n
          FROM bkt)
        SELECT o_orderstatus, o_orderpriority,
          round(min(CASE WHEN cum >= 0.5::DOUBLE * n THEN b * 10000.0 END)::DOUBLE, 6)
            AS o_totalprice_p50,
          round(min(CASE WHEN cum >= 0.9::DOUBLE * n THEN b * 10000.0 END)::DOUBLE, 6)
            AS o_totalprice_p90,
          round(min(CASE WHEN cum >= 0.99::DOUBLE * n THEN b * 10000.0 END)::DOUBLE, 6)
            AS o_totalprice_p99
        FROM cum GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderstatus, o_orderpriority"""),
      headline = false),

    "q_agg_view_hist_gate" -> QueryDef(
      // ORACLED accuracy gate: every histogram percentile sits within one
      // bin width (10000) of the exact DISCRETE quantile — strict by
      // construction (the crossing bucket contains the order statistic
      // at ceil(q*n)), where an interpolated quantile on sparse keys
      // could drift between order stats.
      (s, dir) => {
        val view = graft.operators.AggView.readAggView(s, aggViewFor(s, dir))
          .select(col("o_orderstatus"), col("o_orderpriority"),
            col("o_totalprice_p50"), col("o_totalprice_p90"),
            col("o_totalprice_p99"))
        val exact = t(s, dir, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("e50"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("e90"),
            expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)").as("e99"))
        view.join(exact, Seq("o_orderstatus", "o_orderpriority"))
          .agg(max(greatest(
            abs(col("o_totalprice_p50") - col("e50")),
            abs(col("o_totalprice_p90") - col("e90")),
            abs(col("o_totalprice_p99") - col("e99")))).as("err"))
          .select(lit("agg_view_hist").as("gate"),
            (col("err") <= 10000.0).as("floor_met"))
      },
      Some("SELECT 'agg_view_hist' AS gate, true AS floor_met")),

    "q_join_view" -> QueryDef(
      // Incrementally-maintained materialized JOIN view
      // (operators.JoinView): orders⋈customer built from a base third of
      // the facts, refreshed with two O(delta) fact appends, then the
      // DIMENSION is mutated — a payload update, an orphan-HEALING
      // upsert (customers missing at build time whose orders were
      // already materialized), and a tombstone delete — each repairing
      // only the touched pk buckets. The inner read must equal DuckDB's
      // one-shot join of ALL orders against the FINAL dim state, which
      // is exactly the oracle. Memoized per dataset, so bench runs time
      // the pruned multi-root read.
      (s, dir) => graft.operators.JoinView
        .readJoinView(s, joinViewFor(s, dir))
        .select(col("custkey"), col("o_orderkey"), col("o_totalprice"),
          col("name"), col("acctbal"))
        .orderBy("o_orderkey"),
      Some("""WITH dimf AS (SELECT c_custkey AS custkey,
          CASE WHEN c_custkey % 5 = 1 THEN upper(c_name) ELSE c_name END AS name,
          CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS acctbal
        FROM customer WHERE c_custkey % 7 <> 3)
        SELECT o.o_custkey AS custkey, o.o_orderkey, o.o_totalprice,
          d.name, d.acctbal
        FROM orders o JOIN dimf d ON o.o_custkey = d.custkey
        ORDER BY o_orderkey"""),
      headline = true),

    "q_join_view_lookup" -> QueryDef(
      // Point lookup through the maintained join view (the reference's
      // Get shape: manifest → one pk bucket → pruned partition scans →
      // resolve): all of customer 7's enriched orders, against DuckDB's
      // direct point join over the final dim state.
      (s, dir) => graft.operators.JoinView
        .lookupJoinView(s, joinViewFor(s, dir), Seq(7L))
        .select(col("custkey"), col("o_orderkey"), col("o_totalprice"),
          col("name"), col("acctbal"))
        .orderBy("o_orderkey"),
      Some("""WITH dimf AS (SELECT c_custkey AS custkey,
          CASE WHEN c_custkey % 5 = 1 THEN upper(c_name) ELSE c_name END AS name,
          CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS acctbal
        FROM customer WHERE c_custkey % 7 <> 3)
        SELECT o.o_custkey AS custkey, o.o_orderkey, o.o_totalprice,
          d.name, d.acctbal
        FROM orders o JOIN dimf d ON o.o_custkey = d.custkey
        WHERE o.o_custkey = 7
        ORDER BY o_orderkey""")),

    "q_profile" -> QueryDef(
      // Table profiling (operators.Profile) — the ANALYZE pass a pipeline
      // runs on every new corpus drop: nulls, exact distincts, and
      // type-appropriate extremes/means for four orders columns, all in
      // ONE aggregation over ONE scan (the long shape is an unpivot of
      // that single row). Means ride the per-row decimal cast, so every
      // value replays exactly in SQL — fully oracled.
      (s, dir) => graft.operators.Profile.profileColumns(
          t(s, dir, "orders"),
          numericCols = Seq("o_custkey", "o_totalprice"),
          stringCols = Seq("o_orderstatus", "o_orderpriority"))
        .orderBy("column"),
      Some("""WITH p AS (
        SELECT 'o_custkey' AS "column", count(*) AS n_rows,
          count(*) - count(o_custkey) AS n_nulls,
          count(DISTINCT o_custkey) AS n_distinct,
          round(min(o_custkey::DECIMAL(27,6))::DOUBLE, 6) AS min_num,
          round(max(o_custkey::DECIMAL(27,6))::DOUBLE, 6) AS max_num,
          round(sum(o_custkey::DECIMAL(27,6))::DOUBLE / count(o_custkey), 6) AS avg_num,
          CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
          CAST(NULL AS DOUBLE) AS avg_len
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
          count(DISTINCT o_totalprice),
          round(min(o_totalprice::DECIMAL(27,6))::DOUBLE, 6),
          round(max(o_totalprice::DECIMAL(27,6))::DOUBLE, 6),
          round(sum(o_totalprice::DECIMAL(27,6))::DOUBLE / count(o_totalprice), 6),
          CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
          count(DISTINCT o_orderstatus),
          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          min(o_orderstatus), max(o_orderstatus),
          round(sum(len(o_orderstatus))::DOUBLE / count(o_orderstatus), 6)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
          count(DISTINCT o_orderpriority),
          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          min(o_orderpriority), max(o_orderpriority),
          round(sum(len(o_orderpriority))::DOUBLE / count(o_orderpriority), 6)
        FROM orders)
        SELECT * FROM p ORDER BY "column""""),
      headline = false),

    "q_profile_hll" -> QueryDef(
      // The SCALE form of table profiling and the bench HEADLINE: HLL++
      // approx_count_distinct replaces exact count(distinct), so the plan
      // is one pass over one scan with NO Expand (the exact form plans
      // k+1 row copies per input row — certifiable, but not the plan
      // you'd run on a 100 TB corpus drop). Same schema as q_profile;
      // accuracy is certified by the oracled q_profile_hll_gate row.
      (s, dir) => graft.operators.Profile.profileColumns(
          t(s, dir, "orders"),
          numericCols = Seq("o_custkey", "o_totalprice"),
          stringCols = Seq("o_orderstatus", "o_orderpriority"),
          exactDistinct = false)
        .orderBy("column"),
      None,
      headline = true),

    "q_profile_hll_gate" -> QueryDef(
      // ORACLED gate for q_profile_hll: every non-sketch stat must equal
      // the exact profile bit-for-bit, and the HLL distinct estimate must
      // sit within 5% of the exact cardinality on every column (the
      // configured rsd is 2%). Runs both forms at sf0.01 — cheap where
      // correctness runs; the Expand-free form alone is what's benched.
      (s, dir) => {
        val cols = (Seq("o_custkey", "o_totalprice"),
          Seq("o_orderstatus", "o_orderpriority"))
        def prof(exact: Boolean) = graft.operators.Profile.profileColumns(
          t(s, dir, "orders"), cols._1, cols._2, exactDistinct = exact)
        val j = prof(true).as("e").join(prof(false).as("a"), "column")
        j.agg(
            max(abs(col("a.n_distinct") - col("e.n_distinct")) /
              col("e.n_distinct")).as("dist_err"),
            min(col("a.n_rows") === col("e.n_rows") &&
              col("a.n_nulls") === col("e.n_nulls") &&
              (col("a.min_num") <=> col("e.min_num")) &&
              (col("a.max_num") <=> col("e.max_num")) &&
              (col("a.avg_num") <=> col("e.avg_num")) &&
              (col("a.min_str") <=> col("e.min_str")) &&
              (col("a.max_str") <=> col("e.max_str")) &&
              (col("a.avg_len") <=> col("e.avg_len"))).as("rest_eq"))
          .select(lit("profile_hll").as("gate"),
            (col("dist_err") <= 0.05 && col("rest_eq")).as("floor_met"))
      },
      Some("SELECT 'profile_hll' AS gate, true AS floor_met")),

    "q_range_join" -> QueryDef(
      // RangeJoin.pointInInterval — interval containment re-expressed as a
      // (user, time-bin)-keyed EQUI-join (one shuffle, AQE-eligible; Spark's
      // native plan for this predicate is a broadcast nested loop): purchases
      // landing within 6 hours after each error event of the same user.
      // Oracled against DuckDB's plain non-equi join.
      (s, dir) => {
        val ev = events(s, dir)
        val wins = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts_ms").as("ws"),
            (col("ts_ms") + lit(21600000L)).as("we"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms").as("pt"), col("value"))
        graft.operators.RangeJoin.pointInInterval(
            purchases, wins, binSize = 21600000L,
            tCol = "pt", startCol = "ws", endCol = "we", keys = Seq("user_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"), round(sum("value"), 2).as("sum_value"))
          .orderBy("user_id")
      },
      Some("""WITH w AS (SELECT user_id, epoch_ms(ts) AS ws,
            epoch_ms(ts) + 21600000 AS we FROM events WHERE event_type = 'error'),
        p AS (SELECT user_id, epoch_ms(ts) AS pt, value
            FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, count(*) AS n_pairs, round(sum(p.value), 2) AS sum_value
        FROM p JOIN w ON p.user_id = w.user_id AND p.pt >= w.ws AND p.pt <= w.we
        GROUP BY p.user_id ORDER BY p.user_id""")),

    "q_range_join_sql" -> QueryDef(
      // q_range_join's EXACT semantics, but written as the naive non-equi
      // SQL a migrating user would type — planned scale-safe by the
      // plans.RangeJoinRewrite optimizer rule (no operator API in sight).
      // Runs on a cloned session so the bin conf and temp view leak into
      // no other query; PlanShapeSpec pins the no-nested-loop plan.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        s.conf.set(graft.plans.RangeJoinRewrite.BinSizeConf, "21600000")
        loadEvents(s, dir).createOrReplaceTempView("graft_ev")
        s.sql("""WITH w AS (SELECT user_id, ts_ms AS ws, ts_ms + 21600000 AS we
              FROM graft_ev WHERE event_type = 'error'),
            p AS (SELECT user_id, ts_ms AS pt, value
              FROM graft_ev WHERE event_type = 'purchase')
          SELECT p.user_id, count(*) AS n_pairs,
            round(sum(p.value), 2) AS sum_value
          FROM p JOIN w ON p.user_id = w.user_id
            AND p.pt >= w.ws AND p.pt <= w.we
          GROUP BY p.user_id ORDER BY p.user_id""")
      },
      Some("""WITH w AS (SELECT user_id, epoch_ms(ts) AS ws,
            epoch_ms(ts) + 21600000 AS we FROM events WHERE event_type = 'error'),
        p AS (SELECT user_id, epoch_ms(ts) AS pt, value
            FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, count(*) AS n_pairs, round(sum(p.value), 2) AS sum_value
        FROM p JOIN w ON p.user_id = w.user_id AND p.pt >= w.ws AND p.pt <= w.we
        GROUP BY p.user_id ORDER BY p.user_id""")),

    "q_range_join_left" -> QueryDef(
      // RangeJoin.pointInIntervalLeft — the left-outer member of the
      // family: EVERY purchase survives, paired with each containing
      // 6h error window or null-extended when none contains it. Because
      // points hash to exactly one bin, the left-outer equi-join on
      // (user, bin) null-extends each unmatched point exactly once — no
      // anti-join complement pass. Matched/unmatched split is oracled
      // against DuckDB's plain LEFT JOIN.
      (s, dir) => {
        val ev = events(s, dir)
        val wins = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts_ms").as("ws"),
            (col("ts_ms") + lit(21600000L)).as("we"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_ms").as("pt"), col("value"))
        graft.operators.RangeJoin.pointInIntervalLeft(
            purchases, wins, binSize = 21600000L,
            tCol = "pt", startCol = "ws", endCol = "we", keys = Seq("user_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rows"),
            count(col("ws")).as("n_matched"),
            (count(lit(1)) - count(col("ws"))).as("n_unmatched"),
            round(sum("value"), 2).as("sum_value"))
          .orderBy("user_id")
      },
      Some("""WITH w AS (SELECT user_id, epoch_ms(ts) AS ws,
            epoch_ms(ts) + 21600000 AS we FROM events WHERE event_type = 'error'),
        p AS (SELECT user_id, epoch_ms(ts) AS pt, value
            FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, count(*) AS n_rows, count(w.ws) AS n_matched,
          count(*) - count(w.ws) AS n_unmatched,
          round(sum(p.value), 2) AS sum_value
        FROM p LEFT JOIN w ON p.user_id = w.user_id AND p.pt >= w.ws AND p.pt <= w.we
        GROUP BY p.user_id ORDER BY p.user_id"""),
      headline = true),

    "q_range_join_left_sql" -> QueryDef(
      // q_range_join_left's EXACT semantics as the naive LEFT JOIN a
      // migrating user types — planned by RangeJoinRewrite's outer path
      // (the full condition moves inside the binned LeftOuter join, so
      // unmatched purchases null-extend exactly once; no nested loop).
      // RangeJoinRewriteSpec pins the plan; this row pins the answers.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        s.conf.set(graft.plans.RangeJoinRewrite.BinSizeConf, "21600000")
        loadEvents(s, dir).createOrReplaceTempView("graft_ev")
        s.sql("""WITH w AS (SELECT user_id, ts_ms AS ws, ts_ms + 21600000 AS we
              FROM graft_ev WHERE event_type = 'error'),
            p AS (SELECT user_id, ts_ms AS pt, value
              FROM graft_ev WHERE event_type = 'purchase')
          SELECT p.user_id, count(*) AS n_rows, count(w.ws) AS n_matched,
            count(*) - count(w.ws) AS n_unmatched,
            round(sum(p.value), 2) AS sum_value
          FROM p LEFT JOIN w ON p.user_id = w.user_id
            AND p.pt >= w.ws AND p.pt <= w.we
          GROUP BY p.user_id ORDER BY p.user_id""")
      },
      Some("""WITH w AS (SELECT user_id, epoch_ms(ts) AS ws,
            epoch_ms(ts) + 21600000 AS we FROM events WHERE event_type = 'error'),
        p AS (SELECT user_id, epoch_ms(ts) AS pt, value
            FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, count(*) AS n_rows, count(w.ws) AS n_matched,
          count(*) - count(w.ws) AS n_unmatched,
          round(sum(p.value), 2) AS sum_value
        FROM p LEFT JOIN w ON p.user_id = w.user_id AND p.pt >= w.ws AND p.pt <= w.we
        GROUP BY p.user_id ORDER BY p.user_id""")),

    "q_range_join_semi_sql" -> QueryDef(
      // the `EXISTS (... ts in range)` SQL shape: the analyzer rewrites
      // it to a LeftSemi join Spark can only nested-loop; the rule's
      // semi path plans it as the binned semi equi-join (the preserved
      // point side is never replicated, so semi cannot duplicate).
      // Purchases inside any 6h error window, counted per user; oracled
      // by the same EXISTS in DuckDB.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        s.conf.set(graft.plans.RangeJoinRewrite.BinSizeConf, "21600000")
        loadEvents(s, dir).createOrReplaceTempView("graft_ev")
        s.sql("""WITH w AS (SELECT user_id, ts_ms AS ws, ts_ms + 21600000 AS we
              FROM graft_ev WHERE event_type = 'error'),
            p AS (SELECT user_id, ts_ms AS pt
              FROM graft_ev WHERE event_type = 'purchase')
          SELECT p.user_id, count(*) AS n_shielded
          FROM p
          WHERE EXISTS (SELECT 1 FROM w WHERE w.user_id = p.user_id
            AND p.pt >= w.ws AND p.pt <= w.we)
          GROUP BY p.user_id ORDER BY p.user_id""")
      },
      Some("""WITH w AS (SELECT user_id, epoch_ms(ts) AS ws,
            epoch_ms(ts) + 21600000 AS we FROM events WHERE event_type = 'error'),
        p AS (SELECT user_id, epoch_ms(ts) AS pt
            FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, count(*) AS n_shielded
        FROM p
        WHERE EXISTS (SELECT 1 FROM w WHERE w.user_id = p.user_id
          AND p.pt >= w.ws AND p.pt <= w.we)
        GROUP BY p.user_id ORDER BY p.user_id""")),

    "q_band_join" -> QueryDef(
      // RangeJoin.bandJoin — |Δt| <= 30min self-pairing of a user's events
      // via the ±1-neighbor bin probe (each qualifying pair meets exactly
      // once; no cross product, no dedup pass).
      (s, dir) => {
        val ev = events(s, dir)
        val l = ev.select(col("user_id"), col("event_id").as("lid"), col("ts_ms").as("lt"))
        val r = ev.select(col("user_id"), col("event_id").as("rid"), col("ts_ms").as("rt"))
        graft.operators.RangeJoin.bandJoin(l, r, delta = 1800000L,
            lCol = "lt", rCol = "rt", keys = Seq("user_id"))
          .filter(col("lid") < col("rid"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""SELECT a.user_id, count(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 1800000
        GROUP BY a.user_id ORDER BY a.user_id""")),

    "q_band_join_sql" -> QueryDef(
      // q_band_join's EXACT semantics as the naive `abs(x - y) <= d` SQL
      // a migrating user types — the rule derives the two bounds from
      // the abs comparison and plans the binned equi-join; the abs
      // conjunct itself stays in the residual, so exactness holds by
      // construction. Oracled by the same SQL in DuckDB.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        s.conf.set(graft.plans.RangeJoinRewrite.BinSizeConf, "1800000")
        loadEvents(s, dir).createOrReplaceTempView("graft_ev")
        s.sql("""SELECT a.user_id, count(*) AS n_pairs
          FROM graft_ev a JOIN graft_ev b
            ON a.user_id = b.user_id AND a.event_id < b.event_id
            AND abs(a.ts_ms - b.ts_ms) <= 1800000
          GROUP BY a.user_id ORDER BY a.user_id""")
      },
      Some("""SELECT a.user_id, count(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 1800000
        GROUP BY a.user_id ORDER BY a.user_id""")),

    "q_interval_join" -> QueryDef(
      // RangeJoin.intervalOverlapJoin — the interval×interval member of
      // the non-equi family (Spark's native plan: nested loop): per user,
      // every error's 2h outage window paired with every purchase's ±1h
      // activity window it overlaps. First-shared-bin emit keeps the
      // binned equi-join dedup-free. Oracled against DuckDB's plain
      // non-equi overlap join.
      (s, dir) => {
        val ev = events(s, dir)
        val outages = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_id"),
            col("ts_ms").as("os"), (col("ts_ms") + lit(7200000L)).as("oe"))
        val activity = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("buy_id"),
            (col("ts_ms") - lit(3600000L)).as("as_"),
            (col("ts_ms") + lit(3600000L)).as("ae"))
        graft.operators.RangeJoin.intervalOverlapJoin(
            outages, activity, binSize = 7200000L,
            lStart = "os", lEnd = "oe", rStart = "as_", rEnd = "ae",
            keys = Seq("user_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            count_distinct(col("err_id")).as("n_errors"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (SELECT user_id, event_id AS err_id, epoch_ms(ts) AS os,
            epoch_ms(ts) + 7200000 AS oe FROM events WHERE event_type = 'error'),
        a AS (SELECT user_id, event_id AS buy_id, epoch_ms(ts) - 3600000 AS as_,
            epoch_ms(ts) + 3600000 AS ae FROM events WHERE event_type = 'purchase')
        SELECT o.user_id, count(*) AS n_pairs,
          count(DISTINCT err_id) AS n_errors
        FROM o JOIN a ON o.user_id = a.user_id AND o.os <= a.ae AND a.as_ <= o.oe
        GROUP BY o.user_id ORDER BY o.user_id"""),
      headline = true),

    "q_interval_join_left" -> QueryDef(
      // RangeJoin.intervalOverlapJoinLeft — every outage window survives,
      // overlapped or not (the "which outages saw NO purchase activity"
      // question). The binned inner core plus a keyed anti complement —
      // two equi-join passes, never a nested loop. Matched/unmatched
      // split oracled against DuckDB's plain LEFT overlap join.
      (s, dir) => {
        val ev = events(s, dir)
        val outages = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_id"),
            col("ts_ms").as("os"), (col("ts_ms") + lit(7200000L)).as("oe"))
        val activity = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("buy_id"),
            (col("ts_ms") - lit(3600000L)).as("as_"),
            (col("ts_ms") + lit(3600000L)).as("ae"))
        graft.operators.RangeJoin.intervalOverlapJoinLeft(
            outages, activity, binSize = 7200000L,
            lStart = "os", lEnd = "oe", rStart = "as_", rEnd = "ae",
            keys = Seq("user_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rows"),
            count(col("buy_id")).as("n_matched"),
            (count(lit(1)) - count(col("buy_id"))).as("n_unmatched"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (SELECT user_id, event_id AS err_id, epoch_ms(ts) AS os,
            epoch_ms(ts) + 7200000 AS oe FROM events WHERE event_type = 'error'),
        a AS (SELECT user_id, event_id AS buy_id, epoch_ms(ts) - 3600000 AS as_,
            epoch_ms(ts) + 3600000 AS ae FROM events WHERE event_type = 'purchase')
        SELECT o.user_id, count(*) AS n_rows, count(a.buy_id) AS n_matched,
          count(*) - count(a.buy_id) AS n_unmatched
        FROM o LEFT JOIN a ON o.user_id = a.user_id AND o.os <= a.ae AND a.as_ <= o.oe
        GROUP BY o.user_id ORDER BY o.user_id""")),

    "q_band_join_left" -> QueryDef(
      // RangeJoin.bandJoinLeft — orphan detection: every error survives,
      // flagged by whether SOME purchase of the same user landed within
      // ±30min. Same ±1-neighbor bin probe as the inner band join plus
      // the keyed anti complement.
      (s, dir) => {
        val ev = events(s, dir)
        val l = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("lid"), col("ts_ms").as("lt"))
        val r = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("rid"), col("ts_ms").as("rt"))
        graft.operators.RangeJoin.bandJoinLeft(l, r, delta = 1800000L,
            lCol = "lt", rCol = "rt", keys = Seq("user_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rows"),
            count(col("rid")).as("n_matched"),
            (count(lit(1)) - count(col("rid"))).as("n_unmatched"))
          .orderBy("user_id")
      },
      Some("""WITH l AS (SELECT user_id, event_id AS lid, epoch_ms(ts) AS lt
            FROM events WHERE event_type = 'error'),
        r AS (SELECT user_id, event_id AS rid, epoch_ms(ts) AS rt
            FROM events WHERE event_type = 'purchase')
        SELECT l.user_id, count(*) AS n_rows, count(r.rid) AS n_matched,
          count(*) - count(r.rid) AS n_unmatched
        FROM l LEFT JOIN r ON l.user_id = r.user_id AND abs(l.lt - r.rt) <= 1800000
        GROUP BY l.user_id ORDER BY l.user_id""")),

    "q_interval_join_sql" -> QueryDef(
      // q_interval_join's EXACT semantics as naive overlap SQL, planned by
      // RangeJoinRewrite's interval-overlap path (first-shared-bin dedup
      // inside the rule) on a cloned session — both rewrite families now
      // pass through the driver's oracle gate, not just the spec.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        s.conf.set(graft.plans.RangeJoinRewrite.BinSizeConf, "7200000")
        loadEvents(s, dir).createOrReplaceTempView("graft_ev")
        s.sql("""WITH o AS (SELECT user_id, event_id AS err_id, ts_ms AS os,
              ts_ms + 7200000 AS oe FROM graft_ev WHERE event_type = 'error'),
            a AS (SELECT user_id, event_id AS buy_id, ts_ms - 3600000 AS as_,
              ts_ms + 3600000 AS ae FROM graft_ev WHERE event_type = 'purchase')
          SELECT o.user_id, count(*) AS n_pairs,
            count(DISTINCT err_id) AS n_errors
          FROM o JOIN a ON o.user_id = a.user_id
            AND o.os <= a.ae AND a.as_ <= o.oe
          GROUP BY o.user_id ORDER BY o.user_id""")
      },
      Some("""WITH o AS (SELECT user_id, event_id AS err_id, epoch_ms(ts) AS os,
            epoch_ms(ts) + 7200000 AS oe FROM events WHERE event_type = 'error'),
        a AS (SELECT user_id, event_id AS buy_id, epoch_ms(ts) - 3600000 AS as_,
            epoch_ms(ts) + 3600000 AS ae FROM events WHERE event_type = 'purchase')
        SELECT o.user_id, count(*) AS n_pairs,
          count(DISTINCT err_id) AS n_errors
        FROM o JOIN a ON o.user_id = a.user_id AND o.os <= a.ae AND a.as_ <= o.oe
        GROUP BY o.user_id ORDER BY o.user_id""")),

    "q_twa" -> QueryDef(
      // Time-weighted average (Resample.timeWeightedAvg): the
      // zero-order-hold mean per user — each value weighs its holding
      // time, so the plain AVG's burst bias disappears. One shuffle (the
      // lead window and the per-key agg share hashpartitioning); the
      // single-sample edge reports the last value by (ts, tie). Fully
      // oracled by replaying lead + telescoped weights in SQL.
      (s, dir) => graft.operators.Resample.timeWeightedAvg(
          events(s, dir), keys = Seq("user_id"),
          tsMsCol = "ts_ms", valueCol = "value", tieCol = "event_id")
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS t, event_id, value
            FROM events),
        w AS (SELECT user_id, t, event_id, value,
            lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt
          FROM e)
        SELECT user_id, count(*)::BIGINT AS n_obs,
          (max(t) - min(t))::BIGINT AS span_ms,
          round(CASE WHEN max(t) = min(t)
            THEN (max({'t': t, 'e': event_id, 'v': value}))['v']
            ELSE sum((nt - t) * value) / (max(t) - min(t)) END, 6) AS twa
        FROM w GROUP BY user_id ORDER BY user_id""")),

    "q_psi_drift" -> QueryDef(
      // Numeric-distribution drift between two snapshots
      // (Profile.psiDrift): PSI of the value column, even-id events as
      // the base vs odd-id as the current refresh, fixed 10-wide bins
      // from 0 plus under/overflow, eps-smoothed. Deterministic — fully
      // oracled by replaying bins, ratios, and the log-sum in SQL.
      (s, dir) => {
        val ev = events(s, dir)
        graft.operators.Profile.psiDrift(
          ev.filter(pmod(col("event_id"), lit(2)) === 0),
          ev.filter(pmod(col("event_id"), lit(2)) === 1),
          colName = "value", lo = 0.0, binWidth = 10.0, nBins = 10)
      },
      Some("""WITH b AS (SELECT least(greatest(floor(value / 10.0), -1), 10)::BIGINT AS bin
          FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        c AS (SELECT least(greatest(floor(value / 10.0), -1), 10)::BIGINT AS bin
          FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
        bc AS (SELECT bin, count(*) AS nb FROM b GROUP BY bin),
        cc AS (SELECT bin, count(*) AS nc FROM c GROUP BY bin),
        j AS (SELECT coalesce(bc.nb, 0) AS nb, coalesce(cc.nc, 0) AS nc
          FROM bc FULL OUTER JOIN cc ON bc.bin = cc.bin),
        tot AS (SELECT sum(nb)::BIGINT AS tb, sum(nc)::BIGINT AS tc FROM j)
        SELECT 'value' AS col_name, max(tb)::BIGINT AS n_base,
          max(tc)::BIGINT AS n_current,
          round(sum((greatest(nb / (tb::DOUBLE), 0.000001) -
                     greatest(nc / (tc::DOUBLE), 0.000001)) *
            ln(greatest(nb / (tb::DOUBLE), 0.000001) /
               greatest(nc / (tc::DOUBLE), 0.000001))), 6) AS psi
        FROM j, tot""")),

    "q_outliers" -> QueryDef(
      // Robust per-group outlier screen (Profile.outliers): modified
      // z-score on median/MAD per event_type — two exact-percentile
      // agg + one-row-per-group join rounds (medians are not algebraic;
      // the t-digest switch is the 100 TB form). quantile_cont parity.
      (s, dir) => graft.operators.Profile.outliers(
          events(s, dir).select(col("event_id"), col("event_type"),
            col("value")),
          keys = Seq("event_type"), valueCol = "value", cutoff = 3.5)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), col("robust_z"),
          col("is_outlier"))
        .orderBy("event_id"),
      Some("""WITH m1 AS (SELECT event_type,
            quantile_cont(value, 0.5) AS med
          FROM events GROUP BY 1),
        wm AS (SELECT e.event_id, e.event_type, e.value, m1.med,
            abs(e.value - m1.med) AS ad
          FROM events e JOIN m1 USING (event_type)),
        m2 AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
          FROM wm GROUP BY 1)
        SELECT event_id, event_type, round(value, 6) AS value,
          round(CASE WHEN mad = 0 THEN 0.0
            ELSE 0.6745 * (value - med) / mad END, 6) AS robust_z,
          abs(round(CASE WHEN mad = 0 THEN 0.0
            ELSE 0.6745 * (value - med) / mad END, 6)) > 3.5 AS is_outlier
        FROM wm JOIN m2 USING (event_type)
        ORDER BY event_id""")),

    "q_overlap" -> QueryDef(
      // Snapshot set overlap (Profile.setOverlap, exact form): the
      // clicking audience vs the purchasing audience over distinct
      // user_ids — one OR-folding hash agg on the key (multiplicity
      // never matters) + a one-row final. The HLL form is gated by
      // q_overlap_hll_gate.
      (s, dir) => {
        val ev = events(s, dir)
        graft.operators.Profile.setOverlap(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"), "user_id")
      },
      Some("""WITH a AS (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'click' AND user_id IS NOT NULL),
        b AS (SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        u AS (SELECT user_id FROM a UNION SELECT user_id FROM b),
        i AS (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)
        SELECT (SELECT count(*) FROM a)::BIGINT AS n_a,
          (SELECT count(*) FROM b)::BIGINT AS n_b,
          (SELECT count(*) FROM i)::BIGINT AS n_both,
          (SELECT count(*) FROM u)::BIGINT AS n_union,
          round(CASE WHEN (SELECT count(*) FROM u) = 0 THEN 0.0
            ELSE (SELECT count(*) FROM i) /
              CAST((SELECT count(*) FROM u) AS DOUBLE) END, 6) AS jaccard""")),

    "q_overlap_hll_gate" -> QueryDef(
      // ORACLED gate for the HLL overlap path: the sketch estimates
      // (rsd 2%, inclusion-exclusion intersection, NO key shuffle) must
      // land within 5% of the exact counts and 0.1 absolute on jaccard.
      (s, dir) => {
        val ev = events(s, dir)
        def f(t: String) = ev.filter(col("event_type") === t)
        val e = graft.operators.Profile.setOverlap(f("click"), f("purchase"), "user_id")
        val h = graft.operators.Profile.setOverlap(f("click"), f("purchase"), "user_id",
          exact = false)
        e.as("e").crossJoin(h.as("h")).select(
          lit("overlap_hll").as("gate"),
          ((abs(col("h.n_a") - col("e.n_a")) / col("e.n_a") <= 0.05) &&
           (abs(col("h.n_b") - col("e.n_b")) / col("e.n_b") <= 0.05) &&
           (abs(col("h.n_union") - col("e.n_union")) / col("e.n_union") <= 0.05) &&
           (abs(col("h.jaccard") - col("e.jaccard")) <= 0.1)).as("floor_met"))
      },
      Some("SELECT 'overlap_hll' AS gate, true AS floor_met")),

    "q_ewma" -> QueryDef(
      // EWMA smoothing per user (Resample.ewma, alpha=0.2): the
      // inherently-sequential recurrence run as a SEGMENTED linear-
      // recurrence scan — block-local HOF folds plus a per-key
      // block-summary recurrence, ONE full-data exchange, exact
      // sequential float semantics (no overflowing power trick, no
      // whole-key collect). blockSize=64 keeps sf0.01's ~67-row keys
      // multi-block (the cross-block composition path stays under the
      // oracle) while halving the sf0.1 bench cost vs smaller blocks
      // (fewer summary rows and join-back rows per key). The oracle
      // replays the closed form ((1-a)^i * running sum of x_j*(1-a)^-j),
      // safe in SQL at oracle scale where exponents stay small.
      (s, dir) => graft.operators.Resample.ewma(
          events(s, dir).select(col("user_id"), col("ts_ms"),
            col("event_id"), col("value")),
          keys = Seq("user_id"), alpha = 0.2, blockSize = 64)
        .withColumn("value", round(col("value"), 6))
        .orderBy("user_id", "ts_ms", "event_id"),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
            value,
            row_number() OVER (PARTITION BY user_id
              ORDER BY epoch_ms(ts), event_id) AS rn
          FROM events),
        c AS (SELECT user_id, ts_ms, event_id, value, rn,
            (CASE WHEN rn = 1 THEN value ELSE 0.2 * value END)
              * power(0.8, -rn) AS cj
          FROM e)
        SELECT user_id, ts_ms, event_id, round(value, 6) AS value,
          round(power(0.8, rn) * sum(cj) OVER (PARTITION BY user_id
            ORDER BY rn), 6) AS ewma
        FROM c ORDER BY user_id, ts_ms, event_id"""),
      headline = true),

    "q_decay" -> QueryDef(
      // Time-decayed running score (Resample.decayedSum, half-life 24h):
      // each event adds its value; the score halves per day of silence —
      // the trending/freshness signal with PER-ELAPSED-TIME decay
      // (irregular gaps decay honestly, unlike per-row EWMA). Same
      // segmented-scan machinery as q_ewma (one materialized shuffle;
      // the predecessor-lag window rides the scan's exchange). The
      // oracle factors the recurrence as exp(-l*t') * running sum of
      // w*exp(l*t') with t' RELATIVE to the key's first event, so
      // exponents stay ~21 at a 30-day span (safe in double).
      (s, dir) => graft.operators.Resample.decayedSum(
          events(s, dir).select(col("user_id"), col("ts_ms"),
            col("event_id"), col("value")),
          keys = Seq("user_id"), halfLifeMs = 86400000L, blockSize = 64)
        .withColumn("value", round(col("value"), 6))
        .orderBy("user_id", "ts_ms", "event_id"),
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
            value,
            epoch_ms(ts) - min(epoch_ms(ts)) OVER (PARTITION BY user_id)
              AS tr
          FROM events),
        s AS (SELECT user_id, ts_ms, event_id, value,
            exp(-(ln(2) / 86400000) * tr) *
              sum(value * exp((ln(2) / 86400000) * tr))
                OVER (PARTITION BY user_id ORDER BY tr, event_id) AS sc
          FROM e)
        SELECT user_id, ts_ms, event_id, round(value, 6) AS value,
          round(sc, 6) AS decayed
        FROM s ORDER BY user_id, ts_ms, event_id""")),

    "q_resample" -> QueryDef(
      // Resample.resampleForwardFill — per-user hourly regularization of
      // the event stream with zero-filled empty buckets and the last
      // observed value carried forward (the fixed-step grid a feature
      // pipeline or drift monitor consumes). One keyed hash agg over the
      // raw data; the grid materializes from aggregated spans, never from
      // events. Fully oracled: DuckDB replays the grid with
      // generate_series and the carry-forward with IGNORE NULLS.
      (s, dir) => graft.operators.Resample.resampleForwardFill(
          events(s, dir).filter(col("user_id") < 40),
          keys = Seq("user_id"), tsMsCol = "ts_ms", valueCol = "value",
          tieCol = "event_id", stepMs = 3600000L)
        .select(col("user_id"), col("bucket_ms"), col("n_events"),
          col("sum_value"), round(col("last_value"), 2).as("last_value"))
        .orderBy("user_id", "bucket_ms"),
      Some("""WITH e AS (SELECT user_id, event_id, value,
            epoch_ms(ts) AS ts_ms, epoch_ms(ts) // 3600000 AS bucket
          FROM events WHERE user_id < 40),
        b AS (SELECT user_id, bucket, count(*) AS n,
            sum(value::DECIMAL(18,2)) AS s,
            (max({'t': ts_ms, 'e': event_id, 'v': value}))['v'] AS lastv
          FROM e GROUP BY user_id, bucket),
        g AS (SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket
          FROM b GROUP BY user_id),
        j AS (SELECT g.user_id, g.bucket, b.n, b.s, b.lastv
          FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket)
        SELECT user_id, bucket * 3600000 AS bucket_ms,
          coalesce(n, 0) AS n_events,
          round(coalesce(s, 0)::DOUBLE, 2) AS sum_value,
          round(last_value(lastv IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY bucket), 2) AS last_value
        FROM j ORDER BY user_id, bucket_ms"""),
      headline = true),

    "q_interpolate" -> QueryDef(
      // Resample.resampleInterpolate — the LINEAR gap-fill the LOCF grid
      // can't express (a value ramping across an empty hour reads the
      // ramp, not the stale anchor). Same keyed-agg + span-explode shape
      // as q_resample; the blend is one fixed parenthesization of
      // correctly-rounded IEEE ops over exact integer bucket deltas, so
      // DuckDB replays every interpolated cell bit-for-bit — emitted RAW
      // (a 6dp round is weaker: 1/16-style fractions make exact decimal
      // ties, and the engines break round-half differently).
      (s, dir) => graft.operators.Resample.resampleInterpolate(
          events(s, dir).filter(col("user_id") < 40),
          keys = Seq("user_id"), tsMsCol = "ts_ms", valueCol = "value",
          tieCol = "event_id", stepMs = 3600000L)
        .orderBy("user_id", "bucket_ms"),
      Some("""WITH e AS (SELECT user_id, event_id, value,
            epoch_ms(ts) AS ts_ms, epoch_ms(ts) // 3600000 AS bkt
          FROM events WHERE user_id < 40),
        b AS (SELECT user_id, bkt, count(*) AS n,
            (max({'t': ts_ms, 'e': event_id, 'v': value}))['v']::DOUBLE AS lastv
          FROM e GROUP BY user_id, bkt),
        b2 AS (SELECT user_id, bkt, n, lastv,
            lead(bkt) OVER (PARTITION BY user_id ORDER BY bkt) AS nb,
            lead(lastv) OVER (PARTITION BY user_id ORDER BY bkt) AS nv
          FROM b),
        g AS (SELECT user_id, bkt AS anchor, n, lastv, nb, nv,
            unnest(generate_series(bkt, coalesce(nb - 1, bkt))) AS grid
          FROM b2)
        SELECT user_id, grid * 3600000 AS bucket_ms,
          CASE WHEN grid = anchor THEN n ELSE 0 END AS n_events,
          CASE WHEN grid = anchor THEN lastv
            ELSE lastv + (nv - lastv) *
              ((grid - anchor)::DOUBLE / (nb - anchor)::DOUBLE) END
            AS interp_value
        FROM g ORDER BY user_id, bucket_ms""")),

    "q_resample_sql" -> QueryDef(
      // the forward-fill grid from PURE SQL: the graft_resample TVF
      // routes to Resample.resampleForwardFill; same oracle replay over
      // a smaller slice.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        events(s, dir).filter(col("user_id") < 20)
          .createOrReplaceTempView("graft_rs_ev")
        s.sql("""SELECT user_id, bucket_ms, n_events, sum_value,
            round(last_value, 2) AS last_value
          FROM graft_resample('graft_rs_ev', 'user_id', 'ts_ms',
            'value', 'event_id', 3600000)
          ORDER BY user_id, bucket_ms""")
      },
      Some("""WITH e AS (SELECT user_id, event_id, value,
            epoch_ms(ts) AS ts_ms, epoch_ms(ts) // 3600000 AS bucket
          FROM events WHERE user_id < 20),
        b AS (SELECT user_id, bucket, count(*) AS n,
            sum(value::DECIMAL(18,2)) AS s,
            (max({'t': ts_ms, 'e': event_id, 'v': value}))['v'] AS lastv
          FROM e GROUP BY user_id, bucket),
        g AS (SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket
          FROM b GROUP BY user_id),
        j AS (SELECT g.user_id, g.bucket, b.n, b.s, b.lastv
          FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket)
        SELECT user_id, bucket * 3600000 AS bucket_ms,
          coalesce(n, 0) AS n_events,
          round(coalesce(s, 0)::DOUBLE, 2) AS sum_value,
          round(last_value(lastv IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY bucket), 2) AS last_value
        FROM j ORDER BY user_id, bucket_ms""")),

    "q_interpolate_sql" -> QueryDef(
      // the linear gap-fill from PURE SQL: the graft_interpolate TVF
      // routes to Resample.resampleInterpolate; same bit-exact replay
      // over a smaller slice.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        events(s, dir).filter(col("user_id") < 20)
          .createOrReplaceTempView("graft_interp_ev")
        s.sql("""SELECT user_id, bucket_ms, n_events, interp_value
          FROM graft_interpolate('graft_interp_ev', 'user_id', 'ts_ms',
            'value', 'event_id', 3600000)
          ORDER BY user_id, bucket_ms""")
      },
      Some("""WITH e AS (SELECT user_id, event_id, value,
            epoch_ms(ts) AS ts_ms, epoch_ms(ts) // 3600000 AS bkt
          FROM events WHERE user_id < 20),
        b AS (SELECT user_id, bkt, count(*) AS n,
            (max({'t': ts_ms, 'e': event_id, 'v': value}))['v']::DOUBLE AS lastv
          FROM e GROUP BY user_id, bkt),
        b2 AS (SELECT user_id, bkt, n, lastv,
            lead(bkt) OVER (PARTITION BY user_id ORDER BY bkt) AS nb,
            lead(lastv) OVER (PARTITION BY user_id ORDER BY bkt) AS nv
          FROM b),
        g AS (SELECT user_id, bkt AS anchor, n, lastv, nb, nv,
            unnest(generate_series(bkt, coalesce(nb - 1, bkt))) AS grid
          FROM b2)
        SELECT user_id, grid * 3600000 AS bucket_ms,
          CASE WHEN grid = anchor THEN n ELSE 0 END AS n_events,
          CASE WHEN grid = anchor THEN lastv
            ELSE lastv + (nv - lastv) *
              ((grid - anchor)::DOUBLE / (nb - anchor)::DOUBLE) END
            AS interp_value
        FROM g ORDER BY user_id, bucket_ms""")),

    "q_pivot" -> QueryDef(
      // Native pivot (Spark RelationalGroupedDataset.pivot with explicit
      // values — one pass, no per-value scans): lineitem quantity by
      // return flag × line status. Oracled against the CASE-aggregation
      // expansion pivot desugars to.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")))
        .select(col("l_returnflag"),
          round(coalesce(col("F"), lit(0)).cast("double"), 2).as("qty_f"),
          round(coalesce(col("O"), lit(0)).cast("double"), 2).as("qty_o"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
          round(coalesce(sum(CASE WHEN l_linestatus = 'F'
            THEN l_quantity::DECIMAL(18,2) END), 0)::DOUBLE, 2) AS qty_f,
          round(coalesce(sum(CASE WHEN l_linestatus = 'O'
            THEN l_quantity::DECIMAL(18,2) END), 0)::DOUBLE, 2) AS qty_o
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    "q_unpivot" -> QueryDef(
      // Native unpivot (Dataset.unpivot / SQL UNPIVOT) as pivot's
      // round-trip inverse: the pivoted quantity matrix melts back to
      // long form and must equal the direct two-key GROUP BY — which is
      // exactly the oracle. Never-observed (flag, status) combos surface
      // as nulls from the pivot and are dropped, mirroring the GROUP BY.
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")))
        .unpivot(Array(col("l_returnflag")), Array(col("F"), col("O")),
          "l_linestatus", "qty")
        .filter(col("qty").isNotNull)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("qty").cast("double"), 2).as("qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
          round(sum(l_quantity::DECIMAL(18,2))::DOUBLE, 2) AS qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    "q_cube" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_price"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
        coalesce(l_linestatus, 'ALL') AS ls,
        count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY rf, ls""")),

    "q_grouping_sets" -> QueryDef(
      // GROUPING SETS — the general grouping form rollup/cube specialize:
      // per-returnflag and per-linestatus totals in ONE pass (each a
      // partial aggregate over the same scan), no full cross product
      (s, dir) => t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
        coalesce(l_linestatus, 'ALL') AS ls,
        count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY rf, ls""")),

    "q_percentiles" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    "q_winsorize" -> QueryDef(
      // Per-group winsorization (Curation.winsorize): prices clipped to
      // their return-flag group's [p05, p95] — exact linear-interpolation
      // quantiles (percentile == quantile_cont, the proven parity pair)
      // + one keyed join back of the one-row-per-group bounds frame.
      (s, dir) => graft.llmops.Curation.winsorize(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_extendedprice")),
          keys = Seq("l_returnflag"), valueCol = "l_extendedprice",
          loQ = 0.05, hiQ = 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice"), 2).as("price"),
          round(col("l_extendedprice_w"), 2).as("price_w"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""WITH b AS (SELECT l_returnflag,
            quantile_cont(l_extendedprice, 0.05) AS lo,
            quantile_cont(l_extendedprice, 0.95) AS hi
          FROM lineitem GROUP BY 1)
        SELECT l_orderkey, l_linenumber, l_returnflag,
          round(l_extendedprice, 2) AS price,
          round(least(greatest(l_extendedprice, lo), hi), 2) AS price_w
        FROM lineitem JOIN b USING (l_returnflag)
        ORDER BY l_orderkey, l_linenumber""")),

    "q_correlated" -> QueryDef(
      // customers above their nation's average balance — the correlated
      // scalar subquery, expressed as join+agg in Spark
      (s, dir) => {
        val c = t(s, dir, "customer")
        val natAvg = c.groupBy(col("c_nationkey"))
          .agg(avg(col("c_acctbal")).as("nat_avg"))
        c.join(broadcast(natAvg), Seq("c_nationkey"))
          .filter(col("c_acctbal") > col("nat_avg"))
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")),

    "q_approx_distinct" -> QueryDef(
      // Sketch-based distinct counting (HLL++, Spark-native, rsd 2%) as a
      // first-class operator, certified gate-style: the sketch answer per
      // group must land within 5% of the exact count. The sketch value
      // itself is approximate by construction (can't hash-match an
      // oracle), but the ERROR BOUND is a hard property — a red row means
      // the sketch path broke. At 100 TB this is the only sane way to
      // count distincts per group in one narrow pass (no shuffle of the
      // distinct values themselves, mergeable partial sketches).
      (s, dir) => {
        val ev = t(s, dir, "events")
        val a = ev.groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"))
        val e = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact"))
        a.join(e, Seq("event_type"))
          .agg(max(abs(col("approx") - col("exact")) / col("exact")).as("err"))
          .select(lit("approx_distinct").as("gate"),
            (col("err") <= 0.05).as("floor_met"))
      },
      Some("SELECT 'approx_distinct' AS gate, true AS floor_met")),

    "q_approx_quantiles" -> QueryDef(
      // Quantile sketch (Greenwald-Khanna percentile_approx, accuracy 10k)
      // gate, certifying what GK actually guarantees: the returned
      // ELEMENT's rank is within n/accuracy of the target rank p*n. The
      // gate measures the rank directly — per group, the returned value's
      // rank span is [count(<)+1, count(<=)] (ties widen it), and the
      // span expanded by n/accuracy + 1 must contain p*n (+1 absorbs the
      // floor/ceil convention at the target). An earlier form bracketed
      // with exact INTERPOLATED percentiles at p±2/accuracy, which is
      // wrong at small n: the sketch returns an element while the exact
      // interpolation lands between elements, so sub-element rank windows
      // (n < accuracy/2) failed on rounding alone. The sketch VALUE is
      // nondeterministic (merge order follows task scheduling) — the rank
      // window holds under any merge order, which is exactly what this
      // gate asserts (and why a value-hash oracle would be wrong here).
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val acc = 10000
        val sk = l.groupBy(col("l_returnflag")).agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(acc)).as("m_a"),
          percentile_approx(col("l_extendedprice"), lit(0.9), lit(acc)).as("p90_a"))
        val r = l.join(broadcast(sk), "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") < col("m_a"), 1L).otherwise(0L)).as("m_lt"),
            sum(when(col("l_extendedprice") <= col("m_a"), 1L).otherwise(0L)).as("m_le"),
            sum(when(col("l_extendedprice") < col("p90_a"), 1L).otherwise(0L)).as("p_lt"),
            sum(when(col("l_extendedprice") <= col("p90_a"), 1L).otherwise(0L)).as("p_le"))
        val tol = col("n") / acc + lit(1)
        def rankOk(p: Double, ltc: Column, lec: Column) =
          (ltc + lit(1) - tol <= col("n") * p) && (lec + tol >= col("n") * p)
        r.agg(min(rankOk(0.5, col("m_lt"), col("m_le")) &&
            rankOk(0.9, col("p_lt"), col("p_le"))).as("ok"))
          .select(lit("approx_quantiles").as("gate"), col("ok").as("floor_met"))
      },
      Some("SELECT 'approx_quantiles' AS gate, true AS floor_met")),

    "q_approx_topk" -> QueryDef(
      // Frequent-items sketch (DataSketches ItemsSketch behind Spark 4's
      // approx_top_k) as a first-class heavy-hitters operator: per-item
      // counts in ONE narrow pass of mergeable partial sketches — at
      // 100 TB the per-partition maps combine instead of shuffling the
      // grouped counts, the sketch-family answer to q_skew_distinct's
      // problem. Scoped honestly (the simhash-exactness pattern): with
      // distinct items <= maxItemsTracked the sketch never purges, so
      // its counts are EXACT and hash-match the oracle — the scope this
      // row declares (25 nations, capacity 10k). Past capacity the
      // counts degrade to estimates with an n/maxMapSize-order error
      // bound; that regime is approximate by construction and not what
      // this row claims.
      (s, dir) => t(s, dir, "customer")
        .select(expr("approx_top_k(c_nationkey, 25, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("item")),
      Some("""SELECT c_nationkey AS item, count(*) AS cnt FROM customer
        GROUP BY 1 ORDER BY cnt DESC, item""")),

    "q_asof_signup" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, dir)
          .select(col("event_id"), col("user_id"),
            max(when(col("event_type") === "signup", col("ts_ms"))).over(w).as("last_signup_ms"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        max(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
          OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ms
        FROM events ORDER BY event_id""")))

  // ========================================================= B. KV parity ==

  private def lwwLatest(s: SparkSession, dir: String): DataFrame =
    KVOps.lwwResolve(events(s, dir), Seq("user_id"), Seq(col("ts_ms"), col("event_id")))

  private val lwwLatestSql =
    """(SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn FROM events) WHERE rn = 1)"""

  private val kvParity: Seq[(String, QueryDef)] = Seq(

    "kv_lww_latest" -> QueryDef(
      (s, dir) => lwwLatest(s, dir)
        .select(col("user_id"), col("event_id").as("latest_event_id"),
          col("event_type").as("latest_type"))
        .orderBy("user_id"),
      Some(s"""SELECT user_id, event_id AS latest_event_id, event_type AS latest_type
        FROM $lwwLatestSql ORDER BY user_id"""),
      headline = true),

    "kv_point_get" -> QueryDef(
      (s, dir) => KVOps.lwwResolve(events(s, dir).filter(col("user_id") === 7),
          Seq("user_id"), Seq(col("ts_ms"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          round(col("value"), 2).as("value")),
      Some("""SELECT user_id, event_id, event_type, round(value, 2) AS value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn FROM events WHERE user_id = 7)
        WHERE rn = 1""")),

    "kv_range_scan" -> QueryDef(
      (s, dir) => KVOps.lwwResolve(
          events(s, dir).filter(col("user_id") >= 5 && col("user_id") < 15),
          Seq("user_id"), Seq(col("ts_ms"), col("event_id")))
        .select(col("user_id"), col("event_id").as("latest_event_id"))
        .orderBy("user_id"),
      Some("""SELECT user_id, event_id AS latest_event_id
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn FROM events
          WHERE user_id >= 5 AND user_id < 15)
        WHERE rn = 1 ORDER BY user_id""")),

    "kv_prefix_scan" -> QueryDef(
      (s, dir) => KVOps.prefixScan(t(s, dir, "documents"), "source", "src1")
        .select(col("doc_id"), col("source"))
        .orderBy("source", "doc_id"),
      Some("""SELECT doc_id, source FROM documents WHERE source LIKE 'src1%'
        ORDER BY source, doc_id""")),

    "kv_visible_set" -> QueryDef(
      // full KV visibility semantics: LWW resolve, then tombstone
      // (latest=='error') and TTL (latest older than cutoff) filters —
      // strictly after resolution, mirroring kv/db.go:114-130.
      (s, dir) => KVOps.visible(lwwLatest(s, dir),
          tombstone = col("event_type") === "error",
          expired = col("ts_ms") < lit(1705276800000L)) // 2024-01-15T00:00Z
        .select(col("user_id"), col("event_id").as("latest_event_id"))
        .orderBy("user_id"),
      Some(s"""SELECT user_id, event_id AS latest_event_id FROM $lwwLatestSql
        WHERE NOT (event_type = 'error') AND NOT (epoch_ms(ts) < 1705276800000)
        ORDER BY user_id""")),

    "kv_batch_union" -> QueryDef(
      // merge of independently-written "generations" (memtable + L0s):
      // union of three disjoint slices then LWW — same answer as
      // kv_lww_latest via a different physical plan (SURVEY S2).
      (s, dir) => {
        val ev = events(s, dir)
        val slices = (0 until 3).map(i => ev.filter(pmod(col("event_id"), lit(3)) === i))
        KVOps.lwwResolve(slices.reduce(_ unionAll _), Seq("user_id"),
            Seq(col("ts_ms"), col("event_id")))
          .select(col("user_id"), col("event_id").as("latest_event_id"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id, event_id AS latest_event_id FROM $lwwLatestSql
        ORDER BY user_id""")),

    "kv_engine_view" -> QueryDef(
      // End-to-end through GraftDB itself: bulk-write events as KV pairs
      // (value-separated: values >= 8 bytes route to the blob table), then
      // a prefix scan over the merge-on-read view must reproduce the
      // relational answer.
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-view").toString
        val db = new GraftDB(s, tmp,
          GraftOptions(valueThreshold = 8, compactTriggerFiles = 1000))
        val kv = t(s, dir, "events").select(
          encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
            lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key"),
          encode(col("event_type"), "UTF-8").as("value"))
        db.write(kv)
        db.scan(prefix = Some("0007#".getBytes("UTF-8")))
          .select(decode(col("key"), "UTF-8").as("k"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        event_type AS v FROM events WHERE user_id = 7 ORDER BY k"""),
      headline = true),

    "kv_engine_compact" -> QueryDef(
      // Overwrites across generations + tombstones + compaction: the
      // compacted view must equal the logical LWW answer.
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-compact").toString
        val db = new GraftDB(s, tmp, GraftOptions(compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key, encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(key, encode(concat(lit("new:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, lit(null).cast("binary").as("value")))
        db.compact()
        db.scan(prefix = Some("0007#".getBytes("UTF-8")))
          .select(decode(col("key"), "UTF-8").as("k"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        CASE WHEN event_id % 2 = 0 THEN 'new:' || event_type
             ELSE 'old:' || event_type END AS v
        FROM events WHERE user_id = 7 AND event_id % 5 != 0 ORDER BY k""")),

    "kv_engine_ttl" -> QueryDef(
      // TTL semantics END-TO-END through the engine, at a FIXED as-of time
      // so the oracle is deterministic: gen2 overwrites every third key
      // with an ALREADY-EXPIRED version (newer-expired must SHADOW
      // older-live — TTL visibility is applied strictly after LWW,
      // kv/db.go:114-130), gen3 refreshes every fifth key with a far-future
      // expiry. Compaction runs in between, so expired-version dead-drop is
      // exercised too (dropping an expired newest version may not resurrect
      // the older live one below it).
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-ttl").toString
        val db = new GraftDB(s, tmp, GraftOptions(compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key,
          encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .select(key, encode(concat(lit("exp:"), col("event_type")), "UTF-8").as("value"))
          .withColumn("expiresAt", lit(1000000000L)))  // 2001: long expired
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, encode(concat(lit("fut:"), col("event_type")), "UTF-8").as("value"))
          .withColumn("expiresAt", lit(3000000000L)))  // 2065: far future
        db.compact()
        db.scan(prefix = Some("0007#".getBytes("UTF-8")), asOfUnixSec = 2000000000L)
          .select(decode(col("key"), "UTF-8").as("k"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        CASE WHEN event_id % 5 = 0 THEN 'fut:' || event_type
             ELSE 'old:' || event_type END AS v
        FROM events WHERE user_id = 7 AND (event_id % 3 != 0 OR event_id % 5 = 0)
        ORDER BY k""")),

    "kv_engine_snapshot" -> QueryDef(
      // Snapshot isolation END-TO-END: pin a snapshot at gen1, then
      // overwrite half the keys, delete every fifth, compact AND vacuum —
      // the pinned read must still serve gen1 exactly (vacuum skips files a
      // live snapshot references; if pinning broke, the read either errors
      // on deleted files or sees the new values — a red row either way).
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-snap").toString
        val db = new GraftDB(s, tmp, GraftOptions(compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key,
          encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        val snap = db.snapshot()
        db.write(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(key, encode(concat(lit("new:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, lit(null).cast("binary").as("value")))
        db.compact()
        db.vacuum()
        val p = "0007#".getBytes("UTF-8")
        val succ = GraftDB.prefixSuccessor(p).get
        snap.view().filter(col("key") >= lit(p) && col("key") < lit(succ))
          .select(decode(col("key"), "UTF-8").as("k"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        'old:' || event_type AS v FROM events WHERE user_id = 7 ORDER BY k""")),

    "kv_engine_diff" -> QueryDef(
      // CHANGE FEED END-TO-END (GraftDB.changesBetween): pin snap1, then
      // overwrite every even event and tombstone every fifth, pin snap2 —
      // the diff must emit exactly the net change per key (set with the
      // new value, del for tombstoned, nothing for untouched or
      // redundant), computed from ONLY the delta segments between the two
      // manifests. A compact() between the snapshots makes rewritten
      // segments candidates that must all diff away.
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-diff").toString
        val db = new GraftDB(s, tmp, GraftOptions(compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key,
          encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        val snap1 = db.snapshot()
        db.write(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(key, encode(concat(lit("new:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, lit(null).cast("binary").as("value")))
        db.compact() // rewritten-segment candidates must diff away
        val snap2 = db.snapshot()
        db.changesBetween(snap1, snap2)
          .select(decode(col("key"), "UTF-8").as("k"), col("op"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        CASE WHEN event_id % 5 = 0 THEN 'del' ELSE 'set' END AS op,
        CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'new:' || event_type END AS v
        FROM events WHERE event_id % 5 = 0 OR event_id % 2 = 0
        ORDER BY k""")),

    "kv_engine_diff_sql" -> QueryDef(
      // The SAME net-change feed as kv_engine_diff, consumed through the
      // pure-SQL boundary: build the before-state, backupTo a second dir
      // (the manifest-level copy a replica would hold), mutate the live
      // engine, then read `graft_changes('<backup>', '<live>', asOf)` —
      // the TVF hands changesBetween's analyzed plan to the SQL tree
      // (GraftExtensions.graftChangesPlan), so the SQL boundary itself
      // sits under the oracle gate, not just the Column API. The asOf
      // instant is EXPLICIT (a fixed future second) — the wall-clock
      // default would make the row time-dependent.
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-diffsql").toString
        val bak = Files.createTempDirectory("graft-q-diffbak").toString
        val db = new GraftDB(s, tmp, GraftOptions(compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key,
          encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        db.backupTo(bak)
        db.write(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(key, encode(concat(lit("new:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, lit(null).cast("binary").as("value")))
        db.compact() // rewritten-segment candidates must diff away
        graft.GraftExtensions.register(s)
        s.sql(s"""SELECT decode(key, 'UTF-8') AS k, op, decode(value, 'UTF-8') AS v
          FROM graft_changes('$bak', '$tmp', 4102444800) ORDER BY k""")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        CASE WHEN event_id % 5 = 0 THEN 'del' ELSE 'set' END AS op,
        CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'new:' || event_type END AS v
        FROM events WHERE event_id % 5 = 0 OR event_id % 2 = 0
        ORDER BY k""")),

    "kv_engine_gc" -> QueryDef(
      // Blob GC END-TO-END (the reference's marquee WiscKey path,
      // kv/vlog_gc.go:75-253): gen1 blob-routes every value, gen2 re-blobs
      // every third key, gen3 shrinks those same keys to INLINE values —
      // gen2's whole blob segment is now dead — and gen4 tombstones every
      // fifth key. GC must DROP the fully-dead segment, REWRITE gen1's
      // survivors (its dead ratio is ~47%: thirds shadowed + fifths
      // tombstoned), and vacuum deletes the replaced dirs. The scan after
      // both certifies victim pick + live-row rewrite + manifest swap end
      // to end: a live blob lost in the rewrite, a wrong victim, or an
      // over-eager vacuum is a red row here.
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-gc").toString
        val db = new GraftDB(s, tmp,
          GraftOptions(valueThreshold = 8, compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key,
          encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .select(key, encode(concat(lit("mid:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .select(key, encode(lit("i"), "UTF-8").as("value"))) // 1 byte: inline
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, lit(null).cast("binary").as("value")))
        val before = db.stats()("blobSegments")
        val (_, dead) = db.gcBlobs(maxSegments = 16, discardRatio = 0.2)
        db.vacuum()
        // deterministic on the fixed testdata: reclamation must actually
        // happen (fail loudly rather than certify a no-op GC)
        require(dead > 0 && db.stats()("blobSegments") < before,
          s"GC reclaimed nothing: dead=$dead, segments ${db.stats()("blobSegments")}/$before")
        db.scan(prefix = Some("0007#".getBytes("UTF-8")))
          .select(decode(col("key"), "UTF-8").as("k"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        CASE WHEN event_id % 3 = 0 THEN 'i' ELSE 'old:' || event_type END AS v
        FROM events WHERE user_id = 7 AND event_id % 5 != 0 ORDER BY k""")),

    "kv_engine_backup" -> QueryDef(
      // Backup/restore END-TO-END (the LSM Backup story): build state
      // with overwrites + tombstones + blob-routed values, backupTo a
      // fresh dir, then MUTATE the source hard (full overwrite, compact,
      // vacuum) and read from the RESTORED engine — which must serve the
      // exact pre-mutation state through copied segments AND copied blob
      // files. A missed blob copy, a leaked post-backup write, or a
      // vacuum reaching into the backup is a red row here.
      (s, dir) => {
        val tmp = Files.createTempDirectory("graft-q-backup").toString
        val db = new GraftDB(s, tmp,
          GraftOptions(valueThreshold = 8, compactTriggerFiles = 1000))
        val ev = t(s, dir, "events")
        val key = encode(concat(lpad(col("user_id").cast("string"), 4, "0"), lit("#"),
          lpad(col("event_id").cast("string"), 6, "0")), "UTF-8").as("key")
        db.write(ev.select(key,
          encode(concat(lit("old:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(key, encode(concat(lit("new:"), col("event_type")), "UTF-8").as("value")))
        db.write(ev.filter(pmod(col("event_id"), lit(5)) === 0)
          .select(key, lit(null).cast("binary").as("value")))
        val dest = Files.createTempDirectory("graft-q-backup-dest").toString + "/bk"
        db.backupTo(dest)
        // source diverges AFTER the backup — none of this may leak in
        db.write(ev.select(key, encode(lit("MUTATED"), "UTF-8").as("value")))
        db.compact()
        db.vacuum()
        val bk = GraftDB.openBackup(s, dest)
        bk.scan(prefix = Some("0007#".getBytes("UTF-8")))
          .select(decode(col("key"), "UTF-8").as("k"),
            decode(col("value"), "UTF-8").as("v"))
          .orderBy("k")
      },
      Some("""SELECT lpad(user_id::VARCHAR, 4, '0') || '#' || lpad(event_id::VARCHAR, 6, '0') AS k,
        CASE WHEN event_id % 2 = 0 THEN 'new:' || event_type ELSE 'old:' || event_type END AS v
        FROM events WHERE user_id = 7 AND event_id % 5 != 0 ORDER BY k""")))

  // ============================================================== C. text ==

  private val text: Seq[(String, QueryDef)] = Seq(

    "text_tokens" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          Text.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len($toksSql) AS n_tokens,
        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
        FROM documents ORDER BY doc_id""")),

    "text_quality" -> QueryDef(
      (s, dir) => {
        val st = Text.stats(col("text"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            st.getField("n_chars").as("n_chars"),
            round(st.getField("punct_ratio"), 6).as("punct_ratio"),
            round(st.getField("stopword_ratio"), 6).as("stopword_ratio"),
            round(st.getField("quality"), 6).as("quality"))
          .orderBy("doc_id")
      },
      Some {
        val stopList = Text.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH q AS (SELECT doc_id, length(text) AS n_chars,
          CASE WHEN length(text) = 0 THEN 0.0
               ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text) END AS pr,
          CASE WHEN len($toksSql) = 0 THEN 0.0
               ELSE len(list_filter($toksSql, tk -> tk IN ($stopList)))::DOUBLE / len($toksSql) END AS sr
          FROM documents)
        SELECT doc_id, n_chars, round(pr, 6) AS punct_ratio, round(sr, 6) AS stopword_ratio,
          round((least(n_chars / 500.0, 1.0) + least(sr * 4.0, 1.0) + greatest(1.0 - pr * 5.0, 0.0)) / 3.0, 6) AS quality
        FROM q ORDER BY doc_id"""
      },
      headline = true),

    "text_repetition_chars" -> QueryDef(
      // Intra-document repetition signals (llmops.Repetition.signals) —
      // the CHARACTER-COVERAGE forms of the Gopher filters, complementing
      // text_repetition's gram-count fractions:
      // the Gopher-style quality filters — repeated-word fraction, most-
      // covering word/bigram coverage, duplicated-trigram char fraction.
      // ZERO exchanges (PlanShapeSpec pins it): one native codegen'd
      // gram-interning pass per row (repetition_stats), never a
      // gram-string shuffle; per-doc work bounded by the doc's own
      // length.
      (s, dir) => graft.llmops.Repetition.signals(t(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(s"""WITH t0 AS (SELECT doc_id, $normSql AS norm FROM documents),
          t1 AS (SELECT doc_id, len(norm) AS nchars,
              list_filter(string_split(norm, ' '), x -> len(x) > 0) AS tk
            FROM t0),
          t2 AS (SELECT doc_id, nchars, tk, len(tk) AS ntok,
              len(list_distinct(tk)) AS ndistinct
            FROM t1 WHERE len(tk) >= 3),
          g AS (
            SELECT doc_id, 1 AS n, tk[i] AS g
              FROM t2, unnest(range(1, ntok + 1)) AS r(i)
            UNION ALL
            SELECT doc_id, 2, tk[i] || ' ' || tk[i + 1]
              FROM t2, unnest(range(1, ntok)) AS r(i)
            UNION ALL
            SELECT doc_id, 3, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
              FROM t2, unnest(range(1, ntok - 1)) AS r(i)),
          c AS (SELECT doc_id, n, g, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
          m AS (SELECT doc_id,
              max(CASE WHEN n = 1 THEN cnt * len(g) END) AS w1,
              max(CASE WHEN n = 2 THEN cnt * len(g) END) AS w2,
              coalesce(sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt * len(g) END), 0) AS d3
            FROM c GROUP BY 1)
        SELECT t2.doc_id, ntok::BIGINT AS n_tokens,
          round((ntok - ndistinct)::DOUBLE / ntok, 6) AS dup_word_frac,
          round(w1::DOUBLE / nchars, 6) AS top_word_cov,
          round(w2::DOUBLE / nchars, 6) AS top_bigram_cov,
          round(d3::DOUBLE / nchars, 6) AS dup_trigram_frac
        FROM t2 JOIN m ON t2.doc_id = m.doc_id
        ORDER BY t2.doc_id"""),
      headline = true),

    "text_langid" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(s"""WITH sc AS (SELECT doc_id, text,
          len(list_filter($toksSql, tk -> tk IN ('the','and','of','is','to'))) AS s_en,
          len(list_filter($toksSql, tk -> tk IN ('el','la','de','y','que'))) AS s_es,
          len(list_filter($toksSql, tk -> tk IN ('der','die','und','das','ist'))) AS s_de,
          len(list_filter($toksSql, tk -> tk IN ('le','la','et','les','des'))) AS s_fr
          FROM documents)
        SELECT doc_id, CASE
          WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
          WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
          WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
          WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
          WHEN s_fr > 0 THEN 'fr'
          ELSE 'und' END AS lang_pred
        FROM sc ORDER BY doc_id""")),

    "text_codeid" -> QueryDef(
      // Code-vs-prose routing (Text.codeScore): the signal that sends a
      // document to a code-specific cleaning path (or weights the code
      // share of a training mix) before any model-based classifier runs
      // — the text_langid convention applied to the code/prose axis.
      // Four saturated cheap signals averaged (symbols, keywords,
      // camelCase identifiers, statement-shaped lines), each a
      // character/token count both engines derive identically; one
      // fixed parenthesization, fully oracled. withCodeFeatures layers
      // the projection so every regex/token scan runs ONCE per row
      // (the fused form ran each twice — CASE-branch subtrees are
      // invisible to Spark's CSE); values are bit-equal either way.
      (s, dir) => Text.withCodeFeatures(t(s, dir, "documents"), col("text"))
        .select("doc_id", "symbol_ratio", "keyword_ratio", "camel_ratio",
          "line_ratio", "code_score")
        .orderBy("doc_id"),
      Some(codeidOracleSql),
      headline = true),

    "text_codeid_sql" -> QueryDef(
      // the same routing signals from PURE SQL: the graft_codeid TVF
      // routes to Text.codeScore and its component features, so a SQL
      // session scores identically with no Column API; same oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_cid_docs")
        s.sql("""SELECT doc_id, symbol_ratio, keyword_ratio, camel_ratio,
            line_ratio, code_score
          FROM graft_codeid('graft_cid_docs', 'text') ORDER BY doc_id""")
      },
      Some(codeidOracleSql)),

    "text_encoding" -> QueryDef(
      // Encoding-quality audit (Text.withEncodingQuality): U+FFFD
      // replacement-char and control-char ratios over CODE POINTS plus
      // a saturating composite — the pre-language-ID structural filter
      // that catches broken transcoding and binary-in-text before any
      // content scoring. Counts are regex counts both engines derive
      // identically (Java regex and RE2 are code-point based); narrow
      // map, one scan per regex (the withCodeFeatures layering).
      (s, dir) => Text.withEncodingQuality(t(s, dir, "documents"),
          col("text"))
        .select("doc_id", "n_cp", "repl_ratio", "ctrl_ratio", "enc_score")
        .orderBy("doc_id"),
      Some(encodingOracleSql),
      headline = true),

    "text_encoding_sql" -> QueryDef(
      // the same audit from PURE SQL via the graft_encoding TVF.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_enc_docs")
        s.sql("""SELECT doc_id, n_cp, repl_ratio, ctrl_ratio, enc_score
          FROM graft_encoding('graft_enc_docs', 'text') ORDER BY doc_id""")
      },
      Some(encodingOracleSql)),

    "text_script" -> QueryDef(
      // Unicode-script profile (Text.withScriptProfile): per-script
      // code-point ratios + argmax routing label — the wrong-script
      // filter a multilingual pipeline applies per language bucket
      // (script ratios catch a mislabeled or transliterated document
      // where stopword language-ID can't). Java `\p{IsX}` and RE2
      // `\p{X}` agree on the script assignments; integer-count argmax
      // with a fixed tie order keeps the label replayable.
      (s, dir) => Text.withScriptProfile(t(s, dir, "documents"),
          col("text"))
        .select("doc_id", "script_latin", "script_han", "script_cyrillic",
          "script_arabic", "script_other", "script_pred")
        .orderBy("doc_id"),
      Some(scriptOracleSql),
      headline = true),

    "text_script_sql" -> QueryDef(
      // the same profile from PURE SQL via the graft_script TVF.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_scr_docs")
        s.sql("""SELECT doc_id, script_latin, script_han, script_cyrillic,
            script_arabic, script_other, script_pred
          FROM graft_script('graft_scr_docs', 'text') ORDER BY doc_id""")
      },
      Some(scriptOracleSql)),

    "pipeline_corpus_report" -> QueryDef(
      // Per-source corpus health report (Curation.corpusReport): doc and
      // token volume, average length, code-route share, transcoding
      // damage — the dashboard a pipeline owner reads per crawl/source.
      // Every aggregate is an INTEGER sum (association-free, exact under
      // any partitioning — no order-dependent double sums), so the
      // GROUP BY oracles exactly; averages divide exact inputs once.
      (s, dir) => Curation.corpusReport(t(s, dir, "documents"))
        .orderBy("source"),
      Some(corpusReportOracleSql)),

    "pipeline_corpus_report_sql" -> QueryDef(
      // the same dashboard from PURE SQL via the graft_corpus_report
      // TVF; same oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_crp_docs")
        s.sql("""SELECT source, n_docs, n_tokens, n_chars, n_code_docs,
            n_repl_chars, n_ctrl_chars, n_latin_docs, avg_tokens,
            avg_chars, latin_share
          FROM graft_corpus_report('graft_crp_docs', 'source', 'text')
          ORDER BY source""")
      },
      Some(corpusReportOracleSql)),

    "pipeline_dsir_weights" -> QueryDef(
      // DSIR data selection (Xie et al., NeurIPS 2023): importance
      // weights over hashed unigram+bigram features — target = the
      // English slice, raw = the whole pool, 1024 buckets. The fit is
      // ONE bucket-bounded hash agg over the pool (dsirFitWhere:
      // conditional counts, since the target is a predicate over the
      // pool itself) producing a 1024-row broadcast
      // model; the apply is one narrow gram explode + broadcast join +
      // one agg; every per-bucket log ratio is 6dp INTEGER MICROS, so
      // each document's weight is an exact integer sum and the whole
      // fit+apply replays hash-exact in SQL (Importance scaladoc).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Importance.dsirWeights(docs,
          Importance.dsirFitWhere(docs, col("lang") === "en",
            buckets = 1024),
          buckets = 1024).orderBy("doc_id")
      },
      Some(dsirWeightsOracleSql),
      headline = true),

    "pipeline_dsir_model" -> QueryDef(
      // the PERSISTED-model DSIR path: fit once, save + reload through
      // parquet, then the STATELESS narrow-map apply (dsirScore: the
      // model rides the plan as a bucket-indexed array literal, one
      // lookup per gram via builtin HOFs — zero exchanges, stream-safe).
      // Shares pipeline_dsir_weights' oracle: the relational and
      // narrow-map applies must agree bit-for-bit (both sum the same
      // integer micros).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mdir = Files.createTempDirectory("graft-dsir-model").toString
        val lut = try {
          Importance.saveDsirModel(
            Importance.dsirFitWhere(docs, col("lang") === "en",
              buckets = 1024), mdir)
          Importance.loadDsirModel(s, mdir)
        } finally {
          val p = new org.apache.hadoop.fs.Path(mdir)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        Importance.dsirScore(docs, lut).orderBy("doc_id")
      },
      Some(dsirWeightsOracleSql)),

    "pipeline_dsir_sample" -> QueryDef(
      // the RESAMPLE step: deterministic Gumbel-top-k of 100 docs keyed
      // on (length-normalized weight micros + 6dp Gumbel micros from the
      // md5 uniform) — integer key comparisons, so the EXACT sample
      // replays in SQL. At sf0.01 the draw visibly over-represents the
      // target language (en ~36/100 vs its 20% pool share) while keeping
      // every stratum present — importance resampling, not a hard
      // filter. Winners are a TakeOrdered(k), joined back broadcast.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Importance.dsirSample(docs,
          Importance.dsirFitWhere(docs, col("lang") === "en",
            buckets = 1024),
          k = 100, buckets = 1024)
          .select("doc_id", "lang", "source", "n_grams", "logw", "key")
          .orderBy("doc_id")
      },
      Some(s"""$dsirCtePrefix,
        keyed AS (SELECT doc_id, n_grams, slw,
            (CASE WHEN n_grams = 0 THEN 0
              ELSE CAST(round(slw::DOUBLE / n_grams, 0) AS BIGINT) END
             + CAST(round(round(
                CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))
                      ::BIGINT + 1)::DOUBLE / 4503599627370496.0 >= 1.0
                  THEN 37.0
                  ELSE -ln(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))
                      ::BIGINT + 1)::DOUBLE / 4503599627370496.0)) END,
                6) * 1000000, 0) AS BIGINT)) AS km
          FROM w),
        win AS (SELECT doc_id, n_grams, slw, km FROM keyed
          ORDER BY km DESC, doc_id LIMIT 100)
      SELECT d0.doc_id, d0.lang, d0.source, win.n_grams,
        round(win.slw::DOUBLE / 1000000.0, 6) AS logw,
        round(win.km::DOUBLE / 1000000.0, 6) AS key
      FROM documents d0 JOIN win USING (doc_id)
      ORDER BY doc_id""")),

    "pipeline_dsir_weights_sql" -> QueryDef(
      // the DSIR fit+apply from PURE SQL via the graft_dsir TVF (target
      // and pool as temp views); shares pipeline_dsir_weights' oracle —
      // the TVF must reproduce the API path bit-for-bit.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        val docs = t(s, dir, "documents")
        docs.createOrReplaceTempView("graft_dsir_docs")
        docs.filter(col("lang") === "en")
          .createOrReplaceTempView("graft_dsir_target")
        s.sql("""SELECT doc_id, n_grams, logw
          FROM graft_dsir('graft_dsir_target', 'graft_dsir_docs', 1024)
          ORDER BY doc_id""")
      },
      Some(dsirWeightsOracleSql)),

    "pipeline_dsir_model_sql" -> QueryDef(
      // the persisted-model path from PURE SQL via graft_dsir_model
      // (fit + save programmatically, consume from SQL — the
      // graft_oov_model convention); shares the same oracle: narrow-map
      // apply == relational apply bit-for-bit.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        val docs = t(s, dir, "documents")
        val mdir = Files.createTempDirectory("graft-dsir-sql").toString
        Importance.saveDsirModel(
          Importance.dsirFitWhere(docs, col("lang") === "en",
            buckets = 1024), mdir)
        docs.createOrReplaceTempView("graft_dsirm_docs")
        // the model loads at plan BUILD (array literal in the plan), so
        // the dir must outlive only the sql() call, not the execution
        val out = s.sql(s"""SELECT doc_id, n_grams, logw
          FROM graft_dsir_model('$mdir', 'graft_dsirm_docs')
          ORDER BY doc_id""")
        val p = new org.apache.hadoop.fs.Path(mdir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        out
      },
      Some(dsirWeightsOracleSql)),

    "pipeline_e2e" -> QueryDef(
      // the END-TO-END pipeline composite: every family is oracled in
      // isolation elsewhere; this row exercises COMPOSITION — C4 clean
      // (withC4LineClean over the deterministic line-ification), the
      // encoding + script audit gate ON THE CLEANED TEXT plus a
      // kept-line floor (n_kept >= 8 — drops ~1/3 of this corpus),
      // exact dedup of the cleaned text (cleaning creates real
      // duplicate groups here; min doc_id survives), alpha=0.5
      // temperature mixing over lang at budget 150, and the per-source
      // corpus health report over the survivors. Temp-column hygiene,
      // plan size, and exchange count under stacking are what a real
      // pipeline hits first (PlanShapeSpec pins the exchange count);
      // the oracle replays every stage and hash-matches the final
      // dashboard. The mix fit (one |strata|-cell count over the
      // deduped set) runs at plan build — the graft_temperature_mix
      // convention — so each bench run pays fit + apply by design.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cleaned = Text.withC4LineClean(
          docs.withColumn("lined",
            regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1.\n")),
          col("lined"))
        val gated = Text.withScriptProfile(
            Text.withEncodingQuality(cleaned, col("clean_text")),
            col("clean_text"))
          .filter(col("n_kept") >= 8 && col("enc_score") >= 0.9 &&
            col("script_pred") === "latin")
          .select("doc_id", "lang", "source", "clean_text")
          // materialize the regex-heavy clean+gate stage ONCE per run
          // (guide §6/§5: the composite's downstream stages — dedup's
          // group+probe sides, the mix fit's plan-build count, and the
          // final report execution — each re-evaluated the whole
          // C4-clean/encoding/script pipeline, four full regex passes
          // over the corpus). localCheckpoint is per-invocation
          // (recomputed from the parquet inputs on every run — nothing
          // persists across runs) and cuts lineage, so one pass feeds
          // all four consumers; rows are identical, so the oracle hash
          // is unchanged.
          .localCheckpoint(true)
        val deduped = Dedup.exactSurvivors(gated, textCol = "clean_text")
          // the survivor set likewise feeds the fit count AND the final
          // apply+report — one dedup aggregation instead of two
          .localCheckpoint(true)
        val mixed = Curation.temperatureMix(deduped, "lang", budget = 150L)
        Curation.corpusReport(mixed, "source", "clean_text")
          .orderBy("source")
      },
      Some(pipelineE2eOracleSql),
      headline = true),

    "pipeline_e2e_sql" -> QueryDef(
      // the SAME five-stage composite from PURE SQL: every stage is a
      // TVF (graft_c4_clean -> graft_encoding -> graft_script ->
      // graft_temperature_mix -> graft_corpus_report) or plain SQL
      // (the exact-dedup min-id semi-join), chained through temp views
      // — proof a SQL-only user can run the whole pipeline. Same
      // oracle as pipeline_e2e: the TVF chain must reproduce the API
      // chain's keep set and dashboard bit-for-bit.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents")
          .withColumn("lined",
            regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1.\n"))
          .createOrReplaceTempView("graft_e2e_docs")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_e2e_c4 AS
          SELECT doc_id, lang, source, clean_text, n_kept
          FROM graft_c4_clean('graft_e2e_docs', 'lined')""")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_e2e_enc AS
          SELECT * FROM graft_encoding('graft_e2e_c4', 'clean_text')""")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_e2e_gate AS
          SELECT doc_id, lang, source, clean_text
          FROM graft_script('graft_e2e_enc', 'clean_text')
          WHERE n_kept >= 8 AND enc_score >= 0.9
            AND script_pred = 'latin'""")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_e2e_dedup AS
          SELECT d.* FROM graft_e2e_gate d LEFT SEMI JOIN (
              SELECT min(doc_id) AS doc_id FROM graft_e2e_gate
              GROUP BY md5(trim(regexp_replace(lower(clean_text),
                '\\s+', ' ')))) k
            ON d.doc_id = k.doc_id""")
        s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_e2e_mix AS
          SELECT * FROM graft_temperature_mix('graft_e2e_dedup', 'lang', 150)""")
        s.sql("""SELECT * FROM
          graft_corpus_report('graft_e2e_mix', 'source', 'clean_text')
          ORDER BY source""")
      },
      Some(pipelineE2eOracleSql)),

    "pipeline_c4_clean" -> QueryDef(
      // C4-inspired line cleaning (Text.withC4LineClean — cf. Raffel
      // et al. 2020, with documented deviations: 3-token minimum,
      // line-level drops): the line filter between "raw crawl" and
      // every scorer in this catalog. Documents are
      // line-ified deterministically first (every 5-token run becomes a
      // period-terminated line; the sub-5-token remainder stays
      // unterminated) so kept AND dropped lines are exercised; the
      // oracle replays the line-ification and every rule.
      (s, dir) => Text.withC4LineClean(
          t(s, dir, "documents").withColumn("lined",
            regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1.\n")),
          col("lined"))
        .select(col("doc_id"), col("clean_text"), col("n_lines"),
          col("n_kept"), col("n_dropped"))
        .orderBy("doc_id"),
      Some(c4CleanOracleSql),
      headline = true),

    "pipeline_c4_clean_sql" -> QueryDef(
      // the same cleaning from PURE SQL via the graft_c4_clean TVF
      // (line-ification precomputed into the view so the TVF surface
      // stays (table, textCol)); same oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").withColumn("lined",
            regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1.\n"))
          .createOrReplaceTempView("graft_c4_docs")
        s.sql("""SELECT doc_id, clean_text, n_lines, n_kept, n_dropped
          FROM graft_c4_clean('graft_c4_docs', 'lined') ORDER BY doc_id""")
      },
      Some(c4CleanOracleSql)),

    "text_oov" -> QueryDef(
      // Vocabulary coverage / OOV rate (Tokenize.vocabCoverage): each
      // document's fraction of tokens outside the corpus's top-15 terms
      // (the synthetic corpus has 31 distinct tokens, so 15 leaves a
      // ~49% OOV mass to measure) — the tokenizer-fertility drift
      // signal, fit as an exact deterministic top-K (count DESC, term
      // ASC) and applied as one broadcast left join + aggregate. Oracle
      // replays the vocabulary fit and the per-document miss counts.
      (s, dir) => Tokenize.vocabCoverage(t(s, dir, "documents"),
          vocabSize = 15)
        .orderBy("doc_id"),
      Some(oovOracleSql)),

    "text_oov_sql" -> QueryDef(
      // the same coverage from PURE SQL via the graft_oov TVF; same
      // oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_oov_docs")
        s.sql("""SELECT doc_id, n_tokens, n_oov, oov_rate
          FROM graft_oov('graft_oov_docs', 15) ORDER BY doc_id""")
      },
      Some(oovOracleSql)),

    "text_oov_model" -> QueryDef(
      // the PERSISTED-vocabulary OOV path: fit once (vocabFit), save +
      // reload through parquet, then the STATELESS narrow-map apply
      // (oovAgainstVocab: one codegen'd hash-set probe per token, the
      // vocabulary riding the plan) — the production shape where OOV is
      // measured against a FIXED tokenizer vocabulary across shards and
      // streams, which the per-call refit (text_oov) cannot. The fit is
      // the same deterministic top-15, so the row shares text_oov's
      // oracle: the relational and narrow-map applies must agree
      // bit-for-bit.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mdir = Files.createTempDirectory("graft-vocab-model").toString
        val terms = try {
          Tokenize.saveVocabModel(Tokenize.vocabFit(docs, 15), mdir)
          Tokenize.loadVocabModel(s, mdir)
        } finally {
          // the loaded vocabulary is a plan literal — the model dir is
          // free to go before the (lazy) query ever executes
          val p = new org.apache.hadoop.fs.Path(mdir)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        Tokenize.oovAgainstVocab(docs, terms).orderBy("doc_id")
      },
      Some(oovOracleSql)),

    "text_oov_model_sql" -> QueryDef(
      // the persisted-model path from PURE SQL via the graft_oov_model
      // TVF (fit + save programmatically, consume from SQL — the
      // graft_pca convention); same oracle as text_oov.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        val docs = t(s, dir, "documents")
        docs.createOrReplaceTempView("graft_oovm_docs")
        val mdir = Files.createTempDirectory("graft-vocab-model-sql").toString
        Tokenize.saveVocabModel(Tokenize.vocabFit(docs, 15), mdir)
        // NOTE: the TVF loads the model at plan build, so the dir must
        // survive until the sql() call below has analyzed — then the
        // vocabulary is a plan literal and the dir is reclaimable
        val out = s.sql(s"""SELECT doc_id, n_tokens, n_oov, oov_rate
          FROM graft_oov_model('$mdir', 'graft_oovm_docs')
          ORDER BY doc_id""")
        val p = new org.apache.hadoop.fs.Path(mdir)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        out
      },
      Some(oovOracleSql)),

    "text_fingerprint" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, md5($normSql) AS fp FROM documents ORDER BY doc_id""")),

    "text_repetition" -> QueryDef(
      // Gopher-style repetition signals per document: duplicate-bigram
      // fraction and top-bigram share — the cheap structural filters a
      // curation pipeline applies before model-based quality scoring
      // (repetitive boilerplate reads as fluent but trains badly). Bigrams
      // are built narrowly per row (the HOF cost is bounded by DOCUMENT
      // length, never corpus size), then counted by one (doc, bigram) hash
      // agg — partial map-side combine, keyed by the doc, no hot keys.
      (s, dir) => {
        val bgs = {
          val toks = Text.tokens(col("text"))
          // guard: sequence(0, -1) would DESCEND for a 1-token document
          when(size(toks) >= 2,
            transform(sequence(lit(0), size(toks) - 2),
              i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
            .otherwise(array().cast("array<string>"))
        }
        t(s, dir, "documents")
          .select(col("doc_id"), explode(bgs).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(
            sum(col("c")).as("n_bigrams"),
            count(lit(1)).as("n_distinct"),
            max(col("c")).as("top_cnt"))
          .select(col("doc_id"), col("n_bigrams"),
            round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams").cast("double"), 6)
              .as("dup_bigram_frac"),
            round(col("top_cnt").cast("double") / col("n_bigrams").cast("double"), 6)
              .as("top_bigram_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
          FROM (SELECT doc_id, $toksSql AS toks FROM documents),
               unnest(generate_series(1, greatest(len(toks)-1, 0))) AS t(i)),
        c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
        SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
          round(1.0 - count(*)::DOUBLE / sum(c), 6) AS dup_bigram_frac,
          round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac
        FROM c GROUP BY doc_id ORDER BY doc_id""")),

    "text_tfidf_terms" -> QueryDef(
      // Per-doc TF-IDF keyword extraction (top 3 terms, smoothed idf):
      // tf and df are two hash-aggs over the token stream; df joins back
      // on the term KEY (corpus-vocabulary-sized — unlike BM25's
      // query-bounded df it must not broadcast); the top-k window
      // partitions by doc, bounded by doc length. 6dp-rounded scores +
      // term tie-break make the ranking engine-portable.
      (s, dir) => Search.tfidfTopTerms(t(s, dir, "documents"), k = 3)
        .orderBy("doc_id", "rank"),
      Some(s"""WITH tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf
          FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
          GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
        n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        scored AS (SELECT doc_id, tf.tok AS tok,
            round(tf * ln((n_docs + 1) / (df + 1)), 6) AS score
          FROM tf JOIN dfreq ON tf.tok = dfreq.tok, n),
        ranked AS (SELECT doc_id, tok, score,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
          FROM scored)
        SELECT doc_id, rank::BIGINT AS rank, tok, score
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""")),

    "text_unigram_ll" -> QueryDef(
      // Unigram language-model quality score: average per-token
      // log-likelihood under the corpus's own add-one-smoothed unigram
      // distribution — the cheap stand-in for the KenLM-perplexity filter
      // every curation pipeline runs (low avg LL = noise/rare-token soup,
      // suspiciously high = repetitive boilerplate; both get cut). Two
      // passes: vocab counts (one hash agg), then tokens joined to the
      // BROADCAST vocab (bounded by vocabulary size, not corpus — at
      // open-web scale, cap to top-V terms + an OOV bucket and broadcast
      // still holds). Per-token lls are 6dp-rounded and summed as
      // DECIMAL — exact at any partitioning, like the BM25 scores.
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val totals = vocab.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v"))
        toks.join(broadcast(vocab), Seq("tok"))
          .crossJoin(broadcast(totals))
          .withColumn("ll",
            round(log((col("c") + lit(1.0)) / (col("n_total") + col("v"))), 6)
              .cast("decimal(18,6)"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"), sum(col("ll")).as("__sll"))
          .select(col("doc_id"), col("n_toks"),
            round(col("__sll").cast("double") / col("n_toks"), 6).as("avg_ll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        v AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        t AS (SELECT sum(c)::BIGINT AS n_total, count(*) AS vs FROM v),
        ll AS (SELECT doc_id,
            round(ln((c + 1.0) / (n_total + vs)), 6)::DECIMAL(18,6) AS ll
          FROM toks JOIN v USING (tok), t)
        SELECT doc_id, count(*) AS n_toks,
          round(sum(ll)::DOUBLE / count(*), 6) AS avg_ll
        FROM ll GROUP BY doc_id ORDER BY doc_id""")),

    "text_entropy" -> QueryDef(
      // Per-document character entropy (normalized text): low entropy =
      // repeated boilerplate/padding, suspiciously high = random noise —
      // the cheap orthogonal signal next to the token-level quality
      // scores. Two hash aggs over the exploded char stream; per-class
      // terms round to 6dp decimals (the engine discipline), so the row
      // is FULLY oracled.
      (s, dir) => {
        val chars = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(split(Text.normalize(col("text")), "")).as("ch"))
        val counts = chars.groupBy(col("doc_id"), col("ch"))
          .agg(count(lit(1)).as("c"))
        val totals = counts.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"))
        counts.join(totals, "doc_id")
          .withColumn("term",
            round(-(col("c") / col("n")) * log(col("c") / col("n")), 6)
              .cast("decimal(18,6)"))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_chars"),
            round(sum(col("term")).cast("double"), 6).as("entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH chars AS (SELECT doc_id,
            unnest(string_split($normSql, '')) AS ch FROM documents),
        counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
        totals AS (SELECT doc_id, sum(c)::BIGINT AS n FROM counts GROUP BY doc_id)
        SELECT doc_id, max(n) AS n_chars,
          round(sum(round(-(c / n) * ln(c / n), 6)::DECIMAL(18,6))::DOUBLE, 6) AS entropy
        FROM counts JOIN totals USING (doc_id)
        GROUP BY doc_id ORDER BY doc_id"""),
      headline = false),

    "text_perplexity" -> QueryDef(
      // Held-out bigram perplexity with stupid backoff (llmops
      // LanguageModel.bigramScore) — the KenLM-style quality filter:
      // model fit on the even-doc_id half, every document scored, so
      // odd docs genuinely exercise the unseen-bigram backoff path.
      // Bigram extraction is narrow (zip_with per doc), the model joins
      // are one keyed shuffle (bigrams) + broadcasts (vocab); per-bigram
      // 6dp decimal log-probs make the row FULLY oracled.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.llmops.LanguageModel.bigramScore(
            docs.filter(col("doc_id") % 2 === 0), docs)
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
        bgf AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM
          (SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
              for i in generate_series(1, len(toks) - 1)]) AS p FROM d)),
        tt AS (SELECT unnest(toks) AS w FROM d WHERE doc_id % 2 = 0),
        uni AS (SELECT w, count(*) AS c1 FROM tt GROUP BY w),
        tot AS (SELECT sum(c1)::BIGINT AS n_total, count(*) AS v FROM uni),
        bi AS (SELECT w1, w2, count(*) AS c2 FROM bgf
          WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        ll AS (SELECT s.doc_id,
            round(CASE WHEN bi.c2 IS NOT NULL THEN ln(bi.c2 / u1.c1)
              ELSE ln(0.4 * (coalesce(u2.c1, 0) + 1.0) / (t.n_total + t.v))
              END, 6)::DECIMAL(18,6) AS ll
          FROM bgf s
          LEFT JOIN bi ON s.w1 = bi.w1 AND s.w2 = bi.w2
          LEFT JOIN uni u1 ON s.w1 = u1.w
          LEFT JOIN uni u2 ON s.w2 = u2.w, tot t)
        SELECT doc_id, count(*) AS n_bigrams,
          round(sum(ll)::DOUBLE / count(*), 6) AS avg_ll,
          round(exp(-(sum(ll)::DOUBLE / count(*))), 4) AS ppl
        FROM ll GROUP BY doc_id ORDER BY doc_id""")),

    "text_nb_classify" -> QueryDef(
      // Trainable curation filter: multinomial naive Bayes fit on the
      // corpus's own source labels, then self-scored — the deterministic
      // stand-in for the fastText domain/quality classifiers (CCNet-style)
      // a pre-training pipeline gates on. Train = two hash aggs over the
      // token stream; the model is vocab x labels (BOUNDED — broadcast);
      // score = narrow explode + broadcast model join + one (doc, label)
      // agg. Per-token log-probs are 6dp decimals, so the whole
      // train->score->argmax pipeline replays exactly in SQL and the row
      // is FULLY oracled (ties break toward the smaller label).
      (s, dir) => Classify.classifySelf(t(s, dir, "documents"), "source")
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        lab AS (SELECT doc_id, source AS label FROM documents),
        cnt AS (SELECT label, tok, count(*) AS c
          FROM toks JOIN lab USING (doc_id) GROUP BY label, tok),
        ltot AS (SELECT label, sum(c)::BIGINT AS n_lab FROM cnt GROUP BY label),
        vsz AS (SELECT count(DISTINCT tok) AS vs FROM toks),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        pri AS (SELECT label, round(ln(count(*)::DOUBLE / n_docs), 6)::DECIMAL(18,6) AS prior
          FROM lab, nd GROUP BY label, n_docs),
        grid AS (SELECT tok, label FROM (SELECT DISTINCT tok FROM toks), ltot),
        w AS (SELECT grid.tok, grid.label,
            round(ln((coalesce(c, 0) + 1.0) / (n_lab + vs)), 6)::DECIMAL(18,6) AS w
          FROM grid LEFT JOIN cnt ON grid.tok = cnt.tok AND grid.label = cnt.label
          JOIN ltot ON grid.label = ltot.label, vsz),
        sums AS (SELECT doc_id, w.label, sum(w.w) AS sll
          FROM toks JOIN w ON toks.tok = w.tok GROUP BY doc_id, w.label),
        tot AS (SELECT d.doc_id, pri.label,
            (pri.prior + coalesce(sll, 0::DECIMAL(18,6))) AS tot
          FROM documents d CROSS JOIN pri
          LEFT JOIN sums ON d.doc_id = sums.doc_id AND pri.label = sums.label),
        ranked AS (SELECT doc_id, label, tot,
            row_number() OVER (PARTITION BY doc_id ORDER BY tot DESC, label) AS r
          FROM tot)
        SELECT doc_id, label AS predicted, round(tot::DOUBLE, 6) AS score
        FROM ranked WHERE r = 1 ORDER BY doc_id"""),
      headline = true),

    "q_classifier_eval" -> QueryDef(
      // the eval half of the curation-classifier loop: confusion-matrix
      // marginals + per-class precision/recall/F1 for text_nb_classify's
      // self-scored predictions against the true source labels. The
      // prediction join distributes on doc_id; every metric then runs on
      // the classes frame. Zero-denominator classes score 0 (not NULL)
      // on both engines; ratios are integer/integer so 6dp rounding is
      // engine-stable. ("prec"/"rec" because PRECISION is a SQL keyword.)
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val j = Classify.classifySelf(docs, "source")
          .select(col("doc_id"), col("predicted"))
          .join(docs.select(col("doc_id"), col("source").as("label")), Seq("doc_id"))
        val labTot = j.groupBy(col("label").as("cls"))
          .agg(count(lit(1)).as("support"))
        val predTot = j.groupBy(col("predicted").as("cls"))
          .agg(count(lit(1)).as("n_pred"))
        val tp = j.filter(col("label") === col("predicted"))
          .groupBy(col("label").as("cls")).agg(count(lit(1)).as("tp"))
        val base = docs.select(col("source").as("cls")).distinct()
          .join(labTot, Seq("cls"), "left")
          .join(predTot, Seq("cls"), "left")
          .join(tp, Seq("cls"), "left")
          .select(col("cls"),
            coalesce(col("support"), lit(0L)).as("support"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("tp"), lit(0L)).as("tp"))
        val p = when(col("n_pred") > 0, col("tp") / col("n_pred")).otherwise(lit(0.0))
        val r = when(col("support") > 0, col("tp") / col("support")).otherwise(lit(0.0))
        base.select(col("cls").as("label"), col("support"), col("n_pred"), col("tp"),
            round(p, 6).as("prec"), round(r, 6).as("rec"),
            round(when(p + r > 0, lit(2) * p * r / (p + r)).otherwise(lit(0.0)), 6)
              .as("f1"))
          .orderBy("label")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        lab AS (SELECT doc_id, source AS label FROM documents),
        cnt AS (SELECT label, tok, count(*) AS c
          FROM toks JOIN lab USING (doc_id) GROUP BY label, tok),
        ltot AS (SELECT label, sum(c)::BIGINT AS n_lab FROM cnt GROUP BY label),
        vsz AS (SELECT count(DISTINCT tok) AS vs FROM toks),
        nd AS (SELECT count(*) AS n_docs FROM documents),
        pri AS (SELECT label, round(ln(count(*)::DOUBLE / n_docs), 6)::DECIMAL(18,6) AS prior
          FROM lab, nd GROUP BY label, n_docs),
        grid AS (SELECT tok, label FROM (SELECT DISTINCT tok FROM toks), ltot),
        w AS (SELECT grid.tok, grid.label,
            round(ln((coalesce(c, 0) + 1.0) / (n_lab + vs)), 6)::DECIMAL(18,6) AS w
          FROM grid LEFT JOIN cnt ON grid.tok = cnt.tok AND grid.label = cnt.label
          JOIN ltot ON grid.label = ltot.label, vsz),
        sums AS (SELECT doc_id, w.label, sum(w.w) AS sll
          FROM toks JOIN w ON toks.tok = w.tok GROUP BY doc_id, w.label),
        tot AS (SELECT d.doc_id, pri.label,
            (pri.prior + coalesce(sll, 0::DECIMAL(18,6))) AS tot
          FROM documents d CROSS JOIN pri
          LEFT JOIN sums ON d.doc_id = sums.doc_id AND pri.label = sums.label),
        ranked AS (SELECT doc_id, label, tot,
            row_number() OVER (PARTITION BY doc_id ORDER BY tot DESC, label) AS r
          FROM tot),
        j AS (SELECT d.source AS label, p.label AS predicted
          FROM documents d JOIN ranked p ON d.doc_id = p.doc_id AND p.r = 1),
        labtot AS (SELECT label AS cls, count(*) AS support FROM j GROUP BY 1),
        predtot AS (SELECT predicted AS cls, count(*) AS n_pred FROM j GROUP BY 1),
        tpc AS (SELECT label AS cls, count(*) AS tp FROM j
          WHERE label = predicted GROUP BY 1),
        base AS (SELECT c.cls,
            coalesce(support, 0)::BIGINT AS support,
            coalesce(n_pred, 0)::BIGINT AS n_pred,
            coalesce(tp, 0)::BIGINT AS tp
          FROM (SELECT DISTINCT source AS cls FROM documents) c
          LEFT JOIN labtot USING (cls) LEFT JOIN predtot USING (cls)
          LEFT JOIN tpc USING (cls))
        SELECT cls AS label, support, n_pred, tp,
          round(CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END, 6) AS prec,
          round(CASE WHEN support > 0 THEN tp / support ELSE 0.0 END, 6) AS rec,
          round(CASE WHEN (CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END)
                   + (CASE WHEN support > 0 THEN tp / support ELSE 0.0 END) > 0
            THEN 2 * (CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END)
                   * (CASE WHEN support > 0 THEN tp / support ELSE 0.0 END)
                 / ((CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END)
                   + (CASE WHEN support > 0 THEN tp / support ELSE 0.0 END))
            ELSE 0.0 END, 6) AS f1
        FROM base ORDER BY label""")),

    "text_drift" -> QueryDef(
      // Corpus drift monitoring (Curation.corpusDrift): top-20 unigram
      // movers between two corpus versions (the even/odd doc_id halves
      // stand in for successive drops) — the distribution check a
      // pipeline runs before swapping in a new crawl. Probabilities are
      // 6dp decimals rounded BEFORE the delta, so the whole comparison
      // (including the |delta| ordering and the limit cutoff) replays
      // exactly in SQL. Two narrow token aggs + one vocab-sized join.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.corpusDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), topK = 20)
      },
      Some(s"""WITH ot AS (SELECT tok, count(*) AS c
          FROM (SELECT unnest($toksSql) AS tok FROM documents WHERE doc_id % 2 = 0)
          GROUP BY tok),
        osum AS (SELECT sum(c) AS n FROM ot),
        op AS (SELECT tok, round(c::DOUBLE / n, 6)::DECIMAL(18,6) AS p_old FROM ot, osum),
        nt AS (SELECT tok, count(*) AS c
          FROM (SELECT unnest($toksSql) AS tok FROM documents WHERE doc_id % 2 = 1)
          GROUP BY tok),
        nsum AS (SELECT sum(c) AS n FROM nt),
        np AS (SELECT tok, round(c::DOUBLE / n, 6)::DECIMAL(18,6) AS p_new FROM nt, nsum),
        j AS (SELECT coalesce(op.tok, np.tok) AS tok,
            coalesce(p_old, 0::DECIMAL(18,6)) AS p_old,
            coalesce(p_new, 0::DECIMAL(18,6)) AS p_new
          FROM op FULL OUTER JOIN np ON op.tok = np.tok),
        d AS (SELECT tok, p_old, p_new, (p_new - p_old)::DECIMAL(18,6) AS delta FROM j)
        SELECT tok, p_old::DOUBLE AS p_old, p_new::DOUBLE AS p_new, delta::DOUBLE AS delta
        FROM d ORDER BY abs(delta) DESC, tok LIMIT 20""")),

    "text_bpe_merges" -> QueryDef(
      // TRUE iterative BPE merge training (Tokenize.bpeMerges, 8
      // rounds): most frequent adjacent symbol pair fuses each round,
      // starting from characters + </w>. The space-separated
      // symbol-string encoding turns each round into one pair-count
      // aggregate + one replace(), so the oracle UNROLLS the whole
      // trajectory in DuckDB (MATERIALIZED per round, the graph_kcore
      // discipline) and must reproduce every chosen pair AND its count
      // — the learned artifact itself, not a property gate.
      (s, dir) => Tokenize.bpeMerges(t(s, dir, "documents"), numMerges = 8)
        .orderBy("merge_rank"),
      Some {
        val rounds = 8
        // symbols separated by exactly TWO spaces; the needle
        // ' l  r ' takes one space of each shared boundary, so
        // self-chaining occurrences all merge (see Tokenize.bpeMerges'
        // encoding-invariant comment) — replace() then walks exactly
        // the symbol-level greedy scan, identically in both engines
        val steps = (1 to rounds).map { r =>
          s"""p$r AS MATERIALIZED (
            SELECT a[i] || ' ' || a[i+1] AS pair, sum(n)::BIGINT AS c
            FROM (SELECT string_split(trim(sym), '  ') AS a, n FROM t${r - 1}),
              LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i) u
            GROUP BY 1),
          b$r AS MATERIALIZED (SELECT pair, c FROM p$r
            ORDER BY c DESC, pair LIMIT 1),
          t$r AS MATERIALIZED (
            SELECT replace(sym,
                ' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ',
                ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS sym, n
            FROM t${r - 1})"""
        }.mkString(",\n")
        val union = (1 to rounds)
          .map(r => s"SELECT ${r}::BIGINT AS merge_rank, pair, c AS pair_count FROM b$r")
          .mkString("\n          UNION ALL ")
        s"""WITH words AS MATERIALIZED (
          SELECT w, count(*)::BIGINT AS n
          FROM (SELECT unnest($toksSql) AS w FROM documents)
          WHERE w <> '' GROUP BY 1),
        t0 AS MATERIALIZED (
          SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w>  ' AS sym, n
          FROM words),
        $steps
        SELECT * FROM ($union) ORDER BY merge_rank"""
      }),

    "text_bpe_sql" -> QueryDef(
      // BPE training from PURE SQL: the graft_bpe TVF routes to
      // Tokenize.bpeMerges, so a SQL user gets the identical merge
      // trajectory — same unrolled-round oracle as text_bpe_merges.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_bpe_docs")
        s.sql("""SELECT merge_rank, pair, pair_count
          FROM graft_bpe('graft_bpe_docs', 5) ORDER BY merge_rank""")
      },
      Some {
        val rounds = 5
        val steps = (1 to rounds).map { r =>
          s"""p$r AS MATERIALIZED (
            SELECT a[i] || ' ' || a[i+1] AS pair, sum(n)::BIGINT AS c
            FROM (SELECT string_split(trim(sym), '  ') AS a, n FROM t${r - 1}),
              LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i) u
            GROUP BY 1),
          b$r AS MATERIALIZED (SELECT pair, c FROM p$r
            ORDER BY c DESC, pair LIMIT 1),
          t$r AS MATERIALIZED (
            SELECT replace(sym,
                ' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ',
                ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS sym, n
            FROM t${r - 1})"""
        }.mkString(",\n")
        val union = (1 to rounds)
          .map(r => s"SELECT ${r}::BIGINT AS merge_rank, pair, c AS pair_count FROM b$r")
          .mkString("\n          UNION ALL ")
        s"""WITH words AS MATERIALIZED (
          SELECT w, count(*)::BIGINT AS n
          FROM (SELECT unnest($toksSql) AS w FROM documents)
          WHERE w <> '' GROUP BY 1),
        t0 AS MATERIALIZED (
          SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w>  ' AS sym, n
          FROM words),
        $steps
        SELECT * FROM ($union) ORDER BY merge_rank"""
      }),

    "text_bpe_encode" -> QueryDef(
      // BPE END-TO-END: train 8 merges (text_bpe_merges' trajectory)
      // then ENCODE every document by replaying them in rank order —
      // per doc the piece count and the md5 of the full piece stream
      // in token order (the text_subword certify-everything contract).
      // The oracle replays training AND encoding: the unrolled merge
      // rounds carry the word column through, t8 IS each word's final
      // segmentation, and string_agg(... ORDER BY pos) rebuilds the
      // same fingerprint.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = Tokenize.bpeMerges(docs, numMerges = 8)
        Tokenize.encodeBpe(docs, merges).orderBy("doc_id")
      },
      Some {
        val rounds = 8
        val steps = (1 to rounds).map { r =>
          s"""p$r AS MATERIALIZED (
            SELECT a[i] || ' ' || a[i+1] AS pair, sum(n)::BIGINT AS c
            FROM (SELECT string_split(trim(sym), '  ') AS a, n FROM t${r - 1}),
              LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS i) u
            GROUP BY 1),
          b$r AS MATERIALIZED (SELECT pair, c FROM p$r
            ORDER BY c DESC, pair LIMIT 1),
          t$r AS MATERIALIZED (
            SELECT w, replace(sym,
                ' ' || replace((SELECT pair FROM b$r), ' ', '  ') || ' ',
                ' ' || replace((SELECT pair FROM b$r), ' ', '') || ' ') AS sym, n
            FROM t${r - 1})"""
        }.mkString(",\n")
        s"""WITH words AS MATERIALIZED (
          SELECT w, count(*)::BIGINT AS n
          FROM (SELECT unnest($toksSql) AS w FROM documents)
          WHERE w <> '' GROUP BY 1),
        t0 AS MATERIALIZED (
          SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w>  ' AS sym, n
          FROM words),
        $steps,
        enc AS (SELECT w, replace(trim(sym), '  ', ' ') AS pieces,
            len(string_split(trim(sym), '  '))::BIGINT AS np
          FROM t$rounds),
        toks AS (SELECT doc_id, i AS pos, toks[i] AS w
          FROM (SELECT doc_id, $toksSql AS toks FROM documents),
            LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) u
          WHERE toks[i] <> '')
        SELECT doc_id, sum(np)::BIGINT AS n_pieces,
          md5(string_agg(pieces, ' ' ORDER BY pos)) AS pieces_md5
        FROM toks JOIN enc USING (w)
        GROUP BY 1 ORDER BY doc_id"""
      }),

    "text_subword" -> QueryDef(
      // Learned subword tokenization END-TO-END (llmops.Tokenize): a
      // deterministic frequent-substring vocabulary (the closed-form,
      // SQL-replayable stand-in for iterative BPE merges) + greedy
      // longest-match segmentation via the codegen'd SubwordSplit kernel,
      // applied per DISTINCT word and joined back to the token stream.
      // The oracle replays BOTH halves: the vocab as aggregation +
      // window top-K, the greedy split as a longest-prefix table + a
      // recursive path-follow — and the md5 of each doc's full piece
      // stream certifies the segmentations are IDENTICAL piece by piece.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val vocab = Tokenize.learnSubwordVocab(docs, vocabSize = 64, maxPieceLen = 4)
        Tokenize.encodeSubwords(docs, vocab, maxPieceLen = 4)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
        toks AS (SELECT doc_id, i AS pos, toks[i] AS word
          FROM (SELECT doc_id, $toksSql AS toks FROM documents),
            unnest(generate_series(1, len(toks))) AS t(i)
          WHERE len(toks[i]) > 0),
        words AS (SELECT word, count(*) AS wf FROM toks GROUP BY word),
        subs AS (SELECT substr(word, p, l) AS piece, wf
          FROM words,
            unnest(generate_series(1, len(word))) AS tp(p),
            unnest(generate_series(1, least(4, len(word) - p + 1))) AS tl(l)),
        vocab AS (SELECT piece FROM (
            SELECT piece, row_number() OVER (ORDER BY sum(wf) DESC, piece) AS r
            FROM subs GROUP BY piece) WHERE r <= 64),
        dwords AS (SELECT DISTINCT word FROM toks),
        cand AS (SELECT word, p, l, substr(word, p, l) AS piece
          FROM dwords,
            unnest(generate_series(1, len(word))) AS tp(p),
            unnest(generate_series(1, least(4, len(word) - p + 1))) AS tl(l)),
        best0 AS (SELECT word, p, piece, l,
            row_number() OVER (PARTITION BY word, p ORDER BY l DESC) AS r
          FROM cand JOIN vocab USING (piece)),
        best AS (SELECT wp.word, wp.p,
            coalesce(b.piece, substr(wp.word, wp.p, 1)) AS piece,
            coalesce(b.l, 1) AS plen
          FROM (SELECT word, p FROM dwords,
              unnest(generate_series(1, len(word))) AS tp(p)) wp
          LEFT JOIN (SELECT * FROM best0 WHERE r = 1) b
            ON wp.word = b.word AND wp.p = b.p),
        seg AS (
          SELECT word, 1 AS p, CAST([] AS VARCHAR[]) AS pieces FROM dwords
          UNION ALL
          SELECT s.word, s.p + b.plen, list_append(s.pieces, b.piece)
          FROM seg s JOIN best b ON s.word = b.word AND s.p = b.p
          WHERE s.p <= len(s.word)),
        done AS (SELECT word, pieces FROM seg WHERE p = len(word) + 1),
        wfb AS (SELECT word, count(*) AS n_fb FROM (
            SELECT word, unnest(pieces) AS piece FROM done) dp
          LEFT JOIN vocab ON dp.piece = vocab.piece
          WHERE vocab.piece IS NULL GROUP BY word),
        enc AS (SELECT t.doc_id, t.pos, t.word, d.pieces,
            coalesce(w.n_fb, 0) AS n_fb
          FROM toks t JOIN done d ON t.word = d.word
          LEFT JOIN wfb w ON t.word = w.word)
        SELECT doc_id, count(*) AS n_words,
          sum(len(pieces))::BIGINT AS n_pieces,
          sum(n_fb)::BIGINT AS n_fallback,
          md5(string_agg(array_to_string(pieces, ' '), ' ' ORDER BY pos)) AS pieces_fp
        FROM enc GROUP BY doc_id ORDER BY doc_id"""),
      headline = true))

  // ============================================================= D. dedup ==

  private val dedup: Seq[(String, QueryDef)] = Seq(

    "dedup_exact" -> QueryDef(
      (s, dir) => Dedup.exactGroups(t(s, dir, "documents")).orderBy("fingerprint"),
      Some(s"""SELECT md5($normSql) AS fingerprint, min(doc_id) AS keep_id,
        count(*) AS dup_count FROM documents GROUP BY 1 ORDER BY fingerprint"""),
      headline = true),

    "dedup_survivors" -> QueryDef(
      (s, dir) => Dedup.exactSurvivors(t(s, dir, "documents"))
        .select("doc_id").orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM documents WHERE doc_id IN
        (SELECT min(doc_id) FROM documents GROUP BY md5($normSql))
        ORDER BY doc_id""")),

    "dedup_jaccard_pairs" -> QueryDef(
      (s, dir) => Dedup.jaccardPairsWithin(t(s, dir, "documents"), "source", 0.8)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, source, list_distinct($toksSql) AS ts FROM documents)
        SELECT id_a, id_b, jaccard FROM (
          SELECT l.doc_id AS id_a, r.doc_id AS id_b,
            round(len(list_intersect(l.ts, r.ts))::DOUBLE /
              (len(l.ts) + len(r.ts) - len(list_intersect(l.ts, r.ts))), 6) AS jaccard
          FROM toks l JOIN toks r ON l.source = r.source AND l.doc_id < r.doc_id)
        WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""),
      headline = true),

    "dedup_jaccard_join" -> QueryDef(
      // EXACT fuzzy JOIN between two TABLES (Dedup.jaccardJoin — record
      // linkage, not self-dedup): even-id documents matched against
      // odd-id documents at jaccard >= 0.8, riding the same certified
      // PPJoin kernel via side-tagged ids. Oracled against the quadratic
      // cross-side truth in DuckDB.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.jaccardJoin(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            threshold = 0.8)
          .orderBy("left_id", "right_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, list_distinct($toksSql) AS ts FROM documents)
        SELECT left_id, right_id, jaccard FROM (
          SELECT l.doc_id AS left_id, r.doc_id AS right_id,
            round(len(list_intersect(l.ts, r.ts))::DOUBLE /
              (len(l.ts) + len(r.ts) - len(list_intersect(l.ts, r.ts))), 6) AS jaccard
          FROM toks l JOIN toks r ON l.doc_id % 2 = 0 AND r.doc_id % 2 = 1)
        WHERE jaccard >= 0.8 ORDER BY left_id, right_id"""),
      headline = false),

    "dedup_editdist_pairs" -> QueryDef(
      // EXACT edit-distance near-dup pairs via fixed-offset chunk
      // signatures (the PassJoin pigeonhole): candidates from a plain
      // equi-join on (chunk index, chunk hash), short docs through the
      // length band join, early-exit levenshtein verify. Fully oracled
      // against DuckDB's all-pairs levenshtein inside the length band —
      // the blocked plan must reproduce the quadratic truth exactly.
      (s, dir) => Dedup.editDistancePairs(t(s, dir, "documents"), k = 5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH n AS (SELECT doc_id, $normSql AS t FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          levenshtein(a.t, b.t) AS dist
        FROM n a JOIN n b ON a.doc_id < b.doc_id
          AND abs(length(a.t) - length(b.t)) <= 5
          AND levenshtein(a.t, b.t) <= 5
        ORDER BY id_a, id_b""")),

    "dedup_editdist_clusters" -> QueryDef(
      // Edit-distance cluster map (exact pairs -> connected components ->
      // lowest-id canonical), oracled by composing the quadratic
      // levenshtein pair SQL with a recursive-CTE closure — the same
      // certification shape as dedup_clusters.
      (s, dir) => Dedup.editDistanceClusters(t(s, dir, "documents"), k = 5)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
        n AS (SELECT doc_id, $normSql AS t FROM documents),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM n a JOIN n b ON a.doc_id < b.doc_id
            AND abs(length(a.t) - length(b.t)) <= 5
            AND levenshtein(a.t, b.t) <= 5),
        und AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        lab AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
        SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
        ORDER BY doc_id""")),

    "dedup_clusters" -> QueryDef(
      // end-to-end dedup: exact near-dup pairs -> connected components ->
      // canonical doc per cluster. Oracled by composing the pair SQL with
      // a recursive-CTE closure.
      (s, dir) => Dedup.jaccardClusters(t(s, dir, "documents"), "source", 0.8)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
        toks AS (SELECT doc_id, source, list_distinct($toksSql) AS ts FROM documents),
        pairs AS (
          SELECT id_a, id_b FROM (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
              round(len(list_intersect(l.ts, r.ts))::DOUBLE /
                (len(l.ts) + len(r.ts) - len(list_intersect(l.ts, r.ts))), 6) AS jaccard
            FROM toks l JOIN toks r ON l.source = r.source AND l.doc_id < r.doc_id)
          WHERE jaccard >= 0.8),
        und AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        lab AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a)
        SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS canonical_id
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
        ORDER BY doc_id""")),

    "text_top_terms" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20),
      Some(s"""SELECT tok, count(*) AS n FROM
        (SELECT unnest($toksSql) AS tok FROM documents)
        GROUP BY tok ORDER BY n DESC, tok LIMIT 20""")),

    "q_heavy_hitters_gate" -> QueryDef(
      // Misra–Gries heavy-hitters sketch (expressions.MisraGries via
      // FreqExpressions.approx_heavy_hitters), gated on its DETERMINISTIC
      // guarantees: with k=28 counters over the 31-word token stream the
      // sketch runs in the approximation regime (more distinct items than
      // counters — counters decrement and drop), yet every item with
      // true count > N/(k+1) MUST surface and every estimate must lie in
      // [est, est+err], REGARDLESS of partitioning/merge order. The gate
      // counts the true heavy set exactly, probes the sketch for each,
      // and tallies bound violations — all four outputs are
      // merge-order-invariant, so the row is fully oracled (the sketch
      // CONTENT itself is not value-stable; only these guarantees are).
      // The one-row sketch/total frames ride broadcasts (gate idiom).
      (s, dir) => {
        import graft.functions.expressions.FreqExpressions.approx_heavy_hitters
        val k = 28
        val toks = t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .filter(length(col("tok")) > 0)
        val sk = toks.agg(approx_heavy_hitters(col("tok"), k).as("hh"))
        val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val tot = exact.agg(sum(col("cnt")).as("n_total"))
        exact.crossJoin(broadcast(sk)).crossJoin(broadcast(tot))
          .withColumn("est",
            expr("get(filter(hh.items, x -> x.item = tok), 0).count"))
          .withColumn("heavy", col("cnt") * (k + 1) > col("n_total"))
          .agg(
            sum(when(col("heavy"), 1L).otherwise(0L)).as("n_heavy"),
            sum(when(col("heavy") && col("est").isNotNull, 1L)
              .otherwise(0L)).as("n_heavy_found"),
            sum(when(col("est").isNotNull &&
              (col("est") > col("cnt") ||
                col("cnt") > col("est") + col("hh.err")), 1L)
              .otherwise(0L)).as("n_violations"),
            max(abs(col("hh.n") - col("n_total"))).as("n_count_mismatch"))
      },
      Some(s"""WITH toks AS (SELECT t.tok FROM documents,
            unnest($toksSql) AS t(tok) WHERE len(t.tok) > 0),
          tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
          tot AS (SELECT sum(cnt) AS n FROM tf),
          heavy AS (SELECT count(*)::BIGINT AS h FROM tf, tot
            WHERE cnt * 29 > n)
        SELECT h AS n_heavy, h AS n_heavy_found, 0::BIGINT AS n_violations,
          0::BIGINT AS n_count_mismatch
        FROM heavy"""),
      headline = true),

    "q_quantiles_sketch_gate" -> QueryDef(
      // Mergeable KLL-style quantile sketch (expressions.QuantileSketch
      // via QuantileFunctions.quantile_sketch), gated on its carried
      // DETERMINISTIC guarantee: the sketch accumulates an exact
      // worst-case rank-error bound per compaction, so for every prob
      // the answer's TRUE rank span must intersect
      // [target-bound, target+bound] with target = max(1, ceil(p*n)) —
      // under ANY partitioning/merge order — and total weight must
      // equal n exactly (a weight-leaking sketch shifts every rank).
      // k=64 over 150k order values forces deep compaction cascades
      // (the approximation regime), yet violations are structurally
      // zero: the bound's VALUE varies with the merge tree, its
      // VALIDITY never does — which is what makes the row fully
      // oracle-able while the sketch content itself is not value-stable.
      // One data pass for the sketch, one for the rank counts against
      // the 9-row broadcast estimate frame (gate idiom). Streaming twin:
      // EventStream.quantilesStream (QuantilesStreamSpec: per-emission
      // bound, restart, batch parity of the contract).
      (s, dir) => {
        import graft.functions.expressions.QuantileFunctions.quantile_sketch
        val probs = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
        val cents = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long")
            .cast("double").as("v"))
        val sk = cents.agg(quantile_sketch(col("v"), probs, 64).as("s"))
          .select(col("s.n").as("sk_n"), col("s.bound").as("bound"),
            posexplode(col("s.qs")).as(Seq("i", "qv")))
        cents.crossJoin(broadcast(sk))
          .groupBy(col("i"), col("qv"), col("sk_n"), col("bound"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("v") < col("qv"), 1L).otherwise(0L)).as("cnt_lt"),
            sum(when(col("v") <= col("qv"), 1L).otherwise(0L)).as("cnt_le"))
          .withColumn("p", element_at(lit(probs.toArray), col("i") + 1))
          .withColumn("target",
            greatest(lit(1L), ceil(col("p") * col("n_total")).cast("long")))
          .agg(
            max(col("sk_n")).as("n_rows"),
            count(lit(1)).as("n_probes"),
            sum(when(col("cnt_le") < col("target") - col("bound") ||
                col("cnt_lt") + lit(1L) > col("target") + col("bound"), 1L)
              .otherwise(0L)).as("n_violations"),
            max(abs(col("sk_n") - col("n_total"))).as("n_count_mismatch"))
      },
      Some("""SELECT count(*)::BIGINT AS n_rows, 9::BIGINT AS n_probes,
          0::BIGINT AS n_violations, 0::BIGINT AS n_count_mismatch
        FROM orders"""),
      headline = true),

    "text_pmi_pairs" -> QueryDef(
      // Document-level co-occurrence with PMI (Cooccur.pmiPairs):
      // collocation discovery over the corpus, capped by definition
      // (top-500 vocab by (df DESC, term); <= 200 best-ranked vocab
      // terms per doc) so the within-doc pair join stays bounded; the
      // oracle replays both caps exactly. Vocab is a distributed top-K
      // + broadcast join, never a single-partition window over the full
      // term set.
      (s, dir) => graft.llmops.Cooccur.pmiPairs(
          t(s, dir, "documents"), minPairCount = 5L,
          maxVocab = 500, maxTermsPerDoc = 200)
        .orderBy("term_a", "term_b"),
      Some(s"""WITH d AS (SELECT doc_id,
            list_filter($toksSql, t -> t <> '') AS toks FROM documents),
        dt AS (SELECT DISTINCT doc_id, t.t AS term
          FROM d, unnest(toks) AS t(t)),
        dfv AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
        vocab AS (SELECT term, df,
            row_number() OVER (ORDER BY df DESC, term) AS rnk
          FROM dfv ORDER BY df DESC, term LIMIT 500),
        capped AS (SELECT doc_id, term, df FROM (
          SELECT dt.doc_id, dt.term, v.df,
            row_number() OVER (PARTITION BY dt.doc_id ORDER BY v.rnk) AS dr
          FROM dt JOIN vocab v USING (term)) WHERE dr <= 200),
        p AS (SELECT a.term AS term_a, b.term AS term_b,
            count(*) AS n_ab, any_value(a.df) AS na, any_value(b.df) AS nb
          FROM capped a JOIN capped b
            ON a.doc_id = b.doc_id AND a.term < b.term
          GROUP BY 1, 2 HAVING count(*) >= 5),
        n AS (SELECT count(*) AS nd FROM documents)
        SELECT term_a, term_b, n_ab::BIGINT AS n_ab,
          round(ln(n_ab * nd / (na * nb)), 6) AS pmi
        FROM p, n ORDER BY term_a, term_b"""),
      headline = true),

    "pipeline_neardedup" -> QueryDef(
      // NEAR-dup curation — the step a real pipeline ships after exact
      // dedup: near-dup clusters (exact PPJoin pairs -> connected
      // components) with the HIGHEST-QUALITY member kept per cluster,
      // not the lowest id. One window per cluster (bounded by cluster
      // size, not corpus) picks the survivor; ties break by doc_id.
      // Composes three oracled families (set-similarity join, GraphX CC,
      // quality scoring) into one certified row.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val clusters = Dedup.jaccardClusters(docs, "source", 0.8)
        val scored = docs.select(col("doc_id"),
          round(Text.stats(col("text")).getField("quality"), 6).as("quality"))
        val w = Window.partitionBy(col("canonical_id"))
          .orderBy(col("quality").desc, col("doc_id"))
        clusters.join(scored, Seq("doc_id"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("canonical_id"), col("quality"))
          .orderBy("doc_id")
      },
      Some {
        val stopList = Text.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH RECURSIVE
        toks AS (SELECT doc_id, source, list_distinct($toksSql) AS ts FROM documents),
        pairs AS (
          SELECT id_a, id_b FROM (
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
              round(len(list_intersect(l.ts, r.ts))::DOUBLE /
                (len(l.ts) + len(r.ts) - len(list_intersect(l.ts, r.ts))), 6) AS jaccard
            FROM toks l JOIN toks r ON l.source = r.source AND l.doc_id < r.doc_id)
          WHERE jaccard >= 0.8),
        und AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM und
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        lab AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        canon AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS canonical_id
          FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
        q AS (SELECT doc_id,
          round((least(length(text) / 500.0, 1.0)
               + least(CASE WHEN len($toksSql) = 0 THEN 0.0
                       ELSE len(list_filter($toksSql, tk -> tk IN ($stopList)))::DOUBLE / len($toksSql) END * 4.0, 1.0)
               + greatest(1.0 - CASE WHEN length(text) = 0 THEN 0.0
                       ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text) END * 5.0, 0.0)) / 3.0, 6) AS quality
          FROM documents)
        SELECT doc_id, canonical_id, quality FROM (
          SELECT c.doc_id, c.canonical_id, q.quality,
            row_number() OVER (PARTITION BY c.canonical_id
              ORDER BY q.quality DESC, c.doc_id) AS rn
          FROM canon c JOIN q USING (doc_id))
        WHERE rn = 1 ORDER BY doc_id"""
      }),

    "pipeline_curate" -> QueryDef(
      // the full curation flow as ONE composed query — quality-score ->
      // threshold filter -> exact dedup survivors -> per-language corpus
      // stats. What a training-data pipeline actually runs; each stage is
      // individually oracled elsewhere, this row proves they COMPOSE.
      (s, dir) => {
        val st = Text.stats(col("text"))
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            round(st.getField("quality"), 6).as("quality"))
        val kept = scored.filter(col("quality") >= 0.5)
        Dedup.exactSurvivors(kept)
          .select(Text.langId(col("text")).as("lang"),
            Text.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
            col("quality"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bpe")).as("n_tokens"),
            round(avg(col("quality")), 6).as("avg_quality"))
          .orderBy("lang")
      },
      Some {
        val stopList = Text.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH q AS (SELECT doc_id, text,
          round((least(length(text) / 500.0, 1.0)
               + least(CASE WHEN len($toksSql) = 0 THEN 0.0
                       ELSE len(list_filter($toksSql, tk -> tk IN ($stopList)))::DOUBLE / len($toksSql) END * 4.0, 1.0)
               + greatest(1.0 - CASE WHEN length(text) = 0 THEN 0.0
                       ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text) END * 5.0, 0.0)) / 3.0, 6) AS quality
          FROM documents),
        kept AS (SELECT * FROM q WHERE quality >= 0.5),
        surv AS (SELECT doc_id, text, quality FROM kept
          WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY md5($normSql))),
        sc AS (SELECT doc_id, text, quality,
          len(list_filter($toksSql, tk -> tk IN ('the','and','of','is','to'))) AS s_en,
          len(list_filter($toksSql, tk -> tk IN ('el','la','de','y','que'))) AS s_es,
          len(list_filter($toksSql, tk -> tk IN ('der','die','und','das','ist'))) AS s_de,
          len(list_filter($toksSql, tk -> tk IN ('le','la','et','les','des'))) AS s_fr
          FROM surv),
        lng AS (SELECT CASE
            WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
            WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
            WHEN s_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
          quality FROM sc)
        SELECT lang, count(*) AS n_docs, sum(n_bpe)::BIGINT AS n_tokens,
          round(avg(quality), 6) AS avg_quality
        FROM lng GROUP BY lang ORDER BY lang"""
      },
      headline = true),

    "pipeline_sample" -> QueryDef(
      // Deterministic stratified sampling for corpus MIXING: per-language
      // keep-rates out of 65536 md5 buckets keyed on doc_id. Hash-bucket
      // sampling (not rand()) is what a reproducible training-data
      // pipeline needs — membership is a pure function of the id, stable
      // across reruns/retries/engines, and the oracle can verify the
      // EXACT sample, not just its size. One narrow scan, no shuffle
      // before the tiny ordered output.
      (s, dir) => {
        val d = t(s, dir, "documents")
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int")
        val rate = when(col("lang") === "en", lit(16384))  // downmix 25%
          .when(col("lang") === "zh", lit(49152))          // upmix 75%
          .otherwise(lit(32768))                           // 50%
        d.filter(bucket < rate)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT <
          CASE lang WHEN 'en' THEN 16384 WHEN 'zh' THEN 49152 ELSE 32768 END
        ORDER BY doc_id""")),

    "pipeline_split" -> QueryDef(
      // Deterministic train/val/test split (Curation.trainValTestSplit):
      // 10% val, 10% test by md5-bucket of the doc_id — leakage-free by
      // purity (membership is a function of the id, never of execution),
      // the split every training pipeline runs before anything else.
      // Oracled on the EXACT assignment.
      (s, dir) => Curation.trainValTestSplit(
          t(s, dir, "documents"), valFrac = 0.1, testFrac = 0.1)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
          CASE WHEN b < 6553 THEN 'val'
               WHEN b < 13107 THEN 'test'
               ELSE 'train' END AS split
        FROM (SELECT doc_id,
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT AS b
          FROM documents)
        ORDER BY doc_id""")),

    "pipeline_eval_sample" -> QueryDef(
      // Deterministic fixed-size per-stratum sample (Curation
      // .sampleFixedPerStratum): exactly 20 docs per language in stable
      // md5 order — the eval-set construction the fractional samplers
      // can't do. Oracled on the exact membership.
      (s, dir) => Curation.sampleFixedPerStratum(
          t(s, dir, "documents"), "lang", n = 20)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
          SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
          FROM documents)
        WHERE rk <= 20 ORDER BY doc_id""")),

    "pipeline_domain_cap" -> QueryDef(
      // RefinedWeb-style per-domain cap (Curation.capPerStratum): at
      // most 5000 chars from any one source, kept in the stable md5
      // order — strata under budget keep everything, heavy strata
      // truncate at the budget prefix. Oracled on the exact membership
      // (the window replay recomputes the same running sum in DuckDB).
      (s, dir) => Curation.capPerStratum(
          t(s, dir, "documents"), "source", budget = 5000,
          weightCol = Some("n_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source, n_chars FROM (
          SELECT doc_id, source, n_chars,
            sum(n_chars) OVER (PARTITION BY source
              ORDER BY md5(doc_id::VARCHAR), doc_id
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        WHERE cum <= 5000
        ORDER BY doc_id""")),

    "pipeline_weighted_sample" -> QueryDef(
      // Length-weighted deterministic sampling (Curation.sampleByWeight):
      // keep probability = min(n_chars/1000, 1). This row oracles the
      // two-coprime-moduli Knuth draw ITSELF — DuckDB recomputes the
      // identical int64 arithmetic, so the exact surviving set (not just
      // its size) must match. One narrow filter; no shuffle before the
      // ordered output.
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("w", least(col("n_chars") / 1000.0, lit(1.0)))
        Curation.sampleByWeight(d, "w")
          .select(col("doc_id"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_chars FROM documents
        WHERE ((doc_id % 1000003 + 1) * 2654435761
             + (doc_id % 999983 + 1) * 2246822519) % 4294967296
            < least(n_chars / 1000.0, 1.0) * 4294967296
        ORDER BY doc_id""")),

    "pipeline_priority_sample" -> QueryDef(
      // Fixed-size weighted sample WITHOUT replacement (Curation
      // .prioritySample — priority sampling, Duffield–Lund–Thorup):
      // exactly 50 documents with inclusion ~ proportional to n_chars,
      // plus the tau-threshold unbiased estimator column. The fractional
      // samplers above fix the RATE; this is the "give me exactly k,
      // weight-proportional" form a corpus-mixing pipeline needs, with
      // the 100 TB shape (map-side top-k partial aggregate, never a
      // global sort or single-partition window; winners broadcast back).
      // Fully oracled BIT-EXACTLY: the priority key w/u is built from
      // exact integer md5 bits and one correctly-rounded IEEE division,
      // so DuckDB's ORDER BY priority DESC LIMIT k reproduces the exact
      // sample, priorities, and w_hat estimators.
      (s, dir) => Curation.prioritySample(
          t(s, dir, "documents"), k = 50, weightCol = "n_chars")
        .select(col("doc_id"), col("n_chars"), col("priority"), col("w_hat"))
        .orderBy("doc_id"),
      Some("""WITH pri AS (
          SELECT doc_id, n_chars,
            n_chars::DOUBLE /
              ((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1)::DOUBLE
                / 4503599627370496.0) AS priority
          FROM documents),
        tau AS (
          SELECT coalesce((SELECT priority FROM pri
            ORDER BY priority DESC, doc_id OFFSET 50 LIMIT 1), 0.0) AS t),
        sel AS (
          SELECT doc_id, n_chars, priority,
            greatest(n_chars::DOUBLE, (SELECT t FROM tau)) AS w_hat
          FROM pri ORDER BY priority DESC, doc_id LIMIT 50)
        SELECT * FROM sel ORDER BY doc_id"""),
      // headline: one narrow corpus pass into the map-side top-k
      headline = true),

    "pipeline_priority_sample_sql" -> QueryDef(
      // the same fixed-size weighted sample from PURE SQL: the
      // graft_priority_sample TVF routes to Curation.prioritySample, so
      // a SQL user gets the map-side top-k shape (no global sort, no
      // single-partition window) without touching the Column API; the
      // oracle replays the bit-exact w/u priority selection.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_ps_docs")
        s.sql("""SELECT doc_id, n_chars, priority
          FROM graft_priority_sample('graft_ps_docs', 20, 'n_chars', 'doc_id')
          ORDER BY doc_id""")
      },
      Some("""WITH pri AS (
          SELECT doc_id, n_chars,
            n_chars::DOUBLE /
              ((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1)::DOUBLE
                / 4503599627370496.0) AS priority
          FROM documents),
        sel AS (
          SELECT doc_id, n_chars, priority
          FROM pri ORDER BY priority DESC, doc_id LIMIT 20)
        SELECT * FROM sel ORDER BY doc_id""")),

    "pipeline_stratum_sample" -> QueryDef(
      // Per-stratum priority sampling (Curation.prioritySampleByStratum):
      // exactly 10 weight-proportional docs from EVERY language — the
      // balanced-corpus form (the global sampler lets heavy strata crowd
      // light ones out; sampleFixedPerStratum ignores weights). One
      // stratum-keyed TopKBy aggregate; the oracle replays the exact
      // per-stratum selection and tau estimators with a window.
      (s, dir) => Curation.prioritySampleByStratum(
          t(s, dir, "documents"), k = 10, weightCol = "n_chars",
          strataCol = "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("priority"), col("w_hat"))
        .orderBy("doc_id"),
      Some("""WITH pri AS (
          SELECT doc_id, lang, n_chars,
            n_chars::DOUBLE /
              ((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1)::DOUBLE
                / 4503599627370496.0) AS priority
          FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY priority DESC, doc_id) AS rn
          FROM pri),
        tau AS (SELECT lang,
            coalesce(max(CASE WHEN rn = 11 THEN priority END), 0.0) AS t
          FROM r GROUP BY lang)
        SELECT r.doc_id, r.lang, r.n_chars, r.priority,
          greatest(r.n_chars::DOUBLE, tau.t) AS w_hat
        FROM r JOIN tau USING (lang) WHERE rn <= 10
        ORDER BY doc_id""")),

    "pipeline_shuffle" -> QueryDef(
      // Deterministic global shuffle into training shards
      // (Curation.shuffleShards): the training ORDER itself is a pure
      // function of the ids — md5 key picks the shard and the in-shard
      // position — so a rerun, another engine, or a different cluster
      // size reproduces the exact row order, and the oracle verifies
      // every (shard, pos) assignment, not just counts. ORDER BY rand()
      // can't do any of that.
      (s, dir) => Curation.shuffleShards(t(s, dir, "documents"), numShards = 8)
        .orderBy("shard", "pos"),
      Some("""SELECT doc_id, shard, pos FROM (
          SELECT doc_id,
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
            row_number() OVER (
              PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8
              ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS pos
          FROM documents)
        ORDER BY shard, pos""")),

    "pipeline_mix" -> QueryDef(
      // The full training-mix recipe in ONE certified row: deterministic
      // per-source keep-rates (Curation.sampleStrata's Knuth draw — the
      // domain-mixing step) feeding the deterministic shard shuffle
      // (Curation.shuffleShards), so the final (doc_id, shard, pos)
      // layout of the MIXED corpus is a pure function of the ids:
      // reproducible across engines and cluster sizes, and the oracle
      // verifies every surviving row's exact shard and position. This is
      // the composition a pre-training pipeline actually ships — sample
      // the mix, then lay out the shards — certified end to end, not as
      // two independent steps.
      (s, dir) => {
        val mixed = Curation.sampleStrata(t(s, dir, "documents"), "source",
          Map("src0" -> 0.25, "src1" -> 0.75), defaultFraction = 0.5)
        Curation.shuffleShards(mixed, numShards = 4)
          .orderBy("shard", "pos")
      },
      Some("""WITH mixed AS (SELECT doc_id FROM documents
          WHERE ((doc_id % 1000003 + 1) * 2654435761
               + (doc_id % 999983 + 1) * 2246822519) % 4294967296
              < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.75
                 ELSE 0.5 END) * 4294967296)
        SELECT doc_id, shard, pos FROM (
          SELECT doc_id,
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4 AS shard,
            row_number() OVER (
              PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4
              ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS pos
          FROM mixed)
        ORDER BY shard, pos""")),

    "pipeline_temperature_mix" -> QueryDef(
      // Temperature-flattened language mixing (Curation.temperatureMix):
      // the p^alpha recipe multilingual corpora use — en (218 docs at
      // sf0.01) is downsampled hardest, fr (64) gentlest, per-stratum
      // keep-rates min(1, B·q/Z/n) with q = sqrt(share). EVERY step
      // replays in SQL: integer counts, one exact division, sqrt
      // (correctly rounded), a sorted-stratum ordered denominator sum,
      // a 9dp HALF_UP round, then the certified pure-int64 Knuth draw —
      // so the oracle verifies the exact surviving set, not just
      // per-stratum counts.
      (s, dir) => Curation.temperatureMix(
          t(s, dir, "documents"), "lang", budget = 250L, alpha = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id"),
      Some(temperatureMixOracleSql),
      headline = true),

    "pipeline_temperature_mix_exact" -> QueryDef(
      // The exact-budget mode: when the flattened target of a stratum
      // exceeds its size, the default clamp keeps all of it and quietly
      // undershoots the budget; exactBudget water-fills the residual
      // over the unclamped strata by a single prefix scan (the clamp set
      // is always a prefix of the n/q saturation order). Budget 420 at
      // sf0.01 clamps de/es/fr/zh whole and redistributes onto en —
      // the EXACT keep set is oracled through the same certified draw.
      (s, dir) => Curation.temperatureMix(
          t(s, dir, "documents"), "lang", budget = 420L, alpha = 0.5,
          exactBudget = true)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id"),
      Some(temperatureMixExactOracleSql)),

    "pipeline_temperature_mix_exact_sql" -> QueryDef(
      // the same water-filled mix from PURE SQL: the TVF's optional
      // 5th argument selects exactBudget, so a SQL session draws the
      // identical surviving set; same oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_tmx_docs")
        s.sql("""SELECT doc_id, lang, source
          FROM graft_temperature_mix('graft_tmx_docs', 'lang', 420,
            0.5, true)
          ORDER BY doc_id""")
      },
      Some(temperatureMixExactOracleSql)),

    "pipeline_temperature_mix_sql" -> QueryDef(
      // the same flattened mix from PURE SQL: the graft_temperature_mix
      // TVF routes to Curation.temperatureMix (the count fit runs at
      // plan build — the graft_bpe eager-fit convention), so a SQL
      // session draws the identical surviving set; same oracle.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_tm_docs")
        s.sql("""SELECT doc_id, lang, source
          FROM graft_temperature_mix('graft_tm_docs', 'lang', 250)
          ORDER BY doc_id""")
      },
      Some(temperatureMixOracleSql)),

    "pipeline_token_budget" -> QueryDef(
      // Token-budget packing: fill a per-language token budget with the
      // highest-quality documents first — the selection step between
      // "scored corpus" and "training mix". Quality-ranked running token
      // total per language (one window, one shuffle on lang), cut at the
      // budget; reports how many docs/tokens each language contributed
      // and the quality floor the budget forced. Scale note: the window
      // partitions by LANGUAGE, so one reducer sees a whole language's
      // docs; at volumes where that breaks, the same cut runs as two
      // phases — approx_percentile on quality to bracket the cutoff,
      // then the exact window over only the bracket's docs — without
      // changing the declared semantics.
      (s, dir) => {
        val st = Text.stats(col("text"))
        val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
          round(st.getField("quality"), 6).as("quality"),
          Text.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored.withColumn("cum_tokens", sum(col("n_bpe")).over(w))
          .filter(col("cum_tokens") <= 20000)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("cum_tokens")).as("tokens_used"),
            round(min(col("quality")), 6).as("min_quality"))
          .orderBy("lang")
      },
      Some {
        val stopList = Text.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH q AS (SELECT doc_id, lang,
          round((least(length(text) / 500.0, 1.0)
               + least(CASE WHEN len($toksSql) = 0 THEN 0.0
                       ELSE len(list_filter($toksSql, tk -> tk IN ($stopList)))::DOUBLE / len($toksSql) END * 4.0, 1.0)
               + greatest(1.0 - CASE WHEN length(text) = 0 THEN 0.0
                       ELSE (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text) END * 5.0, 0.0)) / 3.0, 6) AS quality,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
          FROM documents),
        c AS (SELECT lang, doc_id, quality, n_bpe,
          sum(n_bpe) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
          FROM q)
        SELECT lang, count(*) AS n_docs, max(cum_tokens)::BIGINT AS tokens_used,
          round(min(quality), 6) AS min_quality
        FROM c WHERE cum_tokens <= 20000 GROUP BY lang ORDER BY lang"""
      }),

    "pipeline_pii_scrub" -> QueryDef(
      // PII redaction over text: count and replace email addresses in one
      // narrow projection (codegen'd regexp, no shuffle). The corpus has
      // no natural emails, so a deterministic subset (doc_id % 7) gets
      // one APPENDED on both sides first — the scrub then runs against
      // known ground truth; the oracle hashes the scrubbed text, so a
      // missed or over-eager redaction is a red row, not a count drift.
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val withPii = t(s, dir, "documents").withColumn("text2",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(col("text")))
        withPii.select(col("doc_id"),
          size(regexp_extract_all(col("text2"), lit(emailRe), lit(0)))
            .cast("long").as("n_redacted"),
          md5(regexp_replace(col("text2"), emailRe, "<EMAIL>")).as("scrub_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
          THEN text || ' contact user' || doc_id::VARCHAR || '@example.com'
          ELSE text END AS text2 FROM documents)
        SELECT doc_id,
          len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_redacted,
          md5(regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS scrub_md5
        FROM p ORDER BY doc_id""")),

    "pipeline_contamination" -> QueryDef(
      // Benchmark-contamination scan: flag training documents sharing any
      // 4-token shingle with a held-out probe set (docs with doc_id % 29
      // == 0 stand in for the benchmark). The probe side's distinct
      // shingles BROADCAST — real benchmark suites are tiny next to a
      // training corpus — so the corpus side is one narrow shingle
      // explode + broadcast join + per-doc count: the corpus itself never
      // shuffles. WordShingles returns sorted-DISTINCT shingles per doc,
      // so count(*) is the distinct shared-shingle count.
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), explode(Text.shingles(col("text"), 4)).as("s4"))
        val probe = sh.filter(col("doc_id") % 29 === 0).select(col("s4")).distinct()
        sh.filter(col("doc_id") % 29 =!= 0)
          .join(broadcast(probe), Seq("s4"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS s4
          FROM (SELECT doc_id, $toksSql AS toks FROM documents),
               unnest(generate_series(1, greatest(len(toks)-3, 0))) AS t(i)),
        probe AS (SELECT DISTINCT s4 FROM sh WHERE doc_id % 29 = 0)
        SELECT sh.doc_id, count(*) AS n_hits FROM sh JOIN probe USING (s4)
        WHERE sh.doc_id % 29 <> 0 GROUP BY sh.doc_id ORDER BY doc_id""")),

    "pipeline_decontaminate" -> QueryDef(
      // The EVAL side of contamination (pipeline_contamination reports the
      // train side): for each held-out doc (doc_id % 17), the fraction of
      // its distinct 5-shingles that appear ANYWHERE in the training
      // split — the eval-integrity number a benchmark report quotes.
      // Plan: both broadcast joins carry eval-vocabulary-bounded sets;
      // the training corpus is read once, narrow, and never shuffles
      // (Curation.decontaminate scaladoc).
      (s, dir) => {
        val d = t(s, dir, "documents")
        Curation.decontaminate(
          d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0),
          shingleK = 5, minOverlap = 0.5)
          .orderBy("eval_id")
      },
      Some(s"""WITH tt AS (SELECT doc_id, $toksSql AS toks FROM documents),
        shset AS (SELECT doc_id, CASE WHEN len(toks) >= 5 THEN
            list_distinct(list_transform(range(1, len(toks) - 3),
              i -> array_to_string(toks[i:i+4], ' ')))
          ELSE list_filter([array_to_string(toks, ' ')], x -> x <> '') END AS sh
          FROM tt),
        evalsh AS (SELECT doc_id AS eval_id, unnest(sh) AS sh FROM shset
          WHERE doc_id % 17 = 0),
        trainsh AS (SELECT DISTINCT unnest(sh) AS sh FROM shset
          WHERE doc_id % 17 <> 0)
        SELECT eval_id, count(*) AS n_shingles, count(t.sh) AS n_hit,
          round(count(t.sh)::DOUBLE / count(*), 6) AS overlap_frac,
          round(count(t.sh)::DOUBLE / count(*), 6) >= 0.5 AS contaminated
        FROM evalsh e LEFT JOIN trainsh t USING (sh)
        GROUP BY eval_id ORDER BY eval_id""")),

    "pipeline_pack" -> QueryDef(
      // Sequence PACKING (concat-then-chunk): documents concatenate in id
      // order within their source and split at 2048-token boundaries —
      // the no-padding batch layout step after tokenization
      // (pipeline_token_budget is the SELECTION cut; this is the LAYOUT).
      // One window per source partition; bins never cross sources, so
      // the layout is shard-local at any corpus size.
      (s, dir) => Curation.packSequences(t(s, dir, "documents"), budget = 2048)
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, source,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens
          FROM documents),
        c AS (SELECT doc_id, source, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM tok)
        SELECT doc_id, source, n_tokens,
          CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS first_bin,
          CAST(CASE WHEN n_tokens = 0 THEN floor((cum - n_tokens) / 2048)
               ELSE floor((cum - 1) / 2048) END AS BIGINT) AS last_bin,
          CAST(CASE WHEN n_tokens = 0 THEN floor((cum - n_tokens) / 2048)
               ELSE floor((cum - 1) / 2048) END
             - floor((cum - n_tokens) / 2048) + 1 AS BIGINT) AS n_bins
        FROM c ORDER BY doc_id""")),

    "dedup_index_probe" -> QueryDef(
      // The persisted near-dup index probed with held-out docs (doc_id %
      // 13 == 5): which already-collected documents is each new doc a
      // near-duplicate of. Probe band keys broadcast, the band scan
      // prunes to their pb partitions, verification prunes to candidate
      // ps partitions, jaccard is EXACT merge-scan — rows-only here
      // (banding isn't SQL-expressible), certified by dedup_index_recall.
      (s, dir) => NearDupIndex.probeNearDupIndex(s, nearDupIndexFor(s, dir),
          t(s, dir, "documents").filter(col("doc_id") % 13 === 5), threshold = 0.8)
        .orderBy("probe_id", "dup_id"),
      None,
      headline = true),

    "dedup_index_recall" -> QueryDef(
      // Recall gate for the rows-only probe: every EXACT cross-split
      // jaccard pair at the threshold (probe docs x indexed corpus,
      // computed in-plan with the same merge-scan jaccard) must be found
      // by the banded probe. Near-identical pairs share every band, so
      // the measured recall is 1.0; floor 0.8 is the tripwire.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sh = docs.select(col("doc_id"),
          graft.functions.Text.shingles(col("text"), 3).as("sh"))
        val probe = sh.filter(col("doc_id") % 13 === 5)
          .select(col("doc_id").as("probe_id"), col("sh").as("psh"))
        val corpusSide = sh.filter(col("doc_id") % 13 =!= 5)
          .select(col("doc_id").as("dup_id"), col("sh"))
        val exact = corpusSide.join(broadcast(probe), lit(true))
          .withColumn("jaccard",
            graft.functions.expressions.HashExpressions.jaccard_sorted(col("psh"), col("sh")))
          .filter(col("jaccard") >= 0.8)
          .select(col("probe_id"), col("dup_id"))
        Recall.gate(
          NearDupIndex.probeNearDupIndex(s, nearDupIndexFor(s, dir),
            docs.filter(col("doc_id") % 13 === 5), threshold = 0.8),
          exact, Seq("probe_id", "dup_id"), floor = 0.8, name = "dedup_index_recall")
      },
      Some("SELECT 'dedup_index_recall' AS gate, true AS floor_met")),

    "dedup_index_deleted_recall" -> QueryDef(
      // The DELETE path of the near-dup index (the reference's Del
      // applied to dedup-at-ingest: a doc removed from the corpus must
      // stop suppressing new docs as its near-dups). Every indexed
      // doc_id % 7 == 3 is tombstoned (no purge — the probe-time
      // subtraction is what's under test): the gate requires (a) NO dead
      // id ever surfaces as dup_id — exactness of the subtraction — and
      // (b) recall vs the exact pairs over the REMAINING corpus holds
      // dedup_index_recall's floor.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sh = docs.select(col("doc_id"),
          graft.functions.Text.shingles(col("text"), 3).as("sh"))
        val probeDf = docs.filter(col("doc_id") % 13 === 5)
        val probeSh = sh.filter(col("doc_id") % 13 === 5)
          .select(col("doc_id").as("probe_id"), col("sh").as("psh"))
        val liveSide = sh.filter(col("doc_id") % 13 =!= 5 && col("doc_id") % 7 =!= 3)
          .select(col("doc_id").as("dup_id"), col("sh"))
        val exact = liveSide.join(broadcast(probeSh), lit(true))
          .withColumn("jaccard",
            graft.functions.expressions.HashExpressions.jaccard_sorted(col("psh"), col("sh")))
          .filter(col("jaccard") >= 0.8)
          .select(col("probe_id"), col("dup_id"))
        val probe = NearDupIndex.probeNearDupIndex(s,
          nearDupDeletedIndexFor(s, dir), probeDf, threshold = 0.8)
        val deadHits = probe.filter(col("dup_id") % 7 === 3)
          .agg(count(lit(1)).as("__dead"))
        Recall.gate(probe, exact, Seq("probe_id", "dup_id"),
            floor = 0.8, name = "dedup_index_deleted_recall")
          .crossJoin(deadHits)
          .select(col("gate"), (col("floor_met") && col("__dead") === 0).as("floor_met"))
      },
      Some("SELECT 'dedup_index_deleted_recall' AS gate, true AS floor_met")),

    "pipeline_chunk" -> QueryDef(
      // RAG/indexing chunking: 32-token windows every 16 tokens (50%
      // overlap), last window clipped, every doc >= 1 chunk. One narrow
      // explode, no shuffle — chunk identity is a pure function of
      // (doc, position), so the whole split hash-matches the oracle.
      (s, dir) => Curation.chunkDocuments(t(s, dir, "documents"),
          chunkTokens = 32, strideTokens = 16)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
        n AS (SELECT doc_id, toks, len(toks)::BIGINT AS nt FROM d),
        c AS (SELECT doc_id, toks, nt,
          unnest(range(0, CAST(ceil(greatest(nt - 32, 0) / 16.0) AS BIGINT) + 1)) AS chunk_id
          FROM n)
        SELECT doc_id, chunk_id,
          array_to_string(toks[chunk_id*16+1 : chunk_id*16+32], ' ') AS chunk_text,
          least(nt - chunk_id*16, 32) AS chunk_tokens
        FROM c ORDER BY doc_id, chunk_id""")),

    "dedup_span_frac" -> QueryDef(
      // Cross-document duplicated-span fractions: for each doc, the share
      // of its distinct 4-token spans that appear in at least one OTHER
      // doc — the substring-duplication signal (boilerplate, templates)
      // whole-doc near-dedup misses. Key-partitioned span shuffles only;
      // no broadcast of corpus-sized state (Dedup.dupSpanStats scaladoc).
      (s, dir) => Dedup.dupSpanStats(t(s, dir, "documents"), width = 4)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
        spans AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS sp
          FROM d, unnest(generate_series(1, greatest(len(toks)-3, 0))) AS t(i)
          UNION
          -- WordShingles' short-doc fallback: a doc below the span width
          -- contributes its whole text as one span (empty text excluded)
          SELECT doc_id, array_to_string(toks, ' ') AS sp FROM d
          WHERE len(toks) < 4 AND array_to_string(toks, ' ') <> ''),
        ps AS (SELECT sp, count(*) AS nd FROM spans GROUP BY sp),
        pd AS (SELECT doc_id, count(*) AS n_spans,
            sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
          FROM spans JOIN ps USING (sp) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(n_spans, 0)::BIGINT AS n_spans,
          coalesce(n_dup, 0)::BIGINT AS n_dup_spans,
          CASE WHEN coalesce(n_spans, 0) = 0 THEN 0.0
               ELSE round(n_dup / n_spans::DOUBLE, 6) END AS dup_frac
        FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""")),

    "dedup_span_removal" -> QueryDef(
      // Exact repeated-span REMOVAL (Dedup.removeDupSpans, width=4):
      // every 4-token span occurring anywhere else in the corpus is cut
      // from all but its globally-first (doc, position) occurrence —
      // the "deduplicating training data" substring edit dup_span_frac
      // only measures. Overlapping duplicate spans collapse at the
      // (doc, token-position) distinct, so removal is bounded by doc
      // length however many spans cover a token. Five keyed shuffles,
      // no corpus-sized broadcast (operator scaladoc).
      (s, dir) => Dedup.removeDupSpans(t(s, dir, "documents"), width = 4)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id,
          list_filter($toksSql, t -> t <> '') AS toks FROM documents),
        n AS (SELECT doc_id, toks, len(toks) AS nt FROM d),
        sp AS (SELECT doc_id, i - 1 AS p,
            array_to_string(toks[i:i+3], ' ') AS sp
          FROM n, unnest(generate_series(1, nt - 3)) AS g(i)
          WHERE nt >= 4),
        marked AS (SELECT doc_id, p,
            row_number() OVER (PARTITION BY sp ORDER BY doc_id, p) AS rn,
            count(*) OVER (PARTITION BY sp) AS nocc
          FROM sp),
        rem AS (SELECT DISTINCT doc_id, p + g.o AS i
          FROM (SELECT doc_id, p FROM marked WHERE nocc >= 2 AND rn > 1),
            unnest(generate_series(0, 3)) AS g(o)),
        tok AS (SELECT doc_id, i - 1 AS i, toks[i] AS tok
          FROM n, unnest(generate_series(1, nt)) AS g(i)),
        kept AS (SELECT t.doc_id, t.i, t.tok FROM tok t
          ANTI JOIN rem r ON t.doc_id = r.doc_id AND t.i = r.i),
        agg AS (SELECT doc_id, count(*) AS n_kept,
            string_agg(tok, ' ' ORDER BY i) AS text_deduped
          FROM kept GROUP BY doc_id)
        SELECT n.doc_id, nt::BIGINT AS n_tokens,
          (nt - coalesce(n_kept, 0))::BIGINT AS n_removed,
          coalesce(text_deduped, '') AS text_deduped
        FROM n LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""),
      headline = true),

    "pipeline_paragraph_dedup" -> QueryDef(
      // C4/RefinedWeb-style unit-level keep-first dedup: every distinct
      // unit survives only at its globally-first (doc_id, pos) occurrence;
      // docs reassemble from their survivors. Units here are 8-token
      // non-overlapping chunks (the corpus has no newline paragraphs);
      // the operator family also takes regex-split paragraphs
      // (Dedup.paragraphDedup). ONE skew-safe hash agg keyed by unit —
      // min(struct) with the winner riding along, no join-back, no window
      // over unit groups (Dedup.unitDedupKeepFirst scaladoc).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val units = Curation.chunkDocuments(docs, chunkTokens = 8, strideTokens = 8)
          .select(col("doc_id"), col("chunk_id").as("pos"),
            col("chunk_text").as("unit"))
        Dedup.dedupUnitsAndReassemble(docs.select(col("doc_id")), units,
          joinSep = " ").orderBy("doc_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
        n AS (SELECT doc_id, toks, len(toks)::BIGINT AS nt FROM d),
        c AS (SELECT doc_id, toks, nt,
          unnest(range(0, CAST(ceil(greatest(nt - 8, 0) / 8.0) AS BIGINT) + 1)) AS pos
          FROM n),
        u AS (SELECT doc_id, pos,
          array_to_string(toks[pos*8+1 : pos*8+8], ' ') AS unit FROM c),
        w AS (SELECT doc_id, pos, unit,
          row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn FROM u)
        SELECT doc_id, count(*) AS n_units,
          count(*) FILTER (WHERE rn = 1) AS n_kept,
          coalesce(string_agg(unit, ' ' ORDER BY pos) FILTER (WHERE rn = 1),
                   '') AS text_deduped
        FROM w GROUP BY doc_id ORDER BY doc_id"""),
      headline = true),

    "pipeline_boilerplate" -> QueryDef(
      // CCNet-style boilerplate removal: units occurring in >=
      // max(3, ceil(0.5% of docs)) DISTINCT documents are removed from
      // EVERY doc (cookie banners, nav chrome) — unlike keep-first
      // dedup one row up, which preserves first occurrences. The
      // doc-frequency fit is a two-level skew-safe aggregate; the
      // boilerplate set is bounded by unitsPerDoc/minDocFrac regardless
      // of corpus size, so the apply is a broadcast anti-join (17 units
      // cross the threshold at sf0.01). Full cleaned strings
      // hash-matched.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val units = Curation.chunkDocuments(docs, chunkTokens = 8, strideTokens = 8)
          .select(col("doc_id"), col("chunk_id").as("pos"),
            col("chunk_text").as("unit"))
        Dedup.removeBoilerplate(docs.select(col("doc_id")), units,
          minDocFrac = 0.005, minDocs = 3, joinSep = " ").orderBy("doc_id")
      },
      Some(boilerplateOracleSql),
      headline = true),

    "pipeline_boilerplate_sql" -> QueryDef(
      // the same removal from PURE SQL via the graft_boilerplate TVF;
      // same oracle — the TVF chunking + threshold + reassembly must
      // reproduce the API path bit-for-bit.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "documents").createOrReplaceTempView("graft_bp_docs")
        s.sql("""SELECT doc_id, n_units, n_kept, text_cleaned
          FROM graft_boilerplate('graft_bp_docs', 8, 0.005, 3)
          ORDER BY doc_id""")
      },
      Some(boilerplateOracleSql)),

    "dedup_minhash_pairs" -> QueryDef(
      (s, dir) => Dedup.minhashLshPairs(t(s, dir, "documents"), threshold = 0.8)
        .orderBy("id_a", "id_b"),
      None, // LSH banding isn't SQL-expressible; rows-only check
      headline = true),

    "dedup_minhash_recall" -> QueryDef(
      // Recall gate (oracled, unlike the rows-only pair query): MinHash-LSH
      // pairs vs the EXACT shingle-jaccard pair set — computed by the same
      // PPJoin rare-prefix algorithm as dedup_jaccard_pairs (never
      // all-pairs), one global group. 8 bands x 4 rows at t=0.8 gives
      // ~0.96+ expected banding recall; floor 0.8 is the tripwire.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Recall.gate(
          Dedup.minhashLshPairs(docs, threshold = 0.8),
          Dedup.exactSetJaccardPairs(
            docs.select(lit(1).as("g"), col("doc_id").as("id"),
              Text.shingles(col("text"), 3).as("ts")),
            threshold = 0.8),
          Seq("id_a", "id_b"), floor = 0.8, name = "minhash_recall")
      },
      Some("SELECT 'minhash_recall' AS gate, true AS floor_met")),

    "dedup_simhash_pairs" -> QueryDef(
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), maxHamming = 3)
        .orderBy("id_a", "id_b"),
      None),

    "dedup_simhash_recall" -> QueryDef(
      // SimHash banding is EXACT for maxHamming=3 over 4 bands (pigeonhole:
      // 3 flipped bits touch at most 3 bands), so the gate certifies
      // recall == 1.0. Ground truth is all pairs over a BOUNDED
      // deterministic sample of 512 signatures (picked by hash rank —
      // a map-side-truncated TakeOrdered, then pairs generated by a
      // double explode of ONE packed array: constant 512^2 work from one
      // task, no join node, no O(n^2) anywhere in the plan at any scale;
      // at sf0.01's 500 docs the sample IS the whole table, so the gate
      // certifies exactly what the old all-pairs form did).
      // Exactness on the sample certifies the same pigeonhole property the
      // old all-pairs form did; the approx side is the full banded plan.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sigs = docs.select(col("doc_id").as("id"),
          graft.functions.expressions.HashExpressions.simhash64(
            Text.tokens(col("text"))).as("sig"))
        val sample = sigs.orderBy(xxhash64(col("id")).asc, col("id").asc).limit(512)
        val exact = sample
          .agg(collect_list(struct(col("id"), col("sig"))).as("all"))
          .select(explode(col("all")).as("l"), col("all"))
          .select(col("l"), explode(col("all")).as("r"))
          .filter(col("l.id") < col("r.id") &&
            graft.functions.Vectors.hamming64(col("l.sig"), col("r.sig")) <= 3)
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        Recall.gate(
          Dedup.simhashPairs(docs, maxHamming = 3), exact,
          Seq("id_a", "id_b"), floor = 0.999, name = "simhash_recall")
      },
      Some("SELECT 'simhash_recall' AS gate, true AS floor_met")),

    "dedup_semantic" -> QueryDef(
      // SemDeDup (cluster-partitioned semantic dedup): k-means cells +
      // within-cell cosine clusters + low-centroid-sim keep rule. The
      // k-means fit can't be replayed in SQL, so the row is rows-only;
      // the pair-set quality is certified by the ORACLED
      // dedup_semantic_recall gate below.
      (s, dir) => Dedup.semanticDedup(
          t(s, dir, "embeddings"), threshold = 0.35, numCells = 16)
        .orderBy("vec_id"),
      None),

    "dedup_semantic_recall" -> QueryDef(
      // Recall of SemDeDup's within-cell pair set vs the TRUE cosine
      // pair set over a bounded deterministic 512-sample (the
      // dedup_simhash_recall construction: hash-rank TakeOrdered, pairs
      // by double-exploding one packed array — constant 512² work, no
      // O(n²) node at any scale; at sf0.01's 500 vectors the sample is
      // the whole table). Measured recall: 0.35 at sf0.001, 0.42 at
      // sf0.01 on the synthetic near-angle-uniform vectors (k-means
      // cells are arbitrary there — the data is SemDeDup's worst case;
      // clusterable real corpora sit far higher); floor 0.2 is the
      // regression tripwire.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val sample = emb
          .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc).limit(512)
        val exact = sample
          .agg(collect_list(struct(col("vec_id").as("id"),
            col("embedding").as("v"))).as("all"))
          .select(explode(col("all")).as("l"), col("all"))
          .select(col("l"), explode(col("all")).as("r"))
          .filter(col("l.id") < col("r.id") &&
            graft.functions.Vectors.cosine(col("l.v"), col("r.v")) >= 0.35)
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        Recall.gate(
          Dedup.semanticPairs(emb, threshold = 0.35, numCells = 16), exact,
          Seq("id_a", "id_b"), floor = 0.2, name = "semdedup_recall")
      },
      Some("SELECT 'semdedup_recall' AS gate, true AS floor_met"),
      headline = true),

    "dedup_embedding_pairs" -> QueryDef(
      // The BUCKETED plan over the FULL table (no row-count crutch): 4-bit
      // Knuth-hyperplane buckets + 1-bit multi-probe, so the Spark side
      // never builds an all-pairs join. The oracle recomputes the exact
      // same bucket grid in SQL (the Knuth sign family is pure int64
      // arithmetic) and brute-forces the declared pair set
      //   {hamming(bucket) <= 1 AND cosine >= 0.35}
      // — DuckDB may brute-force at sf0.01; the Spark plan must not.
      (s, dir) => Dedup.embeddingPairs(
          t(s, dir, "embeddings"), threshold = 0.35, bucketBits = 4)
        .orderBy("id_a", "id_b"),
      // the signed sum folds LEFT-TO-RIGHT in index order (list_reduce over
      // an ORDER BY d list), matching HyperplaneBucket's accumulation order
      // bit-for-bit — an unordered SUM() could flip a near-zero sign on fp
      // reassociation and fail the hash-compare nondeterministically
      Some("""WITH comp AS (
          SELECT vec_id, b,
            list_reduce(
              list(CASE WHEN ((b*10007 + d + 1) * 2654435761) % 4294967296 >= 2147483648
                   THEN e ELSE -e END ORDER BY d),
              (acc, x) -> acc + x) AS s
          FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) - 1 AS d
                FROM embeddings),
               (SELECT unnest(range(4)) AS b)
          GROUP BY vec_id, b),
        sig AS (
          SELECT vec_id,
            sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS bkt
          FROM comp GROUP BY vec_id)
        SELECT l.vec_id AS id_a, r.vec_id AS id_b
        FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
        JOIN sig sl ON sl.vec_id = l.vec_id
        JOIN sig sr ON sr.vec_id = r.vec_id
        WHERE bit_count(xor(sl.bkt, sr.bkt)) <= 1
          AND list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) >= 0.35
        ORDER BY id_a, id_b"""),
      headline = true))

  // ======================================================== E. similarity ==

  /** One persisted IVF index per dataset, built on first use within the
    * process (deterministic: fixed seed + params, so every query sees the
    * identical index the first builder produced — memoizing only removes
    * redundant k-means fits when several declared rows share the index).
    * Keyed by the embeddings table's (path, size, mtime), so a dataset
    * regenerated under the same path in a long-lived JVM gets a FRESH
    * index instead of a stale one.
    */
  private val ivfIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Memoized Z-ordered copy of lineitem, clustered on
    * (l_orderkey, l_partkey) — written once per dataset so bench re-runs
    * time the CLUSTERED READ, not the write (the bucketedFor /
    * ivfIndexFor convention: layout writes amortize).
    */
  /** A memo key part for source table `f`: each part file's name, length
    * and mtime (or the file's own), so a rewritten table misses the memo.
    */
  private def tableSig(f: java.io.File): String =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .map(c => s"${c.getName}:${c.length}:${c.lastModified}").mkString(",")
    else s"${f.length}:${f.lastModified}"

  private val zorderDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def zorderFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    zorderDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val out = Files.createTempDirectory("graft-q-zorder").toString + "/lineitem"
      graft.operators.Layout.writeZOrdered(t(s, dir, "lineitem"), out,
        Seq("l_orderkey", "l_partkey"), bits = 6, numFiles = 8)
      out
    })
  }

  /** Memoized Hilbert-clustered lineitem rewrite — the [[zorderFor]]
    * convention (same columns, bits, file count) with the
    * tighter-locality curve, so q_hilbert_scan times the same read
    * path over the alternative layout.
    */
  private val hilbertDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hilbertFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/lineitem.parquet")
    hilbertDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val out = Files.createTempDirectory("graft-q-hilbert").toString + "/lineitem"
      graft.operators.Layout.writeHilbertOrdered(t(s, dir, "lineitem"), out,
        Seq("l_orderkey", "l_partkey"), bits = 6, numFiles = 8)
      out
    })
  }

  /** The q_hilbert_key oracle: the kernel's `bits` quadrant-rotation
    * rounds unrolled into plain-SQL CTEs (two per round: rx/ry, then
    * the d/x/y update) — pure integer compare/add/xor/shift, so DuckDB
    * replays the EXACT curve position of every row.
    */
  private def hilbertOracleSql(bits: Int, src: String, outCols: String,
      orderBy: String): String = {
    // distinct names per stage (rx/ry, then nd/nx/ny, then a rename CTE)
    // so no expression can ever bind a freshly-defined lateral alias in
    // place of the source column it means
    val rounds = (0 until bits).reverse.zipWithIndex.map { case (i, r) =>
      val s = 1L << i
      s"""r$r AS (
        SELECT *, CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                  CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
        FROM ${if (r == 0) "h_src" else s"v${r - 1}"}),
      u$r AS (
        SELECT $outCols, d + ${s * s} * xor(3 * rx, ry) AS nd,
          CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END)
               ELSE x END AS nx,
          CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END)
               ELSE y END AS ny
        FROM r$r),
      v$r AS (SELECT $outCols, nd AS d, nx AS x, ny AS y FROM u$r)"""
    }.mkString(",\n      ")
    s"""WITH h_src AS ($src),
      $rounds
      SELECT $outCols, d AS h FROM v${bits - 1} ORDER BY $orderBy"""
  }

  /** Memoized incremental aggregate view over orders — built from the
    * `o_orderkey % 3 == 0` third, then refreshed with the other two
    * thirds as O(delta) appends, so the declared row certifies the
    * MERGED multi-root state against the one-shot oracle. Keyed on the
    * source's path+size+mtime like every memoized layout here.
    */
  private val aggViewDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def aggViewFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/orders.parquet")
    aggViewDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val vd = Files.createTempDirectory("graft-q-aggview").toString
      val orders = t(s, dir, "orders")
      graft.operators.AggView.buildAggView(
        orders.filter(col("o_orderkey") % 3 === 0), vd,
        keys = Seq("o_orderstatus", "o_orderpriority"),
        metrics = Seq("o_totalprice"), scale = 2,
        distinctCols = Seq("o_custkey"),
        histCols = Seq("o_totalprice"),
        histLo = 0.0, histHi = 600000.0, histBins = 60)
      graft.operators.AggView.appendToAggView(vd,
        orders.filter(col("o_orderkey") % 3 === 1), batchTag = Some("1"))
      graft.operators.AggView.appendToAggView(vd,
        orders.filter(col("o_orderkey") % 3 === 2), batchTag = Some("2"))
      vd
    })
  }

  /** Memoized incremental JOIN view per dataset: base fact third +
    * two fact-append deltas + three dim mutations (payload update,
    * orphan-healing upsert, tombstone delete), all exactly-once tagged.
    * The mutation formulas replay in the q_join_view oracle SQL.
    */
  private val joinViewDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def joinViewFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/orders.parquet")
    joinViewDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val vd = Files.createTempDirectory("graft-q-joinview").toString
      val fact = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
      val dim = t(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
      graft.operators.JoinView.buildJoinView(
        fact.filter(col("o_orderkey") % 3 === 0),
        dim.filter(col("custkey") % 3 =!= 0), // leaves healable orphans
        vd, joinKeys = Seq("custkey"))
      graft.operators.JoinView.appendFactsToJoinView(vd,
        fact.filter(col("o_orderkey") % 3 === 1), batchTag = Some("1"))
      graft.operators.JoinView.appendFactsToJoinView(vd,
        fact.filter(col("o_orderkey") % 3 === 2), batchTag = Some("2"))
      // heal: the %3==0 customers arrive late, with a payload bump
      graft.operators.JoinView.upsertDimToJoinView(vd,
        dim.filter(col("custkey") % 3 === 0)
          .withColumn("acctbal", col("acctbal") + 1000),
        batchTag = Some("3"))
      // update: %5==1 names uppercased (acctbal carries the final state
      // for the %15 overlap — an upsert writes the WHOLE payload)
      graft.operators.JoinView.upsertDimToJoinView(vd,
        dim.filter(col("custkey") % 5 === 1)
          .withColumn("name", upper(col("name")))
          .withColumn("acctbal", when(col("custkey") % 3 === 0,
            col("acctbal") + 1000).otherwise(col("acctbal"))),
        batchTag = Some("4"))
      // delete: %7==3 customers tombstoned
      graft.operators.JoinView.upsertDimToJoinView(vd,
        dim.filter(col("custkey") % 7 === 3).select("custkey"),
        delete = true, batchTag = Some("5"))
      vd
    })
  }

  private def ivfIndexFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/embeddings.parquet")
    ivfIndexDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-ivf").toString
      Similarity.buildIvfIndex(t(s, dir, "embeddings"), idx, numCentroids = 16)
      idx
    })
  }

  /** Memoized IVF index per dataset carrying LIVE TOMBSTONES (every
    * `vec_id % 5 == 2` deleted, purge not run) — `ann_ivf_deleted_recall`
    * gates the read-time subtraction path the way `ann_ivf_recall` gates
    * the plain probe. Deterministic build+delete, memoized so bench
    * re-runs time only the probe.
    */
  private val ivfDeletedIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfDeletedIndexFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/embeddings.parquet")
    ivfDeletedIndexDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-ivf-del").toString
      val emb = t(s, dir, "embeddings")
      Similarity.buildIvfIndex(emb, idx, numCentroids = 16)
      Similarity.deleteFromIvfIndex(s, idx,
        emb.filter(col("vec_id") % 5 === 2).select("vec_id"))
      idx
    })
  }

  /** Memoized IVF-PQ index per dataset — same contract as [[ivfIndexFor]]
    * (deterministic build, keyed on the source's path+size+mtime), with PQ
    * codebooks and codes in the generation.
    */
  private val ivfPqIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfPqIndexFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/embeddings.parquet")
    ivfPqIndexDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-ivfpq").toString
      Similarity.buildIvfPqIndex(t(s, dir, "embeddings"), idx, numCentroids = 16)
      idx
    })
  }

  /** Memoized PQ codebooks per dataset — the fit is deterministic (fixed
    * seed + sample), so caching only removes the redundant m k-means fits
    * when ann_pq_topk and its recall gate share one dataset. Same
    * (path, size, mtime) key as the index memos.
    */
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def pqCodebooksFor(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val src = new java.io.File(s"$dir/embeddings.parquet")
    pqCodebookCache.computeIfAbsent(s"${src.getPath}|${tableSig(src)}",
      _ => Similarity.fitPqCodebooks(t(s, dir, "embeddings")))
  }

  private val similarity: Seq[(String, QueryDef)] = Seq(

    "ann_topk" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""SELECT query_id, neighbor_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
            c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
        WHERE rank <= 5 ORDER BY query_id, rank"""),
      headline = true),

    "ann_ivf_topk" -> QueryDef(
      // The PERSISTED-index plan — the one you'd run at 100 TB: build the
      // cell-partitioned index once (buildIvfIndex: bounded-sample k-means
      // fit + one narrow assignment pass), then the query is a broadcast
      // centroid rank + a join whose probe cells DYNAMICALLY PRUNE the
      // assignment scan's partitions (PlanShapeSpec pins the
      // `dynamicpruning` marker). The inline re-fit form (ivfTopK) remains
      // the index-free fallback, recall-compared in SimilaritySpec.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir),
            emb.filter(col("vec_id") < 10), k = 5, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      None, // k-means quantization; approximate, rows-only check
      // headline times the PROBE path (the index is memoized per dataset,
      // so only the first run pays the k-means build): broadcast centroid
      // rank + DPP-pruned scan of the probed cells — the 100 TB query shape
      headline = true),

    "ann_ivf_recall" -> QueryDef(
      // Recall gate for the rows-only IVF query: the SAME persisted index
      // ann_ivf_topk declares (shared via ivfIndexFor — the build is
      // deterministic, so sharing changes nothing but the build count),
      // compared against the exact brute-force top-k inside one plan.
      // Measured recall@5: 0.52 at sf0.001, 0.62 at sf0.01 (4/16 probes on
      // random synthetic vectors — nearly angle-uniform data is IVF's
      // worst case); floor 0.4 is the regression tripwire.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Recall.gate(
          Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir), q, k = 5, nProbe = 4),
          Similarity.bruteForceTopK(emb, q, k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.4, name = "ivf_recall_at_5")
      },
      Some("SELECT 'ivf_recall_at_5' AS gate, true AS floor_met")),

    "ann_ivf_deleted_recall" -> QueryDef(
      // Recall gate for the DELETE path (the reference's Del on the
      // vector index): every vec_id % 5 == 2 is tombstoned, probes
      // anti-join the broadcast tombstones, and the gate requires (a) NO
      // dead id ever surfaces — exactness of the subtraction, not
      // recall — and (b) recall vs the brute force over the REMAINING
      // corpus holds ann_ivf_recall's floor.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val live = emb.filter(col("vec_id") % 5 =!= 2)
        val q = emb.filter(col("vec_id") < 10)
        val probe = Similarity.ivfTopKIndexed(s, ivfDeletedIndexFor(s, dir), q,
          k = 5, nProbe = 4)
        // any tombstoned neighbor in the probe output zeroes the gate:
        // floor_met ANDs with "no dead hits", so the row hash-mismatches
        // the oracle's `true` if the subtraction ever leaks a dead vector
        val deadHits = probe.filter(col("neighbor_id") % 5 === 2)
          .agg(count(lit(1)).as("__dead"))
        Recall.gate(probe,
            Similarity.bruteForceTopK(live, q, k = 5),
            Seq("query_id", "neighbor_id"), floor = 0.4, name = "ivf_deleted_recall_at_5")
          .crossJoin(deadHits)
          .select(col("gate"), (col("floor_met") && col("__dead") === 0).as("floor_met"))
      },
      Some("SELECT 'ivf_deleted_recall_at_5' AS gate, true AS floor_met")),

    "ann_lsh_topk" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
            bucketBits = 6)
          .orderBy("query_id", "rank")
      },
      None), // approximate by construction; rows-only check

    "ann_lsh_recall" -> QueryDef(
      // Recall gate for the rows-only LSH query (6 bits, 1-bit multi-probe
      // — measured ~0.28 recall@5; floor 0.15 is the tripwire).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Recall.gate(
          Similarity.lshTopK(emb, q, k = 5, bucketBits = 6),
          Similarity.bruteForceTopK(emb, q, k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.15, name = "lsh_recall_at_5")
      },
      Some("SELECT 'lsh_recall_at_5' AS gate, true AS floor_met")),

    "ann_pq_topk" -> QueryDef(
      // Product-quantization ANN (FAISS PQ): the corpus compresses to m=8
      // 4-bit codes per vector — the MEMORY path to billion-scale corpora
      // — queries carry an (m x ksub) lookup table, and the scan scores
      // each row with m array lookups (asymmetric distance, cosine
      // contract). The top-50 ADC candidates re-rank by exact cosine
      // (the standard cheap-scan-then-exact-math pipeline). k-means
      // codebooks: approximate by construction, rows-only + recall gate.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5, rerank = 50,
            fitted = Some(pqCodebooksFor(s, dir)))
          .orderBy("query_id", "rank")
      },
      None),

    "ann_pq_recall" -> QueryDef(
      // Recall gate for the rows-only PQ query — measured recall@5 with
      // the 50-candidate exact re-rank: 0.72 at sf0.001, 0.80 at sf0.01
      // (better than IVF's 0.52/0.62 — re-ranking recovers what the
      // 4-bit codes blur). Floor 0.5 is the regression tripwire.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Recall.gate(
          Similarity.pqTopK(emb, q, k = 5, rerank = 50,
            fitted = Some(pqCodebooksFor(s, dir))),
          Similarity.bruteForceTopK(emb, q, k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.5, name = "pq_recall_at_5")
      },
      Some("SELECT 'pq_recall_at_5' AS gate, true AS floor_met")),

    "ann_sq8_topk" -> QueryDef(
      // SQ8 ANN (Similarity.sq8TopK): the scan reads 8-bit codes — 4x
      // fewer bytes per vector than float32, simpler than PQ's codebooks
      // and more accurate per byte than its 4-bit cells — scores by
      // decoded-midpoint cosine (two codegen'd zip_with, no lookups),
      // and re-ranks the top-20 candidates by exact cosine. Quantized
      // by construction: rows-only + oracled recall gate (the ann_*
      // convention).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), k = 5,
            rerank = 20)
          .orderBy("query_id", "rank")
      },
      None,
      headline = true),

    "ann_sq8_recall" -> QueryDef(
      // Recall gate for the rows-only SQ8 query — 8 bits per dimension
      // blur almost nothing (cell width ~range/255), so with the
      // 20-candidate exact re-rank measured recall@5 is 1.0 at both
      // sf0.001 and sf0.01; floor 0.8 is the regression tripwire (a
      // broken clamp/floor/midpoint collapses it far below that).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Recall.gate(
          Similarity.sq8TopK(emb, q, k = 5, rerank = 20),
          Similarity.bruteForceTopK(emb, q, k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.8, name = "sq8_recall_at_5")
      },
      Some("SELECT 'sq8_recall_at_5' AS gate, true AS floor_met")),

    "ann_ivfpq_topk" -> QueryDef(
      // The BILLION-scale composition (FAISS IVFPQ): IVF cells prune
      // WHICH partitions a probe reads (dynamic partition pruning, pinned
      // by PlanShapeSpec), PQ codes shrink WHAT the scan costs — the ADC
      // pass reads (neighbor_id, code, cell) only, m bytes of code per
      // vector, never the float arrays — and the top-50 ADC candidates
      // re-rank by exact cosine read from the probed cells alone.
      // Approximate by construction: rows-only + oracled recall gate.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqTopK(s, ivfPqIndexFor(s, dir),
            emb.filter(col("vec_id") < 10), k = 5, nProbe = 4, rerank = 50)
          .orderBy("query_id", "rank")
      },
      None,
      headline = true),

    "ann_ivfpq_recall" -> QueryDef(
      // Recall gate for the rows-only IVF-PQ query — measured recall@5 vs
      // brute force: 0.48 at sf0.001, 0.60 at sf0.01 (the IVF probe
      // bound: nProbe=4 of 16 cells caps recall near the plain-IVF gate's
      // level; the PQ+re-rank stage costs almost none of it). Floor 0.35
      // is the regression tripwire, calibrated against ann_ivf_recall's
      // 0.4 floor.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        Recall.gate(
          Similarity.ivfPqTopK(s, ivfPqIndexFor(s, dir), q, k = 5, nProbe = 4, rerank = 50),
          Similarity.bruteForceTopK(emb, q, k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.35, name = "ivfpq_recall_at_5")
      },
      Some("SELECT 'ivfpq_recall_at_5' AS gate, true AS floor_met")),

    "ann_filtered_topk" -> QueryDef(
      // Filtered ANN — "nearest neighbors among docs WHERE label = 3":
      // the metadata predicate SEMI-JOINS the assignment scan BEFORE any
      // cosine runs (disallowed vectors never reach the scoring
      // expression — PlanShapeSpec pins the join order), while probe
      // cells still partition-prune the scan. Shares ann_ivf_topk's
      // persisted index (deterministic build). k-means probe =>
      // approximate; rows-only + the oracled recall gate below.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopKIndexedFiltered(s, ivfIndexFor(s, dir),
            emb.filter(col("vec_id") < 10), emb.filter(col("label") === 3),
            k = 5, nProbe = 4)
          .orderBy("query_id", "rank")
      },
      None,
      headline = true),

    "ann_filtered_recall" -> QueryDef(
      // Recall gate for the rows-only filtered query: same index + filter,
      // compared against the brute force over the FILTERED corpus (the
      // ground truth a metadata-filtered search is judged by). Measured
      // recall@5: 0.56 at sf0.001, 0.52 at sf0.01 (4/16 probes, ~10% of
      // the corpus allowed); floor 0.35 matches the ivfpq gate's margin.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val allowed = emb.filter(col("label") === 3)
        Recall.gate(
          Similarity.ivfTopKIndexedFiltered(s, ivfIndexFor(s, dir), q, allowed,
            k = 5, nProbe = 4),
          Similarity.bruteForceTopK(allowed, q, k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.35, name = "filtered_recall_at_5")
      },
      Some("SELECT 'filtered_recall_at_5' AS gate, true AS floor_met")),

    "emb_pca_gate" -> QueryDef(
      // PCA fit + centered projection (Similarity.pcaFit/pcaProject —
      // embedding compression/whitening before ANN or SemDeDup). The
      // basis itself can't hash-match any oracle (eigenvectors of a
      // sampled covariance), so the gate certifies the DEFINING
      // properties instead, each exact math, not tuning: (a) the basis
      // is orthonormal; (b) the projected covariance is diagonal with a
      // non-increasing spectrum (that IS "these are principal axes");
      // (c) the top-8 axes capture >= 15% of total variance (flat
      // random-vector spectrum baseline is 12.5%; measured 0.20 at
      // sf0.01); (d) whitened axes have exactly unit variance. All
      // moment aggregates are k^2/d-cell frames collected bounded.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val k = 8
        val model = Similarity.pcaFit(emb, "embedding", k)
        val orthoOk = (for (a <- 0 until k; b <- 0 until k) yield {
          val dot = model.components(a).zip(model.components(b))
            .map { case (x, y) => x * y }.sum
          math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9
        }).forall(identity)
        val proj = Similarity.pcaProject(emb, "embedding", model, "y")
        val mom = proj.select(posexplode(
            flatten(transform(col("y"), a => transform(col("y"), b => a * b)))
          ).as(Seq("i", "v")))
          .groupBy("i").agg(avg(col("v")).as("m"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val diag = (0 until k).map(c => mom(c * k + c))
        val offOk = (for (a <- 0 until k; b <- 0 until k if a != b)
          yield math.abs(mom(a * k + b))).max < 0.02 * diag.max
        val orderedOk = diag.sliding(2)
          .forall { case Seq(hi, lo) => hi >= lo - 1e-9; case _ => true }
        val totalVar = emb
          .select(posexplode(col("embedding").cast("array<double>")).as(Seq("i", "x")))
          .groupBy("i")
          .agg((avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("v"))
          .agg(sum(col("v"))).head.getDouble(0)
        val capturedOk = diag.sum / totalVar >= 0.15
        val whiteOk = Similarity
          .pcaProject(emb, "embedding", model, "y", whiten = true)
          .select(posexplode(col("y")).as(Seq("i", "v")))
          .groupBy("i").agg(avg(col("v") * col("v")).as("s2"))
          .collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-6)
        val ok = orthoOk && offOk && orderedOk && capturedOk && whiteOk
        s.range(1).select(lit("pca_gate").as("gate"), lit(ok).as("floor_met"))
      },
      Some("SELECT 'pca_gate' AS gate, true AS floor_met")),

    "emb_pca_recall" -> QueryDef(
      // The compression use case, gated: cosine top-5 in HALF the
      // dimensions (32-dim PCA projection) against the exact 64-dim
      // brute force. Near-uniform synthetic vectors are PCA's worst
      // case (flat spectrum — measured recall@5: 0.48 at sf0.001,
      // 0.42 at sf0.01); floor 0.25 is the regression tripwire. On
      // real embeddings (fast-decaying spectrum) the same projection
      // preserves far more.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = Similarity.pcaFit(emb, "embedding", k = 32)
        val proj = Similarity.pcaProject(emb, "embedding", model, "pv")
          .select(col("vec_id"), col("pv").as("embedding"))
        Recall.gate(
          Similarity.bruteForceTopK(proj, proj.filter(col("vec_id") < 10), k = 5),
          Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5),
          Seq("query_id", "neighbor_id"), floor = 0.25, name = "pca32_recall_at_5")
      },
      Some("SELECT 'pca32_recall_at_5' AS gate, true AS floor_met")),

    "emb_label_centroids" -> QueryDef(
      // Per-label embedding centroids — the vector-AGGREGATION primitive
      // (class prototypes, cluster summaries, the reduce step of a
      // distributed k-means iteration). One posexplode + one hash agg
      // keyed by (label, dim): partial map-side combine, shuffle carries
      // labels x dims rows, never the vectors. Elements widen
      // float->double exactly, then are 7dp-rounded and summed as
      // DECIMAL, so the centroid is exact and association-order-
      // independent — hash-matching the oracle at any partitioning
      // (a raw double SUM would flake on fp reassociation).
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(round(col("e").cast("double"), 7).cast("decimal(18,7)")).as("__s"),
          count(lit(1)).as("n"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("n"),
          round(col("__s").cast("double") / col("n"), 6).as("centroid"))
        .orderBy("label", "dim"),
      Some("""SELECT label, dim::BIGINT AS dim, count(*) AS n,
          round(sum(round(e, 7)::DECIMAL(18,7))::DOUBLE / count(*), 6) AS centroid
        FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS e,
                generate_subscripts(embedding, 1) - 1 AS dim
              FROM embeddings)
        GROUP BY label, dim ORDER BY label, dim""")),

    "emb_rp" -> QueryDef(
      // Johnson–Lindenstrauss random projection to k=16 dims
      // (Similarity.randomProject): the DATA-INDEPENDENT compression
      // path — zero passes over the corpus (PCA needs two + an eigenfit),
      // the "model" is just (seed, k, d), and the codegen'd mat-vec is a
      // narrow map. BIT-REPLAYED by the oracle: the ±1/sqrt(16) sign of
      // basis cell (c, j) is the top md5 bit of "7:c:j" (scale 0.25 is an
      // exact power of two), each term x_j * (±0.25) is one exact-input
      // IEEE multiply, and the accumulation order is pinned (j ascending
      // — the expression's loop = the oracle's ordered running sum), so
      // the doubles agree to the last bit before the 6dp round.
      (s, dir) => Similarity.randomProject(
          t(s, dir, "embeddings"), "embedding", k = 16, d = 64, seed = 7L)
        .select(col("vec_id"), posexplode(col("rp")).as(Seq("c", "y")))
        .select(col("vec_id"), col("c").cast("long").as("c"),
          round(col("y"), 6).as("y"))
        .orderBy("vec_id", "c"),
      Some("""WITH u AS (SELECT vec_id,
            generate_subscripts(embedding, 1) - 1 AS j,
            CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        sgn AS (SELECT c.range AS c, j.range AS j,
            CASE WHEN substr(md5(concat('7:', c.range, ':', j.range)), 1, 1) < '8'
              THEN 1.0 / sqrt(16.0) ELSE -(1.0 / sqrt(16.0)) END AS s
          FROM range(16) c, range(64) j),
        p AS (SELECT u.vec_id, sgn.c, u.j,
            sum(u.x * sgn.s) OVER (PARTITION BY u.vec_id, sgn.c
              ORDER BY u.j) AS acc
          FROM u JOIN sgn ON u.j = sgn.j)
        SELECT vec_id, c::BIGINT AS c, round(arg_max(acc, j), 6) AS y
        FROM p GROUP BY vec_id, c ORDER BY vec_id, c"""),
      headline = true),

    "emb_rp_sql" -> QueryDef(
      // the same projection from PURE SQL: the graft_random_project TVF
      // routes to Similarity.randomProject, so a SQL session gets the
      // identical basis from the same (seed, k, d) literals — no
      // persisted model to ship (the whole point of the JL path); same
      // bit-replay oracle as emb_rp.
      (s0, dir) => {
        val s = s0.newSession()
        graft.GraftExtensions.register(s)
        t(s, dir, "embeddings").createOrReplaceTempView("graft_rp_emb")
        s.sql("""SELECT vec_id, CAST(c.i AS BIGINT) AS c, round(c.y, 6) AS y
          FROM (SELECT vec_id, posexplode(rp) AS (i, y)
                FROM graft_random_project('graft_rp_emb', 'embedding', 16, 64, 7)) c
          ORDER BY vec_id, c""")
      },
      Some("""WITH u AS (SELECT vec_id,
            generate_subscripts(embedding, 1) - 1 AS j,
            CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        sgn AS (SELECT c.range AS c, j.range AS j,
            CASE WHEN substr(md5(concat('7:', c.range, ':', j.range)), 1, 1) < '8'
              THEN 1.0 / sqrt(16.0) ELSE -(1.0 / sqrt(16.0)) END AS s
          FROM range(16) c, range(64) j),
        p AS (SELECT u.vec_id, sgn.c, u.j,
            sum(u.x * sgn.s) OVER (PARTITION BY u.vec_id, sgn.c
              ORDER BY u.j) AS acc
          FROM u JOIN sgn ON u.j = sgn.j)
        SELECT vec_id, c::BIGINT AS c, round(arg_max(acc, j), 6) AS y
        FROM p GROUP BY vec_id, c ORDER BY vec_id, c""")),

    "emb_rp_gate" -> QueryDef(
      // the JL lemma itself, certified on the data: squared pairwise
      // distances between projected vectors concentrate around the
      // originals (E[ratio] = 1 for the sign basis, Var = O(1/k)). All
      // 435 pairs among the first 30 vectors: the MEAN distortion ratio
      // must sit within ±25% of 1 and no pair may collapse below 1%
      // of its true distance — exact math on the same projection emb_rp
      // hash-verifies, so the gate fails if the basis, the scale, or
      // the mat-vec drifts.
      (s, dir) => {
        val emb = t(s, dir, "embeddings").filter(col("vec_id") < 30)
        val proj = Similarity.randomProject(emb, "embedding", k = 16, d = 64,
          seed = 7L)
        val both = proj.select(col("vec_id"),
          col("embedding").cast("array<double>").as("x"), col("rp"))
        val pairs = both.as("a").join(both.as("b"),
          col("a.vec_id") < col("b.vec_id"))
        def sqDist(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          aggregate(zip_with(x, y, (p, q) => (p - q) * (p - q)),
            lit(0.0), (acc, v) => acc + v)
        val ratios = pairs.select(
            (sqDist(col("a.rp"), col("b.rp")) /
              sqDist(col("a.x"), col("b.x"))).as("r"))
          .agg(avg(col("r")).as("mean_r"), min(col("r")).as("min_r"),
            count(lit(1)).as("n"))
          .head()
        val ok = ratios.getLong(2) == 435L &&
          math.abs(ratios.getDouble(0) - 1.0) < 0.25 &&
          ratios.getDouble(1) > 0.01
        s.range(1).select(lit("rp_jl_gate").as("gate"), lit(ok).as("floor_met"))
      },
      Some("SELECT 'rp_jl_gate' AS gate, true AS floor_met")),

    "emb_sq8" -> QueryDef(
      // 8-bit scalar quantization (Similarity.sqFit/sqEncode): 4x
      // smaller vectors than float32 with trivial decode — the
      // memory-bound ANN regime's first lever (PQ's heavier codebooks
      // are the second). The fit is ONE linear pass whose min/max cells
      // are exact and association-order-free, so the model — and
      // therefore every INTEGER code — is bit-identical across engines
      // and partitionings: the oracle recomputes the ranges itself and
      // replays clamp(floor((x - min) * (255 / (max - min)))) with the
      // identical parenthesization, hash-exact with no rounding.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = Similarity.sqFit(emb, "embedding")
        Similarity.sqEncode(emb, "embedding", model)
          .select(col("vec_id"), posexplode(col("sq")).as(Seq("j", "code")))
          .select(col("vec_id"), col("j").cast("long").as("j"), col("code"))
          .orderBy("vec_id", "j")
      },
      Some("""WITH u AS (SELECT vec_id,
            generate_subscripts(embedding, 1) - 1 AS j,
            CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings),
        m AS (SELECT j, min(x) AS mn, max(x) AS mx FROM u GROUP BY j)
        SELECT u.vec_id, u.j::BIGINT AS j,
          CASE WHEN m.mx > m.mn
            THEN least(greatest(CAST(floor((u.x - m.mn) * (255.0 / (m.mx - m.mn)))
              AS INT), 0), 255)
            ELSE 0 END AS code
        FROM u JOIN m USING (j) ORDER BY vec_id, j"""),
      headline = true),

    "emb_sq8_gate" -> QueryDef(
      // the quantizer's defining guarantee, certified: decoding to cell
      // midpoints bounds every element's error by HALF a cell width —
      // max |x - decode(encode(x))| <= (max_j - min_j) / 255 / 2 (plus
      // fp slack) on every dimension, and the codes stay in [0, 255].
      // Exact math, not tuning: the bound fails if the clamp, the floor,
      // or the midpoint rule drifts.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val model = Similarity.sqFit(emb, "embedding")
        val enc = Similarity.sqEncode(emb, "embedding", model)
        val dec = enc.withColumn("xhat", Similarity.sqDecode(col("sq"), model))
        val halfCells = Array.tabulate(model.d)(j =>
          (model.maxs(j) - model.mins(j)) / 255.0 / 2.0)
        val errOk = dec.select(posexplode(
            zip_with(
              zip_with(col("embedding").cast("array<double>"), col("xhat"),
                (x, y) => abs(x - y)),
              lit(halfCells), (e, h) => e <= h * lit(1.0 + 1e-9) + lit(1e-12)))
            .as(Seq("j", "ok")))
          .agg(min(col("ok").cast("int"))).head.getInt(0) == 1
        val rangeOk = enc.select(posexplode(col("sq")).as(Seq("j", "code")))
          .agg(min(col("code")).as("lo"), max(col("code")).as("hi")).head() match {
            case r => r.getInt(0) >= 0 && r.getInt(1) <= 255
          }
        s.range(1).select(lit("sq8_half_cell").as("gate"),
          lit(errOk && rangeOk).as("floor_met"))
      },
      Some("SELECT 'sq8_half_cell' AS gate, true AS floor_met")))

  // ============================================================= F. graph ==

  private def eventEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id").as("src"),
      get_json_object(col("props"), "$.k").cast("long").as("dst"))

  private val edgesSql =
    """(SELECT user_id AS src, CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst FROM events)"""

  private val graph: Seq[(String, QueryDef)] = Seq(

    "graph_degree" -> QueryDef(
      (s, dir) => GraphOps.degrees(eventEdges(s, dir)).orderBy("vertex"),
      Some(s"""WITH e AS $edgesSql,
        o AS (SELECT src AS vertex, count(*) AS c FROM e GROUP BY 1),
        i AS (SELECT dst AS vertex, count(*) AS c FROM e GROUP BY 1)
        SELECT coalesce(o.vertex, i.vertex) AS vertex,
          coalesce(o.c, 0) AS out_degree, coalesce(i.c, 0) AS in_degree
        FROM o FULL OUTER JOIN i ON o.vertex = i.vertex ORDER BY vertex"""),
      headline = true),

    "graph_2hop" -> QueryDef(
      (s, dir) => GraphOps.kHop(eventEdges(s, dir), start = 1L, k = 2).orderBy("vertex"),
      Some(s"""WITH e AS $edgesSql
        SELECT DISTINCT vertex FROM (
          SELECT CAST(1 AS BIGINT) AS vertex
          UNION ALL SELECT dst FROM e WHERE src = 1
          UNION ALL SELECT e2.dst FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src = 1)
        ORDER BY vertex""")),

    "graph_bfs" -> QueryDef(
      // Multi-source BFS hop distance (GraphOps.hopDistances, GraphX
      // Pregel): min directed hops from seeds {1, 2} bounded to 4 —
      // deterministic because min is confluent. Fully oracled: DuckDB
      // replays the frontier expansion as a recursive CTE with UNION
      // dedup (bounded by |V| x maxHops rows, cycle-safe), then takes
      // the per-vertex min.
      (s, dir) => GraphOps.hopDistances(eventEdges(s, dir),
          seeds = Seq(1L, 2L), maxHops = 4)
        .orderBy("vertex"),
      Some(s"""WITH RECURSIVE e AS $edgesSql,
        v AS (SELECT DISTINCT src AS vertex FROM e WHERE src IS NOT NULL
              UNION SELECT DISTINCT dst FROM e WHERE dst IS NOT NULL),
        walk(vertex, dist) AS (
          SELECT vertex, 0 FROM v WHERE vertex IN (1, 2)
          UNION
          SELECT e.dst, walk.dist + 1
          FROM walk JOIN e ON e.src = walk.vertex
          WHERE walk.dist < 4 AND e.dst IS NOT NULL)
        SELECT vertex, min(dist)::BIGINT AS dist
        FROM walk GROUP BY vertex ORDER BY vertex""")),

    "graph_closeness" -> QueryDef(
      // hop-bounded closeness centrality for a seed set: per seed,
      // reachable-node count over summed min hop distances (the
      // truncated form — at 100 TB closeness is computed for a seed
      // SAMPLE, one bounded BFS per seed, exactly this shape). Composes
      // GraphOps.hopDistances per seed; integer count/sum ratio, so the
      // 6dp round is engine-stable. Oracle: ONE recursive CTE carrying
      // the seed through the frontier walk.
      (s, dir) => {
        val e = eventEdges(s, dir)
        Seq(1L, 2L).map { sd =>
          GraphOps.hopDistances(e, Seq(sd), maxHops = 6)
            .select(lit(sd).as("seed"), col("vertex"), col("dist"))
        }.reduce(_ unionByName _)
          .groupBy(col("seed"))
          .agg(count(when(col("dist") > 0, 1)).as("n_reached"),
            sum(col("dist")).as("sum_dist"),
            round(count(when(col("dist") > 0, 1)) / sum(col("dist")), 6)
              .as("closeness"))
          .orderBy("seed")
      },
      Some(s"""WITH RECURSIVE e AS $edgesSql,
        seeds(s) AS (SELECT * FROM (VALUES (1), (2)) t(s)),
        walk(seed, vertex, dist) AS (
          SELECT s, s::BIGINT, 0 FROM seeds
          UNION
          SELECT walk.seed, e.dst, walk.dist + 1
          FROM walk JOIN e ON e.src = walk.vertex
          WHERE walk.dist < 6 AND e.dst IS NOT NULL),
        d AS (SELECT seed, vertex, min(dist) AS dist FROM walk
          GROUP BY 1, 2)
        SELECT seed::BIGINT AS seed,
          count(CASE WHEN dist > 0 THEN 1 END)::BIGINT AS n_reached,
          sum(dist)::BIGINT AS sum_dist,
          round(count(CASE WHEN dist > 0 THEN 1 END) / sum(dist), 6)
            AS closeness
        FROM d GROUP BY 1 ORDER BY 1""")),

    "graph_sssp" -> QueryDef(
      // Hop-bounded WEIGHTED shortest paths (GraphOps.boundedShortestPaths
      // — bounded Bellman-Ford via Pregel, the weighted generalization of
      // graph_bfs): min total weight over directed paths of <= 4 edges
      // from seeds {1, 2}, deterministic edge weights derived from the
      // destination id. Fully oracled by the recursive-CTE walk with
      // UNION dedup over (vertex, cost, hops) — bounded because weights
      // are small integers.
      (s, dir) => GraphOps.boundedShortestPaths(
          eventEdges(s, dir).withColumn("w", pmod(col("dst"), lit(7L)) + 1L),
          seeds = Seq(1L, 2L), maxHops = 4)
        .orderBy("vertex"),
      Some(s"""WITH RECURSIVE e0 AS $edgesSql,
        e AS (SELECT src, dst, (dst % 7) + 1 AS w FROM e0
              WHERE src IS NOT NULL AND dst IS NOT NULL),
        v AS (SELECT DISTINCT src AS vertex FROM e
              UNION SELECT DISTINCT dst FROM e),
        walk(vertex, cost, hops) AS (
          SELECT vertex, CAST(0 AS BIGINT), 0 FROM v WHERE vertex IN (1, 2)
          UNION
          SELECT e.dst, walk.cost + e.w, walk.hops + 1
          FROM walk JOIN e ON e.src = walk.vertex
          WHERE walk.hops < 4)
        SELECT vertex, min(cost)::BIGINT AS cost
        FROM walk GROUP BY vertex ORDER BY vertex""")),

    "graph_kcore" -> QueryDef(
      // k-CORE (GraphOps.kCore, k=9): the maximal subgraph where every
      // vertex keeps undirected-simple degree >= k, by the standard
      // confluent peel (removal order never changes the fixpoint).
      // Spark peels to a VERIFIED fixpoint (fails loudly past maxIters);
      // the oracle unrolls 10 peel rounds — both sf0.001 (smoke,
      // 38-vertex core, 2 peel rounds) and sf0.01 (oracle) converge
      // well inside it, and extra rounds are no-ops at a fixpoint.
      (s, dir) => GraphOps.kCore(eventEdges(s, dir), k = 9)
        .orderBy("vertex"),
      Some {
        val rounds = 10
        // MATERIALIZED per round: each e_r is referenced three times by
        // round r+1, so inlined CTEs would expand ~3^rounds scans of the
        // base table (observed as fd exhaustion in the lint probe)
        val steps = (1 to rounds).map { r =>
          s"""d$r AS MATERIALIZED (SELECT v, count(*) AS c FROM (
               SELECT a AS v FROM e${r - 1} UNION ALL SELECT b AS v FROM e${r - 1})
             GROUP BY v),
           k$r AS MATERIALIZED (SELECT v FROM d$r WHERE c >= 9),
           e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
             WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))"""
        }.mkString(",\n")
        s"""WITH raw AS $edgesSql,
          e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
          $steps,
          fin AS (SELECT v, count(*) AS c FROM (
            SELECT a AS v FROM e$rounds UNION ALL SELECT b AS v FROM e$rounds)
            GROUP BY v)
          SELECT v AS vertex, c::BIGINT AS degree FROM fin
          WHERE c >= 9 ORDER BY vertex"""
      }),

    "graph_triangles" -> QueryDef(
      (s, dir) => GraphOps.triangleEdges(eventEdges(s, dir))
        .agg(count(lit(1)).as("n_triangles")),
      Some(s"""WITH e0 AS $edgesSql,
        e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e0 WHERE src <> dst)
        SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e2.b = e3.b AND e1.a = e3.a""")),

    "graph_hits" -> QueryDef(
      // HITS hubs & authorities (GraphOps.hits, 10 iterations):
      // UNNORMALIZED power steps — per-step and end normalization are
      // exactly proportional, so one final L2 normalize suffices. The 20
      // half-steps are a co-partitioned superstep loop (narrow join of
      // the persisted adjacency + one reduceByKey each), all stages of
      // one job; the call runs at most 5 jobs with the collect. FULLY
      // oracled by unrolling all 10 mutual-reinforcement iterations in
      // SQL (the pagerank/LPA pattern); rounding to 6 decimals keeps the
      // rows independent of summation order.
      (s, dir) => GraphOps.hits(eventEdges(s, dir), iters = 10)
        .select(col("vertex"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("vertex"),
      Some {
        val steps = (1 to 10).map { i =>
          s"""a$i AS MATERIALIZED (SELECT e.dst AS v, sum(h${i - 1}.score) AS score
               FROM e JOIN h${i - 1} ON e.src = h${i - 1}.v GROUP BY 1),
             h$i AS MATERIALIZED (SELECT e.src AS v, sum(a$i.score) AS score
               FROM e JOIN a$i ON e.dst = a$i.v GROUP BY 1)"""
        }.mkString(",\n")
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM $edgesSql t
            WHERE dst IS NOT NULL),
          verts AS MATERIALIZED (SELECT DISTINCT v FROM
            (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          h0 AS MATERIALIZED (SELECT v, 1.0::DOUBLE AS score FROM verts),
          $steps
          SELECT verts.v AS vertex,
            round(coalesce(h10.score, 0.0)
              / (SELECT sqrt(sum(score * score)) FROM h10), 6) AS hub,
            round(coalesce(a10.score, 0.0)
              / (SELECT sqrt(sum(score * score)) FROM a10), 6) AS auth
          FROM verts LEFT JOIN h10 ON verts.v = h10.v
            LEFT JOIN a10 ON verts.v = a10.v
          ORDER BY vertex"""
      },
      headline = true),

    "graph_pagerank" -> QueryDef(
      (s, dir) => GraphOps.pageRank(eventEdges(s, dir), iters = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex"),
      // GraphX staticPageRank oracled by unrolled power iteration (10
      // chained CTEs): rank_{k+1} = 0.15 + 0.85 * sum(rank_k/outdeg) over
      // in-edges, then the SPARK-18847 sink correction GraphX applies at
      // the end (scale ranks so they sum to numVertices — a no-op when the
      // graph has no dangling sinks, e.g. sf0.01, but required at scales
      // where some dst vertices never appear as src, e.g. sf0.001).
      Some {
        val iters = (0 until 10).map { i =>
          s"""r${i + 1} AS (SELECT verts.v, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank
             FROM verts LEFT JOIN (
               SELECT e.dst AS v, sum(r$i.rank / deg.d) AS s
               FROM e JOIN r$i ON e.src = r$i.v JOIN deg ON e.src = deg.v
               GROUP BY e.dst) m ON verts.v = m.v)"""
        }.mkString(",\n")
        s"""WITH e AS $edgesSql,
          verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
          deg AS (SELECT src AS v, count(*)::DOUBLE AS d FROM e GROUP BY 1),
          r0 AS (SELECT v, 1.0::DOUBLE AS rank FROM verts),
          $iters
        SELECT v AS vertex,
          round(rank * (SELECT count(*)::DOUBLE FROM verts) / (SELECT sum(rank) FROM r10), 6) AS rank
        FROM r10 ORDER BY vertex"""
      },
      headline = true),

    "graph_lpa" -> QueryDef(
      // Deterministic synchronous label propagation (GraphOps
      // .labelPropagation — community detection over the event graph),
      // three rounds, smallest-label tie-break; FULLY oracled by
      // unrolling the rounds in SQL (the pageRank oracle pattern) with
      // the struct-max argmax.
      (s, dir) => GraphOps.labelPropagation(eventEdges(s, dir), iters = 3)
        .orderBy("vertex"),
      Some(s"""WITH e0 AS $edgesSql,
        und AS (SELECT DISTINCT src AS a, dst AS b FROM e0
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        sym AS (SELECT DISTINCT a, b FROM
          (SELECT a, b FROM und UNION ALL SELECT b, a FROM und)),
        l0 AS (SELECT DISTINCT a AS vertex, a AS label FROM sym),
        l1 AS (SELECT a AS vertex,
            (max({'c': c, 'nl': -label, 'l': label}))['l'] AS label
          FROM (SELECT s.a, p.label, count(*) AS c FROM sym s
            JOIN l0 p ON s.b = p.vertex GROUP BY s.a, p.label) GROUP BY a),
        l2 AS (SELECT a AS vertex,
            (max({'c': c, 'nl': -label, 'l': label}))['l'] AS label
          FROM (SELECT s.a, p.label, count(*) AS c FROM sym s
            JOIN l1 p ON s.b = p.vertex GROUP BY s.a, p.label) GROUP BY a),
        l3 AS (SELECT a AS vertex,
            (max({'c': c, 'nl': -label, 'l': label}))['l'] AS label
          FROM (SELECT s.a, p.label, count(*) AS c FROM sym s
            JOIN l2 p ON s.b = p.vertex GROUP BY s.a, p.label) GROUP BY a)
        SELECT vertex, label FROM l3 ORDER BY vertex""")),

    "graph_cc" -> QueryDef(
      // GraphX connected components (label = min vertex id in component),
      // oracled against a DuckDB recursive-CTE reachability closure —
      // feasible because the oracle runs at sf0.01 vertex counts.
      (s, dir) => GraphOps.connectedComponents(eventEdges(s, dir)).orderBy("vertex"),
      Some(s"""WITH RECURSIVE
        e0 AS $edgesSql,
        und AS (SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0),
        verts AS (SELECT a AS v FROM und UNION SELECT b FROM und),
        reach(a, b) AS (
          SELECT v, v FROM verts
          UNION
          SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        SELECT a AS vertex, min(b) AS component FROM reach
        GROUP BY a ORDER BY vertex"""),
      headline = true),

    "graph_scc" -> QueryDef(
      // Directed strongly connected components (GraphOps.scc): label =
      // min vertex id under MUTUAL reachability. The oracle builds the
      // directed reachability closure with a recursive CTE (the
      // graph_cc discipline — feasible at sf0.01 vertex counts), then
      // intersects it with its transpose: v's SCC = {u : v→*u AND
      // u→*v}, label = min of that set (always contains v itself).
      (s, dir) => GraphOps.scc(eventEdges(s, dir)).orderBy("vertex"),
      Some(s"""WITH RECURSIVE
        e0 AS $edgesSql,
        e AS (SELECT DISTINCT src, dst FROM e0
          WHERE src IS NOT NULL AND dst IS NOT NULL),
        verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        reach(a, b) AS (
          SELECT v, v FROM verts
          UNION
          SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
        SELECT r1.a AS vertex, min(r1.b)::BIGINT AS component
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY r1.a ORDER BY vertex""")))

  // ============================================== G. streaming/multimodal ==

  private val streamingMm: Seq[(String, QueryDef)] = Seq(

    "stream_window_agg" -> QueryDef(
      (s, dir) => EventStream.windowedAgg(events(s, dir))
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start_ms", "event_type"),
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start_ms, event_type"""),
      headline = true),

    "stream_enrich_join" -> QueryDef(
      // stream-stream interval join run in batch mode: the SAME plan the
      // streaming enrichment runs (EventStreamSpec proves batch == stream);
      // purchases attributed to the user's clicks in the preceding hour
      (s, dir) => {
        val ev = events(s, dir)
        def side(t: String) =
          ev.filter(col("event_type") === t).select("event_id", "user_id", "ts")
        graft.streaming.EventStream
          .enrichJoin(side("click"), side("purchase"), windowMs = 3600000L)
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        c.event_id AS click_id
        FROM events p JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        ORDER BY purchase_id, click_id""")),

    "q_session_windows" -> QueryDef(
      // gap-based sessionization (5-minute inactivity gap): the batch dual
      // of streaming session windows, expressed as lag + running sum of
      // session breaks — deterministic and oracle-checkable.
      (s, dir) => {
        val ev = events(s, dir)
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("brk",
            when(lag(col("ts_ms"), 1).over(wOrd).isNull ||
              col("ts_ms") - lag(col("ts_ms"), 1).over(wOrd) > 300000L, 1L).otherwise(0L))
          .withColumn("sess", sum(col("brk")).over(wRun))
          .groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
          .orderBy("user_id", "sess")
      },
      Some("""WITH x AS (
          SELECT user_id, event_id, epoch_ms(ts) AS tm,
            CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 300000
                 THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
        sessioned AS (
          SELECT user_id, tm,
            sum(brk) OVER (PARTITION BY user_id ORDER BY tm, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM x)
        SELECT user_id, sess::BIGINT AS sess, count(*) AS n_events,
          min(tm) AS start_ms, max(tm) AS end_ms
        FROM sessioned GROUP BY user_id, sess ORDER BY user_id, sess""")),

    "mm_binary_meta" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.asMedia(
          t(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload", "image")
        Multimodal.decodeStub(media)
          .select(col("media_id"), col("meta.byte_len").as("byte_len"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_len
        FROM documents ORDER BY media_id""")),

    "mm_resize" -> QueryDef(
      // decode -> resize(8x8) -> checkable output: the resized payload is
      // min(64, byte_len) evenly-sampled bytes and meta carries the target
      // dims; the length/meta contract is the SQL-oracled part, the byte
      // sampling itself is spec-verified (MultimodalSpec)
      (s, dir) => {
        val media = Multimodal.asMedia(
          t(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload", "image")
        Multimodal.resizeStub(Multimodal.decodeStub(media), 8, 8)
          .select(col("media_id"),
            length(col("payload")).cast("long").as("out_len"),
            col("meta.width").as("width"), col("meta.height").as("height"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
        least(64, octet_length(encode(text)))::BIGINT AS out_len,
        8 AS width, 8 AS height
        FROM documents ORDER BY media_id""")),

    "mm_frame_sample" -> QueryDef(
      (s, dir) => {
        val media = Multimodal.asMedia(
          t(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload", "video")
        Multimodal.sampleFrames(media, 4).orderBy("media_id", "frame_idx")
      },
      Some("""SELECT doc_id AS media_id, i AS frame_idx,
        CAST(floor(i * octet_length(encode(text)) / 4) AS BIGINT) AS byte_offset
        FROM documents, (SELECT unnest(range(4)) AS i) ORDER BY media_id, frame_idx""")))

  // ============================================================ H. search ==

  /** The shared BM25 oracle pipeline: given a `qs(query_id, qtext)` CTE
    * body, score documents exactly as [[graft.llmops.Search.bm25TopK]] does
    * (k1=1.2, b=0.75; 6dp-rounded per-term contributions summed as DECIMAL,
    * so both engines rank the identical exact totals — see Search's
    * scaladoc). Yields a `ranked(query_id, doc_id, score, rank)` CTE chain.
    */
  private def bm25OracleCtes(qsBody: String, selfFilter: String = "",
      docsWhere: String = ""): String =
    s"""qs AS ($qsBody),
      qterms AS (SELECT query_id,
          unnest(list_distinct(string_split(trim(regexp_replace(lower(qtext), '\\s+', ' ', 'g')), ' '))) AS tok
        FROM qs),
      d AS (SELECT doc_id, $toksSql AS toks FROM documents $docsWhere),
      dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM d),
      corpus AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
      tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
        WHERE tok IN (SELECT DISTINCT tok FROM qterms) GROUP BY doc_id, tok),
      dfreq AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
      contrib AS (SELECT q.query_id, tf.doc_id,
          round(ln(1.0 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl)), 6)::DECIMAL(18,6) AS w
        FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
             JOIN qterms q USING (tok), corpus c),
      scored AS (SELECT query_id, doc_id, sum(w)::DOUBLE AS score
        FROM contrib ${if (selfFilter.nonEmpty) s"WHERE $selfFilter " else ""}GROUP BY query_id, doc_id),
      ranked AS (SELECT query_id, doc_id, score,
          row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        FROM scored)"""

  /** One persisted inverted text index per dataset, built on first use
    * (deterministic build, memoized like [[ivfIndexFor]] — keyed by the
    * documents table's (path, size, mtime) so a regenerated dataset gets a
    * fresh index).
    */
  private val textIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def textIndexFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    textIndexDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-textidx").toString
      Search.buildTextIndex(t(s, dir, "documents"), idx, numBuckets = 64)
      idx
    })
  }

  /** A separate index per dataset that carries LIVE TOMBSTONES: built over
    * the full documents table, then every `doc_id % 7 == 3` deleted and
    * NOT compacted — `search_bm25_deleted` exercises the read-time
    * subtraction path (dead postings filtered, df corrected, stats
    * adjusted), the state a delete-heavy index sits in between major
    * folds. Memoized like [[textIndexFor]]; the delete happens once at
    * build, so bench re-runs time only the probe.
    */
  private val textIndexDeletedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def textIndexDeletedFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    textIndexDeletedDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-textidx-del").toString
      val docs = t(s, dir, "documents")
      Search.buildTextIndex(docs, idx, numBuckets = 64)
      Search.deleteFromTextIndex(idx,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      idx
    })
  }

  /** Memoized near-dup index per dataset over the doc_id % 13 != 5 split
    * (the % 13 == 5 docs are the held-out probe side) — same
    * deterministic-build memoization contract as [[textIndexFor]].
    */
  private val nearDupIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def nearDupIndexFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    nearDupIndexDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-ndidx").toString
      NearDupIndex.buildNearDupIndex(
        t(s, dir, "documents").filter(col("doc_id") % 13 =!= 5), idx, numBuckets = 64)
      idx
    })
  }

  /** Memoized near-dup index carrying LIVE TOMBSTONES (every indexed
    * doc_id % 7 == 3 deleted, purge not run) — dedup_index_deleted_recall
    * gates the probe-time subtraction the way ann_ivf_deleted_recall does
    * for the vector index. Deterministic build+delete, memoized so bench
    * re-runs time only the probe.
    */
  private val nearDupDeletedIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def nearDupDeletedIndexFor(s: SparkSession, dir: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    nearDupDeletedIndexDirs.computeIfAbsent(s"${src.getPath}|${tableSig(src)}", _ => {
      val idx = Files.createTempDirectory("graft-q-ndidx-del").toString
      val indexed = t(s, dir, "documents").filter(col("doc_id") % 13 =!= 5)
      NearDupIndex.buildNearDupIndex(indexed, idx, numBuckets = 64)
      NearDupIndex.deleteFromNearDupIndex(idx,
        indexed.filter(col("doc_id") % 7 === 3).select("doc_id"))
      idx
    })
  }

  private val search: Seq[(String, QueryDef)] = Seq(

    "search_bm25_indexed" -> QueryDef(
      // The PERSISTED-index form — what you'd run at 100 TB when queries
      // repeat: buildTextIndex pays the corpus tokenize/tf/df scan ONCE
      // into bucket-partitioned postings; each query then hashes its
      // terms to buckets driver-side and the postings scan PRUNES to
      // those partitions (PlanShapeSpec pins the PartitionFilters).
      // Scores are bit-identical to the scan form, so unlike the IVF
      // probe this indexed plan is FULLY oracled, not rows-only.
      (s, dir) => {
        import s.implicits._
        val qs = Seq(
          (0L, "stream filter group"),
          (1L, "hash join order"),
          (2L, "slow scan data")).toDF("query_id", "qtext")
        Search.bm25TopKIndexed(s, textIndexFor(s, dir), qs, k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${bm25OracleCtes(
        """SELECT * FROM (VALUES (0::BIGINT, 'stream filter group'),
          (1::BIGINT, 'hash join order'),
          (2::BIGINT, 'slow scan data')) v(query_id, qtext)""")}
        SELECT query_id, rank::BIGINT AS rank, doc_id, score
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""),
      // headline times the PROBE path (index memoized per dataset)
      headline = true),

    "search_bm25_sql" -> QueryDef(
      // the SAME partition-pruned indexed probe through the pure-SQL
      // boundary: `SELECT ... FROM graft_search(idx, query, k)` — the
      // engine's search surface as a table function, planning identically
      // to the programmatic bm25TopKIndexed call (scores bit-identical,
      // fully oracled like search_bm25_indexed).
      (s, dir) => {
        graft.GraftExtensions.register(s)
        val idx = textIndexFor(s, dir)
        s.sql(s"""SELECT rank, doc_id, score
          FROM graft_search('$idx', 'stream filter group', 10)
          ORDER BY rank""")
      },
      Some(s"""WITH ${bm25OracleCtes(
        """SELECT 0::BIGINT AS query_id, 'stream filter group' AS qtext""")}
        SELECT rank::BIGINT AS rank, doc_id, score
        FROM ranked WHERE rank <= 10 ORDER BY rank""")),

    "search_bm25_deleted" -> QueryDef(
      // The index WITH live tombstones (docs deleted, purge not yet run —
      // the reference's Del before its compaction drops the row): queries
      // anti-join the broadcast tombstones, correct df by the dead rows'
      // per-term counts, and score with the adjusted nDocs/avgdl. Scores
      // stay BIT-IDENTICAL to the scan form over the remaining corpus, so
      // the delete path is FULLY oracled — DuckDB just filters the
      // documents table.
      (s, dir) => {
        import s.implicits._
        val qs = Seq(
          (0L, "stream filter group"),
          (1L, "hash join order"),
          (2L, "slow scan data")).toDF("query_id", "qtext")
        Search.bm25TopKIndexed(s, textIndexDeletedFor(s, dir), qs, k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${bm25OracleCtes(
        """SELECT * FROM (VALUES (0::BIGINT, 'stream filter group'),
          (1::BIGINT, 'hash join order'),
          (2::BIGINT, 'slow scan data')) v(query_id, qtext)""",
        docsWhere = "WHERE doc_id % 7 <> 3")}
        SELECT query_id, rank::BIGINT AS rank, doc_id, score
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""),
      // headline: times the tombstone-subtraction probe (index memoized)
      headline = true),

    "search_bm25" -> QueryDef(
      // BM25 keyword retrieval, the 100 TB plan: postings filtered to the
      // query terms at the scan (broadcast semi-join), ONE wide shuffle
      // (per-(doc, term) tf), top-k via the TopKBy aggregate (map-side
      // k-truncation — a common term can match the whole corpus, and a
      // window would funnel every candidate through one reducer). The
      // oracle recomputes the identical decimal-exact scores in DuckDB.
      (s, dir) => {
        import s.implicits._
        val qs = Seq(
          (0L, "spark window agg"),
          (1L, "customer query table"),
          (2L, "merge batch sort")).toDF("query_id", "qtext")
        Search.bm25TopK(t(s, dir, "documents"), qs, k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${bm25OracleCtes(
        """SELECT * FROM (VALUES (0::BIGINT, 'spark window agg'),
          (1::BIGINT, 'customer query table'),
          (2::BIGINT, 'merge batch sort')) v(query_id, qtext)""")}
        SELECT query_id, rank::BIGINT AS rank, doc_id, score
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""),
      headline = true),

    "search_mmr" -> QueryDef(
      // MMR diversification (Carbonell & Goldstein 1998) — the
      // anti-redundancy re-rank after retrieval: top-20 cosine candidates
      // per query (map-side TopKBy truncation), then greedy
      // λ·rel − (1−λ)·max-sim-to-picked selection of 5 via the codegen'd
      // MmrSelect kernel. FULLY oracled: cosines are 6dp-rounded before
      // the max, λ·rel uses the same literals, ties break (score, lower
      // id) — the DuckDB replay unrolls the 5 greedy steps and selects
      // the identical sequence (note the SQL writes `(1 - 0.7)`, never
      // `0.3`: the two doubles differ and the kernel computes the former).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val c = emb.select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
        val scored = c.join(broadcast(q), col("query_id") =!= col("doc_id"))
          .withColumn("score",
            round(graft.functions.Vectors.cosine(col("vec"), col("qv")), 6))
        val top = scored.groupBy(col("query_id"))
          .agg(graft.functions.expressions.TopKExpressions
            .topk_by_scored(col("score"), col("doc_id"), 20).as("__t"))
          .select(col("query_id"), explode(col("__t")).as("__e"))
          .select(col("query_id"), col("__e.id").as("doc_id"),
            col("__e.score").as("score"))
        val cands = top.join(c, Seq("doc_id"))
        Search.mmrRerank(cands, k = 5, lambda = 0.7)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS doc_id, embedding AS vec FROM embeddings),
        scored AS (
          SELECT query_id, doc_id,
            round(list_cosine_similarity(vec::DOUBLE[], qv::DOUBLE[]), 6) AS rel, vec
          FROM c JOIN q ON query_id <> doc_id),
        cand AS (SELECT query_id, doc_id, rel, vec FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, doc_id ASC) AS rk FROM scored) WHERE rk <= 20),
        p1 AS (SELECT query_id, doc_id, mmr, vec FROM (
            SELECT query_id, doc_id, round(0.7::DOUBLE * rel, 6) AS mmr, vec,
              row_number() OVER (PARTITION BY query_id
                ORDER BY round(0.7::DOUBLE * rel, 6) DESC, doc_id ASC) AS rn
            FROM cand) WHERE rn = 1),
        s2 AS (SELECT c.query_id, c.doc_id, c.rel, c.vec,
            round(0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) *
              round(list_cosine_similarity(c.vec::DOUBLE[], p1.vec::DOUBLE[]), 6), 6) AS mmr,
            round(list_cosine_similarity(c.vec::DOUBLE[], p1.vec::DOUBLE[]), 6) AS ms
          FROM cand c JOIN p1 USING (query_id) WHERE c.doc_id <> p1.doc_id),
        p2 AS (SELECT query_id, doc_id, mmr, vec, ms FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY mmr DESC, doc_id ASC) AS rn FROM s2) WHERE rn = 1),
        s3 AS (SELECT c.query_id, c.doc_id, c.rel, c.vec,
            greatest(c.ms,
              round(list_cosine_similarity(c.vec::DOUBLE[], p2.vec::DOUBLE[]), 6)) AS ms,
            round(0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * greatest(c.ms,
              round(list_cosine_similarity(c.vec::DOUBLE[], p2.vec::DOUBLE[]), 6)), 6) AS mmr
          FROM s2 c JOIN p2 USING (query_id) WHERE c.doc_id <> p2.doc_id),
        p3 AS (SELECT query_id, doc_id, mmr, vec, ms FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY mmr DESC, doc_id ASC) AS rn FROM s3) WHERE rn = 1),
        s4 AS (SELECT c.query_id, c.doc_id, c.rel, c.vec,
            greatest(c.ms,
              round(list_cosine_similarity(c.vec::DOUBLE[], p3.vec::DOUBLE[]), 6)) AS ms,
            round(0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * greatest(c.ms,
              round(list_cosine_similarity(c.vec::DOUBLE[], p3.vec::DOUBLE[]), 6)), 6) AS mmr
          FROM s3 c JOIN p3 USING (query_id) WHERE c.doc_id <> p3.doc_id),
        p4 AS (SELECT query_id, doc_id, mmr, vec, ms FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY mmr DESC, doc_id ASC) AS rn FROM s4) WHERE rn = 1),
        s5 AS (SELECT c.query_id, c.doc_id, c.rel, c.vec,
            round(0.7::DOUBLE * c.rel - (1::DOUBLE - 0.7::DOUBLE) * greatest(c.ms,
              round(list_cosine_similarity(c.vec::DOUBLE[], p4.vec::DOUBLE[]), 6)), 6) AS mmr
          FROM s4 c JOIN p4 USING (query_id) WHERE c.doc_id <> p4.doc_id),
        p5 AS (SELECT query_id, doc_id, mmr FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY mmr DESC, doc_id ASC) AS rn FROM s5) WHERE rn = 1)
        SELECT query_id, doc_id, mmr, rank FROM (
          SELECT query_id, doc_id, mmr, 1 AS rank FROM p1
          UNION ALL SELECT query_id, doc_id, mmr, 2 FROM p2
          UNION ALL SELECT query_id, doc_id, mmr, 3 FROM p3
          UNION ALL SELECT query_id, doc_id, mmr, 4 FROM p4
          UNION ALL SELECT query_id, doc_id, mmr, 5 FROM p5)
        ORDER BY query_id, rank"""),
      headline = true),

    "search_hybrid" -> QueryDef(
      // Hybrid retrieval: BM25 keyword run + brute-force cosine run over
      // the aligned embeddings table, fused by reciprocal-rank fusion
      // (1/(60+rank), the calibration-free standard). Queries are three
      // corpus documents (first 8 tokens as the keyword query, their
      // embedding as the vector query); both runs exclude the query doc
      // itself. Ranks are all that cross between the runs, and the RRF
      // weights sum as DECIMAL — the fusion is exactly reproducible in
      // SQL, so the whole hybrid pipeline hash-matches the oracle.
      (s, dir) => {
        val qids = Seq(7L, 42L, 123L)
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val kwQueries = docs.filter(col("doc_id").isin(qids: _*))
          .select(col("doc_id").as("query_id"),
            array_join(slice(Text.tokens(col("text")), 1, 8), " ").as("qtext"))
        val bmRun = Search.bm25TopK(docs, kwQueries, k = 20, excludeSelf = true)
          .select(col("query_id"), col("doc_id"), col("rank"))
        val vecRun = Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id").isin(qids: _*)), k = 20)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        Search.rrfFuse(Seq(bmRun, vecRun), k = 10)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${bm25OracleCtes(
        """SELECT doc_id AS query_id,
            array_to_string((string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))[1:8], ' ') AS qtext
          FROM documents WHERE doc_id IN (7, 42, 123)""",
        selfFilter = "doc_id <> query_id")},
        brun AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 20),
        vec AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
              c.vec_id) AS rank
          FROM embeddings q JOIN embeddings c
            ON q.vec_id IN (7, 42, 123) AND c.vec_id <> q.vec_id),
        vrun AS (SELECT query_id, doc_id, rank FROM vec WHERE rank <= 20),
        fused AS (SELECT query_id, doc_id,
            sum(round(1.0 / (60 + rank), 9)::DECIMAL(12,9)) AS fdec
          FROM (SELECT * FROM brun UNION ALL SELECT * FROM vrun)
          GROUP BY query_id, doc_id),
        franked AS (SELECT query_id, doc_id, fdec::DOUBLE AS score,
            row_number() OVER (PARTITION BY query_id ORDER BY fdec::DOUBLE DESC, doc_id) AS rank
          FROM fused)
        SELECT query_id, rank::BIGINT AS rank, doc_id, score
        FROM franked WHERE rank <= 10 ORDER BY query_id, rank""")))

  // ================================================================ export ==

  val defs: Seq[(String, QueryDef)] = {
    val all = relational ++ kvParity ++ text ++ dedup ++ similarity ++ graph ++ streamingMm ++ search
    // a duplicate name would silently SHADOW the earlier entry in the
    // toMap below — the earlier query and its oracle vanish from the
    // correctness gate with every row still green. Fail at load instead.
    val dups = all.groupBy(_._1).collect { case (n, vs) if vs.size > 1 => n }
    require(dups.isEmpty, s"Catalog: duplicate query names: ${dups.mkString(", ")}")
    all
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (n, q) => n -> q.fn }.toMap

  def oracles: Map[String, String] =
    defs.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }.toMap

  /** The bench headliners (driver BENCH_r{N}.json). */
  def headlines: Seq[String] = defs.collect { case (n, q) if q.headline => n }
}
