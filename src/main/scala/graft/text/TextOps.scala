package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for training-data pipelines (SURVEY.md §2c):
  * token counting, quality scoring, language ID, document fingerprinting.
  *
  * All are per-row narrow transforms (no shuffle except the final summary
  * aggregations) built from codegen'd higher-order array functions — at
  * 100 TB they stream through the scan with zero data movement.
  */
object TextOps {

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Whitespace word array. */
  private def words(c: Column): Column = split(trim(c), "\\s+")

  /** Shared by pipe_pack_sequences / pipe_shard_plan: the per-source
    * running token sum in doc_id order (`cum_end`), GroupedPrefix-
    * decomposed — range-partition on (source, doc_id), per-slice sum
    * partials, broadcast exclusive offsets, slice-local running sums.
    * Parallelism is numPartitions × |sources| regardless of corpus size;
    * the naive `SUM() OVER (PARTITION BY source ORDER BY doc_id)` is
    * |sources| (≈20) corpus-sized sort tasks — the enum-keyed
    * fact-window scale-killer this helper exists to avoid.
    */
  private def tokenPrefix(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.GroupedPrefix
    val toks = t.documents.select(col("source"), col("doc_id"),
      size(words(col("text"))).cast(LongType).as("n_tok"))
    val staged = GroupedPrefix.stage(toks, Seq(col("source"), col("doc_id")))
    val withOff = GroupedPrefix.withOffsets(staged, Seq("source"),
      Seq(sum(col("n_tok")).as("__gp_s"))) { (slices, wPrev) =>
      slices.select(col("source"), col(GroupedPrefix.PID),
        coalesce(sum(col("__gp_s")).over(wPrev), lit(0L)).as("__gp_off"))
    }
    withOff.withColumn("cum_end",
      col("__gp_off") + sum(col("n_tok")).over(
        GroupedPrefix.localWindow(Seq("source"), Seq(col("doc_id")))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum_end"))
  }

  // text_tokens — token counting two ways: whitespace tokens and a BPE-ish
  // regex tokenization (letter runs / digit runs / single punctuation).
  val tokens = Q(
    "text_tokens",
    Some("""
      SELECT lang,
             CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS n_ws_tokens,
             CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_bpe_tokens,
             COUNT(*) AS n_docs
      FROM documents
      GROUP BY lang
      ORDER BY lang
    """)
  ) { t =>
    t.documents
      .groupBy(col("lang"))
      .agg(
        sum(size(words(col("text")))).cast(LongType).as("n_ws_tokens"),
        sum(size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))).cast(LongType).as("n_bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  // text_quality — per-document quality features (length, punctuation
  // ratio, stopword ratio, mean word length) + a quality bucket; integer
  // counts ratioed in double space with fixed rounding for engine parity.
  val quality = Q(
    "text_quality",
    Some("""
      WITH feats AS (
        SELECT doc_id, lang,
               LENGTH(text) AS n_chars,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_words,
               LEN(REGEXP_EXTRACT_ALL(text, '[.,!?;:]')) AS n_punct,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w))) AS n_stop
        FROM documents)
      SELECT doc_id, lang,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(n_words AS BIGINT) AS n_words,
             ROUND(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
             ROUND(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
             ROUND(CAST(n_chars AS DOUBLE) / n_words, 4) AS mean_word_len,
             CASE WHEN n_words >= 40 AND CAST(n_stop AS DOUBLE) / n_words >= 0.1 THEN 'high'
                  WHEN n_words >= 15 THEN 'mid'
                  ELSE 'low' END AS quality
      FROM feats
      ORDER BY doc_id
    """)
  ) { t =>
    val ws = words(col("text"))
    val nStop = size(filter(ws, w => w.isin(stopwords: _*)))
    t.documents
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(ws).cast(LongType).as("n_words"),
        size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).as("n_punct"),
        nStop.as("n_stop"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("n_words"),
        round(col("n_punct").cast(DoubleType) / col("n_chars"), 4).as("punct_ratio"),
        round(col("n_stop").cast(DoubleType) / col("n_words"), 4).as("stop_ratio"),
        round(col("n_chars").cast(DoubleType) / col("n_words"), 4).as("mean_word_len"),
        when(col("n_words") >= 40 && col("n_stop").cast(DoubleType) / col("n_words") >= 0.1, "high")
          .when(col("n_words") >= 15, "mid")
          .otherwise("low").as("quality"))
      .orderBy(col("doc_id"))
  }

  // text_langid — marker-token language scoring: per-language marker lists,
  // score = marker hits in the document, prediction = argmax score with a
  // deterministic preference order. Rows-only (heuristic, not SQL-oracled);
  // TextSpec checks accuracy against the labeled `lang` column.
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "ist", "das"),
    "fr" -> Seq("le", "et", "la", "est", "les"),
    "es" -> Seq("el", "y", "la", "es", "los"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** Language-ID scoring over any (doc_id, lang, text) frame. */
  def langidOn(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val scored = markers.foldLeft(docs.select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (lg, ms)) =>
        df.withColumn(s"score_$lg", size(filter(ws, w => w.isin(ms: _*))).cast(LongType))
    }
    // argmax over (score, fixed preference) via greatest-of-structs
    val best = greatest(markers.map { case (lg, _) =>
      struct(col(s"score_$lg").as("s"), lit(lg).as("lg"))
    }: _*)
    scored
      .withColumn("predicted", best.getField("lg"))
      .withColumn("max_score", best.getField("s"))
      .select(col("doc_id"), col("lang"), col("predicted"), col("max_score"))
      .orderBy(col("doc_id"))
  }

  // Oracle replicates the argmax exactly: Spark's greatest-of-structs
  // breaks score ties toward the lexicographically LARGEST language code,
  // so the SQL CASE tests languages in descending code order with >=.
  val langid = Q(
    "text_langid",
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['the','and','of','is','a'], w))) AS s_en,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['der','und','die','ist','das'], w))) AS s_de,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['le','et','la','est','les'], w))) AS s_fr,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['el','y','la','es','los'], w))) AS s_es,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['de5','shi4','le5','zai4','he2'], w))) AS s_zh
        FROM documents)
      SELECT doc_id, lang,
             CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
                  WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                  WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                  WHEN s_en >= s_de THEN 'en'
                  ELSE 'de' END AS predicted,
             CAST(GREATEST(s_en, s_de, s_fr, s_es, s_zh) AS BIGINT) AS max_score
      FROM scored
      ORDER BY doc_id
    """)
  ) { t => langidOn(t.documents) }

  // text_fingerprint — rolling polynomial fingerprint over portable word
  // hashes (graft.functions.PortableHash contract): a deterministic
  // content fingerprint for shift-stable near-dup detection, computed by
  // the codegen'd graft_fingerprint expression in one pass and replicated
  // exactly by the DuckDB oracle's list folds.
  val fingerprint = Q(
    "text_fingerprint",
    Some {
      val wh = graft.functions.PortableHash.wordHashSql("w")
      val m = graft.functions.PortableHash.FpM
      s"""
      SELECT doc_id,
             list_reduce(list_prepend(5381::BIGINT,
               list_transform(list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> ''), w -> $wh)),
               (acc, x) -> (acc * 31 + x) % $m) AS fingerprint,
             CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS n_words
      FROM documents
      ORDER BY doc_id
      """
    }
  ) { t =>
    t.documents
      .select(col("doc_id"),
        call_function("graft_fingerprint", col("text")).as("fingerprint"),
        size(words(col("text"))).cast(LongType).as("n_words"))
      .orderBy(col("doc_id"))
  }

  // pipe_clean_corpus — the composed training-data cleaning pipeline in
  // one declarative plan: quality gate (length + stopword-ratio) → exact
  // dedup on normalized content (keep lowest doc_id) → per-language yield
  // stats. Each stage is a narrow transform or single-shuffle aggregate;
  // Catalyst fuses the gates into the scan's filter.
  val cleanCorpus = Q(
    "pipe_clean_corpus",
    Some("""
      WITH feats AS (
        SELECT doc_id, lang, text,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_words,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w))) AS n_stop
        FROM documents),
      gated AS (
        SELECT doc_id, lang, text FROM feats
        WHERE n_words >= 20 AND CAST(n_stop AS DOUBLE) / n_words >= 0.05),
      deduped AS (
        SELECT lang, MD5(LOWER(text)) AS k, MIN(doc_id) AS kept_doc
        FROM gated GROUP BY lang, MD5(LOWER(text)))
      SELECT lang, COUNT(*) AS n_kept
      FROM deduped
      GROUP BY lang
      ORDER BY lang
    """)
  ) { t =>
    val ws = words(col("text"))
    val nStop = size(filter(ws, w => w.isin(stopwords: _*)))
    t.documents
      .withColumn("n_words", size(ws))
      .withColumn("n_stop", nStop)
      .filter(col("n_words") >= 20 &&
        col("n_stop").cast(DoubleType) / col("n_words") >= 0.05)
      .groupBy(col("lang"), md5(lower(col("text")).cast("binary")).as("k"))
      .agg(min(col("doc_id")).as("kept_doc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  // text_top_bigrams — corpus bigram frequency (n-gram language statistics):
  // explode word bigrams, count, global top-20 with deterministic ties.
  val topBigrams = Q(
    "text_top_bigrams",
    Some("""
      SELECT bigram, COUNT(*) AS n
      FROM (
        SELECT words[i] || ' ' || words[i + 1] AS bigram
        FROM (SELECT STRING_SPLIT_REGEX(TRIM(text), '\s+') AS words
              FROM documents
              WHERE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) >= 2),
             UNNEST(RANGE(1, LEN(words))) AS t(i))
      GROUP BY bigram
      ORDER BY n DESC, bigram
      LIMIT 20
    """)
  ) { t =>
    val ws = words(col("text"))
    t.documents
      .filter(size(ws) >= 2)
      .select(explode(call_function("graft_bigrams", col("text"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  // text_pii_scrub — PII redaction for training corpora: emails, phone
  // numbers, IPv4 addresses and SSN-shaped tokens are replaced with typed
  // placeholders. The corpus is synthetic word-soup, so deterministic
  // PII-ish strings are appended per doc (cycling the four kinds) and the
  // operator must find and scrub exactly those. Patterns use the
  // RE2 ∩ Java-regex dialect so Spark and DuckDB agree byte-for-byte.
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    // (kind, pattern, replacement) — applied in order
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\d{3}-\\d{2}-\\d{4}", "<SSN>"),
    ("phone", "\\d{3}[.]\\d{3}[.]\\d{4}", "<PHONE>"),
    ("ipv4", "\\d{1,3}[.]\\d{1,3}[.]\\d{1,3}[.]\\d{1,3}", "<IP>"))

  val piiScrub = Q(
    "text_pii_scrub",
    Some {
      val inject = """
        CASE doc_id % 4
          WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
          WHEN 1 THEN text || ' ssn 123-45-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' end'
          WHEN 2 THEN text || ' call 555.867.' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' soon'
          ELSE text || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up'
        END"""
      val scrubbed = piiPatterns.foldLeft("raw") { case (acc, (_, pat, rep)) =>
        s"REGEXP_REPLACE($acc, '$pat', '$rep', 'g')"
      }
      s"""
      WITH injected AS (SELECT doc_id, $inject AS raw FROM documents),
      scrubbed AS (
        SELECT doc_id, raw, $scrubbed AS clean FROM injected)
      SELECT doc_id, clean,
             CAST(LENGTH(raw) - LENGTH(clean) AS BIGINT) AS bytes_redacted,
             CAST(LEN(REGEXP_EXTRACT_ALL(clean, '<(EMAIL|SSN|PHONE|IP)>')) AS BIGINT) AS n_redactions
      FROM scrubbed
      ORDER BY doc_id
      """
    }
  ) { t =>
    val inject =
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" ssn 123-45-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" end")))
        .when(col("doc_id") % 4 === 2,
          concat(col("text"), lit(" call 555.867."),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" soon")))
        .otherwise(
          concat(col("text"), lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 up")))
    val clean = piiPatterns.foldLeft(col("raw")) { case (acc, (_, pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
    t.documents
      .select(col("doc_id"), inject.as("raw"))
      .select(col("doc_id"), col("raw"), clean.as("clean"))
      .select(col("doc_id"), col("clean"),
        (length(col("raw")) - length(col("clean"))).cast(LongType).as("bytes_redacted"),
        size(regexp_extract_all(col("clean"), lit("<(EMAIL|SSN|PHONE|IP)>"), lit(0)))
          .cast(LongType).as("n_redactions"))
      .orderBy(col("doc_id"))
  }

  // text_token_hist — per-language document-length histogram (tumbling
  // 10-word buckets): the corpus-shape profile a data pipeline reads
  // before choosing packing/truncation lengths. Narrow + one aggregation.
  val tokenHist = Q(
    "text_token_hist",
    Some("""
      SELECT lang,
             CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) // 10 * 10 AS BIGINT) AS bucket,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS n_words
      FROM documents
      GROUP BY lang, bucket
      ORDER BY lang, bucket
    """)
  ) { t =>
    val n = size(words(col("text"))).cast(LongType)
    t.documents
      .groupBy(col("lang"), (n - (n % 10)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words(col("text")))).cast(LongType).as("n_words"))
      .orderBy(col("lang"), col("bucket"))
  }

  // text_stopword_profile — per-language stopword frequency profile: how
  // often each stopword appears per 1000 tokens by language. The
  // language-signature table a corpus pipeline derives before tuning
  // quality gates; explode + one aggregation.
  val stopwordProfile = Q(
    "text_stopword_profile",
    Some("""
      WITH words AS (
        SELECT lang, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS w
        FROM documents),
      totals AS (SELECT lang, COUNT(*) AS n_tokens FROM words GROUP BY lang),
      hits AS (
        SELECT lang, w AS stopword, COUNT(*) AS n
        FROM words
        WHERE LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w)
        GROUP BY lang, w)
      SELECT h.lang, h.stopword, h.n,
             ROUND(CAST(h.n AS DOUBLE) * 1000 / t.n_tokens, 4) AS per_1000
      FROM hits h JOIN totals t ON h.lang = t.lang
      ORDER BY h.lang, h.stopword
    """)
  ) { t =>
    val exploded = t.documents
      .select(col("lang"), explode(words(col("text"))).as("w"))
    val totals = exploded.groupBy(col("lang")).agg(count(lit(1)).as("n_tokens"))
    exploded
      .filter(col("w").isin(stopwords: _*))
      .groupBy(col("lang"), col("w").as("stopword"))
      .agg(count(lit(1)).as("n"))
      .join(totals, "lang")
      .select(col("lang"), col("stopword"), col("n"),
        round(col("n").cast(DoubleType) * 1000 / col("n_tokens"), 4).as("per_1000"))
      .orderBy(col("lang"), col("stopword"))
  }

  // text_repetition — Gopher-style repetition signals per document:
  // duplicate-word mass, most-frequent-word count, duplicate word
  // bigrams, and a repetition score in basis points. High-repetition
  // documents (boilerplate, keyword stuffing, template spam) are the
  // classic pre-training quality cut. One explode + two aggregations;
  // ratios stay in exact integer space (FLOOR of an IEEE-identical
  // division — no ROUND half-rule exposure).
  val repetition = Q(
    "text_repetition",
    Some("""
      WITH toks AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      flat AS (SELECT doc_id, UNNEST(ws) AS w FROM toks),
      wc AS (SELECT doc_id, w, COUNT(*) AS c FROM flat GROUP BY doc_id, w),
      top AS (
        SELECT doc_id, MAX(c) AS top_word_n, SUM(c) AS n_words,
               COUNT(*) AS n_distinct
        FROM wc GROUP BY doc_id),
      big AS (
        SELECT doc_id, LEN(bs) - LEN(LIST_DISTINCT(bs)) AS n_dup_bigrams
        FROM (SELECT doc_id,
                LIST_TRANSFORM(RANGE(1, GREATEST(LEN(ws) - 1, 0) + 1),
                  i -> ws[i] || ' ' || ws[i + 1]) AS bs
              FROM toks))
      SELECT t.doc_id,
             CAST(t.n_words AS BIGINT) AS n_words,
             CAST(t.n_distinct AS BIGINT) AS n_distinct,
             CAST(t.top_word_n AS BIGINT) AS top_word_n,
             CAST(b.n_dup_bigrams AS BIGINT) AS n_dup_bigrams,
             CAST(FLOOR(10000.0 * (t.n_words - t.n_distinct) / t.n_words) AS BIGINT) AS rep_bp
      FROM top t JOIN big b USING (doc_id)
      ORDER BY t.doc_id
    """)
  ) { t =>
    val toks = t.documents.select(col("doc_id"),
      filter(split(trim(lower(col("text"))), "\\s+"), w => w =!= "").as("ws"))
    val wc = toks.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val top = wc.groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_word_n"), sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"))
    // Bigrams per row via aligned slices (no sequence(): its descending
    // mode on size<2 would emit phantom indexes).
    val bs = zip_with(
      slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
      slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
      (x, y) => concat(x, lit(" "), y))
    val big = toks.select(col("doc_id"), bs.as("bs"))
      .select(col("doc_id"),
        (size(col("bs")) - size(array_distinct(col("bs"))))
          .cast(LongType).as("n_dup_bigrams"))
    top.join(big, "doc_id")
      .select(col("doc_id"),
        col("n_words").cast(LongType).as("n_words"),
        col("n_distinct").cast(LongType).as("n_distinct"),
        col("top_word_n").cast(LongType).as("top_word_n"),
        col("n_dup_bigrams"),
        floor(lit(10000.0) * (col("n_words") - col("n_distinct")) / col("n_words"))
          .cast(LongType).as("rep_bp"))
      .orderBy(col("doc_id"))
  }

  // text_vocab — per-source vocabulary statistics: vocabulary size,
  // hapax legomena (tokens seen once — the Zipf tail), total tokens, and
  // a type-token ratio in basis points. The corpus-health profile read
  // before deciding dedup/quality thresholds: a shrinking vocabulary or
  // collapsing hapax share flags template spam. One explode + two
  // aggregations; ratios via FLOOR of IEEE-identical division.
  val vocab = Q(
    "text_vocab",
    Some("""
      WITH toks AS (
        SELECT source,
               UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 w -> w <> '')) AS w
        FROM documents),
      wc AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w)
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_vocab,
             COUNT(CASE WHEN c = 1 THEN 1 END) AS n_hapax,
             CAST(FLOOR(10000.0 * COUNT(*) / SUM(c)) AS BIGINT) AS ttr_bp
      FROM wc
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val wc = t.documents
      .select(col("source"),
        explode(filter(split(trim(lower(col("text"))), "\\s+"), w => w =!= "")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    wc.groupBy(col("source"))
      .agg(
        sum(col("c")).cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_vocab"), col("n_hapax"),
        floor(lit(10000.0) * col("n_vocab") / col("n_tokens")).cast(LongType).as("ttr_bp"))
      .orderBy(col("source"))
  }

  // text_lm_score — corpus-trained bigram language-model quality score
  // (the CCNet-style perplexity-proxy filter): train add-one-smoothed
  // bigram/context counts over the whole corpus in two aggregations,
  // score every document by its mean conditional bigram likelihood.
  // Kept integer-exact for the oracle: each bigram scores
  // (c12+1)·10^6 div (c1+V) parts-per-million, and the document score is
  // the integer mean — no floating-point log, so both engines agree
  // bit-for-bit. Template spam scores high, character soup scores low.
  // At 100 TB: bigram extraction is narrow; the two count tables are
  // vocabulary-sized aggregations with map-side partials; the score-time
  // joins shuffle on token keys (AQE broadcasts them when the vocabulary
  // is small); the final agg shuffles on doc_id. No corpus² anywhere.
  val lmScore = Q(
    "text_lm_score",
    Some("""
      WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+') AS l
        FROM documents),
      bigrams AS (
        SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
        FROM toks, UNNEST(RANGE(1, LEN(l))) AS r(i)),
      c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY w1),
      v AS (SELECT COUNT(DISTINCT w) AS v
            FROM (SELECT UNNEST(l) AS w FROM toks)),
      scored AS (
        SELECT b.doc_id, (c12.c12 + 1) * 1000000 // (c1.c1 + v.v) AS score_ppm
        FROM bigrams b
        JOIN c12 USING (w1, w2)
        JOIN c1 USING (w1)
        CROSS JOIN v)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS lm_ppm
      FROM scored
      GROUP BY doc_id
      ORDER BY doc_id
    """)
  ) { t =>
    val toks = t.documents.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("l"))
    val bigrams = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("l"), lit(1), size(col("l")) - 1),
        slice(col("l"), lit(2), size(col("l")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("l")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        expr("(c12 + 1) * 1000000 div (c1 + v)").as("score_ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("score_ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("lm_ppm"))
      .orderBy(col("doc_id"))
  }

  // pipe_mix_sample — deterministic stratified downsampling to a target
  // per-source mix (the data-mixing step that turns a raw crawl into a
  // training recipe): each source gets a target fraction, and the docs
  // kept are the n_target smallest by a portable integer hash — a
  // reproducible sample, not a Math.random one, so reruns and the oracle
  // select the IDENTICAL set (checked via the selected-id sum, not just
  // counts). Scale shape (r9): the per-source hash rank rides
  // plans.GroupedPrefix.withRank — range-partition on (source, (h,
  // doc_id)), per-slice offsets, slice-local windows — so parallelism is
  // numPartitions × |sources|, never |sources| sort tasks holding the
  // whole corpus; per-source counts are a dimension-sized aggregate
  // broadcast back, not a corpus-wide COUNT() OVER (PARTITION BY
  // source).
  val mixSample = Q(
    "pipe_mix_sample",
    Some("""
      WITH hashed AS (
        SELECT source, doc_id,
               (doc_id * 2654435761) % 2147483648 AS h
        FROM documents),
      ranked AS (
        SELECT source, doc_id, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_docs
        FROM hashed),
      targeted AS (
        SELECT source, doc_id, rn, n_docs,
               n_docs * (CASE WHEN LENGTH(source) % 2 = 0 THEN 40 ELSE 10 END) // 100
                 AS n_target
        FROM ranked)
      SELECT source,
             CAST(MIN(n_docs) AS BIGINT) AS n_docs,
             CAST(MIN(n_target) AS BIGINT) AS n_target,
             CAST(COUNT(CASE WHEN rn <= n_target THEN 1 END) AS BIGINT) AS n_selected,
             CAST(COALESCE(SUM(CASE WHEN rn <= n_target THEN doc_id END), 0) AS BIGINT)
               AS sum_selected_ids
      FROM targeted
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val hashed = t.documents
      .select(col("source"), col("doc_id"),
        ((col("doc_id") * 2654435761L) % 2147483648L).as("h"))
    // (h, doc_id) is unique per source, so min-rank == row_number
    val ranked = graft.plans.GroupedPrefix.withRank(hashed, Seq("source"),
      struct(col("h"), col("doc_id")), "rn")
    val counts = hashed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_target",
        expr("n_docs * (CASE WHEN LENGTH(source) % 2 = 0 THEN 40 ELSE 10 END) div 100"))
    ranked.join(broadcast(counts), "source")
      .groupBy(col("source"))
      .agg(
        min(col("n_docs")).cast(LongType).as("n_docs"),
        min(col("n_target")).cast(LongType).as("n_target"),
        count(when(col("rn") <= col("n_target"), 1)).as("n_selected"),
        coalesce(sum(when(col("rn") <= col("n_target"), col("doc_id"))), lit(0L))
          .cast(LongType).as("sum_selected_ids"))
      .orderBy(col("source"))
  }

  // text_decontaminate — benchmark/test-set decontamination: flag every
  // training document that shares a 5-word shingle with the held-out
  // evaluation set (the GPT-3/Pile overlap rule). The benchmark side is
  // tiny by construction, so its distinct shingle set BROADCASTS and the
  // corpus pays one narrow explode + a broadcast semi-join — never a
  // corpus shuffle, which is what makes the check free at 100 TB (the
  // expensive direction, corpus×corpus, is the dedup family's job).
  // Benchmark membership is derived deterministically (doc_id % 97).
  val decontaminate = Q(
    "text_decontaminate",
    Some("""
      WITH ws AS (
        SELECT doc_id, source, doc_id % 97 = 0 AS is_bench,
               STRING_SPLIT_REGEX(TRIM(text), '\s+') AS w
        FROM documents),
      shingled AS (
        SELECT doc_id, source, is_bench,
               array_to_string(list_slice(w, i, i + 4), ' ') AS sh
        FROM ws, UNNEST(RANGE(1, GREATEST(LEN(w) - 4, 0) + 1)) AS t(i)),
      bench_sh AS (SELECT DISTINCT sh FROM shingled WHERE is_bench),
      contaminated AS (
        SELECT DISTINCT s.doc_id, s.source
        FROM shingled s JOIN bench_sh b ON s.sh = b.sh
        WHERE NOT s.is_bench),
      corpus AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0)
      SELECT c.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(k.doc_id) AS BIGINT) AS n_contaminated,
             CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS contaminated_id_sum
      FROM corpus c
      LEFT JOIN contaminated k ON k.doc_id = c.doc_id
      GROUP BY c.source
      ORDER BY c.source
    """)
  ) { t =>
    val ws = t.documents.select(col("doc_id"), col("source"),
      (col("doc_id") % 97 === 0).as("is_bench"),
      split(trim(col("text")), "\\s+").as("w"))
    // docs under 5 words emit no shingles (Spark's sequence(1, 0) is the
    // DESCENDING [1, 0], not empty — the size gate avoids it entirely)
    val shingled = ws.filter(size(col("w")) >= 5)
      .select(col("doc_id"), col("source"), col("is_bench"),
        explode(transform(
          sequence(lit(1), size(col("w")) - 4),
          i => concat_ws(" ", slice(col("w"), i, lit(5))))).as("sh"))
    val benchSh = shingled.filter(col("is_bench")).select(col("sh")).distinct()
    val contaminated = shingled.filter(!col("is_bench"))
      .join(broadcast(benchSh), "sh")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1))
    t.documents.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("source"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("hit")).as("n_contaminated"),
        coalesce(sum(when(col("hit").isNotNull, col("doc_id"))), lit(0L))
          .cast(LongType).as("contaminated_id_sum"))
      .orderBy(col("source"))
  }

  // pipe_attrition — the attrition funnel of the cleaning pipeline: how
  // many documents survive each successive gate (total → length →
  // stopword-ratio → exact dedup). This is the observability report every
  // corpus build publishes next to the cleaned data — without it a gate
  // that silently drops 90% goes unnoticed. One scan, one aggregation
  // row (conditional sums + a conditional distinct over the dedup key),
  // exploded to a 4-row funnel — no per-stage rescans, so the cost at
  // 100 TB is the cost of reading the corpus once. Gates mirror
  // pipe_clean_corpus exactly, so the funnel explains that operator's
  // output counts.
  val attrition = Q(
    "pipe_attrition",
    Some("""
      WITH feats AS (
        SELECT doc_id, lang, text,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_words,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w))) AS n_stop
        FROM documents),
      funnel AS (
        SELECT COUNT(*) AS total,
               SUM(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END) AS after_len,
               SUM(CASE WHEN n_words >= 20
                         AND CAST(n_stop AS DOUBLE) / n_words >= 0.05
                   THEN 1 ELSE 0 END) AS after_stop,
               COUNT(DISTINCT CASE WHEN n_words >= 20
                         AND CAST(n_stop AS DOUBLE) / n_words >= 0.05
                   THEN lang || '|' || MD5(LOWER(text)) END) AS after_dedup
        FROM feats)
      SELECT CAST(ord AS BIGINT) AS ord, stage, n_docs FROM (
        SELECT 0 AS ord, 'total' AS stage, CAST(total AS BIGINT) AS n_docs FROM funnel
        UNION ALL SELECT 1, 'min_words', CAST(after_len AS BIGINT) FROM funnel
        UNION ALL SELECT 2, 'stopword_ratio', CAST(after_stop AS BIGINT) FROM funnel
        UNION ALL SELECT 3, 'exact_dedup', CAST(after_dedup AS BIGINT) FROM funnel)
      ORDER BY ord
    """)
  ) { t =>
    val ws = words(col("text"))
    val feats = t.documents.select(col("lang"), col("text"),
      size(ws).as("n_words"),
      size(filter(ws, w => w.isin(stopwords: _*))).as("n_stop"))
    val lenGate = col("n_words") >= 20
    val stopGate = lenGate &&
      col("n_stop").cast(DoubleType) / col("n_words") >= 0.05
    feats.agg(
      count(lit(1)).as("total"),
      sum(when(lenGate, 1L).otherwise(0L)).as("after_len"),
      sum(when(stopGate, 1L).otherwise(0L)).as("after_stop"),
      countDistinct(when(stopGate, concat(col("lang"), lit("|"),
        md5(lower(col("text")).cast("binary"))))).as("after_dedup"))
      .select(explode(array(
        struct(lit(0L).as("ord"), lit("total").as("stage"),
          col("total").as("n_docs")),
        struct(lit(1L).as("ord"), lit("min_words").as("stage"),
          col("after_len").as("n_docs")),
        struct(lit(2L).as("ord"), lit("stopword_ratio").as("stage"),
          col("after_stop").as("n_docs")),
        struct(lit(3L).as("ord"), lit("exact_dedup").as("stage"),
          col("after_dedup").as("n_docs")))).as("f"))
      .select(col("f.ord").as("ord"), col("f.stage").as("stage"),
        col("f.n_docs").as("n_docs"))
      .orderBy(col("ord"))
  }

  // pipe_pack_sequences — LM-pretraining sequence packing (the GPT-2/
  // LLaMA recipe): per source, documents are concatenated in doc_id
  // order and the token stream is chunked into fixed 2048-token
  // sequences. Reports, per source, the packed-corpus shape a trainer
  // needs: sequence count, documents that straddle a chunk boundary
  // (their loss masks span two sequences), and tail padding. Offsets
  // are a prefix sum riding plans.GroupedPrefix (r9): range-partition on
  // (source, doc_id), per-slice token-sum partials, broadcast exclusive
  // offsets, slice-local running sums — parallelism is numPartitions ×
  // |sources| at any corpus size, never |sources| corpus-sized sort
  // tasks. Integer token counts end-to-end — both engines agree exactly.
  val packSequences = Q(
    "pipe_pack_sequences",
    Some("""
      WITH toks AS (
        SELECT source, doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tok
        FROM documents),
      offs AS (
        SELECT source, doc_id, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
        FROM toks)
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / 2048) AS BIGINT) AS n_seqs,
             CAST(SUM(CASE WHEN (cum_end - 1) // 2048 > (cum_end - n_tok) // 2048
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
             CAST(CAST(CEIL(CAST(SUM(n_tok) AS DOUBLE) / 2048) AS BIGINT) * 2048
                  - SUM(n_tok) AS BIGINT) AS tail_padding
      FROM offs
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val seqLen = 2048L
    tokenPrefix(t)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("total_tokens"),
        ceil(sum(col("n_tok")).cast(DoubleType) / seqLen).cast(LongType).as("n_seqs"),
        sum(when((col("cum_end") - 1).divide(seqLen).cast(LongType) >
          (col("cum_end") - col("n_tok")).divide(seqLen).cast(LongType), 1L)
          .otherwise(0L)).cast(LongType).as("n_boundary_docs"))
      .withColumn("tail_padding", (col("n_seqs") * seqLen - col("total_tokens")))
      .orderBy(col("source"))
  }

  // pipe_shard_plan — the write-path layout step: assign WHOLE documents
  // (never split — the WebDataset/parquet-shard contract, unlike
  // pipe_pack_sequences' token windows) to fixed-budget output shards,
  // per source, in doc_id order. Shard index is the closed-form
  // floor(cum_start / budget): a GroupedPrefix-decomposed prefix sum
  // (see tokenPrefix — numPartitions × |sources| parallel slices, not
  // one sort task per source), no sequential first-fit carry — which
  // makes the plan embarrassingly parallel and means a shard can
  // overflow its budget by at most one document (reported as
  // overflow_tokens, so the writer can see the worst case). Emits per
  // shard the doc range the writer seeks to — the manifest a 100 TB
  // shard-writing job partitions by.
  val shardPlan = Q(
    "pipe_shard_plan",
    Some("""
      WITH toks AS (
        SELECT source, doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tok
        FROM documents),
      offs AS (
        SELECT source, doc_id, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
                 AS cum_start
        FROM toks)
      SELECT source,
             CAST(cum_start // 4096 AS BIGINT) AS shard_idx,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             MIN(doc_id) AS first_doc,
             MAX(doc_id) AS last_doc,
             CAST(GREATEST(SUM(n_tok) + MIN(cum_start)
               - (cum_start // 4096 + 1) * 4096, 0) AS BIGINT)
               AS overflow_tokens
      FROM offs
      GROUP BY source, cum_start // 4096
      ORDER BY source, shard_idx
    """)
  ) { t =>
    val budget = 4096L
    tokenPrefix(t)
      .withColumn("cum_start", col("cum_end") - col("n_tok"))
      .withColumn("shard_idx", (col("cum_start") / budget).cast(LongType))
      .groupBy(col("source"), col("shard_idx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        greatest(sum(col("n_tok")) + min(col("cum_start"))
          - (col("shard_idx") + 1L) * budget, lit(0L))
          .cast(LongType).as("overflow_tokens"))
      .orderBy(col("source"), col("shard_idx"))
  }

  // pipe_incremental — the resume manifest an incremental ingest run
  // plans from: which docs a previous run already processed (a
  // deterministic Knuth-hash ledger — ~70% of doc_ids — standing in for
  // the real run's manifest), and per source what the NEXT run must do:
  // new docs, new tokens, the shard index appends start at (shards are
  // append-only, so done_tokens div budget), and how many shards the
  // append touches. At 100 TB this is THE everyday query — a pipeline
  // never reprocesses the corpus, it diffs the ledger and plans the
  // delta. Integer arithmetic end-to-end; the output is a
  // |sources|-row manifest. Scale shape: one projection scan +
  // map-side-combinable per-source aggregate — no window, no corpus
  // shuffle.
  val incremental = Q(
    "pipe_incremental",
    Some("""
      WITH toks AS (
        SELECT source, doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tok,
               (doc_id * 2654435761) % 100 < 70 AS done
        FROM documents)
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN done THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN done THEN n_tok ELSE 0 END) AS BIGINT)
               AS done_tokens,
             CAST(SUM(CASE WHEN done THEN 0 ELSE n_tok END) AS BIGINT)
               AS new_tokens,
             CAST(SUM(CASE WHEN done THEN n_tok ELSE 0 END) // 4096 AS BIGINT)
               AS start_shard,
             CAST(CASE WHEN SUM(CASE WHEN done THEN 0 ELSE n_tok END) = 0
               THEN 0
               ELSE (SUM(n_tok) - 1) // 4096
                    - SUM(CASE WHEN done THEN n_tok ELSE 0 END) // 4096 + 1
               END AS BIGINT) AS shards_touched
      FROM toks
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val budget = 4096L
    t.documents
      .select(col("source"),
        size(words(col("text"))).cast(LongType).as("n_tok"),
        ((col("doc_id") * 2654435761L) % 100 < 70).as("done"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("done"), 0L).otherwise(1L)).cast(LongType).as("n_new"),
        sum(when(col("done"), col("n_tok")).otherwise(0L)).cast(LongType)
          .as("done_tokens"),
        sum(when(col("done"), 0L).otherwise(col("n_tok"))).cast(LongType)
          .as("new_tokens"),
        sum(col("n_tok")).as("__tot"))
      .select(col("source"), col("n_docs"), col("n_new"),
        col("done_tokens"), col("new_tokens"),
        expr(s"done_tokens div $budget").as("start_shard"),
        when(col("new_tokens") === 0, 0L).otherwise(
          expr(s"(__tot - 1) div $budget") -
            expr(s"done_tokens div $budget") + 1L)
          .cast(LongType).as("shards_touched"))
      .orderBy(col("source"))
  }

  // pipe_len_hist — token-length histogram per source in power-of-two
  // buckets: the distribution a trainer reads to pick seq_len and price
  // packing efficiency (pipe_pack_sequences reports the outcome for ONE
  // seq_len; the histogram prices them all). bucket = floor(log2(n)) is
  // computed ARITHMETICALLY — length of the binary representation — so
  // no FP log whose power-of-two boundaries could land a different ulp
  // across engines. pad_waste_bp is the no-packing worst case: tokens
  // wasted if every doc in the bucket were padded to the bucket's upper
  // edge 2^(bucket+1). Integer end-to-end. Scale: projection scan +
  // (source, bucket) map-side-combinable aggregate — no window.
  val lenHist = Q(
    "pipe_len_hist",
    Some("""
      WITH toks AS (
        SELECT source,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tok
        FROM documents),
      b AS (
        SELECT source, n_tok,
               LENGTH(BIN(GREATEST(n_tok, 1))) - 1 AS bucket
        FROM toks)
      SELECT source, CAST(bucket AS BIGINT) AS bucket,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS tokens,
             CAST((COUNT(*) * (1::BIGINT << (bucket + 1)) - SUM(n_tok)) * 10000
               // (COUNT(*) * (1::BIGINT << (bucket + 1))) AS BIGINT)
               AS pad_waste_bp
      FROM b
      GROUP BY source, bucket
      ORDER BY source, bucket
    """)
  ) { t =>
    t.documents
      .select(col("source"),
        size(words(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("bucket",
        (length(bin(greatest(col("n_tok"), lit(1L)))) - 1).cast(LongType))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .withColumn("cap",
        expr("n_docs * (CAST(1 AS BIGINT) << CAST(bucket + 1 AS INT))"))
      .select(col("source"), col("bucket"), col("n_docs"),
        col("tokens").cast(LongType).as("tokens"),
        expr("(cap - tokens) * 10000 div cap").cast(LongType)
          .as("pad_waste_bp"))
      .orderBy(col("source"), col("bucket"))
  }

  // text_search — conjunctive term search, the query-time probe of an
  // inverted index (ClickHouse's full-text/ngram skip-index analog). The
  // term filter lands BEFORE the shuffle: tokens explode narrowly on the
  // scan side and only postings of the queried terms (rare by design —
  // that is why one searches with an index) reach the aggregation, so the
  // shuffled volume is O(query-term postings), not O(corpus tokens). The
  // per-(doc, term) count then rolls up with AND semantics (every term
  // present) + a summed term-frequency score. Materializing the
  // un-filtered postings as a term-sorted table is the offline index
  // build; this operator is the probe plan both paths share.
  val search = Q(
    "text_search",
    Some("""
      WITH tok AS (
        SELECT doc_id, source,
               UNNEST(STRING_SPLIT_REGEX(TRIM(lower(text)), '\s+')) AS term
        FROM documents
      ), hits AS (
        SELECT doc_id, source, term, COUNT(*) AS c
        FROM tok WHERE term IN ('dup', 'vector', 'key')
        GROUP BY 1, 2, 3
      )
      SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS n_hits
      FROM hits
      GROUP BY doc_id, source
      HAVING COUNT(*) = 3
      ORDER BY doc_id
    """)
  ) { t =>
    val terms = Seq("dup", "vector", "key")
    t.documents
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).cast(LongType).as("n_hits"), count(lit(1)).as("nt"))
      .where(col("nt") === terms.length)
      .select(col("doc_id"), col("source"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  // text_bm25_topk — graded ranked retrieval on top of text_search's
  // probe plan: BM25 (k1=1.2, b=0.75, the Robertson/Okapi defaults)
  // over the same disjunctive term panel, top-10 docs. text_search
  // answers "which docs contain ALL terms"; this scores "which docs
  // are ABOUT these terms" — saturating tf, rarity-weighted idf
  // (ln(1 + (N−df+0.5)/(df+0.5))), doc-length normalization by
  // dl/avgdl. Scale shape is text_search's: the term filter lands
  // scan-side so only O(query-term postings) shuffle; N/avgdl is one
  // tiny global aggregate and df a 3-row one, both broadcast; the
  // global top-10 is a TakeOrdered heap. FP discipline: the per-term
  // score is ONE fixed expression shape and the per-doc total is the
  // pivoted dup+vector+key sum in that literal order — both engines
  // add the same three doubles in the same order (the q129 rule), one
  // ROUND at emission.
  val bm25 = Q(
    "text_bm25_topk",
    Some("""
      WITH stats AS (
        SELECT COUNT(*) AS n,
               SUM(LEN(STRING_SPLIT_REGEX(TRIM(lower(text)), '\s+'))) AS sumdl
        FROM documents),
      tok AS (
        SELECT doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(lower(text)), '\s+')) AS dl,
               UNNEST(STRING_SPLIT_REGEX(TRIM(lower(text)), '\s+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, dl, term, COUNT(*) AS tf
        FROM tok WHERE term IN ('dup', 'vector', 'key')
        GROUP BY 1, 2, 3),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      sc AS (
        SELECT f.doc_id, f.dl, f.term, f.tf,
               LN(1.0 + (CAST(s.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
                 * (CAST(f.tf AS DOUBLE) * 2.2)
                 / (CAST(f.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(f.dl AS DOUBLE)
                                    / (CAST(s.sumdl AS DOUBLE) / s.n))) AS s
        FROM tf f JOIN df d ON d.term = f.term, stats s),
      ag AS (
        SELECT doc_id, COUNT(*) AS n_terms, SUM(tf) AS tf_total,
               COALESCE(MAX(CASE WHEN term = 'dup' THEN s END), CAST(0 AS DOUBLE))
               + COALESCE(MAX(CASE WHEN term = 'vector' THEN s END), CAST(0 AS DOUBLE))
               + COALESCE(MAX(CASE WHEN term = 'key' THEN s END), CAST(0 AS DOUBLE)) AS score
        FROM sc GROUP BY doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
             doc_id,
             CAST(n_terms AS BIGINT) AS n_terms,
             CAST(tf_total AS BIGINT) AS tf_total,
             ROUND(score, 6) AS score
      FROM ag
      ORDER BY score DESC, doc_id
      LIMIT 10
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val terms = Seq("dup", "vector", "key")
    val lowWords = split(trim(lower(col("text"))), "\\s+")
    val stats = t.documents
      .agg(count(lit(1)).as("n"),
        sum(size(lowWords)).cast(LongType).as("sumdl"))
    val tf = t.documents
      .select(col("doc_id"), size(lowWords).cast(LongType).as("dl"),
        explode(lowWords).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(df), "term").crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"),
        (log(lit(1.0) + ((col("n") - col("df")).cast(DoubleType) + lit(0.5))
            / (col("df").cast(DoubleType) + lit(0.5)))
          * (col("tf").cast(DoubleType) * lit(2.2))
          / (col("tf").cast(DoubleType)
             + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType)
                                     / (col("sumdl").cast(DoubleType) / col("n"))))).as("s"))
    def termScore(term: String): Column =
      coalesce(max(when(col("term") === term, col("s"))), lit(0.0))
    val ag = sc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_total"),
        (termScore("dup") + termScore("vector") + termScore("key")).as("score"))
    // TakeOrdered cut first; the rank window then sees <= 10 rows
    val top = ag.orderBy(col("score").desc, col("doc_id")).limit(10)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
      .select(col("rnk"), col("doc_id"),
        col("n_terms").cast(LongType).as("n_terms"),
        col("tf_total").cast(LongType).as("tf_total"),
        round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  // text_boilerplate — shared header/footer detection, the signal behind
  // boilerplate stripping in web-scrape cleaning: the most-repeated
  // 3-token document prefix and suffix per source (≥2 docs). Each doc
  // contributes exactly one prefix and one suffix, so the shuffled volume
  // is two short strings per document regardless of document length, and
  // the per-(source, kind) totals fall out of the same aggregation as a
  // window sum — one narrow scan, one aggregation shuffle, one tiny
  // window over fragment groups. Basis points = fragment docs per 10k
  // source docs (integer-exact).
  val boilerplate = Q(
    "text_boilerplate",
    Some("""
      WITH w AS (
        SELECT source, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
        FROM documents
        WHERE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) >= 5
      ), frags AS (
        SELECT source, 'prefix' AS kind,
               ARRAY_TO_STRING(toks[1:3], ' ') AS fragment FROM w
        UNION ALL
        SELECT source, 'suffix' AS kind,
               ARRAY_TO_STRING(toks[-3:], ' ') AS fragment FROM w
      ), counts AS (
        SELECT source, kind, fragment, COUNT(*) AS c,
               SUM(COUNT(*)) OVER (PARTITION BY source, kind) AS n_src
        FROM frags GROUP BY source, kind, fragment
      ), ranked AS (
        SELECT source, kind, fragment, c, n_src,
               ROW_NUMBER() OVER (PARTITION BY source, kind
                                  ORDER BY c DESC, fragment) AS rn
        FROM counts WHERE c >= 2
      )
      SELECT source, kind, fragment,
             CAST(c AS BIGINT) AS n_docs,
             CAST(c * 10000 // n_src AS BIGINT) AS bp
      FROM ranked WHERE rn = 1
      ORDER BY source, kind
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = t.documents
      .select(col("source"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 5)
    val frags = w.select(col("source"), lit("prefix").as("kind"),
        concat_ws(" ", slice(col("toks"), 1, 3)).as("fragment"))
      .unionAll(w.select(col("source"), lit("suffix").as("kind"),
        concat_ws(" ", slice(col("toks"), -3, 3)).as("fragment")))
    // the fragment vocab is corpus-derived, so neither the per-(source,
    // kind) total nor the top-1 may window over it on a ~40-value key:
    // the total is a dimension-sized aggregate broadcast back, the
    // top-1 rides TopKPerGroup (≤ 1 row per group crosses the shuffle)
    val counts = frags
      .groupBy(col("source"), col("kind"), col("fragment"))
      .agg(count(lit(1)).as("c"))
    val totals = frags.groupBy(col("source"), col("kind"))
      .agg(count(lit(1)).as("n_src"))
    graft.plans.TopKPerGroup.topK(counts.filter(col("c") >= 2),
        Seq("source", "kind"), "c", "fragment", 1)
      .join(broadcast(totals), Seq("source", "kind"))
      .select(col("source"), col("kind"), col("fragment"),
        col("c").cast(LongType).as("n_docs"),
        expr("c * 10000L div n_src").cast(LongType).as("bp"))
      .orderBy(col("source"), col("kind"))
  }

  // text_hash_embed — deterministic document vectors by the hashing
  // trick (the text→embedding bridge a retrieval pipeline runs before
  // any learned encoder exists): each token's portable hash picks one of
  // 16 buckets (h mod 16) and a sign ((h div 256) mod 2), the bucket
  // sums are L2-normalized to milli units with an integer isqrt. Hashing
  // runs inside the codegen'd graft_wordhashes kernel; the vector build
  // is one (doc, dim) aggregation plus a dimension scaffold left-join —
  // text never shuffles, and the whole op is integer-exact so the oracle
  // reproduces every coordinate. Emitted exploded as (doc_id, dim,
  // val_milli) — the write layout a vector index ingests.
  val hashEmbed = Q(
    "text_hash_embed",
    Some {
      val wh = graft.functions.PortableHash.wordHashSql("w")
      s"""
      WITH hs AS (
        SELECT doc_id, $wh AS h
        FROM (SELECT doc_id,
                UNNEST(list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                  w -> w <> '')) AS w
              FROM documents)),
      entries AS (
        SELECT doc_id, h % 16 AS dim,
               SUM(CASE WHEN (h // 256) % 2 = 1 THEN 1 ELSE -1 END) AS v
        FROM hs GROUP BY doc_id, h % 16),
      scaffold AS (
        SELECT d.doc_id, t.dim
        FROM (SELECT doc_id FROM documents) d, UNNEST(RANGE(0, 16)) AS t(dim)),
      full_v AS (
        SELECT s.doc_id, s.dim, COALESCE(e.v, 0) AS v
        FROM scaffold s LEFT JOIN entries e
          ON e.doc_id = s.doc_id AND e.dim = s.dim),
      norms AS (
        SELECT doc_id,
               GREATEST(CAST(FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE))) AS BIGINT), 1) AS nrm
        FROM full_v GROUP BY doc_id)
      SELECT f.doc_id, CAST(f.dim AS BIGINT) AS dim,
             CAST((CASE WHEN f.v < 0 THEN -1 ELSE 1 END)
               * (ABS(f.v) * 1000 // n.nrm) AS BIGINT) AS val_milli
      FROM full_v f JOIN norms n ON n.doc_id = f.doc_id
      ORDER BY f.doc_id, f.dim
      """
    }
  ) { t =>
    val entries = t.documents
      .select(col("doc_id"),
        explode(call_function("graft_wordhashes", lower(trim(col("text"))))).as("h"))
      .select(col("doc_id"), (col("h") % 16).as("dim"),
        expr("CASE WHEN (h div 256) % 2 = 1 THEN 1L ELSE -1L END").as("sgn"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("v"))
    val scaffold = t.documents.select(col("doc_id"))
      .crossJoin(broadcast(t.spark.range(0, 16).select(col("id").as("dim"))))
    val fullV = scaffold
      .join(entries, Seq("doc_id", "dim"), "left")
      .select(col("doc_id"), col("dim"), coalesce(col("v"), lit(0L)).as("v"))
    val norms = fullV.groupBy(col("doc_id"))
      .agg(greatest(floor(sqrt(sum(col("v") * col("v")).cast(DoubleType)))
        .cast(LongType), lit(1L)).as("nrm"))
    fullV.join(norms, "doc_id")
      .select(col("doc_id"), col("dim").cast(LongType).as("dim"),
        expr("(CASE WHEN v < 0 THEN -1 ELSE 1 END) * (ABS(v) * 1000 DIV nrm)")
          .cast(LongType).as("val_milli"))
      .orderBy(col("doc_id"), col("dim"))
  }

  // text_pmi_pairs — collocation mining: the 20 strongest token-pair
  // associations within a 3-token forward window, ranked by integer lift
  // (c_ab·N·100 div c_a·c_b — PMI's argument in fixed-point), minimum
  // pair count 5. Scale shape: pairs travel as HASH pairs (the
  // codegen'd graft_wordhashes stream, 3 array pairs per token — never
  // pair strings), the count is one hash aggregation, the cut is the
  // two-phase TopKPerGroup, and only the ≤ 40 surviving hashes join back
  // to the (hash → token) dictionary to recover strings. The oracle runs
  // the same algebra over strings with the hash tie-break mirrored, so
  // both engines select the identical boundary set.
  val pmiPairs = Q(
    "text_pmi_pairs",
    Some {
      val wh1 = graft.functions.PortableHash.wordHashSql("w1")
      val wh2 = graft.functions.PortableHash.wordHashSql("w2")
      s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      pos AS (
        SELECT doc_id, ws, i, ws[i] AS w1
        FROM toks, UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)),
      pairs AS (
        SELECT w1, ws[i + k] AS w2
        FROM pos, UNNEST(RANGE(1, 4)) AS o(k)
        WHERE i + k <= LEN(ws)),
      pc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2),
      uni AS (
        SELECT w AS tok, COUNT(*) AS c FROM (
          SELECT UNNEST(ws) AS w FROM toks) GROUP BY w),
      nn AS (SELECT SUM(c) AS n FROM uni),
      scored AS (
        SELECT p.w1, p.w2, p.c_ab,
               p.c_ab * nn.n * 100 // (u1.c * u2.c) AS lift_x100
        FROM pc p
        JOIN uni u1 ON u1.tok = p.w1
        JOIN uni u2 ON u2.tok = p.w2
        CROSS JOIN nn
        WHERE p.c_ab >= 5),
      ranked AS (
        SELECT w1, w2, c_ab, lift_x100,
               ROW_NUMBER() OVER (ORDER BY lift_x100 DESC,
                 $wh1 * 2147483648 + $wh2) AS rn
        FROM scored)
      SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
             CAST(lift_x100 AS BIGINT) AS lift_x100
      FROM ranked WHERE rn <= 20
      ORDER BY lift_x100 DESC, w1, w2
      """
    }
  ) { t =>
    val hs = t.documents
      .select(call_function("graft_wordhashes", lower(trim(col("text")))).as("hs"))
    val pairs = hs.select(explode(expr(
      """flatten(transform(hs,
           (x, i) -> transform(slice(hs, i + 2, 3), y -> struct(x AS h1, y AS h2))))"""))
      .as("p"))
      .select(col("p.h1").as("h1"), col("p.h2").as("h2"))
    val pc = pairs.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("c_ab"))
    val uni = hs.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
    val nn = uni.agg(sum(col("c")).as("n"))
    val scored = pc
      .join(uni.select(col("h").as("h1"), col("c").as("c1")), "h1")
      .join(uni.select(col("h").as("h2"), col("c").as("c2")), "h2")
      .crossJoin(broadcast(nn))
      .filter(col("c_ab") >= 5)
      .select(col("h1"), col("h2"), col("c_ab"),
        expr("c_ab * n * 100 div (c1 * c2)").as("lift_x100"),
        (col("h1") * lit(2147483648L) + col("h2")).as("tb"))
    val top = graft.plans.TopKPerGroup.topK(
      scored.withColumn("g", lit(1)), Seq("g"), "lift_x100", "tb", 20)
    // hash → token dictionary, joined only against the ≤ 40 survivors
    val dict = t.documents
      .select(explode(filter(split(trim(lower(col("text"))), "\\s+"),
        w => w =!= "")).as("w"))
      .select(col("w"), call_function("graft_wordhashes", col("w")).getItem(0).as("h"))
      .distinct()
    top
      .join(dict.select(col("h").as("h1"), col("w").as("w1")), "h1")
      .join(dict.select(col("h").as("h2"), col("w").as("w2")), "h2")
      .select(col("w1"), col("w2"), col("c_ab").cast(LongType).as("c_ab"),
        col("lift_x100").cast(LongType).as("lift_x100"))
      .orderBy(col("lift_x100").desc, col("w1"), col("w2"))
  }

  /** One unrolled BPE learning round as a DuckDB CTE chain: pair counts
    * with LEAD, argmax with the (count desc, pair asc) tie-break, then
    * left-to-right non-overlapping merge application via run-parity
    * selection (consecutive match positions — possible only when the two
    * halves are equal — take alternate slots starting at the first, the
    * greedy semantics of the classic in-memory merge loop).
    */
  private def bpeRoundSql(i: Int): String = {
    val p = if (i == 1) "s0" else s"s${i - 1}"
    s"""
      pairs$i AS (
        SELECT l, r, SUM(cnt) AS pc FROM (
          SELECT word, cnt, tok AS l,
                 LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS r
          FROM $p) WHERE r IS NOT NULL GROUP BY l, r),
      best$i AS (
        SELECT l, r, pc FROM pairs$i ORDER BY pc DESC, l, r LIMIT 1),
      m$i AS (
        SELECT t.word, t.cnt, t.pos, t.tok,
               CASE WHEN t.tok = b.l AND
                 LEAD(t.tok) OVER (PARTITION BY t.word ORDER BY t.pos) = b.r
               THEN 1 ELSE 0 END AS hit, b.l AS bl, b.r AS br
        FROM $p t CROSS JOIN best$i b),
      sel$i AS (
        SELECT word, cnt, pos, tok, bl, br, hit,
               CASE WHEN hit = 1 AND
                 (ROW_NUMBER() OVER (PARTITION BY word, hit_run ORDER BY pos)) % 2 = 1
               THEN 1 ELSE 0 END AS take
        FROM (
          SELECT *, CASE WHEN hit = 1
                 THEN pos - ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY pos)
                 ELSE NULL END AS hit_run
          FROM m$i)),
      s$i AS (
        SELECT word, cnt,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN take = 1 THEN bl || br ELSE tok END AS tok
        FROM (
          SELECT *, LAG(take) OVER (PARTITION BY word ORDER BY pos) AS prev_take
          FROM sel$i)
        WHERE COALESCE(prev_take, 0) = 0)"""
  }

  /** One Spark BPE round over the vocabulary state (word, cnt, pos, tok):
    * returns (argmax pair as a 1-row frame, post-merge state). The argmax
    * crosses back as a 1-row broadcast — no collect, the 3-round plan is
    * static. All windows partition by `word`, so the round parallelizes
    * with the vocabulary, never the corpus.
    */
  private def bpeRound(prev: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("word")).orderBy(col("pos"))
    val pairs = prev
      .select(col("word"), col("cnt"), col("tok").as("l"),
        lead(col("tok"), 1).over(wOrd).as("r"))
      .filter(col("r").isNotNull)
      .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pc"))
    // pin the 1-row argmax: it feeds BOTH the merge application and the
    // merge-table readout — unpinned, each consumer re-ran the pair
    // count over the whole upstream chain
    val best = graft.plans.Pin.pinned(
      pairs.orderBy(col("pc").desc, col("l"), col("r")).limit(1))
    val hits = prev.crossJoin(broadcast(best))
      .withColumn("hit",
        when(col("tok") === col("l") &&
          lead(col("tok"), 1).over(wOrd) === col("r"), 1).otherwise(0))
    // Run-parity selection: consecutive match positions (l == r runs)
    // merge at alternate slots, left-to-right — BPE's greedy application.
    val runs = hits
      .withColumn("rn_hit", row_number().over(
        Window.partitionBy(col("word"), col("hit")).orderBy(col("pos"))))
      .withColumn("hit_run", when(col("hit") === 1, col("pos") - col("rn_hit")))
    val sel = runs
      .withColumn("idx", row_number().over(
        Window.partitionBy(col("word"), col("hit_run")).orderBy(col("pos"))))
      .withColumn("take",
        when(col("hit") === 1 && col("idx") % 2 === 1, 1).otherwise(0))
    val next = sel
      .withColumn("prev_take", lag(col("take"), 1).over(wOrd))
      .filter(coalesce(col("prev_take"), lit(0)) === 0)
      .select(col("word"), col("cnt"),
        row_number().over(wOrd).cast(LongType).as("npos"),
        when(col("take") === 1, concat(col("l"), col("r")))
          .otherwise(col("tok")).as("tok"))
      .withColumnRenamed("npos", "pos")
    (best, next)
  }

  /** Shared DuckDB CTE chain: corpus → word histogram → char state →
    * 3 unrolled learning rounds (best1..best3, s3). Used by both BPE
    * oracles so training and serving provably read the same tokenizer.
    */
  private def bpeChainSql: String =
    s"""vocab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT LOWER(UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS word
          FROM documents)
        WHERE word <> '' GROUP BY word),
      s0 AS (
        SELECT word, cnt, CAST(t.i AS BIGINT) AS pos, chars[t.i] AS tok
        FROM (SELECT word, cnt, regexp_extract_all(word, '.') AS chars FROM vocab),
             UNNEST(RANGE(1, LEN(chars) + 1)) AS t(i)),
      ${Seq(1, 2, 3).map(bpeRoundSql).mkString(",")}"""

  /** Memoized BPE artifacts (PersistCache, warmed by `_build_bpe`): one
    * frame holding both the learned merge table (kind='m': left word,
    * right tok, round pos, pair count cnt) and the post-merge vocabulary
    * state (kind='s': word, cnt, pos, tok). Built once per dataset — a
    * served tokenizer is a BUILT artifact, the same contract as the ANN
    * index structures.
    */
  private[graft] def bpeArtifacts(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#bpe") {
      val vocab = t.documents
        .select(explode(split(trim(col("text")), "\\s+")).as("w0"))
        .select(lower(col("w0")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // pin each round's state: every round consumes its input TWICE
      // (pair counts + merge application), so an unpinned chain
      // recomputed the whole prefix per consumer — ~2^rounds evaluations
      // of s0 and the dominant cost of `_build_bpe` (15.9 s local in
      // r11; the states are vocabulary-sized, so the pins are small)
      import graft.plans.Pin.pinned
      val s0 = pinned(vocab
        .select(col("word"), col("cnt"),
          posexplode(regexp_extract_all(col("word"), lit("."), lit(0))).as(Seq("p", "tok")))
        .select(col("word"), col("cnt"), (col("p") + 1).cast(LongType).as("pos"), col("tok")))
      val (b1, s1a) = bpeRound(s0)
      val s1 = pinned(s1a)
      val (b2, s2a) = bpeRound(s1)
      val s2 = pinned(s2a)
      val (b3, s3) = bpeRound(s2)
      val m = Seq(b1 -> 1, b2 -> 2, b3 -> 3).map { case (b, i) =>
        b.select(lit("m").as("kind"), col("l").as("word"),
          col("pc").cast(LongType).as("cnt"), lit(i.toLong).as("pos"),
          col("r").as("tok"))
      }.reduce(_.unionAll(_))
      val s = s3.select(lit("s").as("kind"), col("word"),
        col("cnt").cast(LongType).as("cnt"), col("pos"), col("tok"))
      val artifact = m.unionAll(s)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize the artifact, then release the intermediate pins —
      // the served tokenizer is the only frame later consumers read
      artifact.count()
      Seq(s0, s1, s2).foreach(_.unpersist(blocking = false))
      artifact
    }

  /** Bench warm-up hook (same contract as Dedup/Ann.buildSteps). */
  def buildSteps(t: Tables): Seq[(String, () => Unit)] = Seq(
    "bpe" -> (() => { bpeArtifacts(t).count(); () }),
    "unigram" -> (() => { unigramArtifacts(t).count(); () }))

  /** One recursive-CTE Viterbi pass over the distinct-word relation
    * (the DuckDB mirror of functions.UnigramKernels.viterbiSeg): udp$i
    * carries a 4-slot sliding window of DP states — score b, piece
    * count k, '|'-joined segmentation g for best[pos..pos−3] — and
    * advances one code point per iteration; the four candidates
    * (pieces of length 1..4 ending at the new position, scores via
    * LEFT JOINs against `$scoreCte`) collapse through ONE integer key
    * (score desc, then k asc, then last-piece length desc — LEAST
    * ignores NULLs) so the argmax needs no struct comparison and the
    * tie-break is total. useg$i = the per-word final row.
    */
  private def unigramDpSql(idx: Int, scoreCte: String, l2cCte: String): String = {
    def key(m: Int) =
      s"CASE WHEN s$m.piece IS NOT NULL AND d.b$m IS NOT NULL THEN\n" +
        s"             (100000000 - (d.b$m + s$m.sc - lc.v)) * 10000000" +
        s" + (d.k$m + 1) * 100 + ${4 - m} END"
    s"""udp$idx AS (
        SELECT word, cnt, 0 AS i,
               CAST(0 AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2,
               CAST(NULL AS BIGINT) AS b3, CAST(NULL AS BIGINT) AS b4,
               CAST(0 AS BIGINT) AS k1, CAST(NULL AS BIGINT) AS k2,
               CAST(NULL AS BIGINT) AS k3, CAST(NULL AS BIGINT) AS k4,
               '' AS g1, CAST(NULL AS VARCHAR) AS g2,
               CAST(NULL AS VARCHAR) AS g3, CAST(NULL AS VARCHAR) AS g4
        FROM uwords
        UNION ALL
        SELECT word, cnt, i + 1,
               CASE WHEN mk IS NOT NULL THEN 100000000 - mk // 10000000 END,
               b1, b2, b3,
               CASE WHEN mk IS NOT NULL THEN (mk % 10000000) // 100 END,
               k1, k2, k3,
               CASE WHEN mk IS NULL THEN NULL
                    WHEN mk % 100 = 3 THEN g1 || '|' || p1
                    WHEN mk % 100 = 2 THEN g2 || '|' || p2
                    WHEN mk % 100 = 1 THEN g3 || '|' || p3
                    ELSE g4 || '|' || p4 END,
               g1, g2, g3
        FROM (
          SELECT d.word, d.cnt, d.i, d.b1, d.b2, d.b3, d.b4,
                 d.k1, d.k2, d.k3, d.k4, d.g1, d.g2, d.g3, d.g4,
                 SUBSTR(d.word, d.i + 1, 1) AS p1,
                 SUBSTR(d.word, d.i, 2) AS p2,
                 SUBSTR(d.word, d.i - 1, 3) AS p3,
                 SUBSTR(d.word, d.i - 2, 4) AS p4,
                 LEAST(${key(1)},
                   ${key(2)},
                   ${key(3)},
                   ${key(4)}) AS mk
          FROM udp$idx d
          CROSS JOIN $l2cCte lc
          LEFT JOIN $scoreCte s1 ON s1.piece = SUBSTR(d.word, d.i + 1, 1)
          LEFT JOIN $scoreCte s2 ON d.i >= 1 AND s2.piece = SUBSTR(d.word, d.i, 2)
          LEFT JOIN $scoreCte s3 ON d.i >= 2 AND s3.piece = SUBSTR(d.word, d.i - 1, 3)
          LEFT JOIN $scoreCte s4 ON d.i >= 3 AND s4.piece = SUBSTR(d.word, d.i - 2, 4)
          WHERE d.i < LEN(d.word))),
      useg$idx AS (
        SELECT word, cnt, k1 AS k, g1 AS g FROM udp$idx WHERE i = LEN(word))"""
  }

  /** Shared DuckDB CTE chain for the unigram-LM tokenizer (the
    * SentencePiece family next to [[bpeChainSql]]'s BPE; every oracle
    * using it must open `WITH RECURSIVE`): corpus → word histogram →
    * seed substring lattice (all code-point 1-grams + top-64
    * 2..4-grams by weighted frequency, scores = LENGTH(BIN(freq)) —
    * the quantized integer log2 both engines agree on) → Viterbi
    * E-step (udp1) → usage recount M-step (uuse/uvoc2) → serving
    * re-segmentation under the trained scores (udp2/useg2). The score
    * tables are AS MATERIALIZED: each DP pass references its score CTE
    * five times (4 piece-length joins + the penalty scalar), and
    * without the hint DuckDB re-ran the ENTIRE upstream chain — round-1
    * DP included — per reference (10.7 s → 0.23 s at sf0.01).
    */
  private def unigramChainSql: String =
    s"""uwords AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT LOWER(UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS word
          FROM documents)
        WHERE word <> '' GROUP BY word),
      upf AS (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS f FROM (
          SELECT SUBSTR(word, t.i, 1) AS piece, cnt
          FROM uwords, UNNEST(RANGE(1, LEN(word) + 1)) t(i)
          UNION ALL
          SELECT SUBSTR(word, t.i, 2), cnt
          FROM uwords, UNNEST(RANGE(1, LEN(word))) t(i)
          UNION ALL
          SELECT SUBSTR(word, t.i, 3), cnt
          FROM uwords, UNNEST(RANGE(1, LEN(word) - 1)) t(i)
          UNION ALL
          SELECT SUBSTR(word, t.i, 4), cnt
          FROM uwords, UNNEST(RANGE(1, LEN(word) - 2)) t(i))
        GROUP BY piece),
      useed AS MATERIALIZED (
        SELECT piece, f, LENGTH(BIN(f)) AS sc FROM upf WHERE LEN(piece) = 1
        UNION ALL
        SELECT piece, f, LENGTH(BIN(f)) FROM (
          SELECT piece, f, ROW_NUMBER() OVER (ORDER BY f DESC, piece) AS rk
          FROM upf WHERE LEN(piece) > 1) WHERE rk <= 64),
      ul2c1 AS (SELECT LENGTH(BIN(CAST(SUM(f) AS BIGINT))) AS v FROM useed),
      ${unigramDpSql(1, "useed", "ul2c1")},
      uuse AS MATERIALIZED (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS u FROM (
          SELECT UNNEST(STRING_SPLIT(g, '|')) AS piece, cnt FROM useg1)
        WHERE piece <> '' GROUP BY piece),
      uvoc2 AS MATERIALIZED (SELECT piece, u, LENGTH(BIN(u)) AS sc FROM uuse),
      ul2c2 AS (SELECT LENGTH(BIN(CAST(SUM(u) AS BIGINT))) AS v FROM uuse),
      ${unigramDpSql(2, "uvoc2", "ul2c2")}"""

  /** Memoized unigram-LM tokenizer artifacts (PersistCache, warmed by
    * `_build_unigram`): kind='p' rows = the trained vocabulary (piece,
    * cnt = Viterbi-EM usage, k = quantized log-score); kind='w' rows =
    * the serving segmentation (word, cnt, k = token count under the
    * trained model). Train = seed substring lattice (all code-point
    * 1-grams + top-64 2..4-grams by weighted frequency) → ONE hard-EM
    * round: E-step segments the distinct-word vocabulary by Viterbi
    * under the seed scores (functions.UnigramSegExpr — SentencePiece's
    * lattice E-step taken in its Viterbi/hard mode, so the loop stays
    * integer-exact and the DuckDB oracle replays it bit for bit),
    * M-step recounts piece usage and requantizes scores; serving
    * re-segments under the trained scores. The corpus is read ONCE
    * (the word histogram); every later stage is VOCABULARY-parallel,
    * and the model itself (≤ alphabet + 64 pieces) crosses as a
    * foldable literal — the driver-side collect is MODEL-sized, never
    * data-sized, the same contract as a broadcast dimension.
    */
  private[graft] def unigramArtifacts(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#unigram") {
      import graft.plans.Pin.pinned
      val words = pinned(t.documents
        .select(explode(split(trim(col("text")), "\\s+")).as("w0"))
        .select(lower(col("w0")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
      val cand = (1 to 4).map { m =>
        words.filter(length(col("word")) >= m)
          .select(col("cnt"),
            explode(expr(s"sequence(1, length(word) - ${m - 1})")).as("i"),
            col("word"))
          .select(expr(s"substring(word, i, $m)").as("piece"), col("cnt"))
      }.reduce(_.unionAll(_))
      val pf = cand.groupBy(col("piece"))
        .agg(sum(col("cnt")).cast(LongType).as("f"))
      val singles = pf.filter(length(col("piece")) === 1)
      val multis = pf.filter(length(col("piece")) > 1)
        .orderBy(col("f").desc, col("piece")).limit(64)
      val seed = pinned(singles.unionAll(multis))
      def collectModel(df: DataFrame, cntCol: String)
        : (Seq[String], Seq[Int], Int) = {
        val rows = df
          .select(col("piece"), expr(s"length(bin($cntCol))").cast("int").as("sc"))
          .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
        val l2c = df.agg(expr(s"length(bin(sum($cntCol)))").cast("int"))
          .head().getInt(0)
        (rows.map(_._1), rows.map(_._2), l2c)
      }
      def segCol(m: (Seq[String], Seq[Int], Int)): Column =
        call_function("graft_unigram_seg", col("word"),
          typedLit(m._1), typedLit(m._2), lit(m._3))
      val seg1 = words.select(col("cnt"),
        segCol(collectModel(seed, "f")).as("g"))
      val usage = pinned(seg1
        .select(col("cnt"), explode(split(col("g"), "\\|")).as("piece"))
        .filter(col("piece") =!= "")
        .groupBy(col("piece")).agg(sum(col("cnt")).cast(LongType).as("u")))
      val seg2 = words.select(col("word"), col("cnt"),
        segCol(collectModel(usage, "u")).as("g"))
      val p = usage.select(lit("p").as("kind"), col("piece").as("word"),
        col("u").as("cnt"), expr("length(bin(u))").cast(LongType).as("k"))
      val w = seg2.select(lit("w").as("kind"), col("word"),
        col("cnt").cast(LongType).as("cnt"),
        (size(split(col("g"), "\\|")) - 1).cast(LongType).as("k"))
      val artifact = p.unionAll(w)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      artifact.count()
      Seq(words, seed, usage).foreach(_.unpersist(blocking = false))
      artifact
    }

  /** The trained unigram model as broadcastable literals (pieces,
    * scores, per-piece penalty) — the frozen artifact a serving stream
    * or a remote encoder ships; MODEL-sized (≤ alphabet + 64 pieces).
    */
  private[graft] def unigramModel(t: Tables): (Seq[String], Seq[Int], Int) = {
    val p = unigramArtifacts(t).filter(col("kind") === "p")
    val rows = p.select(col("word"), col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1).toInt)).toSeq
    val l2c = p.agg(expr("length(bin(sum(cnt)))").cast("int")).head().getInt(0)
    (rows.map(_._1), rows.map(_._2), l2c)
  }

  // text_unigram_vocab — the unigram-LM tokenizer's trained vocabulary
  // (the SentencePiece train step next to text_bpe_merges): top-32
  // pieces by hard-EM usage with their quantized log-scores. The whole
  // train is integer-exact (scores = LENGTH(BIN(count)) — no FP log),
  // so the oracle replays seed → Viterbi E-step → recount M-step and
  // must agree bit for bit, Viterbi ties included (the deterministic
  // score/k/piece-length key both sides implement).
  val unigramVocab = Q(
    "text_unigram_vocab",
    Some(s"""
      WITH RECURSIVE $unigramChainSql
      SELECT piece, CAST(u AS BIGINT) AS usage_cnt,
             CAST(LENGTH(BIN(u)) AS BIGINT) AS score
      FROM (SELECT piece, u, ROW_NUMBER() OVER (ORDER BY u DESC, piece) AS rk
            FROM uuse)
      WHERE rk <= 32
      ORDER BY usage_cnt DESC, piece
    """)
  ) { t =>
    unigramArtifacts(t).filter(col("kind") === "p")
      .orderBy(col("cnt").desc, col("word")).limit(32)
      .select(col("word").as("piece"), col("cnt").as("usage_cnt"),
        col("k").as("score"))
      .orderBy(col("usage_cnt").desc, col("piece"))
  }

  // text_bpe_merges — tokenizer merge learning (the byte-pair-encoding
  // training step, Sennrich et al. 2016): 3 rounds of (count adjacent
  // symbol pairs → merge the most frequent pair everywhere), then the
  // post-merge top-12 symbol counts proving the applications composed.
  // The corpus is scanned ONCE into the (distinct word, count) vocabulary
  // — the classic BPE trick that makes the learning loop independent of
  // corpus volume: every round operates on Σ|word| symbol rows of the
  // DISTINCT vocabulary (windows keyed by word, vocabulary-parallel), and
  // the per-round argmax crosses as a 1-row broadcast, so at 100 TB the
  // merge loop costs the same as at 100 GB once the word histogram exists.
  val bpeMerges = Q(
    "text_bpe_merges",
    Some(s"""
      WITH $bpeChainSql
      SELECT 'merge_' || CAST(i AS VARCHAR) AS stage, l || '+' || r AS item,
             CAST(pc AS BIGINT) AS cnt
      FROM (SELECT 1 AS i, * FROM best1 UNION ALL
            SELECT 2, * FROM best2 UNION ALL
            SELECT 3, * FROM best3)
      UNION ALL
      SELECT 'token', tok, cnt FROM (
        SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cnt,
               ROW_NUMBER() OVER (ORDER BY SUM(cnt) DESC, tok) AS rk
        FROM s3 GROUP BY tok) WHERE rk <= 12
      ORDER BY stage, cnt DESC, item
    """)
  ) { t =>
    val f = bpeArtifacts(t)
    val merges = f.filter(col("kind") === "m")
      .select(concat(lit("merge_"), col("pos")).as("stage"),
        concat(col("word"), lit("+"), col("tok")).as("item"), col("cnt"))
    val topToks = f.filter(col("kind") === "s")
      .groupBy(col("tok")).agg(sum(col("cnt")).cast(LongType).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(12)
      .select(lit("token").as("stage"), col("tok").as("item"), col("cnt"))
    merges.unionAll(topToks).orderBy(col("stage"), col("cnt").desc, col("item"))
  }

  // pipe_tokenizer_apply — the serving half of BOTH trained tokenizer
  // families: encode the WHOLE corpus with the learned BPE merge table
  // AND the trained unigram-LM vocabulary, and report per-(source,
  // tokenizer) compression (char-level token count vs encoded token
  // count, saved basis points) — the side-by-side a pipeline reads
  // before picking its tokenizer. The corpus contributes ONE (source,
  // word) histogram aggregation shared by both lanes; each per-word
  // encoded length is a VOCABULARY-sized broadcast joined into it, so
  // the serving path never shuffles text and never re-learns — train
  // once, encode anywhere, which is exactly how a production tokenizer
  // deploys at 100 TB.
  val tokenizerApply = Q(
    "pipe_tokenizer_apply",
    Some(s"""
      WITH RECURSIVE $bpeChainSql,
      $unigramChainSql,
      len3 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n3 FROM s3 GROUP BY word),
      wc AS (
        SELECT source, word, COUNT(*) AS c FROM (
          SELECT source, LOWER(UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS word
          FROM documents)
        WHERE word <> '' GROUP BY source, word),
      agg AS (
        SELECT source, 'bpe' AS tokenizer,
               SUM(c * LEN(word)) AS n_char_toks,
               SUM(c * n3) AS n_toks
        FROM wc JOIN len3 USING (word) GROUP BY source
        UNION ALL
        SELECT source, 'unigram',
               SUM(c * LEN(word)),
               SUM(c * k)
        FROM wc JOIN useg2 USING (word) GROUP BY source)
      SELECT source, tokenizer,
             CAST(n_char_toks AS BIGINT) AS n_char_toks,
             CAST(n_toks AS BIGINT) AS n_toks,
             CAST((n_char_toks - n_toks) * 10000 // n_char_toks AS BIGINT)
               AS saved_bp
      FROM agg ORDER BY source, tokenizer
    """)
  ) { t =>
    val len3 = bpeArtifacts(t).filter(col("kind") === "s")
      .groupBy(col("word")).agg(count(lit(1)).as("n3"))
    val uniK = unigramArtifacts(t).filter(col("kind") === "w")
      .select(col("word"), col("k"))
    val wc = t.documents
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w0"))
      .select(col("source"), lower(col("w0")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    def lane(perWord: DataFrame, tokCol: Column, name: String): DataFrame =
      wc.join(broadcast(perWord), "word")
        .groupBy(col("source"))
        .agg(
          sum(col("c") * length(col("word"))).as("n_char_toks"),
          sum(col("c") * tokCol).as("n_toks"))
        .select(col("source"), lit(name).as("tokenizer"),
          col("n_char_toks").cast(LongType).as("n_char_toks"),
          col("n_toks").cast(LongType).as("n_toks"),
          expr("(n_char_toks - n_toks) * 10000 div n_char_toks")
            .cast(LongType).as("saved_bp"))
    lane(len3, col("n3"), "bpe")
      .unionAll(lane(uniK, col("k"), "unigram"))
      .orderBy(col("source"), col("tokenizer"))
  }

  // pipe_tokenizer_fertility — tokens-per-word, THE tokenizer-health
  // dial a training pipeline watches per source (fertility near 1 =
  // the vocab fits the corpus; high fertility = the tokenizer
  // fragments this source's words and its documents eat context
  // budget), reported for BOTH trained families side by side — real
  // pipelines compare fertility ACROSS tokenizers before committing a
  // vocab, so the readout's grain is (source, tokenizer): 'bpe' rows
  // ride the 3-round merge table, 'unigram' rows the hard-EM
  // vocabulary, both as vocabulary-sized broadcast token-count
  // lookups into the ONE shared (source, word) histogram. Fertility
  // in exact ppm, mean compressed token length in exact ppm of a
  // char — all integer, 2·|sources|-row readout.
  val tokenizerFertility = Q(
    "pipe_tokenizer_fertility",
    Some(s"""
      WITH RECURSIVE $bpeChainSql,
      $unigramChainSql,
      len3 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n3 FROM s3 GROUP BY word),
      wc AS (
        SELECT source, word, COUNT(*) AS c FROM (
          SELECT source, LOWER(UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS word
          FROM documents)
        WHERE word <> '' GROUP BY source, word),
      agg AS (
        SELECT source, 'bpe' AS tokenizer,
               SUM(c) AS n_words,
               SUM(c * n3) AS n_toks,
               SUM(c * LEN(word)) AS n_chars
        FROM wc JOIN len3 USING (word) GROUP BY source
        UNION ALL
        SELECT source, 'unigram',
               SUM(c),
               SUM(c * k),
               SUM(c * LEN(word))
        FROM wc JOIN useg2 USING (word) GROUP BY source)
      SELECT source, tokenizer,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(n_toks AS BIGINT) AS n_toks,
             CAST(n_toks * 1000000 // n_words AS BIGINT) AS fertility_ppm,
             CAST(n_chars * 1000000 // n_toks AS BIGINT)
               AS chars_per_tok_ppm
      FROM agg ORDER BY source, tokenizer
    """)
  ) { t =>
    val len3 = bpeArtifacts(t).filter(col("kind") === "s")
      .groupBy(col("word")).agg(count(lit(1)).as("n3"))
    val uniK = unigramArtifacts(t).filter(col("kind") === "w")
      .select(col("word"), col("k"))
    val wc = t.documents
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w0"))
      .select(col("source"), lower(col("w0")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    def lane(perWord: DataFrame, tokCol: Column, name: String): DataFrame =
      wc.join(broadcast(perWord), "word")
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_words"),
          sum(col("c") * tokCol).as("n_toks"),
          sum(col("c") * length(col("word"))).as("n_chars"))
        .select(col("source"), lit(name).as("tokenizer"),
          col("n_words").cast(LongType).as("n_words"),
          col("n_toks").cast(LongType).as("n_toks"),
          expr("n_toks * 1000000 div n_words").cast(LongType)
            .as("fertility_ppm"),
          expr("n_chars * 1000000 div n_toks").cast(LongType)
            .as("chars_per_tok_ppm"))
    lane(len3, col("n3"), "bpe")
      .unionAll(lane(uniK, col("k"), "unigram"))
      .orderBy(col("source"), col("tokenizer"))
  }

  // text_countmin — Count-Min sketch accuracy report over the 3-token
  // shingle stream (d=4 rows × w=1024 columns, universal-hash cells from
  // the PortableHash family): the frequency sketch a streaming pipeline
  // keeps when the key space (shingles, URLs, n-grams) is too wide for an
  // exact map. The sketch build is ONE map-side-combinable aggregation
  // into d·w integer cells — constant memory per executor, cells merge by
  // addition across any partitioning (the CM property), so the same plan
  // serves 100 TB with a 16 KB state. The report probes the exact top-10
  // shingles against the sketch: CM can only OVER-estimate (min of d row
  // cells), and the over_bp column is the honest bias measurement at
  // this stream/width ratio. All-integer arithmetic — the oracle rebuilds
  // the identical sketch and replays every probe.
  val countMin = Q(
    "text_countmin",
    Some {
      val p = graft.functions.PortableHash.P
      val w = 1024
      val a4 = (0 until 4).map(j => graft.functions.PortableHash.coefA(20 + j))
        .mkString("[", ",", "]")
      val b4 = (0 until 4).map(j => graft.functions.PortableHash.coefB(20 + j))
        .mkString("[", ",", "]")
      val fold = "list_reduce(list_prepend(7::BIGINT, " +
        "list_transform(string_split(sh, ''), c -> ascii(c)::BIGINT)), " +
        s"(acc, x) -> (acc * 31 + x) % $p)"
      s"""
      WITH toks AS (
        SELECT list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      tc AS (
        SELECT sh, COUNT(*) AS cnt FROM (
          SELECT array_to_string(list_slice(ws, i, i + 2), ' ') AS sh
          FROM toks, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i))
        GROUP BY sh),
      whash AS (SELECT sh, cnt, $fold AS h FROM tc),
      cells AS (
        SELECT r, (list_extract($a4, r + 1) * h + list_extract($b4, r + 1))
                   % $p % $w AS c,
               SUM(cnt) AS n
        FROM whash, UNNEST(RANGE(0, 4)) AS t(r) GROUP BY r, c),
      top AS (SELECT sh, cnt, h FROM whash ORDER BY cnt DESC, sh LIMIT 10),
      est AS (
        SELECT t.sh, t.cnt, MIN(cells.n) AS cm
        FROM top t, UNNEST(RANGE(0, 4)) AS tr(r)
        JOIN cells ON cells.r = tr.r
           AND cells.c = (list_extract($a4, tr.r + 1) * t.h
                          + list_extract($b4, tr.r + 1)) % $p % $w
        GROUP BY t.sh, t.cnt)
      SELECT sh, CAST(cnt AS BIGINT) AS exact_cnt, CAST(cm AS BIGINT) AS cm_est,
             CAST((cm - cnt) * 10000 // cnt AS BIGINT) AS over_bp
      FROM est ORDER BY exact_cnt DESC, sh
      """
    }
  ) { t =>
    val p = graft.functions.PortableHash.P
    val w = 1024
    val aArr = array((0 until 4).map(j =>
      lit(graft.functions.PortableHash.coefA(20 + j))): _*)
    val bArr = array((0 until 4).map(j =>
      lit(graft.functions.PortableHash.coefB(20 + j))): _*)
    val sh = t.documents
      .select(expr("filter(split(trim(lower(text)), '\\\\s+'), w -> w != '')").as("ws"))
      .select(explode(expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> array_join(slice(ws, i, 3), ' '))")).as("sh"))
    val tc = sh.groupBy(col("sh")).agg(count(lit(1)).as("cnt"))
    // canonical shingle hash: the seed-7 polynomial byte fold of the
    // space-joined shingle (the PortableHash contract) as a HOF
    val whash = tc.withColumn("h", expr(
      s"aggregate(split(sh, ''), 7L, (acc, c) -> (acc * 31 + ascii(c)) % ${p}L)"))
    val cellOf = (r: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column) =>
      (element_at(aArr, r + 1) * h + element_at(bArr, r + 1)) % p % w
    val cells = whash
      .select(col("cnt"), col("h"), explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("r"), cellOf(col("r"), col("h")).as("c"), col("cnt"))
      .groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("n"))
    val top = whash.orderBy(col("cnt").desc, col("sh")).limit(10)
    top
      .select(col("sh"), col("cnt"), col("h"), explode(sequence(lit(0), lit(3))).as("tr"))
      .join(cells,
        cells("r") === col("tr") && cells("c") === cellOf(col("tr"), col("h")))
      .groupBy(col("sh"), col("cnt"))
      .agg(min(col("n")).as("cm"))
      .select(col("sh"), col("cnt").cast(LongType).as("exact_cnt"),
        col("cm").cast(LongType).as("cm_est"),
        expr("(cm - cnt) * 10000 div cnt").cast(LongType).as("over_bp"))
      .orderBy(col("exact_cnt").desc, col("sh"))
  }

  // text_char_trigrams — per-language character-trigram profile: the
  // top-10 most frequent 3-char windows (the feature family language-ID
  // models are built from — text_langid consumes exactly this signal;
  // here it is surfaced as a readable profile). One explode to ~|chars|
  // rows — the trigrams travel as 3-char strings keyed by (lang,
  // trigram), a partial-aggregable count — then the top-10 cut rides
  // two-phase TopKPerGroup (map-side k-heaps; the per-language
  // vocabulary never sorts in one partition) and rank is computed over
  // the ≤ 10 survivors.
  val charTrigrams = Q(
    "text_char_trigrams",
    Some("""
      WITH tris AS (
        SELECT lang, SUBSTR(LOWER(text), CAST(i AS INTEGER), 3) AS tri
        FROM documents, UNNEST(RANGE(1, GREATEST(LENGTH(text) - 1, 1))) AS t(i)),
      counts AS (SELECT lang, tri, COUNT(*) AS cnt FROM tris GROUP BY lang, tri),
      ranked AS (
        SELECT lang, tri, cnt,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tri) AS rn
        FROM counts)
      SELECT lang, CAST(rn AS BIGINT) AS rnk, tri, CAST(cnt AS BIGINT) AS cnt
      FROM ranked WHERE rn <= 10
      ORDER BY lang, rnk
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val counts = t.documents
      .select(col("lang"), lower(col("text")).as("lt"))
      // guard: sequence(1, 0) would COUNT DOWN in Spark; sub-3-char docs
      // have no trigrams on either engine, so drop them before exploding
      .filter(length(col("lt")) >= 3)
      .select(col("lang"),
        explode(expr("sequence(1, length(lt) - 2)")).as("i"),
        col("lt"))
      .select(col("lang"), col("lt").substr(col("i"), lit(3)).as("tri"))
      .groupBy(col("lang"), col("tri"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tri"))
    graft.plans.TopKPerGroup.topK(counts, Seq("lang"), "cnt", "tri", 10)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("lang"), col("rnk"), col("tri"), col("cnt").cast(LongType).as("cnt"))
      .orderBy(col("lang"), col("rnk"))
  }

  // text_gopher_battery — the Gopher cleaning-rule battery as ONE
  // consolidated report: per source, how many documents fail each named
  // rule, and how many survive all of them. The five rules are the
  // deterministic core of the published recipe, integer-exact so both
  // engines agree bit-for-bit (mean-length bounds are cross-multiplied,
  // never divided): r_short (<50 words), r_word_len (mean word length
  // outside [3,10]), r_symbols (>10% non-alphanumeric chars),
  // r_numeric (>20% letterless words), r_modal (top word >20% of
  // tokens — the template/spam signal). Per-doc metrics come from one
  // scan of codegen'd regex/array counts plus one (doc, word) aggregate
  // for the modal share; the rollup is a partial-aggregable groupBy.
  val gopherBattery = Q(
    "text_gopher_battery",
    Some("""
      WITH toks AS (
        SELECT doc_id, source,
               LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 w -> w <> '') AS ws,
               LOWER(text) AS lt
        FROM documents),
      perdoc AS (
        SELECT doc_id, source,
               LENGTH(ws) AS n_words,
               LENGTH(LIST_FILTER(ws, w -> NOT REGEXP_MATCHES(w, '[a-z]')))
                 AS n_letterless,
               LIST_SUM(LIST_TRANSFORM(ws, w -> LENGTH(w))) AS sum_wlen,
               LENGTH(lt) - LENGTH(REGEXP_REPLACE(lt, '[^a-z0-9 ]', '', 'g'))
                 AS n_symbols,
               LENGTH(lt) AS n_chars
        FROM toks),
      modal AS (
        SELECT doc_id, MAX(c) AS top_wc FROM (
          SELECT doc_id, w, COUNT(*) AS c
          FROM (SELECT doc_id, UNNEST(ws) AS w FROM toks)
          GROUP BY doc_id, w)
        GROUP BY doc_id),
      flags AS (
        SELECT p.source,
               CASE WHEN p.n_words < 50 THEN 1 ELSE 0 END AS f_short,
               CASE WHEN p.sum_wlen < 3 * p.n_words
                      OR p.sum_wlen > 10 * p.n_words THEN 1 ELSE 0 END AS f_word_len,
               CASE WHEN p.n_symbols * 10 > p.n_chars THEN 1 ELSE 0 END AS f_symbols,
               CASE WHEN p.n_letterless * 5 > p.n_words THEN 1 ELSE 0 END AS f_numeric,
               CASE WHEN m.top_wc * 5 > p.n_words THEN 1 ELSE 0 END AS f_modal
        FROM perdoc p JOIN modal m ON m.doc_id = p.doc_id)
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(f_short) AS BIGINT) AS fail_short,
             CAST(SUM(f_word_len) AS BIGINT) AS fail_word_len,
             CAST(SUM(f_symbols) AS BIGINT) AS fail_symbols,
             CAST(SUM(f_numeric) AS BIGINT) AS fail_numeric,
             CAST(SUM(f_modal) AS BIGINT) AS fail_modal,
             COUNT(CASE WHEN f_short + f_word_len + f_symbols
                           + f_numeric + f_modal = 0 THEN 1 END) AS n_clean
      FROM flags
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val toks = t.documents.select(col("doc_id"), col("source"),
      filter(split(trim(lower(col("text"))), "\\s+"), w => w =!= "").as("ws"),
      lower(col("text")).as("lt"))
    val perdoc = toks.select(col("doc_id"), col("source"),
      size(col("ws")).cast(LongType).as("n_words"),
      size(filter(col("ws"), w => !w.rlike("[a-z]"))).cast(LongType).as("n_letterless"),
      aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)).as("sum_wlen"),
      (length(col("lt"))
        - length(regexp_replace(col("lt"), "[^a-z0-9 ]", ""))).cast(LongType)
        .as("n_symbols"),
      length(col("lt")).cast(LongType).as("n_chars"))
    val modal = toks.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_wc"))
    perdoc.join(modal, "doc_id")
      .select(col("source"),
        when(col("n_words") < 50, 1L).otherwise(0L).as("f_short"),
        when(col("sum_wlen") < col("n_words") * 3
          || col("sum_wlen") > col("n_words") * 10, 1L).otherwise(0L).as("f_word_len"),
        when(col("n_symbols") * 10 > col("n_chars"), 1L).otherwise(0L).as("f_symbols"),
        when(col("n_letterless") * 5 > col("n_words"), 1L).otherwise(0L).as("f_numeric"),
        when(col("top_wc") * 5 > col("n_words"), 1L).otherwise(0L).as("f_modal"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_short")).cast(LongType).as("fail_short"),
        sum(col("f_word_len")).cast(LongType).as("fail_word_len"),
        sum(col("f_symbols")).cast(LongType).as("fail_symbols"),
        sum(col("f_numeric")).cast(LongType).as("fail_numeric"),
        sum(col("f_modal")).cast(LongType).as("fail_modal"),
        count(when(col("f_short") + col("f_word_len") + col("f_symbols")
          + col("f_numeric") + col("f_modal") === 0, 1)).as("n_clean"))
      .orderBy(col("source"))
  }

  // text_langid_eval — the classifier eval loop closed: the langid
  // heuristic scored against the corpus's own ground-truth lang column —
  // per true language: accuracy in exact basis points and the most
  // common confusion (argmax over off-diagonal cells, deterministic
  // tie-break). Every data pipeline that ships a model-based filter
  // needs exactly this readout; it reuses langidOn verbatim (one scan,
  // the same argmax the gate already verifies) plus one dimension-sized
  // aggregation.
  val langidEval = Q(
    "text_langid_eval",
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['the','and','of','is','a'], w))) AS s_en,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['der','und','die','ist','das'], w))) AS s_de,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['le','et','la','est','les'], w))) AS s_fr,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['el','y','la','es','los'], w))) AS s_es,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                   w -> LIST_CONTAINS(['de5','shi4','le5','zai4','he2'], w))) AS s_zh
        FROM documents),
      pred AS (
        SELECT doc_id, lang,
               CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
                    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                    WHEN s_en >= s_de THEN 'en'
                    ELSE 'de' END AS predicted
        FROM scored),
      cells AS (
        SELECT lang, predicted, COUNT(*) AS n
        FROM pred GROUP BY lang, predicted),
      confusions AS (
        SELECT lang, predicted AS top_confusion FROM (
          SELECT lang, predicted,
                 ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY n DESC, predicted) AS rn
          FROM cells WHERE predicted <> lang) WHERE rn = 1)
      SELECT c.lang,
             CAST(SUM(c.n) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN c.predicted = c.lang THEN c.n ELSE 0 END) AS BIGINT)
               AS n_correct,
             CAST(SUM(CASE WHEN c.predicted = c.lang THEN c.n ELSE 0 END) * 10000
                  // SUM(c.n) AS BIGINT) AS accuracy_bp,
             COALESCE(ANY_VALUE(cf.top_confusion), '') AS top_confusion
      FROM cells c LEFT JOIN confusions cf ON cf.lang = c.lang
      GROUP BY c.lang
      ORDER BY c.lang
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val cells = langidOn(t.documents)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val wrong = cells.filter(col("predicted") =!= col("lang"))
    // minimize (−n, predicted): most-frequent cell, then smallest code
    val topConf = wrong.groupBy(col("lang"))
      .agg(min_by(col("predicted"), struct(-col("n"), col("predicted")))
        .as("top_confusion"))
    cells.groupBy(col("lang"))
      .agg(sum(col("n")).cast(LongType).as("n_docs"),
        sum(when(col("predicted") === col("lang"), col("n")).otherwise(0L))
          .cast(LongType).as("n_correct"))
      .withColumn("accuracy_bp",
        expr("n_correct * 10000 div n_docs").cast(LongType))
      .join(topConf, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_correct"), col("accuracy_bp"),
        coalesce(col("top_confusion"), lit("")).as("top_confusion"))
      .orderBy(col("lang"))
  }

  // text_sttr — segmental type-token ratio (STTR, the standard
  // windowed lexical-diversity measure: raw TTR shrinks with document
  // length, so diversity is measured per fixed-size segment and
  // averaged — Covington & McFall's MATTR is the sliding cousin). Each
  // document splits into consecutive 20-token segments (trailing
  // partial dropped; docs under 20 tokens are excluded and counted),
  // segment TTR = distinct/20, doc STTR = mean over segments — all as
  // exact basis points: sttr_bp = Σ distinct_k · 500 div nseg. The
  // whole measure is a PER-ROW array fold (sequence → slice →
  // array_distinct — codegen'd, no explode), so at 100 TB it rides the
  // scan; only the |sources|-sized summary shuffles.
  val sttr = Q(
    "text_sttr",
    Some("""
      WITH ws AS (
        SELECT source,
               list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 w -> w <> '') AS w
        FROM documents),
      seg AS (
        SELECT source, LEN(w) // 20 AS nseg,
               CASE WHEN LEN(w) >= 20 THEN
                 LIST_SUM(LIST_TRANSFORM(RANGE(0, LEN(w) // 20),
                   k -> LEN(LIST_DISTINCT(LIST_SLICE(w, k*20 + 1, k*20 + 20)))))
               END AS dsum
        FROM ws)
      SELECT source,
             CAST(COUNT(CASE WHEN nseg >= 1 THEN 1 END) AS BIGINT) AS docs_measured,
             CAST(COUNT(CASE WHEN nseg = 0 THEN 1 END) AS BIGINT) AS docs_short,
             CAST(SUM(dsum * 500 // nseg) // COUNT(CASE WHEN nseg >= 1 THEN 1 END)
               AS BIGINT) AS mean_sttr_bp,
             CAST(MIN(dsum * 500 // nseg) AS BIGINT) AS min_sttr_bp,
             CAST(MAX(dsum * 500 // nseg) AS BIGINT) AS max_sttr_bp
      FROM seg
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val w = filter(words(lower(col("text"))), x => x =!= "")
    // integer segment count (Column `/` is double division — keep the
    // arithmetic integral end to end)
    val nseg = floor(size(w).cast(LongType) / lit(20)).cast(LongType)
    val seg = t.documents.select(col("source"),
      nseg.as("nseg"),
      when(size(w) >= 20,
        aggregate(
          transform(sequence(lit(0), (nseg - 1).cast("int")),
            k => size(array_distinct(slice(w, k * 20 + 1, lit(20))))),
          lit(0L), (acc, x) => acc + x.cast(LongType))).as("dsum"))
    val sttrBp = expr("dsum * 500 div nseg")
    seg.groupBy(col("source"))
      .agg(
        count(when(col("nseg") >= 1, 1)).as("docs_measured"),
        count(when(col("nseg") === 0, 1)).as("docs_short"),
        sum(sttrBp).as("__ssum"),
        min(sttrBp).cast(LongType).as("min_sttr_bp"),
        max(sttrBp).cast(LongType).as("max_sttr_bp"))
      .select(col("source"), col("docs_measured"), col("docs_short"),
        expr("__ssum div docs_measured").cast(LongType).as("mean_sttr_bp"),
        col("min_sttr_bp"), col("max_sttr_bp"))
      .orderBy(col("source"))
  }

  // text_rake — RAKE keyword extraction ("Rapid Automatic Keyword
  // Extraction", Rose et al. 2010): candidate phrases are maximal
  // stopword-free token runs; a word scores deg(w)/freq(w) where
  // deg(w) sums the lengths of the phrases containing each occurrence;
  // a phrase scores the sum of its word scores — here in exact milli
  // units (deg·1000 div freq) so both engines agree bit-for-bit. Shape:
  // phrase ids fall out of a running stopword count per document (a
  // per-DOC window — ≤100 tokens per partition, millions of tiny
  // partitions, scale-safe), word stats are one vocabulary-keyed
  // aggregation, phrase scores join tokens to word scores on the word
  // key, and the per-source top-3 rides TopKPerGroup (map-side k-heaps
  // — the phrase relation never funnels into |sources| sort tasks).
  val rake = Q(
    "text_rake",
    Some("""
      WITH toks0 AS (
        SELECT doc_id, source, i - 1 AS pos, ws[i] AS w
        FROM (SELECT doc_id, source,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents), UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)),
      marked AS (
        SELECT doc_id, source, pos, w,
               CASE WHEN LIST_CONTAINS(
                 ['the','a','of','and','to','in','is','on','for','with'], w)
               THEN 1 ELSE 0 END AS is_stop
        FROM toks0),
      g AS (
        SELECT doc_id, source, pos, w, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM marked),
      tk AS (SELECT doc_id, source, pos, w, grp FROM g WHERE is_stop = 0),
      tk2 AS (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, grp) AS plen
              FROM tk),
      wstat AS (
        SELECT w, SUM(plen) * 1000 // COUNT(*) AS score_milli
        FROM tk2 GROUP BY w),
      phr AS (
        SELECT t.doc_id, t.grp, t.source,
               array_to_string(LIST(t.w ORDER BY t.pos), ' ') AS phrase,
               CAST(SUM(s.score_milli) AS BIGINT) AS score_milli
        FROM tk2 t JOIN wstat s ON s.w = t.w
        GROUP BY t.doc_id, t.grp, t.source),
      dd AS (
        SELECT source, phrase, COUNT(*) AS n_occurrences,
               MAX(score_milli) AS score_milli
        FROM phr GROUP BY source, phrase),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY score_milli DESC, phrase) AS rnk
        FROM dd)
      SELECT source, phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
             CAST(score_milli AS BIGINT) AS score_milli, CAST(rnk AS BIGINT) AS rnk
      FROM rk WHERE rnk <= 3
      ORDER BY source, rnk
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val toks0 = t.documents
      .select(col("doc_id"), col("source"),
        posexplode(filter(words(lower(col("text"))), w => w =!= "")))
      .toDF("doc_id", "source", "pos", "w")
      .withColumn("is_stop", col("w").isin(stopwords: _*).cast("int"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tk = toks0.withColumn("grp", sum(col("is_stop")).over(wDoc))
      .filter(col("is_stop") === 0)
    val tk2 = tk.withColumn("plen",
      count(lit(1)).over(Window.partitionBy(col("doc_id"), col("grp"))))
    val wstat = tk2.groupBy(col("w"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("w"), expr("deg * 1000 div freq").as("score_milli"))
    val phr = tk2.join(wstat, "w")
      .groupBy(col("doc_id"), col("grp"), col("source"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").as("phrase"),
        sum(col("score_milli")).cast(LongType).as("score_milli"))
    val dd = phr.groupBy(col("source"), col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(col("score_milli")).as("score_milli"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("score_milli").desc, col("phrase"))
    graft.plans.TopKPerGroup.topK(dd, Seq("source"), "score_milli", "phrase", 3)
      .withColumn("rnk", row_number().over(wTop).cast(LongType))
      .select(col("source"), col("phrase"), col("n_occurrences"),
        col("score_milli"), col("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  // pipe_interleave — deterministic proportional source interleaving
  // (the data-loader mixing order of T5/GPT-style training: each source
  // spreads EVENLY through the global stream in proportion to its
  // size, not in blocks): doc r of 1..n_s from source s lands at
  // Bresenham position p = (2r−1)·N div (2·n_s) — exact integers, no
  // RNG — and the global order is (p, source, doc_id). Scale shape:
  // per-source ranks ride GroupedPrefix (range slices, never
  // |sources| corpus sorts), N and n_s broadcast back, and the emitted
  // HEAD of the stream is cut by a position prefilter BEFORE any
  // global sort: the k-th smallest position is < k + max_p_step, so
  // p ≤ 40 bounds the candidate set to ≲ 40 + |sources| rows — the
  // only globally-sorted relation at any corpus size.
  val interleave = Q(
    "pipe_interleave",
    Some("""
      WITH counts AS (
        SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
      tot AS (SELECT SUM(n_s) AS n FROM counts),
      ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
        FROM documents),
      placed AS (
        SELECT d.doc_id, d.source,
               (2 * d.r - 1) * t.n // (2 * c.n_s) AS p
        FROM ranked d JOIN counts c ON c.source = d.source, tot t),
      head AS (
        SELECT doc_id, source, p,
               ROW_NUMBER() OVER (ORDER BY p, source, doc_id) AS seq_no
        FROM placed)
      SELECT CAST(seq_no AS BIGINT) AS seq_no, source,
             CAST(doc_id AS BIGINT) AS doc_id, CAST(p AS BIGINT) AS p
      FROM head WHERE seq_no <= 20
      ORDER BY seq_no
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val counts = t.documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum(col("n_s")).as("n"),
      count(lit(1)).as("n_sources"))
    val ranked = graft.plans.GroupedPrefix.withRank(
      t.documents.select(col("doc_id"), col("source")),
      Seq("source"), col("doc_id"), "r")
    val placed = ranked
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"), col("n_sources"),
        expr("(2 * r - 1) * n div (2 * n_s)").as("p"))
    // density bound, source-count-aware: with S sources and N > x,
    // #rows with p ≤ x is ≥ x+1−S/2 (each source s contributes
    // ≥ (x+1)·n_s/N − 1/2 of them), so x = 40+S always covers the
    // first 20 — a corpus of many TINY sources pushes every first
    // position up to ~N/(2·n_s), which a fixed cut would miss
    // entirely. The global sort still runs on ≲ 40+2S candidate rows
    // regardless of corpus size.
    val w = Window.orderBy(col("p"), col("source"), col("doc_id"))
    placed.filter(col("p") <= lit(40) + col("n_sources"))
      .withColumn("seq_no", row_number().over(w).cast(LongType))
      .filter(col("seq_no") <= 20)
      .select(col("seq_no"), col("source"),
        col("doc_id").cast(LongType).as("doc_id"),
        col("p").cast(LongType).as("p"))
      .orderBy(col("seq_no"))
  }

  // text_burstiness — per-term burstiness (Church & Gale's
  // variance-to-mean dispersion: a term whose occurrences CLUMP into
  // few documents — names, boilerplate, spam — has VMR ≫ 1, while
  // function words sit near Poisson VMR ≈ 1; corpus pipelines read the
  // bursty tail as a contamination/boilerplate signal): with
  // c_{t,d} per-doc counts over all N docs (absent = 0, which the sums
  // encode for free), VMR_t = (N·Σc² − (Σc)²) / (N·Σc) in exact e4
  // fixed point, wide products in DECIMAL(38)/HUGEINT. Terms below a
  // df ≥ 5 floor are dropped (singleton noise); the top-10 bursty
  // terms ride TopKPerGroup — the vocabulary-sized relation never
  // funnels into one sort task.
  val burstiness = Q(
    "text_burstiness",
    Some("""
      WITH toks AS (
        SELECT doc_id, w
        FROM (SELECT doc_id,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      cd AS (SELECT w, doc_id, COUNT(*) AS c FROM toks GROUP BY w, doc_id),
      per_term AS (
        SELECT w, COUNT(*) AS df, SUM(c) AS s1, SUM(c * c) AS s2
        FROM cd GROUP BY w HAVING COUNT(*) >= 5),
      scored AS (
        SELECT w, df, s1,
               (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1) * 10000
                 // (CAST(n AS HUGEINT) * s1) AS vmr_e4
        FROM per_term, nn),
      rk AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY vmr_e4 DESC, w) AS rnk
        FROM scored)
      SELECT w AS term, CAST(df AS BIGINT) AS df,
             CAST(s1 AS BIGINT) AS total_tf,
             CAST(vmr_e4 AS BIGINT) AS vmr_e4, CAST(rnk AS BIGINT) AS rnk
      FROM rk WHERE rnk <= 10
      ORDER BY rnk
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val toks = t.documents
      .select(col("doc_id"), explode(filter(words(lower(col("text"))),
        w => w =!= "")).as("w"))
    val nn = t.documents.agg(count(lit(1)).as("n"))
    val cd = toks.groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
    val perTerm = cd.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("df") >= 5)
    val scored = perTerm.crossJoin(broadcast(nn))
      .select(col("w"), col("df"), col("s1"),
        expr("(CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)" +
          " * 10000 div (CAST(n AS DECIMAL(38,0)) * s1)").as("vmr_e4"))
    val wTop = Window.orderBy(col("vmr_e4").desc, col("w"))
    graft.plans.TopKPerGroup
      .topK(scored.withColumn("g", lit(1)), Seq("g"), "vmr_e4", "w", 10)
      .withColumn("rnk", row_number().over(wTop).cast(LongType))
      .select(col("w").as("term"), col("df").cast(LongType).as("df"),
        col("s1").cast(LongType).as("total_tf"),
        col("vmr_e4").cast(LongType).as("vmr_e4"), col("rnk"))
      .orderBy(col("rnk"))
  }

  // text_hapax — hapax legomena profile per source (the lexical-richness
  // readout next to text_sttr: a corpus whose vocabulary is mostly
  // one-occurrence words is raw/noisy; one dominated by repeated terms
  // is templated/boilerplate — Zipf's tail, measured exactly): token
  // and type counts, hapax (freq 1) and dis legomena (freq 2), and the
  // hapax:type ratio in exact basis points. One explode → (source,
  // word) count — vocabulary-sized, map-side-combinable — then a
  // per-source rollup; no windows, no sorts.
  val hapax = Q(
    "text_hapax",
    Some("""
      WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)),
      wc AS (
        SELECT source, w, COUNT(*) AS f FROM toks GROUP BY source, w)
      SELECT source,
             CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(COUNT(CASE WHEN f = 1 THEN 1 END) AS BIGINT) AS hapax,
             CAST(COUNT(CASE WHEN f = 2 THEN 1 END) AS BIGINT) AS dis,
             CAST(COUNT(CASE WHEN f = 1 THEN 1 END) * 10000
                  // COUNT(*) AS BIGINT) AS hapax_bp
      FROM wc
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val wc = t.documents
      .select(col("source"),
        explode(filter(words(lower(col("text"))), x => x =!= "")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("f"))
    wc.groupBy(col("source"))
      .agg(
        sum(col("f")).cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("f") === 1, 1)).as("hapax"),
        count(when(col("f") === 2, 1)).cast(LongType).as("dis"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("hapax"),
        col("dis"),
        expr("hapax * 10000 div n_types").cast(LongType).as("hapax_bp"))
      .orderBy(col("source"))
  }

  // text_yule_k — Yule's characteristic K per source (the repeat-rate
  // lexical-diversity constant next to text_hapax: K = 10⁴·(Σf²−N)/N²,
  // high K = heavy repetition/templating, low K = rich vocabulary).
  // Exact e2 fixed point: K·100 = (Σf²−N)·10⁶ div N², the squared sums
  // DECIMAL(38,0)/HUGEINT-widened (f² passes BIGINT when one term
  // dominates a 100 TB corpus). Same vocabulary-sized relation as
  // text_hapax, map-side-combinable, no windows.
  val yuleK = Q(
    "text_yule_k",
    Some("""
      WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)),
      wc AS (
        SELECT source, w, COUNT(*) AS f FROM toks GROUP BY source, w)
      SELECT source,
             CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST((SUM(f * f) - SUM(f)) * 1000000
                  // (SUM(f) * SUM(f)) AS BIGINT) AS yule_k_e2
      FROM wc
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val wc = t.documents
      .select(col("source"),
        explode(filter(words(lower(col("text"))), x => x =!= "")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("f"))
    wc.groupBy(col("source"))
      .agg(
        sum(col("f")).cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(expr("CAST(f AS DECIMAL(38,0)) * f")).as("__f2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("(__f2 - n_tokens) * 1000000 div " +
          "(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens)")
          .cast(LongType).as("yule_k_e2"))
      .orderBy(col("source"))
  }

  // text_zipf — Zipf's-law fit over the corpus head: OLS slope of
  // ln(frequency) on ln(rank) for the top-50 terms (natural text slopes
  // ≈ −1; a much flatter or steeper head flags templated or synthetic
  // corpora — the distributional-health readout next to text_hapax's
  // tail view). The vocabulary count is one explode → map-side-
  // combinable aggregation; the head cut is a TakeOrdered 50-row heap
  // (freq desc, token asc — deterministic boundary on both engines);
  // the regression runs on 50 rows with the q67 closed form, ln of
  // exact integers, one ROUND (sum-order noise over 50 terms is ~1e-13,
  // absorbed at 4 decimals).
  val zipf = Q(
    "text_zipf",
    Some("""
      WITH toks AS (
        SELECT w
        FROM (SELECT list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)),
      wc AS (SELECT w, COUNT(*) AS f FROM toks GROUP BY w),
      top AS (
        SELECT w, f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rn
        FROM wc QUALIFY rn <= 50),
      xy AS (SELECT LN(CAST(rn AS DOUBLE)) AS x, LN(CAST(f AS DOUBLE)) AS y
             FROM top)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
             ROUND((COUNT(*)*SUM(x*y) - SUM(x)*SUM(y))
                   / (COUNT(*)*SUM(x*x) - SUM(x)*SUM(x)), 4) AS zipf_slope,
             ROUND((SUM(y) - (COUNT(*)*SUM(x*y) - SUM(x)*SUM(y))
                   / (COUNT(*)*SUM(x*x) - SUM(x)*SUM(x)) * SUM(x))
                   / COUNT(*), 4) AS zipf_intercept
      FROM xy
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val wc = t.documents
      .select(explode(filter(words(lower(col("text"))), x => x =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    // TakeOrdered heap cut, then ranks over the bounded 50-row head
    val top = wc.orderBy(col("f").desc, col("w")).limit(50)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("f").desc, col("w"))))
    val xy = top.select(log(col("rn").cast(DoubleType)).as("x"),
      log(col("f").cast(DoubleType)).as("y"))
    val agg = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    agg.select(col("n").cast(LongType).as("n_terms"),
      round(slope, 4).as("zipf_slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 4).as("zipf_intercept"))
  }

  // text_heaps — Heaps'-law fit across sources: vocabulary size grows
  // as V = k·N^β with tokens N (β ≈ 0.4–0.6 for natural text; β near 1
  // flags raw/unique-id-heavy corpora, near 0 templated ones — the
  // growth-side companion of text_zipf's frequency view). One point
  // per SOURCE (exact token/type counts from the vocabulary-sized
  // relation), then the q67 closed form over ln N / ln V on the
  // |sources|-row relation — the fact table contributes exactly one
  // aggregation.
  val heaps = Q(
    "text_heaps",
    Some("""
      WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)),
      sv AS (
        SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_types
        FROM toks GROUP BY source),
      xy AS (SELECT LN(CAST(n_tokens AS DOUBLE)) AS x,
                    LN(CAST(n_types AS DOUBLE)) AS y FROM sv)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
             ROUND((COUNT(*)*SUM(x*y) - SUM(x)*SUM(y))
                   / (COUNT(*)*SUM(x*x) - SUM(x)*SUM(x)), 4) AS heaps_beta,
             ROUND((SUM(y) - (COUNT(*)*SUM(x*y) - SUM(x)*SUM(y))
                   / (COUNT(*)*SUM(x*x) - SUM(x)*SUM(x)) * SUM(x))
                   / COUNT(*), 4) AS heaps_lnk
      FROM xy
    """)
  ) { t =>
    val sv = t.documents
      .select(col("source"),
        explode(filter(words(lower(col("text"))), x => x =!= "")).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_types"))
    val xy = sv.select(log(col("n_tokens").cast(DoubleType)).as("x"),
      log(col("n_types").cast(DoubleType)).as("y"))
    val agg = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    agg.select(col("n").cast(LongType).as("n_sources"),
      round(slope, 4).as("heaps_beta"),
      round((col("sy") - slope * col("sx")) / col("n"), 4).as("heaps_lnk"))
  }

  // text_ngram_dup_rate — corpus duplication risk per source: the share
  // of a source's 3-word-shingle OCCURRENCES whose shingle appears in
  // MORE THAN ONE document corpus-wide, exact basis points (the
  // memorization-risk audit next to the dedup_* removal operators —
  // this one measures, they act; high dup_bp sources are where
  // substring dedup pays). The shingle relation is high-cardinality-
  // keyed (shingle text), the document-frequency aggregation is
  // map-side-combinable, and the rate join is a shingle-keyed equi
  // join — work ∝ shingle occurrences, never docs².
  val ngramDupRate = Q(
    "text_ngram_dup_rate",
    Some("""
      WITH w0 AS (
        SELECT doc_id, source,
               list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 x -> x <> '') AS ws
        FROM documents),
      sh AS (
        SELECT doc_id, source,
               array_to_string(list_slice(ws, i, i + 2), ' ') AS shingle
        FROM w0, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      dfreq AS (SELECT shingle, COUNT(DISTINCT doc_id) AS nd
                FROM sh GROUP BY shingle)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) AS BIGINT) AS dup_shingles,
             CAST(COUNT(CASE WHEN nd > 1 THEN 1 END) * 10000 // COUNT(*)
               AS BIGINT) AS dup_bp
      FROM sh JOIN dfreq USING (shingle)
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val w0 = t.documents.select(col("doc_id"), col("source"),
      filter(words(lower(col("text"))), x => x =!= "").as("ws"))
    val sh = w0.select(col("doc_id"), col("source"),
      explode(transform(
        sequence(lit(1), greatest(size(col("ws")) - 2, lit(1))),
        i => array_join(slice(col("ws"), i, lit(3)), " "))).as("shingle"))
    val dfreq = sh.groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    sh.join(dfreq, "shingle")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("nd") > 1, 1)).as("dup_shingles"))
      .select(col("source"),
        col("n_shingles").cast(LongType).as("n_shingles"),
        col("dup_shingles").cast(LongType).as("dup_shingles"),
        expr("dup_shingles * 10000 div n_shingles")
          .cast(LongType).as("dup_bp"))
      .orderBy(col("source"))
  }

  // pipe_stratified_sample — per-source deterministic stratified
  // sampling with exact quotas (the corpus-subsetting step whose
  // naive form — rand() < frac — neither hits quotas nor reproduces):
  // quota_s = ceil(n_s/10), membership by per-source rank over the
  // Knuth multiplicative hash of doc_id (pipe_eval_split's portable
  // hash — reshuffles assignment pseudo-randomly, reproducible on any
  // engine/cluster). Ranks ride GroupedPrefix — no per-source sorts
  // of the corpus into |sources| partitions — and the readout checks
  // the contract: sampled counts hit the quota exactly, token mass
  // reported for both strata.
  val stratifiedSample = Q(
    "pipe_stratified_sample",
    Some("""
      WITH d AS (
        SELECT source, doc_id,
               LEN(list_filter(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                 x -> x <> '')) AS n_tok,
               (doc_id * 2654435761) % 2147483648 AS h
        FROM documents),
      r AS (
        SELECT source, doc_id, n_tok,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM d)
      SELECT source,
             CAST(MIN(n) AS BIGINT) AS n_docs,
             CAST((MIN(n) + 9) // 10 AS BIGINT) AS quota,
             CAST(COUNT(CASE WHEN rn <= (n + 9) // 10 THEN 1 END) AS BIGINT) AS n_sampled,
             CAST(SUM(CASE WHEN rn <= (n + 9) // 10 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_sampled,
             CAST(SUM(n_tok) AS BIGINT) AS tok_total,
             CAST(SUM(CASE WHEN rn <= (n + 9) // 10 THEN doc_id ELSE 0 END) AS BIGINT) AS id_checksum
      FROM r
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    import graft.plans.GroupedPrefix
    val d = t.documents.select(col("source"), col("doc_id"),
      size(filter(words(trim(col("text"))), x => x =!= ""))
        .cast(LongType).as("n_tok"),
      ((col("doc_id") * 2654435761L) % 2147483648L).as("h"))
    val ranked = GroupedPrefix.withRank(d, Seq("source"),
      struct(col("h"), col("doc_id")), "rn")
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), "source")
      .groupBy(col("source"))
      .agg(
        min(col("n")).cast(LongType).as("n_docs"),
        expr("(MIN(n) + 9) div 10").cast(LongType).as("quota"),
        count(when(expr("rn <= (n + 9) div 10"), 1)).as("n_sampled"),
        sum(when(expr("rn <= (n + 9) div 10"), col("n_tok")).otherwise(0L))
          .cast(LongType).as("tok_sampled"),
        sum(col("n_tok")).cast(LongType).as("tok_total"),
        sum(when(expr("rn <= (n + 9) div 10"), col("doc_id")).otherwise(0L))
          .cast(LongType).as("id_checksum"))
      .orderBy(col("source"))
  }

  // text_simpson — Simpson diversity per source (the third lexical-
  // richness dial beside text_sttr and text_hapax, and the one that is
  // SIZE-INVARIANT: D = Σ nᵢ(nᵢ−1) / (N(N−1)) is the probability two
  // random tokens are the same type — templated corpora read high,
  // diverse prose reads low, and unlike a raw type/token ratio the
  // value doesn't drift as the corpus grows). Exact integer arithmetic
  // end to end: per-(source, token) counts are map-side-combinable,
  // the Σnᵢ(nᵢ−1) and N(N−1) products ride DECIMAL(38)/HUGEINT (at
  // 100 TB N² overflows a Long), and the readout is D in exact parts
  // per million via integral division. Vocabulary-sized shuffle, a
  // |sources|-row rollup, no windows, no sorts.
  val simpson = Q(
    "text_simpson",
    Some("""
      WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents), UNNEST(ws) AS t(w)),
      cnt AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
      per_src AS (
        SELECT source, SUM(c) AS n_tokens, COUNT(*) AS n_types,
               SUM(CAST(c AS HUGEINT) * (c - 1)) AS num
        FROM cnt GROUP BY source)
      SELECT source,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_types AS BIGINT) AS n_types,
             CAST(num * 1000000 // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
               AS BIGINT) AS simpson_ppm
      FROM per_src
      ORDER BY source
    """)
  ) { t =>
    val cnt = t.documents
      .select(col("source"), explode(filter(words(lower(col("text"))),
        w => w =!= "")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("num"))
      .select(col("source"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        col("n_types").cast(LongType).as("n_types"),
        expr("num * 1000000 div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1))")
          .cast(LongType).as("simpson_ppm"))
      .orderBy(col("source"))
  }

  val all: Seq[Q] = Seq(tokens, quality, langid, fingerprint, cleanCorpus,
    topBigrams, piiScrub, tokenHist, stopwordProfile, repetition, vocab,
    lmScore, mixSample, decontaminate, attrition, packSequences, shardPlan,
    incremental, lenHist,
    search, boilerplate, hashEmbed, pmiPairs, bpeMerges, tokenizerApply,
    countMin, charTrigrams, gopherBattery, langidEval, sttr, rake,
    interleave, burstiness, hapax, yuleK, stratifiedSample, zipf, heaps,
    ngramDupRate, simpson, tokenizerFertility, unigramVocab, bm25)
}
