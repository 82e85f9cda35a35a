package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-curation reports (SURVEY.md §2c): the governance surface a
  * training-data pipeline publishes next to the cleaned corpus —
  * train/eval split integrity, cross-source contamination, and
  * content-novelty attribution.
  *
  * All three are hash-keyed aggregations: shingles travel as the 8-byte
  * span hashes of the codegen'd `graft_shingles` expression (never as
  * strings), and every join is either keyed on those hashes or a
  * broadcast of a per-source summary ≤ |sources| rows — so each plan is
  * one narrow scan plus hash-partitioned shuffles that scale linearly
  * with corpus bytes at 100 TB. The DuckDB oracles run the same algebra
  * over shingle *strings* (the established mirror convention of
  * dedup_ngram_jaccard: identical equality classes, collision odds
  * ~2^-64 per pair).
  */
object CurationOps {

  private def words(c: Column): Column = split(trim(c), "\\s+")

  /** DuckDB fragment: per-document distinct 3-token shingles, mirroring
    * graft_shingles' window layout (full windows for ≥3 tokens; one
    * whole-document shingle for shorter non-empty docs).
    */
  private val shinglesSql: String =
    """toks AS (
        SELECT doc_id, source, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS w
        FROM documents),
      wins AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(list_slice(w, i, i + 2), ' ') AS sh
        FROM toks, UNNEST(RANGE(1, GREATEST(LEN(w) - 2,
               CASE WHEN LEN(w) > 0 THEN 1 ELSE 0 END) + 1)) AS t(i))"""

  // pipe_eval_split — deterministic stratified train/valid/test split
  // (90/5/5 by the Knuth multiplicative hash of doc_id, the same family
  // pipe_mix_sample ranks with) plus the report that makes a split
  // publishable: per (source, split) document/token counts and a LEAK
  // column — documents whose exact content (lang|md5 of lowercased text)
  // also appears in a DIFFERENT split. Split leakage is the classic
  // eval-inflation bug: byte-identical docs landing in both train and
  // test make benchmark numbers meaningless. The leak set is derived with
  // one hash-keyed aggregation (content hash → distinct splits) and
  // joined back as a broadcast (dup groups are rare by construction), so
  // the corpus is scanned once and never shuffled as text.
  val evalSplit = Q(
    "pipe_eval_split",
    Some("""
      WITH assigned AS (
        SELECT source, doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tok,
               MD5(LOWER(text)) AS h,
               CASE WHEN (doc_id * 2654435761) % 2147483648 % 100 < 90 THEN 'train'
                    WHEN (doc_id * 2654435761) % 2147483648 % 100 < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents),
      leaky AS (
        SELECT h FROM assigned GROUP BY h HAVING COUNT(DISTINCT split) > 1)
      SELECT a.source, a.split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(a.n_tok) AS BIGINT) AS n_tokens,
             CAST(COUNT(l.h) AS BIGINT) AS n_leaked
      FROM assigned a LEFT JOIN leaky l ON l.h = a.h
      GROUP BY a.source, a.split
      ORDER BY a.source, a.split
    """)
  ) { t =>
    val bucket = (col("doc_id") * 2654435761L) % 2147483648L % 100L
    val assigned = t.documents.select(
      col("source"),
      size(words(col("text"))).cast(LongType).as("n_tok"),
      md5(lower(col("text")).cast("binary")).as("h"),
      when(bucket < 90, "train").when(bucket < 95, "valid")
        .otherwise("test").as("split"))
    val leaky = assigned.groupBy(col("h"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .select(col("h"), lit(1).as("leak"))
    assigned.join(broadcast(leaky), Seq("h"), "left")
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("n_tokens"),
        count(col("leak")).as("n_leaked"))
      .orderBy(col("source"), col("split"))
  }

  // dedup_cross_source — the cross-source contamination matrix: for every
  // pair of sources, how many distinct 3-token shingles they share, and
  // the shingle-Jaccard overlap in integer basis points. This is the
  // provenance report that tells a corpus owner WHICH feeds duplicate
  // each other (crawl-vs-crawl overlap, a mirror site, a re-crawled
  // dump) before any per-document dedup decision. The self-join is keyed
  // on the shingle hash, and a shingle seen by k sources contributes
  // k(k-1)/2 pairs with k ≤ |sources| — bounded fan-out per key, so the
  // matrix costs one aggregation over (source, shingle) pairs at any
  // corpus size. Per-source totals (≤ |sources| rows) broadcast back for
  // the Jaccard denominator.
  val crossSource = Q(
    "dedup_cross_source",
    Some(s"""
      WITH $shinglesSql,
      src_sh AS (SELECT DISTINCT source, sh FROM wins),
      totals AS (SELECT source, COUNT(*) AS n_sh FROM src_sh GROUP BY source),
      shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM src_sh a JOIN src_sh b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT s.source_a, s.source_b,
             CAST(s.n_shared AS BIGINT) AS n_shared,
             CAST(s.n_shared * 10000 // (ta.n_sh + tb.n_sh - s.n_shared) AS BIGINT)
               AS overlap_bp
      FROM shared s
      JOIN totals ta ON ta.source = s.source_a
      JOIN totals tb ON tb.source = s.source_b
      ORDER BY s.source_a, s.source_b
    """)
  ) { t =>
    val srcSh = t.documents
      .select(col("source"),
        explode(call_function("graft_shingles", col("text"))).as("sh"))
      .distinct()
    val totals = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val shared = srcSh.toDF("source_a", "sh")
      .join(srcSh.toDF("source_b", "sh2"),
        col("sh") === col("sh2") && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(totals.toDF("source_a", "n_sh_a")), "source_a")
      .join(broadcast(totals.toDF("source_b", "n_sh_b")), "source_b")
      .select(col("source_a"), col("source_b"),
        col("n_shared").cast(LongType).as("n_shared"),
        expr("n_shared * 10000 div (n_sh_a + n_sh_b - n_shared)")
          .cast(LongType).as("overlap_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // text_novelty — first-occurrence content-novelty attribution: treating
  // doc_id as ingest order, a document's novelty is the fraction of its
  // distinct 3-token shingles never seen in ANY earlier document. The
  // per-source rollup is the diminishing-returns curve of data curation —
  // it says which feeds still contribute new content and which only
  // re-tread the corpus (the signal behind de-prioritizing a crawl). The
  // global first-sighting is one min-aggregation keyed on the shingle
  // hash; joining it back to the per-document shingle stream is the same
  // hash-keyed shuffle, so the cost is two linear passes over the shingle
  // stream regardless of corpus size. Integer basis points end-to-end.
  val novelty = Q(
    "text_novelty",
    Some(s"""
      WITH $shinglesSql,
      first_seen AS (
        SELECT sh, MIN(doc_id) AS first_id FROM wins GROUP BY sh),
      per_doc AS (
        SELECT w.source, w.doc_id,
               COUNT(*) AS n_sh,
               SUM(CASE WHEN f.first_id = w.doc_id THEN 1 ELSE 0 END) AS n_novel
        FROM wins w JOIN first_seen f ON f.sh = w.sh
        GROUP BY w.source, w.doc_id)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
             CAST(SUM(n_novel) AS BIGINT) AS n_novel,
             CAST(SUM(n_novel) * 10000 // SUM(n_sh) AS BIGINT) AS novelty_bp,
             CAST(COUNT(CASE WHEN n_novel = 0 THEN 1 END) AS BIGINT) AS n_zero_novel
      FROM per_doc
      GROUP BY source
      ORDER BY source
    """)
  ) { t =>
    val wins = t.documents
      .select(col("source"), col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("sh"))
      .distinct()
    val firstSeen = wins.groupBy(col("sh")).agg(min(col("doc_id")).as("first_id"))
    val perDoc = wins.join(firstSeen, Seq("sh"))
      .groupBy(col("source"), col("doc_id"))
      .agg(
        count(lit(1)).as("n_sh"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_sh")).cast(LongType).as("n_shingles"),
        sum(col("n_novel")).cast(LongType).as("n_novel"),
        expr("sum(n_novel) * 10000 div sum(n_sh)")
          .cast(LongType).as("novelty_bp"),
        count(when(col("n_novel") === 0, 1)).as("n_zero_novel"))
      .orderBy(col("source"))
  }

  // text_tfidf — characteristic terms per source: top-5 non-stopword
  // terms ranked by an integer TF-rarity score, tf·10000 div df (term
  // frequency within the source × inverse document frequency across the
  // corpus, in exact integer arithmetic instead of the classic float
  // log-idf — same ranking intent, zero cross-engine drift). This is the
  // "what is this source actually about" card a corpus curator reads
  // next to the mix weights. Two hash-keyed aggregations (term×source
  // tf, term df) and a broadcast of the df table's aggregate — the
  // corpus is scanned once. df counts DOCUMENTS containing the term
  // (distinct doc explode), the standard idf denominator.
  val tfidf = Q(
    "text_tfidf",
    Some("""
      WITH words AS (
        SELECT doc_id, source, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS w
        FROM documents),
      terms AS (
        SELECT doc_id, source, w FROM words
        WHERE NOT LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w)),
      tf AS (
        SELECT source, w, COUNT(*) AS tf FROM terms GROUP BY source, w),
      df AS (
        SELECT w, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY w),
      scored AS (
        SELECT t.source, t.w AS term, t.tf, d.df,
               t.tf * 10000 // d.df AS score,
               ROW_NUMBER() OVER (PARTITION BY t.source
                 ORDER BY t.tf * 10000 // d.df DESC, t.w) AS rnk
        FROM tf t JOIN df d ON d.w = t.w)
      SELECT source, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
      FROM scored WHERE rnk <= 5
      ORDER BY source, rnk
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val terms = t.documents
      .select(col("doc_id"), col("source"),
        explode(words(col("text"))).as("w"))
      .filter(!col("w").isin(TextOps.stopwords: _*))
    val tf = terms.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    // the top-5 cut rides TopKPerGroup: the vocab-sized (source, term)
    // relation never funnels into |sources| window sort tasks — ≤ 5
    // rows per source cross the shuffle, and the rank label is a
    // 5-row-per-group window after the cut (the text_tv_drift shape)
    val scored = tf.join(df, "w")
      .withColumn("score", expr("tf * 10000 div df"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("w"))
    graft.plans.TopKPerGroup.topK(scored, Seq("source"), "score", "w", 5)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("source"), col("w").as("term"),
        col("tf").cast(LongType).as("tf"), col("df").cast(LongType).as("df"),
        col("score").cast(LongType).as("score"), col("rnk"))
      .orderBy(col("source"), col("rnk"))
  }

  // pipe_quality_classifier — model-based quality filtering via the
  // hashing trick (the fastText-classifier serving path of CCNet/GPT-3
  // style pipelines): every token maps to a weight through the portable
  // word hash — weight(w) = hash(w) mod 2001 − 1000 — and a document's
  // score is the weight sum; keep ⇔ score ≥ 0. The weight table here is
  // hash-derived (a deterministic stand-in for trained coefficients —
  // swap the linear map for a learned vector without touching the plan);
  // what's real and load-bearing is the serving plumbing: featurization
  // runs inside the codegen'd graft_wordhashes kernel, scoring is a
  // per-row array fold, and the rollup is one hash aggregation — a
  // single narrow corpus scan, no model join, no shuffle of text, at
  // any corpus size. Integer-exact end-to-end (31-bit hash arithmetic),
  // so the DuckDB oracle reproduces every score bit-for-bit.
  val qualityClassifier = Q(
    "pipe_quality_classifier",
    Some {
      val wh = graft.functions.PortableHash.wordHashSql("w")
      s"""
      WITH toks AS (
        SELECT doc_id, source,
               list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      scored AS (
        SELECT doc_id, source,
               list_reduce(list_prepend(0::BIGINT,
                 list_transform(ws, w -> $wh % 2001 - 1000)),
                 (a, x) -> a + x) AS sum_w
        FROM toks)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(COUNT(CASE WHEN sum_w >= 0 THEN 1 END) AS BIGINT) AS kept_docs,
             CAST(COUNT(CASE WHEN sum_w >= 0 THEN 1 END) * 10000 // COUNT(*) AS BIGINT) AS kept_bp
      FROM scored
      GROUP BY source
      ORDER BY source
      """
    }
  ) { t =>
    val scored = t.documents.select(col("source"),
      aggregate(
        transform(
          call_function("graft_wordhashes", lower(trim(col("text")))),
          h => h % 2001L - 1000L),
        lit(0L), (acc, x) => acc + x).as("sum_w"))
    scored
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        count(when(col("sum_w") >= 0, 1)).as("kept_docs"))
      .select(col("source"), col("docs"), col("kept_docs"),
        expr("kept_docs * 10000 div docs").cast(LongType).as("kept_bp"))
      .orderBy(col("source"))
  }

  // pipe_dsir_weights — hashed-feature importance weights for data
  // selection (the DSIR recipe — "Data Selection for Language Models
  // via Importance Resampling", Xie et al. 2023 — with its hashed
  // n-gram feature space, linearized to exact integer ratios instead
  // of log-likelihood so the oracle agrees bit-for-bit): every token
  // maps to one of 4096 hashed features; the target distribution is
  // the deterministic curated sample (doc_id % 7 = 0, a stand-in for
  // the target-domain corpus); a feature's importance ratio is
  // tf_target·N_raw·10⁴ div (tf_raw·N_target) in basis points (clamped
  // at 10×), and a document's weight is the mean ratio over its
  // tokens. Scale shape: the feature table is ≤ 4096 rows — it (and
  // the two totals) BROADCASTS back onto the exploded corpus, so the
  // pipeline is two map-side-combinable aggregations and one broadcast
  // join; the corpus text never shuffles. Wide products ride
  // DECIMAL(38)/HUGEINT internally; every readout is BIGINT.
  val dsirWeights = Q(
    "pipe_dsir_weights",
    Some {
      val wh = graft.functions.PortableHash.wordHashSql("w")
      s"""
      WITH toks AS (
        SELECT doc_id, source,
               list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      feat AS (
        SELECT doc_id, source, $wh % 4096 AS f
        FROM toks, UNNEST(ws) AS t(w)),
      tfr AS (SELECT f, COUNT(*) AS tf_r FROM feat GROUP BY f),
      tft AS (SELECT f, COUNT(*) AS tf_t FROM feat WHERE doc_id % 7 = 0 GROUP BY f),
      tot AS (SELECT (SELECT COUNT(*) FROM feat) AS n_r,
                     (SELECT COUNT(*) FROM feat WHERE doc_id % 7 = 0) AS n_t),
      ratio AS (
        SELECT tfr.f,
               LEAST(CAST(COALESCE(tft.tf_t, 0) AS HUGEINT) * n_r * 10000
                 // (CAST(tfr.tf_r AS HUGEINT) * n_t), 100000) AS ratio_bp
        FROM tfr LEFT JOIN tft USING (f), tot),
      dw AS (
        SELECT fe.doc_id, fe.source, SUM(r.ratio_bp) // COUNT(*) AS w_bp
        FROM feat fe JOIN ratio r ON r.f = fe.f
        GROUP BY fe.doc_id, fe.source)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(w_bp) // COUNT(*) AS BIGINT) AS mean_weight_bp,
             CAST(COUNT(CASE WHEN w_bp >= 10000 THEN 1 END) AS BIGINT) AS target_like_docs
      FROM dw
      GROUP BY source
      ORDER BY source
      """
    }
  ) { t =>
    val dw = dsirDocWeights(t.documents.select(col("doc_id"), col("text")))
    t.documents.select(col("doc_id"), col("source")).join(dw, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("w_bp")).as("__sw"),
        count(when(col("w_bp") >= 10000, 1)).as("target_like_docs"))
      .select(col("source"), col("docs"),
        expr("__sw div docs").cast(LongType).as("mean_weight_bp"),
        col("target_like_docs"))
      .orderBy(col("source"))
  }

  /** Per-document DSIR importance weight in basis points over an
    * arbitrary `(doc_id, text)` relation — the pipe_dsir_weights
    * arithmetic factored out so [[CorpusPipeline]]'s selection stage
    * and the registry operator can never drift. Target sample =
    * doc_id % 7 = 0 (the deterministic curated-reference stand-in).
    * Returns `(doc_id, w_bp)`.
    */
  private[graft] def dsirDocWeights(docs: DataFrame): DataFrame = {
    val feat = docs
      .select(col("doc_id"),
        explode(call_function("graft_wordhashes", lower(trim(col("text")))))
          .as("h"))
      .select(col("doc_id"), (col("h") % 4096).as("f"))
    val tfr = feat.groupBy(col("f")).agg(count(lit(1)).as("tf_r"))
    val tft = feat.filter(col("doc_id") % 7 === 0)
      .groupBy(col("f")).agg(count(lit(1)).as("tf_t"))
    val tot = feat.agg(count(lit(1)).as("n_r"),
      count(when(col("doc_id") % 7 === 0, 1)).as("n_t"))
    val ratio = tfr.join(tft, Seq("f"), "left")
      .na.fill(0L, Seq("tf_t"))
      .crossJoin(broadcast(tot))
      .select(col("f"),
        least(
          expr("CAST(tf_t AS DECIMAL(38,0)) * n_r * 10000" +
            " div (CAST(tf_r AS DECIMAL(38,0)) * n_t)"),
          lit(100000L)).as("ratio_bp"))
    feat.join(broadcast(ratio), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("ratio_bp")).as("rs"), count(lit(1)).as("ntok"))
      .select(col("doc_id"), expr("rs div ntok").as("w_bp"))
  }

  // pipe_dataset_card — the per-source dataset card published next to a
  // training corpus (datasheet row: volume, length profile, vocabulary,
  // language mix, duplication): docs, token volume, mean length,
  // distinct vocabulary, language count + majority language
  // (deterministic count-then-name tie-break), and exact-dup document
  // count (content-hash distinct). Three independent hash aggregations —
  // a per-source scan, a (source, token) vocabulary count, and a
  // (source, lang) majority vote — joined on `source` (≤ |sources| rows,
  // broadcast). Text never shuffles: the vocabulary stage shuffles
  // tokens, the dup stage ships md5 hashes. All counters integer-exact.
  val datasetCard = Q(
    "pipe_dataset_card",
    Some("""
      WITH base AS (
        SELECT source, COUNT(*) AS docs,
               SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS tokens,
               COUNT(*) - COUNT(DISTINCT md5(LOWER(text))) AS dup_docs,
               COUNT(DISTINCT lang) AS langs
        FROM documents GROUP BY source),
      voc AS (
        SELECT source, COUNT(DISTINCT w) AS vocab FROM (
          SELECT source,
                 UNNEST(list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                   w -> w <> '')) AS w
          FROM documents) GROUP BY source),
      lng AS (
        SELECT source, lang AS top_lang FROM (
          SELECT source, lang,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY COUNT(*) DESC, lang) AS rnk
          FROM documents GROUP BY source, lang) WHERE rnk = 1)
      SELECT b.source,
             CAST(b.docs AS BIGINT) AS docs,
             CAST(b.tokens AS BIGINT) AS tokens,
             CAST(b.tokens * 100 // b.docs AS BIGINT) AS mean_tokens_x100,
             CAST(voc.vocab AS BIGINT) AS vocab,
             CAST(b.langs AS BIGINT) AS langs,
             lng.top_lang,
             CAST(b.dup_docs AS BIGINT) AS dup_docs
      FROM base b JOIN voc USING (source) JOIN lng USING (source)
      ORDER BY b.source
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val d = t.documents
    val base = d.groupBy(col("source")).agg(
      count(lit(1)).as("docs"),
      sum(size(split(trim(col("text")), "\\s+"))).as("tokens"),
      (count(lit(1)) - countDistinct(md5(lower(col("text"))))).as("dup_docs"),
      countDistinct(col("lang")).as("langs"))
    val voc = d
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"))
      .agg(countDistinct(col("w")).as("vocab"))
    val lngW = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("lang"))
    val lng = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(lngW))
      .filter(col("rnk") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    base.join(voc, "source").join(lng, "source")
      .select(col("source"), col("docs"), col("tokens").cast(LongType).as("tokens"),
        expr("tokens * 100 div docs").cast(LongType).as("mean_tokens_x100"),
        col("vocab"), col("langs"), col("top_lang"), col("dup_docs"))
      .orderBy(col("source"))
  }

  // pipe_curriculum — quality-ordered curriculum phases: rank the corpus
  // globally by a deterministic quality proxy (stopword density in basis
  // points — the text_quality fluency signal, integer-exact), cut into 10
  // equal-count phases by closed-form bucketing of the global row number,
  // and report each phase's volume and score band. The global rank rides
  // plans.GlobalRank (range partition + per-partition prefix-sum offsets)
  // — no single-partition ROW_NUMBER window, so the ordering step scales
  // like a sort-merge shuffle, not a funnel.
  val curriculum = Q(
    "pipe_curriculum",
    Some("""
      WITH feats AS (
        SELECT doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_words,
               LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                 w -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w))) AS n_stop
        FROM documents),
      scored AS (
        SELECT doc_id, n_words, n_stop * 10000 // n_words AS score_bp
        FROM feats),
      ranked AS (
        SELECT doc_id, n_words, score_bp,
               ROW_NUMBER() OVER (ORDER BY score_bp DESC, doc_id) AS rn,
               COUNT(*) OVER () AS total
        FROM scored)
      SELECT CAST((rn - 1) * 10 // total AS BIGINT) AS phase,
             COUNT(*) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_tokens,
             CAST(MIN(score_bp) AS BIGINT) AS min_score_bp,
             CAST(MAX(score_bp) AS BIGINT) AS max_score_bp
      FROM ranked
      GROUP BY 1
      ORDER BY phase
    """)
  ) { t =>
    val ws = words(col("text"))
    val scored = t.documents
      .select(col("doc_id"),
        size(ws).cast(LongType).as("n_words"),
        size(filter(ws, w => w.isin(graft.text.TextOps.stopwords: _*)))
          .cast(LongType).as("n_stop"))
      .withColumn("score_bp", expr("n_stop * 10000 div n_words"))
    graft.plans.GlobalRank.withRowNumber(scored,
      Seq(col("score_bp").desc, col("doc_id")), 32, "rn", Some("total"))
      .groupBy(expr("(rn - 1) * 10 div total").cast(LongType).as("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast(LongType).as("n_tokens"),
        min(col("score_bp")).cast(LongType).as("min_score_bp"),
        max(col("score_bp")).cast(LongType).as("max_score_bp"))
      .orderBy(col("phase"))
  }

  // pipe_mix_weights — temperature-scaled source mixture (UniMax/mT5
  // alpha = 0.5): sampling weight ∝ sqrt(source tokens), damping the head
  // source without starving the tail. Integer-exact across engines: the
  // weight basis is floor(sqrt(n)) — IEEE sqrt is correctly rounded in
  // both, so the floor never disagrees — and shares divide with integer
  // `div`. The whole operator is one per-source aggregate (|sources|
  // rows) + a broadcast of the two grand totals back onto it.
  val mixWeights = Q(
    "pipe_mix_weights",
    Some("""
      WITH per AS (
        SELECT source,
               CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      w AS (
        SELECT source, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS rt
        FROM per)
      SELECT source, n_tokens,
             CAST(n_tokens * 10000 // SUM(n_tokens) OVER () AS BIGINT) AS nat_bp,
             CAST(rt * 10000 // SUM(rt) OVER () AS BIGINT) AS mix_bp,
             CAST((rt * 10000 // SUM(rt) OVER ()) * 1000
                  // (n_tokens * 10000 // SUM(n_tokens) OVER ()) AS BIGINT) AS boost_x1000
      FROM w
      ORDER BY source
    """)
  ) { t =>
    val per = t.documents
      .groupBy(col("source"))
      .agg(sum(size(words(col("text")))).cast(LongType).as("n_tokens"))
      .withColumn("rt", floor(sqrt(col("n_tokens").cast("double"))).cast(LongType))
    val tot = per.agg(sum(col("n_tokens")).as("__ts"), sum(col("rt")).as("__rts"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 10000 div __ts").as("nat_bp"),
        expr("rt * 10000 div __rts").as("mix_bp"),
        expr("(rt * 10000 div __rts) * 1000 div (n_tokens * 10000 div __ts)")
          .as("boost_x1000"))
      .orderBy(col("source"))
  }

  // text_coverage — vocabulary compression curve: the share of corpus
  // token volume covered by the top-{100, 1k, 10k} most frequent types
  // (the "how big a tokenizer vocab do we need" read, and a drift alarm
  // when coverage collapses). The global frequency rank is cut with the
  // two-phase TopKPerGroup plan (map-side k-heaps — only ≤ k rows per
  // task cross the shuffle, never the vocabulary), and the rank window
  // then runs over the k-bounded survivor set.
  val coverage = Q(
    "text_coverage",
    Some("""
      WITH toks AS (
        SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
          w -> w <> '')) AS w
        FROM documents),
      wc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens,
                     COUNT(*) AS n_types FROM wc),
      ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn
        FROM wc QUALIFY rn <= 10000),
      ks AS (SELECT UNNEST([100, 1000, 10000]) AS k),
      cov AS (
        SELECT k, SUM(CASE WHEN rn <= k THEN c ELSE 0 END) AS covered
        FROM ranked CROSS JOIN ks GROUP BY k)
      SELECT CAST(ks.k AS BIGINT) AS k, t.n_types, t.total_tokens,
             CAST(COALESCE(cv.covered, 0) AS BIGINT) AS covered_tokens,
             CAST(COALESCE(cv.covered, 0) * 10000 // t.total_tokens AS BIGINT) AS coverage_bp
      FROM ks CROSS JOIN tot t LEFT JOIN cov cv ON cv.k = ks.k
      ORDER BY k
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val wc = t.documents
      .select(explode(filter(split(trim(lower(col("text"))), "\\s+"),
        w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = wc.agg(sum(col("c")).cast(LongType).as("total_tokens"),
      count(lit(1)).as("n_types"))
    val top = graft.plans.TopKPerGroup.topK(
      wc.withColumn("g", lit(1)), Seq("g"), "c", "w", 10000)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("c").desc, col("w"))))
    val ks = t.spark.range(0, 3)
      .select(element_at(array(lit(100L), lit(1000L), lit(10000L)),
        (col("id") + 1).cast("int")).as("k"))
    val cov = top.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(sum(when(col("rn") <= col("k"), col("c")).otherwise(0L)).as("covered"))
    ks.crossJoin(tot)
      .join(cov, Seq("k"), "left")
      .select(col("k"), col("n_types"), col("total_tokens"),
        coalesce(col("covered"), lit(0L)).cast(LongType).as("covered_tokens"),
        expr("coalesce(covered, 0) * 10000 div total_tokens")
          .cast(LongType).as("coverage_bp"))
      .orderBy(col("k"))
  }

  // text_tv_drift — per-source distribution drift: the total-variation
  // distance ½·Σ_t |p_t − q_t| between each source's unigram
  // distribution and the whole corpus's, the monitoring statistic a
  // production ingest pipeline watches to catch a source going off-mix
  // (KL/JS need logs and FP care; TV is integer-EXACT). Everything rides
  // one common denominator: |c_ts·N − C_t·N_s| summed as DECIMAL(38,0)
  // (no overflow until ~10³⁸ — sums of token-count products stay exact
  // at any realistic corpus), and the absent-token mass needs no
  // source×vocab outer join because Σ_{t∉s} C_t·N_s = N_s·(N − Σ_{t∈s}
  // C_t) is closed-form from the covered mass. The most-drifted token
  // per source comes from the two-phase TopKPerGroup plan (k=1 partial
  // argmax map-side), not a vocab-wide window sort.
  val tvDrift = Q(
    "text_tv_drift",
    Some("""
      WITH toks AS (
        SELECT source,
               UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 w -> w <> '')) AS w
        FROM documents),
      sc AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
      cc AS (SELECT w, SUM(c) AS corpus_c FROM sc GROUP BY w),
      ns AS (SELECT source, SUM(c) AS n_src FROM sc GROUP BY source),
      n_all AS (SELECT SUM(c) AS n FROM sc),
      diffs AS (
        SELECT s.source, s.w,
               ABS(CAST(s.c AS DECIMAL(38,0)) * n.n
                   - CAST(c2.corpus_c AS DECIMAL(38,0)) * x.n_src) AS num,
               c2.corpus_c
        FROM sc s
        JOIN cc c2 ON c2.w = s.w
        JOIN ns x ON x.source = s.source
        CROSS JOIN n_all n),
      agg AS (
        SELECT d.source,
               SUM(d.num) AS part_a,
               SUM(d.corpus_c) AS covered
        FROM diffs d GROUP BY d.source),
      top AS (
        SELECT source, w AS top_token
        FROM (SELECT source, w,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY num DESC, w) AS rn
              FROM diffs) WHERE rn = 1)
      SELECT a.source,
             CAST(x.n_src AS BIGINT) AS n_tokens,
             CAST(FLOOR(10000.0 * CAST(a.part_a
                    + CAST(x.n_src AS DECIMAL(38,0)) * (n.n - a.covered) AS DOUBLE)
                  / CAST(2 * CAST(n.n AS DECIMAL(38,0)) * x.n_src AS DOUBLE))
                  AS BIGINT) AS tv_bp,
             t.top_token
      FROM agg a
      JOIN ns x ON x.source = a.source
      JOIN top t ON t.source = a.source
      CROSS JOIN n_all n
      ORDER BY a.source
    """)
  ) { t =>
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val sc = t.documents
      .select(col("source"),
        explode(filter(split(trim(lower(col("text"))), "\\s+"), w => w =!= "")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val cc = sc.groupBy(col("w")).agg(sum(col("c")).as("corpus_c"))
    val ns = sc.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val nAll = sc.agg(sum(col("c")).as("n"))
    val diffs = sc
      .join(cc, "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nAll))
      .withColumn("num",
        abs(col("c").cast(DecimalType(38, 0)) * col("n")
          - col("corpus_c").cast(DecimalType(38, 0)) * col("n_src")))
    val agg = diffs.groupBy(col("source"))
      .agg(sum(col("num")).as("part_a"), sum(col("corpus_c")).as("covered"))
    val top = graft.plans.TopKPerGroup
      .topK(diffs.select(col("source"), col("w"), col("num")),
        Seq("source"), "num", "w", 1)
      .select(col("source"), col("w").as("top_token"))
    agg
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nAll))
      .join(top, "source")
      .select(col("source"),
        col("n_src").cast(LongType).as("n_tokens"),
        floor(lit(10000.0) * (col("part_a")
          + col("n_src").cast(DecimalType(38, 0)) * (col("n") - col("covered")))
          .cast(DoubleType)
          / (lit(2) * col("n").cast(DecimalType(38, 0)) * col("n_src"))
          .cast(DoubleType))
          .cast(LongType).as("tv_bp"),
        col("top_token"))
      .orderBy(col("source"))
  }

  // text_readability — Flesch reading-ease per source from three exact
  // integer corpus sums: words (the corpus tokenizer), sentences
  // (terminal-punctuation runs), and a vowel-group syllable proxy (the
  // classic heuristic — maximal [aeiou]+ runs, which regex counts
  // identically on both engines). One scan, three codegen'd regex
  // counts per document, one aggregation; the only floating point is
  // the final scoring formula over the three BIGINTs, evaluated in the
  // same operation order on both engines and rounded once. Sentence
  // count is floored at 1 so punctuation-free shards can't divide by
  // zero.
  val readability = Q(
    "text_readability",
    Some("""
      WITH per_doc AS (
        SELECT source,
               LENGTH(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 x -> x <> '')) AS w,
               LENGTH(REGEXP_EXTRACT_ALL(text, '[.!?]+')) AS s,
               LENGTH(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiou]+')) AS y
        FROM documents),
      agg AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS words,
               GREATEST(CAST(SUM(s) AS BIGINT), 1) AS sentences,
               CAST(SUM(y) AS BIGINT) AS syllables
        FROM per_doc GROUP BY source)
      SELECT source, n_docs, words, sentences, syllables,
             ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                   - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS flesch
      FROM agg
      ORDER BY source
    """)
  ) { t =>
    val perDoc = t.documents.select(
      col("source"),
      size(filter(split(trim(lower(col("text"))), "\\s+"), x => x =!= "")).as("w"),
      size(expr("regexp_extract_all(text, '[.!?]+', 0)")).as("s"),
      size(expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")).as("y"))
    perDoc
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).cast(LongType).as("words"),
        greatest(sum(col("s")).cast(LongType), lit(1L)).as("sentences"),
        sum(col("y")).cast(LongType).as("syllables"))
      .select(col("source"), col("n_docs"), col("words"), col("sentences"),
        col("syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("words").cast("double") / col("sentences"))
          - lit(84.6) * (col("syllables").cast("double") / col("words")), 4)
          .as("flesch"))
      .orderBy(col("source"))
  }

  // pipe_epoch_shuffle — the reproducible-training-order contract:
  // each epoch is a deterministic global permutation of the corpus
  // (epoch-salted Knuth multiplicative hash), sharded by hash so the
  // order needs NO global sort — shard assignment is a pure map, and
  // within-shard positions ride plans.GroupedPrefix.withRank (r9):
  // range-partition on ((epoch, shard), (h, doc_id)), per-slice count
  // partials, slice-local windows — parallelism is numPartitions ×
  // |epochs×shards| at any corpus size. (The previous
  // `Window.partitionBy(epoch, shard)` was exactly |epochs|×|shards| =
  // 16 corpus-sized window partitions — the fixed-key funnel this
  // operator's own comment used to deny.) Epochs
  // permute differently (different salt) but identically on re-run —
  // the position-weighted doc_id checksum pins the EXACT order per
  // (epoch, shard), so an engine that shuffled nondeterministically or
  // dropped a tie-break fails the oracle.
  val epochShuffle = Q(
    "pipe_epoch_shuffle",
    Some("""
      WITH epochs AS (SELECT UNNEST(ARRAY[0, 1]) AS epoch),
      toks AS (
        SELECT doc_id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tok
        FROM documents),
      ordered AS (
        SELECT e.epoch, t.doc_id, t.n_tok,
               (t.doc_id * 2654435761 + e.epoch * 40503) % 2147483648 AS h
        FROM toks t CROSS JOIN epochs e),
      placed AS (
        SELECT epoch, doc_id, n_tok, h, h % 8 AS shard,
               ROW_NUMBER() OVER (PARTITION BY epoch, h % 8
                                  ORDER BY h, doc_id) AS pos
        FROM ordered)
      SELECT epoch, CAST(shard AS BIGINT) AS shard,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(MAX(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT)
               AS first_doc,
             CAST(SUM(pos * doc_id) AS BIGINT) AS ord_checksum
      FROM placed
      GROUP BY epoch, shard
      ORDER BY epoch, shard
    """)
  ) { t =>
    val toks = t.documents.select(col("doc_id"),
      size(words(col("text"))).cast(LongType).as("n_tok"))
    // (h, doc_id) is unique within (epoch, shard), so min-rank ==
    // row_number; GroupedPrefix keeps slice-level parallelism
    val placed = graft.plans.GroupedPrefix.withRank(
      toks
        .withColumn("epoch", explode(array(lit(0), lit(1))))
        .withColumn("h", (col("doc_id") * lit(2654435761L) +
          col("epoch") * lit(40503L)) % lit(2147483648L))
        .withColumn("shard", col("h") % lit(8L)),
      Seq("epoch", "shard"), struct(col("h"), col("doc_id")), "pos")
    placed.groupBy(col("epoch"), col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        max(when(col("pos") === 1, col("doc_id"))).cast(LongType)
          .as("first_doc"),
        sum(col("pos") * col("doc_id")).cast(LongType).as("ord_checksum"))
      .orderBy(col("epoch"), col("shard"))
  }

  // pipe_dataset_diff — release-to-release dataset diff: the governance
  // report a corpus publisher ships with every snapshot — per source,
  // how many docs were added / removed / changed / unchanged between two
  // versions, by CONTENT HASH, plus the char mass entering and leaving.
  // The two versions are deterministic views of `documents` (one-in-20
  // membership churn each way, one-in-17 content edits), standing in for
  // two real snapshot reads; membership is decided ONLY by the
  // full-outer join + hash compare — never by peeking at the generator
  // predicates — so the plan is the honest one a real diff runs.
  //
  // Scale shape: doc_id is the join key — high-cardinality, so the
  // full-outer shuffle join hash-partitions evenly at any corpus size
  // (AQE handles the residual skew); MD5 rides the projection scan
  // map-side; the readout is one map-side-combinable per-source
  // aggregate. No window, nothing dimension-keyed carries fact rows.
  val datasetDiff = Q(
    "pipe_dataset_diff",
    Some("""
      WITH v_old AS (
        SELECT doc_id, source, n_chars, MD5(text) AS h
        FROM documents WHERE doc_id % 20 <> 7),
      v_new AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 17 = 0 THEN n_chars + 3 ELSE n_chars END
                 AS n_chars,
               MD5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END)
                 AS h
        FROM documents WHERE doc_id % 20 <> 3)
      SELECT COALESCE(o.source, n.source) AS source,
             CAST(SUM(CASE WHEN o.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
             CAST(SUM(CASE WHEN n.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             CAST(SUM(CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
                            AND o.h <> n.h THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
             CAST(SUM(CASE WHEN o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
                            AND o.h = n.h THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unchanged,
             CAST(SUM(CASE WHEN o.doc_id IS NULL THEN n.n_chars ELSE 0 END)
               AS BIGINT) AS chars_added,
             CAST(SUM(CASE WHEN n.doc_id IS NULL THEN o.n_chars ELSE 0 END)
               AS BIGINT) AS chars_removed
      FROM v_old o FULL JOIN v_new n ON o.doc_id = n.doc_id
      GROUP BY 1
      ORDER BY source
    """)
  ) { t =>
    val vOld = t.documents.where(col("doc_id") % 20 =!= 7)
      .select(col("doc_id").as("o_id"), col("source").as("o_source"),
        col("n_chars").as("o_chars"), md5(col("text")).as("o_h"))
    val edited = col("doc_id") % 17 === 0
    val vNew = t.documents.where(col("doc_id") % 20 =!= 3)
      .select(col("doc_id").as("n_id"), col("source").as("n_source"),
        when(edited, col("n_chars") + 3).otherwise(col("n_chars")).as("nn_chars"),
        md5(when(edited, concat(col("text"), lit(" v2")))
          .otherwise(col("text"))).as("n_h"))
    vOld.join(vNew, col("o_id") === col("n_id"), "full_outer")
      .groupBy(coalesce(col("o_source"), col("n_source")).as("source"))
      .agg(
        sum(when(col("o_id").isNull, 1L).otherwise(0L)).cast(LongType)
          .as("n_added"),
        sum(when(col("n_id").isNull, 1L).otherwise(0L)).cast(LongType)
          .as("n_removed"),
        sum(when(col("o_id").isNotNull && col("n_id").isNotNull &&
          col("o_h") =!= col("n_h"), 1L).otherwise(0L)).cast(LongType)
          .as("n_changed"),
        sum(when(col("o_id").isNotNull && col("n_id").isNotNull &&
          col("o_h") === col("n_h"), 1L).otherwise(0L)).cast(LongType)
          .as("n_unchanged"),
        sum(when(col("o_id").isNull, col("nn_chars")).otherwise(0L))
          .cast(LongType).as("chars_added"),
        sum(when(col("n_id").isNull, col("o_chars")).otherwise(0L))
          .cast(LongType).as("chars_removed"))
      .orderBy(col("source"))
  }

  // pipe_token_budget — largest-remainder apportionment of a training
  // token budget across sources (the step after pipe_mix_weights: turn
  // proportional shares into INTEGER per-source allocations that sum
  // EXACTLY to the budget — naive floor under-allocates by up to
  // |sources|−1 tokens, naive rounding can overshoot). Budget B =
  // half the corpus token mass; each source gets base = B·n_s div T
  // plus one extra token for the `B − Σ base` largest remainders
  // (ties → source name asc, deterministic). Entirely BIGINT: products
  // B·n_s hold to ~3×10⁹ total tokens; past that lift the one product
  // to DECIMAL(38,0) (the apportionment logic is unchanged).
  //
  // Scale shape: one map-side-combinable per-source aggregate
  // (|sources| rows at any corpus size), broadcast totals, and the
  // remainder rank is a window over that dimension-sized relation —
  // the documented exception class; nothing corpus-sized is ordered.
  val tokenBudget = Q(
    "pipe_token_budget",
    Some("""
      WITH per AS (
        SELECT source,
               CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
               CAST(SUM(n_tokens) // 2 AS BIGINT) AS b
        FROM per),
      q AS (
        SELECT per.source, per.n_tokens,
               (tot.b * per.n_tokens) // tot.t AS base,
               (tot.b * per.n_tokens) % tot.t AS rem,
               tot.b AS b
        FROM per, tot),
      lo AS (SELECT CAST(MAX(b) - SUM(base) AS BIGINT) AS leftover FROM q),
      r AS (
        SELECT source, n_tokens, base, b,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        FROM q)
      SELECT r.source, r.n_tokens, CAST(r.base AS BIGINT) AS base_alloc,
             CAST(CASE WHEN r.rk <= lo.leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
             CAST(r.base + CASE WHEN r.rk <= lo.leftover THEN 1 ELSE 0 END
               AS BIGINT) AS alloc,
             CAST((r.base + CASE WHEN r.rk <= lo.leftover THEN 1 ELSE 0 END)
                  * 10000 // r.b AS BIGINT) AS share_bp
      FROM r, lo
      ORDER BY source
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val per = t.documents
      .groupBy(col("source"))
      .agg(sum(size(words(col("text")))).cast(LongType).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast(LongType).as("t"))
      .withColumn("b", expr("t div 2"))
    val q = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("b * n_tokens div t").as("base"),
        expr("(b * n_tokens) % t").as("rem"),
        col("b"))
    val lo = q.agg((max(col("b")) - sum(col("base")))
      .cast(LongType).as("leftover"))
    // remainder rank: |sources|-sized relation — the documented
    // dimension-sized window exception
    val r = q.withColumn("rk",
      row_number().over(Window.orderBy(col("rem").desc, col("source"))))
    val extra = when(col("rk") <= col("leftover"), 1L).otherwise(0L)
    r.crossJoin(broadcast(lo))
      .select(col("source"), col("n_tokens"),
        col("base").cast(LongType).as("base_alloc"),
        extra.cast(LongType).as("extra"),
        (col("base") + extra).cast(LongType).as("alloc"),
        ((col("base") + extra) * 10000).cast(LongType).as("__num"),
        col("b"))
      .select(col("source"), col("n_tokens"), col("base_alloc"),
        col("extra"), col("alloc"),
        expr("__num div b").cast(LongType).as("share_bp"))
      .orderBy(col("source"))
  }

  // text_kappa — Cohen's kappa agreement between two document quality
  // gates per source (the dedup_detector_agreement idea lifted to
  // chance-corrected form: "do my char-length and token-count filters
  // actually measure different things?"). Entirely EXACT by clearing
  // denominators: po = D/n and pe = (a1·b1 + a0·b0)/n² give
  // kappa = (D·n − P)/(n² − P) with P the marginal-product sum — both
  // BIGINT, plus a sign-split e6 readout (Spark div truncates, DuckDB
  // // floors; they agree only on non-negative operands). The den = 0
  // degenerate (both gates constant → pe = 1) reads as the perfect-
  // agreement convention 10⁶. BIGINT bound: P < n², safe to ~3×10⁹
  // docs per source; past that lift the products to DECIMAL(38,0).
  //
  // Scale shape: one map-side-combinable per-source aggregate over a
  // projection scan — the 2×2 cells are four conditional sums; nothing
  // is ordered, nothing corpus-sized crosses a shuffle beyond the
  // |sources|-row aggregate.
  val gateKappa = Q(
    "text_kappa",
    Some("""
      WITH r AS (
        SELECT source,
               CASE WHEN LENGTH(text) >= 300 THEN 1 ELSE 0 END AS a,
               CASE WHEN LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) >= 60
                    THEN 1 ELSE 0 END AS b
        FROM documents),
      c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM r GROUP BY source),
      k AS (
        SELECT source, n, n11, n10, n01, n00,
               (n11 + n00) * n -
                 ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                 AS kappa_num,
               n * n -
                 ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                 AS kappa_den
        FROM c)
      SELECT source, n, n11, n10, n01, n00, kappa_num, kappa_den,
             CASE WHEN kappa_den = 0 THEN 1000000
                  WHEN kappa_num >= 0
                    THEN kappa_num * 1000000 // kappa_den
                  ELSE -((-kappa_num) * 1000000 // kappa_den)
             END AS kappa_e6
      FROM k
      ORDER BY source
    """)
  ) { t =>
    val r = t.documents.select(col("source"),
      when(length(col("text")) >= 300, 1L).otherwise(0L).as("a"),
      when(size(words(col("text"))) >= 60, 1L).otherwise(0L).as("b"))
    val c = r.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("a") * col("b")).cast(LongType).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).cast(LongType).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).cast(LongType).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b")))
          .cast(LongType).as("n00"))
    val pe = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))
    val k = c.select(col("source"), col("n"), col("n11"), col("n10"),
      col("n01"), col("n00"),
      ((col("n11") + col("n00")) * col("n") - pe).as("kappa_num"),
      (col("n") * col("n") - pe).as("kappa_den"))
    k.select(col("source"), col("n"), col("n11"), col("n10"), col("n01"),
      col("n00"), col("kappa_num"), col("kappa_den"),
      when(col("kappa_den") === 0, 1000000L)
        .when(col("kappa_num") >= 0,
          expr("kappa_num * 1000000 div kappa_den"))
        .otherwise(-expr("(-kappa_num) * 1000000 div kappa_den"))
        .cast(LongType).as("kappa_e6"))
      .orderBy(col("source"))
  }

  // text_mcnemar — McNemar's paired test on the same two quality gates
  // as text_kappa: the discordant counts b = n10 (length-gate only) and
  // c = n01 (token-gate only) drive chi2 = (b−c)²/(b+c), the "did
  // changing the gate actually change WHO passes" statistic (marginal
  // homogeneity). EXACT: numerator and denominator are BIGINT, the
  // squared numerator is non-negative so the e6 fixed point is
  // floor/truncate-agnostic, and b+c = 0 (no discordant docs) reads as
  // the no-disagreement convention 0.
  //
  // Scale shape: identical to text_kappa — one map-side-combinable
  // per-source aggregate over a projection scan, nothing ordered.
  val mcnemar = Q(
    "text_mcnemar",
    Some("""
      WITH r AS (
        SELECT source,
               CASE WHEN LENGTH(text) >= 300 THEN 1 ELSE 0 END AS a,
               CASE WHEN LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) >= 60
                    THEN 1 ELSE 0 END AS b
        FROM documents),
      c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01
        FROM r GROUP BY source)
      SELECT source, n, n10, n01,
             (n10 - n01) * (n10 - n01) AS mcnemar_num,
             n10 + n01 AS mcnemar_den,
             CASE WHEN n10 + n01 = 0 THEN 0
                  ELSE (n10 - n01) * (n10 - n01) * 1000000 // (n10 + n01)
             END AS chi2_e6
      FROM c
      ORDER BY source
    """)
  ) { t =>
    val r = t.documents.select(col("source"),
      when(length(col("text")) >= 300, 1L).otherwise(0L).as("a"),
      when(size(words(col("text"))) >= 60, 1L).otherwise(0L).as("b"))
    val c = r.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("a") * (lit(1L) - col("b"))).cast(LongType).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).cast(LongType).as("n01"))
    val d = col("n10") - col("n01")
    c.select(col("source"), col("n"), col("n10"), col("n01"),
      (d * d).as("mcnemar_num"),
      (col("n10") + col("n01")).as("mcnemar_den"),
      when(col("n10") + col("n01") === 0, 0L)
        .otherwise(expr("(n10 - n01) * (n10 - n01) * 1000000 div (n10 + n01)"))
        .cast(LongType).as("chi2_e6"))
      .orderBy(col("source"))
  }

  val all: Seq[Q] = Seq(evalSplit, crossSource, novelty, tfidf,
    qualityClassifier, datasetCard, curriculum, mixWeights, coverage,
    tvDrift, readability, epochShuffle, datasetDiff, tokenBudget,
    gateKappa, mcnemar, dsirWeights)
}
