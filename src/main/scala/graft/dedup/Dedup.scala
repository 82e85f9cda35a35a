package graft.dedup

import graft.{Q, Tables}
import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for training-data pipelines (SURVEY.md §2c):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every near-dup algorithm is candidate-generation by
  * bucketing (band hash / simhash prefix / shared shingle) followed by
  * per-bucket or per-pair verification — never an all-pairs cartesian.
  * The self-test corpus plants perturbed twins (doc_id + 1_000_000, last
  * words dropped) so specs can assert recovery.
  */
object Dedup {

  private def words(c: Column): Column = split(trim(c), "\\s+")

  /** documents ∪ perturbed twins (last 3 words dropped, id offset 1M). */
  def withTwins(t: Tables): DataFrame = {
    val d = t.documents.select(col("doc_id"), col("text"))
    val twins = d.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      array_join(slice(words(col("text")), lit(1),
        greatest(size(words(col("text"))) - 3, lit(1))), " ").as("text"))
    d.unionAll(twins)
  }

  // dedup_exact — content-hash dedup at two normalization levels: full text
  // (md5 of lowercased text) and 20-char prefix key. One shuffle per level.
  val exact = Q(
    "dedup_exact",
    Some("""
      WITH full_key AS (
        SELECT MD5(LOWER(text)) AS k FROM documents),
      prefix_key AS (
        SELECT SUBSTR(text, 1, 20) AS k FROM documents)
      SELECT 'full_md5' AS method, COUNT(*) AS n_docs, COUNT(DISTINCT k) AS n_unique,
             COUNT(*) - COUNT(DISTINCT k) AS n_dropped
      FROM full_key
      UNION ALL
      SELECT 'prefix20' AS method, COUNT(*) AS n_docs, COUNT(DISTINCT k) AS n_unique,
             COUNT(*) - COUNT(DISTINCT k) AS n_dropped
      FROM prefix_key
      ORDER BY method
    """)
  ) { t =>
    def level(method: String, key: Column): DataFrame =
      t.documents.select(key.as("k"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("k")).as("n_unique"))
        .select(lit(method).as("method"), col("n_docs"), col("n_unique"),
          (col("n_docs") - col("n_unique")).as("n_dropped"))
    level("full_md5", md5(lower(col("text")).cast("binary")))
      .unionAll(level("prefix20", substring(col("text"), 1, 20)))
      .orderBy(col("method"))
  }

  // ---- shared oracle fragments (PortableHash contract) --------------------

  /** documents ∪ twins as a CTE — the SQL mirror of withTwins. */
  private val corpusSql =
    """corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               array_to_string(list_slice(STRING_SPLIT_REGEX(TRIM(text), '\s+'), 1,
                 GREATEST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) - 3, 1)), ' ')
        FROM documents)"""

  private val P = PortableHash.P

  /** Corpus-size-derived simhash banding: the 64-bit signature splits
    * into `bands` disjoint blocks of 64/bands bits, and docs sharing any
    * block value are candidates. Collision volume per block value is
    * O((n / 2^width)²), so block width must GROW with the corpus: 8×8-bit
    * tables (256 values each) are fine to ~10⁷ docs but quadratic at 10⁹
    * — there the split flips to 4×16-bit tables (65 536 values each),
    * trading the pigeonhole recall guarantee (hamming ≤ bands−1 always
    * caught) for a key space 256× larger. Same step function in SQL
    * (simhashBandsSqlCase) so oracle and engine can never disagree.
    */
  def simhashBands(corpusSize: Long): Int = if (corpusSize < 8388608L) 8 else 4

  /** SQL mirror of simhashBands as an aggregate over the corpus CTE. */
  private val simhashBandsSqlCase =
    "CASE WHEN COUNT(*) < 8388608 THEN 8 ELSE 4 END"

  /** CTE chain computing the portable 64-bit simhash per corpus doc and
    * the banded candidate pairs with exact hamming — shared by the
    * dedup_simhash, dedup_components, dedup_apply and dedup_incremental
    * oracles.
    *
    * Shape matters for oracle cost: the per-bit majority is a flat
    * SUM … GROUP BY over (doc, DISTINCT token, multiplicity) rows — the
    * earlier LIST_SUM(LIST_TRANSFORM(hs, …)) form re-evaluated the
    * 64-coefficient list literals inside the lambda per element (~24 s
    * of DuckDB at sf0.01 vs ~0.1 s for this form, same arithmetic:
    * Σ_instances bit = Σ_distinct cnt·bit).
    */
  private def simhashPairsSql: String = {
    val al = PortableHash.coefASql(64)
    val bl = PortableHash.coefBSql(64)
    s"""stoks AS (
        -- list_filter: SQL split of empty text yields [''] where the
        -- byte-tokenizing kernels see zero tokens — drop empty tokens so
        -- degenerate documents agree across engines
        SELECT doc_id, tok, COUNT(*) AS cnt FROM (
          SELECT doc_id, UNNEST(list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                   w -> w <> '')) AS tok
          FROM corpus)
        GROUP BY doc_id, tok),
      swt AS (SELECT doc_id, cnt, ${PortableHash.wordHashSql("tok")} AS h FROM stoks),
      bits AS (
        SELECT doc_id, b,
               CASE WHEN 2 * SUM(cnt * (((list_extract($al, b + 1) * h + list_extract($bl, b + 1)) % $P >> 15) & 1)) >= SUM(cnt)
                    THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
                              ELSE (1::BIGINT << b) END
                    ELSE 0 END AS bitval
        FROM swt, UNNEST(RANGE(0, 64)) AS t(b)
        GROUP BY doc_id, b),
      sigs0 AS (SELECT doc_id, SUM(bitval)::BIGINT AS sig FROM bits GROUP BY doc_id),
      -- zero-token docs emit no stoks rows; the kernel gives them sig 0
      sigs AS (
        SELECT c.doc_id, COALESCE(s.sig, 0) AS sig
        FROM corpus c LEFT JOIN sigs0 s ON s.doc_id = c.doc_id),
      sbp AS (SELECT $simhashBandsSqlCase AS nb FROM corpus),
      sbanded AS (
        SELECT doc_id, sig, b,
               (sig >> (b * (64 // nb))) & ((1::BIGINT << (64 // nb)) - 1) AS bval
        FROM sigs, sbp, UNNEST(RANGE(0, nb)) AS t(b)),
      spairs AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM sbanded a JOIN sbanded b
          ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id)"""
  }

  /** Non-recursive connected-components oracle: the same neighbor-min +
    * pointer-jump label propagation the Spark loop runs, unrolled as
    * `rounds` fixed step+jump CTE pairs over a `pairs(id1, id2)` CTE.
    * `rounds` MUST equal the Spark loop's round cap
    * (connectedComponents maxIters = 20): then the two are identical in
    * every case — a converged graph sits at the fixed point on both
    * sides (extra rounds are no-ops), and a pathological graph that has
    * not converged by the cap lands in the same intermediate state after
    * the same number of identical rounds. (Pointer jumping grows the
    * converged diameter exponentially per round, so 20 rounds cover
    * diameter ~2^20; sf0.01's worst component needs ~5.) Replaces a
    * WITH RECURSIVE transitive closure that was quadratic in component
    * size (~10 min of DuckDB at sf0.01 on a 623-node cluster; this form
    * is ~40 joins over the edge list, <1 s).
    */
  private def ccLabelsSql(rounds: Int = 20): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    // reference, so each round's two references to the previous round
    // would re-expand the whole upstream chain — exponential plan growth
    // (observed as "too many open files" from 2^rounds parquet scans).
    val head = s"""cedges AS MATERIALIZED (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION ALL
        SELECT id2, id1 FROM pairs),
      l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM cedges)"""
    val body = (1 to rounds).map { i =>
      val prev = if (i == 1) "l0" else s"j${i - 1}"
      s"""s$i AS MATERIALIZED (
        SELECT n.id, LEAST(n.label, COALESCE(MIN(m.label), n.label)) AS label
        FROM $prev n
        LEFT JOIN cedges e ON e.src = n.id
        LEFT JOIN $prev m ON m.id = e.dst
        GROUP BY n.id, n.label),
      j$i AS MATERIALIZED (
        SELECT a.id, COALESCE(b.label, a.label) AS label
        FROM s$i a LEFT JOIN s$i b ON b.id = a.label)"""
    }.mkString(",\n      ")
    s"$head,\n      $body,\n      labels AS (SELECT id, label FROM j$rounds)"
  }

  /** Memoized rare-shingle inverted index (shingle → sorted doc list).
    * Stop-shingle removal: shingles occurring in > maxDf docs carry almost
    * no similarity signal but dominate candidate generation (quadratic in
    * document frequency); the df cap is a length filter on the grouped
    * list, and it is what keeps the plan viable at 100 TB. Shingles come
    * from the native codegen'd expression (graft_shingles): one pass over
    * the document bytes emitting 8-byte span hashes — no shingle strings
    * are ever built. Grouped ONCE (one aggregation shuffle replaces the
    * classic index self-join, which shuffles the index twice more and
    * re-derives df separately). Warmed by buildSteps.
    */
  private[graft] def jaccardIndex(t: Tables, maxDf: Int = 50): DataFrame = {
    // maxDf is part of the memo key — a non-default cap must never
    // silently return the cached default-cap index
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + s"#jaccard-index-$maxDf")(
      withTwins(t)
        .select(col("doc_id"),
          explode(call_function("graft_shingles", col("text"))).as("shingle"))
        .distinct()
        .groupBy(col("shingle"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) <= maxDf)
        .select(col("ids"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  // dedup_ngram_jaccard — 3-word-shingle Jaccard via inverted-index
  // candidate join: explode shingles → self-join on shingle (id<id2) →
  // co-occurrence counts → Jaccard ≥ 0.6. The join key is the shingle, so
  // work is proportional to shared-shingle pairs, not |docs|². Candidate
  // pairs are emitted from each rare-shingle list with a bounded
  // O(df²) ≤ 2500 per-shingle expansion; Jaccard is computed over the
  // rare-shingle sets on both numerator and denominator — a consistent
  // approximation.
  val ngramJaccard = Q(
    "dedup_ngram_jaccard",
    // Full DuckDB oracle: the same algorithm over string shingles — the
    // Spark side joins on span hashes (collision-free in practice), the
    // oracle on the shingle text; identical pair sets and jaccard values.
    Some("""
      WITH corpus AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS ws FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               STRING_SPLIT_REGEX(TRIM(array_to_string(
                 list_slice(STRING_SPLIT_REGEX(TRIM(text), '\s+'), 1,
                   GREATEST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) - 3, 1)), ' ')), '\s+')
        FROM documents),
      inv0 AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(ws, i, i + 2), ' ') AS shingle
        FROM corpus, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      rare AS (
        SELECT shingle FROM inv0 GROUP BY shingle HAVING COUNT(*) <= 50),
      inv AS (SELECT inv0.* FROM inv0 JOIN rare USING (shingle)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      co AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS co
        FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 3)
      SELECT id1, id2,
             ROUND(CAST(co AS DOUBLE) / (s1.n + s2.n - co), 4) AS jaccard
      FROM co
      JOIN sizes s1 ON co.id1 = s1.doc_id
      JOIN sizes s2 ON co.id2 = s2.doc_id
      WHERE ROUND(CAST(co AS DOUBLE) / (s1.n + s2.n - co), 4) >= 0.6
      ORDER BY id1, id2
    """)
  ) { t =>
    val lists = jaccardIndex(t)
    val sizes = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = lists
      .filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .groupBy(col("p").getField("id1").as("id1"), col("p").getField("id2").as("id2"))
      .agg(count(lit(1)).as("co"))
      // J ≥ 0.6 ⟹ co ≥ 0.375·(n1+n2); with min doc size ~4 shingles any
      // qualifying pair has co ≥ 3 — prune the long tail of incidental
      // 1-2-shingle collisions before the size joins.
      .filter(col("co") >= 3)
    co.join(sizes.as("s1"), col("id1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("id2") === col("s2.doc_id"))
      .select(col("id1"), col("id2"),
        round(col("co").cast(DoubleType) /
          (col("s1.n") + col("s2.n") - col("co")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .orderBy(col("id1"), col("id2"))
  }

  /** Memoized banded MinHash signature table (k=16, 4 bands of 4): band
    * bucket = portable fold of the band's signature rows, seeded by the
    * band index — same arithmetic as the oracle's list_reduce. Signatures
    * come from the native codegen'd graft_minhash expression. Memoized so
    * repeated builds don't stack persisted copies; warmed by
    * buildSteps.
    */
  private[graft] def minhashBanded(t: Tables): DataFrame = {
    val k = 16; val bands = 4; val rows = k / bands
    val sig = withTwins(t)
      .select(col("doc_id"), call_function("graft_minhash", col("text")).as("sig"))
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#minhash-banded")(
      sig.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => aggregate(slice(col("sig"), b * rows + 1, lit(rows)),
            (b + 1).cast(LongType), (acc, v) => (acc * 31 + v) % P))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** The MinHash signature → banding → candidate-pair CTE chain (corpus →
    * words → shingle hashes → 16 permutations → 4 band buckets → distinct
    * same-bucket pairs with both signatures), shared by the
    * dedup_minhash_lsh and dedup_minhash_recall oracles so the candidate
    * definition can never drift between detection and its evaluation.
    */
  private def minhashCandSql: String = {
    val al = PortableHash.coefASql(16)
    val bl = PortableHash.coefBSql(16)
    val shingleStr = "array_to_string(list_slice(ws, i, i + 2), ' ')"
    s"""$corpusSql,
      words AS (SELECT doc_id, list_filter(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                   w -> w <> '') AS ws FROM corpus),
      sh AS (
        SELECT doc_id, ${PortableHash.wordHashSql(shingleStr)} AS h
        FROM words, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      sigv AS (
        SELECT doc_id, j,
               MIN((list_extract($al, j + 1) * h + list_extract($bl, j + 1)) % $P) AS v
        FROM sh, UNNEST(RANGE(0, 16)) AS t2(j)
        GROUP BY doc_id, j),
      sigs AS (SELECT doc_id, LIST(v ORDER BY j) AS sig FROM sigv GROUP BY doc_id),
      banded AS (
        SELECT doc_id, sig, b,
               list_reduce(list_prepend((b + 1)::BIGINT, list_slice(sig, b * 4 + 1, b * 4 + 4)),
                 (a, x) -> (a * 31 + x) % $P) AS bucket
        FROM sigs, UNNEST(RANGE(0, 4)) AS t(b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sig AS sig1, b.sig AS sig2
        FROM banded a JOIN banded b
          ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""
  }

  /** MinHash candidate pairs with both signatures (id1, id2, sig1, sig2) —
    * the Spark twin of [[minhashCandSql]], shared by detection and recall
    * evaluation.
    */
  private def minhashCands(t: Tables): DataFrame = {
    val banded = minhashBanded(t)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.sig").as("sig1"), col("b.sig").as("sig2"))
      .distinct()
  }

  // dedup_minhash_lsh — MinHash signatures (k=16) banded into 4 bands of 4;
  // docs sharing any band bucket are candidates; verified by signature
  // agreement (estimated Jaccard ≥ 0.5). Bucket-join, never cartesian.
  // Signatures come from the native codegen'd expression (graft_minhash);
  // the PortableHash arithmetic is replicated exactly by the DuckDB oracle.
  val minhashLsh = Q(
    "dedup_minhash_lsh",
    Some {
      s"""
      WITH $minhashCandSql
      SELECT id1, id2,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sig1, sig2),
               p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / 16.0, 4) AS est_jaccard
      FROM cand
      WHERE ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sig1, sig2),
              p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) / 16.0, 4) >= 0.5
      ORDER BY id1, id2
      """
    }
  ) { t =>
    val k = 16
    minhashCands(t)
      .select(col("id1"), col("id2"),
        round(size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          m => m)).cast(DoubleType) / k, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  // dedup_minhash_recall — estimation-quality gate for the MinHash family
  // (the dedup twin of ann_recall): for every LSH-detected pair
  // (signature-estimated Jaccard ≥ 0.5), compute the EXACT shingle-set
  // Jaccard over the same shingle hashes and report estimate, truth, and
  // error in integer basis points. A sketch that drifts (bad permutation
  // constants, band bug) shows up here as a hard err_bp number before it
  // silently over- or under-deletes a corpus. Exact co-occurrence is
  // computed only for the candidate pairs — pairs × shingles, never
  // corpus²— so the evaluation scales with what the detector emits.
  val minhashRecall = Q(
    "dedup_minhash_recall",
    Some {
      val shingleStr = "array_to_string(list_slice(ws, i, i + 2), ' ')"
      s"""
      WITH $minhashCandSql,
      est AS (
        SELECT id1, id2,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sig1, sig2),
                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) * 625 AS BIGINT) AS est_bp
        FROM cand),
      det AS (SELECT id1, id2, est_bp FROM est WHERE est_bp >= 5000),
      inv AS (
        SELECT DISTINCT doc_id, ${PortableHash.wordHashSql(shingleStr)} AS h
        FROM words, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      co AS (
        SELECT d.id1, d.id2, COUNT(*) AS co
        FROM det d
        JOIN inv a ON a.doc_id = d.id1
        JOIN inv b ON b.doc_id = d.id2 AND b.h = a.h
        GROUP BY d.id1, d.id2)
      SELECT d.id1, d.id2, d.est_bp,
             CAST(COALESCE(co.co, 0) * 10000 //
               (s1.n + s2.n - COALESCE(co.co, 0)) AS BIGINT) AS exact_bp,
             CAST(ABS(d.est_bp - COALESCE(co.co, 0) * 10000 //
               (s1.n + s2.n - COALESCE(co.co, 0))) AS BIGINT) AS err_bp
      FROM det d
      LEFT JOIN co ON co.id1 = d.id1 AND co.id2 = d.id2
      JOIN sizes s1 ON s1.doc_id = d.id1
      JOIN sizes s2 ON s2.doc_id = d.id2
      ORDER BY d.id1, d.id2
      """
    }
  ) { t =>
    val det = minhashCands(t)
      .select(col("id1"), col("id2"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          m => m)) * 625L).as("est_bp"))
      .filter(col("est_bp") >= 5000L)
    val inv = withTwins(t)
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("h"))
      .distinct()
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = det.select(col("id1"), col("id2"))
      .join(inv.select(col("doc_id").as("id1"), col("h")), "id1")
      .join(inv.select(col("doc_id").as("id2"), col("h")), Seq("id2", "h"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("co"))
    det
      .join(co, Seq("id1", "id2"), "left")
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"), col("est_bp"),
        expr("coalesce(co, 0) * 10000 div (n1 + n2 - coalesce(co, 0))").as("exact_bp"),
        abs(col("est_bp") -
          expr("coalesce(co, 0) * 10000 div (n1 + n2 - coalesce(co, 0))")).as("err_bp"))
      .orderBy(col("id1"), col("id2"))
  }

  // dedup_containment — asymmetric overlap for every MinHash-detected
  // candidate pair: containment C = |A∩B| / min(|A|,|B|) over the exact
  // shingle sets, in integer basis points, plus which doc is the
  // container (the LARGER set — the smaller one is the contained
  // near-subset). Jaccard misses the quote-inside-a-document case: a
  // 100-shingle doc fully embedded in a 1000-shingle doc scores J≈0.10
  // (kept by a 0.5 gate) but C=1.00 — the duplication the suffix-array
  // recipe clips and citation-heavy corpora are full of. Same
  // candidates × shingles join shape as dedup_minhash_recall — work
  // scales with detected pairs, never corpus².
  val containment = Q(
    "dedup_containment",
    Some {
      val shingleStr = "array_to_string(list_slice(ws, i, i + 2), ' ')"
      s"""
      WITH $minhashCandSql,
      cp AS (SELECT id1, id2 FROM cand),
      inv AS (
        SELECT DISTINCT doc_id, ${PortableHash.wordHashSql(shingleStr)} AS h
        FROM words, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      co AS (
        SELECT d.id1, d.id2, COUNT(*) AS co
        FROM cp d
        JOIN inv a ON a.doc_id = d.id1
        JOIN inv b ON b.doc_id = d.id2 AND b.h = a.h
        GROUP BY d.id1, d.id2)
      SELECT d.id1, d.id2,
             CAST(COALESCE(co.co, 0) * 10000 // LEAST(s1.n, s2.n) AS BIGINT)
               AS containment_bp,
             CAST(CASE WHEN s1.n >= s2.n THEN d.id1 ELSE d.id2 END AS BIGINT)
               AS container_id
      FROM cp d
      LEFT JOIN co ON co.id1 = d.id1 AND co.id2 = d.id2
      JOIN sizes s1 ON s1.doc_id = d.id1
      JOIN sizes s2 ON s2.doc_id = d.id2
      WHERE COALESCE(co.co, 0) * 10000 // LEAST(s1.n, s2.n) >= 5000
      ORDER BY d.id1, d.id2
      """
    }
  ) { t =>
    val cp = minhashCands(t).select(col("id1"), col("id2"))
    val inv = withTwins(t)
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("h"))
      .distinct()
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = cp
      .join(inv.select(col("doc_id").as("id1"), col("h")), "id1")
      .join(inv.select(col("doc_id").as("id2"), col("h")), Seq("id2", "h"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("co"))
    cp
      .join(co, Seq("id1", "id2"), "left")
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        expr("coalesce(co, 0) * 10000 div least(n1, n2)").as("containment_bp"),
        when(col("n1") >= col("n2"), col("id1")).otherwise(col("id2"))
          .cast(LongType).as("container_id"))
      .filter(col("containment_bp") >= 5000L)
      .orderBy(col("id1"), col("id2"))
  }

  // dedup_simhash — SimHash near-dup with multi-table banding: the 64-bit
  // signature splits into 8 disjoint 8-bit bands; docs sharing ANY band
  // value are candidates (pigeonhole: hamming ≤ 7 guarantees a clean band),
  // then exact Hamming ≤ 8 verification via bit_count(xor). The join key is
  // (band, value) — candidate volume scales with real collisions, never n².
  // The oracle recomputes the portable simhash + banding in DuckDB SQL.
  val simhashDedup = Q(
    "dedup_simhash",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql
      SELECT id1, id2, hamming FROM spairs
      WHERE hamming <= 8
      ORDER BY id1, id2
    """)
  ) { t => simhashPairs(t).orderBy(col("id1"), col("id2")) }

  /** The banded simhash near-dup pair graph (hamming ≤ 8), memoized per
    * (session, sf dir) and persisted: dedup_simhash orders it and
    * dedup_components clusters it — the signature table and bucket join
    * are computed once, not once per operator.
    *
    * The hamming verify sits INSIDE the join output, before the distinct:
    * clustered signatures make band buckets quadratic (tens of millions
    * of candidates at sf0.1), and filtering map-side keeps that volume
    * out of the dedup shuffle and the cache.
    */
  def simhashPairs(t: Tables): DataFrame = {
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#simhash-pairs")({
      // corpus-size-derived band split (one cheap count inside the
      // memoized build) — mirrors the oracle's sbp CTE
      val nb = simhashBands(withTwins(t).count())
      val w = 64 / nb
      val sigs = withTwins(t)
        .select(col("doc_id"), call_function("graft_simhash64", col("text")).as("sig"))
      val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(nb - 1)),
          b => call_function("shiftright", col("sig"), b * w)
            .bitwiseAND(lit((1L << w) - 1)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast(LongType).as("hamming"))
        .filter(col("hamming") <= 8)
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Connected-component labels (id → min reachable id) over the memoized
    * simhash pair graph, themselves memoized per (session, sf dir):
    * dedup_components groups them into duplicate clusters and dedup_apply
    * turns them into a keep/drop corpus cut — the iterative CC loop runs
    * once per dataset, not once per operator.
    */
  def simhashLabels(t: Tables): DataFrame = {
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#simhash-labels")(
      connectedComponents(simhashPairs(t).select(col("id1"), col("id2"))))
  }

  /** Connected components over a near-dup pair list (small-star label
    * propagation): every node adopts the minimum id reachable over `iters`
    * rounds; for dedup-pair graphs (small diameter) a handful of rounds
    * converges. Each iteration is one join + one aggregation — the
    * standard Spark shape for dup-group clustering, no driver-side
    * union-find.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // undirected edge list, both directions
    val ccDebug = sys.env.contains("GRAFT_CC_DEBUG")
    def dbg[A](what: String)(f: => A): A =
      if (!ccDebug) f else {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(f"[cc] $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
    // No distinct and no intermediate persist: every producer hands this
    // loop a deduped (id1 < id2) pair list (simhashPairs ends in
    // .distinct()), so doubling directions cannot create duplicate
    // edges — and even a duplicate-carrying caller only pads the
    // neighbor-MIN aggregation, never changes it. The removed
    // .distinct() was a full extra shuffle of the edge list; the
    // removed extra persist held a second copy of the same edges.
    val edges0 = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    // Size the iteration's parallelism to the graph, not the session
    // default: each round is a join+agg over the edge list, and tiny
    // graphs on many partitions pay per-round scheduling that dwarfs the
    // work (~500k edges per partition is comfortable).
    val edgeCount = dbg("edge materialize")(2L * pairs.count())
    val spark = pairs.sparkSession
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (edgeCount / 500000L).toInt + 1))
    val edges = edges0.repartition(nParts, col("dst"))
      .persist(MEMORY_AND_DISK)
    // Iterative micro-queries: AQE re-materializes and re-plans every
    // shuffle stage (a blocking round-trip per stage), and the session's
    // shuffle partitioning fans tiny data across idle tasks — both
    // overwhelm the actual join work here. Pin both for the loop only.
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    try {
      connectedComponentsLoop(edges, maxIters)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
    }
  }

  private def connectedComponentsLoop(edges: DataFrame, maxIters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("id")).distinct()
    // localCheckpoint each round: persists AND truncates the logical plan —
    // without it the iterative lineage doubles per round (labels appears
    // twice in each step) and planning itself OOMs after ~10 rounds.
    // LAZY (r16): truncation happens at creation either way (the plan
    // becomes a LogicalRDD immediately); the blocks fill during the
    // round's convergence-sum action instead of a dedicated eager job —
    // one blocking job round-trip saved per round.
    var labels = nodes.withColumn("label", col("id")).localCheckpoint(false)
    // Convergence metric: Σ label is strictly decreasing until fixed point
    // (labels only ever drop to a smaller reachable id) — one cheap agg
    // per round instead of a change-count join.
    var prevSum = Long.MaxValue
    var sum = labels.agg(org.apache.spark.sql.functions.sum(col("label"))).head().getLong(0)
    var i = 0
    // Two neighbor-min steps are fused per materialization: the dominant
    // per-round cost is the blocking action + eager checkpoint, not the
    // join itself, so halving the number of materializations ~halves wall
    // time (dup-pair graphs converge in a handful of flooding steps).
    // Two is also the MEASURED optimum (r15, sf0.1 pair graph): blocks
    // of three step+jump pairs made each materialization's plan deep
    // enough that per-block wall TRIPLED (9.1/3.6/3.0 s vs
    // 2.8/1.5/0.9/0.9 s) — total 15.7 s vs 6.1 s — so the ~7 s
    // _build_cc_labels floor is this shape's fixed scheduling/JIT cost,
    // not a tunable; it amortizes at scale (rounds grow with log
    // diameter: the measured sf0.1→sf1 slope is 2.6x on 10x rows).
    // All loop joins are hinted SHUFFLE_HASH: the sides are tiny, so the
    // default broadcast strategy would rebuild + ship a broadcast per
    // join per round — each a blocking driver job that dominates the
    // loop's wall time. Hash-shuffling a few MB is effectively free and
    // reuses the edge partitioning.
    def step(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls.withColumnRenamed("id", "dst").withColumnRenamed("label", "dst_label")
          .hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("nbr_label"))
      ls.join(neighborMin.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
    }
    // Pointer jumping (label ← label-of-label): halves path lengths per
    // application, so propagate+jump blocks converge in O(log diameter)
    // blocks instead of O(diameter) — the blocking per-block round-trip
    // is the dominant cost, not the joins.
    def jump(ls: DataFrame): DataFrame = {
      val l2 = ls.select(col("id").as("jid"), col("label").as("jlabel"))
      ls.join(l2.hint("shuffle_hash"), col("label") === col("jid"), "left")
        .select(col("id"), coalesce(col("jlabel"), col("label")).as("label"))
    }
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    while (sum < prevSum && i < maxIters) {
      val t0 = if (debug) System.nanoTime() else 0L
      val next = jump(step(jump(step(labels)))).localCheckpoint(false)
      prevSum = sum
      sum = next.agg(org.apache.spark.sql.functions.sum(col("label"))).head().getLong(0)
      if (debug) System.err.println(
        f"[cc] round $i sum=$sum wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      labels = next
      i += 2
    }
    labels
  }

  // dedup_components — end-to-end duplicate-group clustering: near-dup
  // pairs (from the banded simhash candidates) → connected components →
  // canonical doc per group (minimum id). The oracle recomputes the same
  // pairs in SQL and labels them with the same unrolled neighbor-min +
  // pointer-jump propagation the Spark loop runs (ccLabelsSql);
  // DedupSpec additionally asserts each planted twin lands in its
  // original's component.
  val components = Q(
    "dedup_components",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      pairs AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      ${ccLabelsSql()}
      SELECT label AS canonical_doc, COUNT(*) AS group_size,
             array_to_string(LIST(id::VARCHAR ORDER BY id), ',') AS member_ids
      FROM labels
      GROUP BY label
      HAVING COUNT(*) >= 2
      ORDER BY canonical_doc
    """)
  ) { t =>
    simhashLabels(t)
      .groupBy(col("label").as("canonical_doc"))
      .agg(count(lit(1)).as("group_size"),
        sort_array(collect_list(col("id"))).as("members"))
      .filter(col("group_size") >= 2)
      .select(col("canonical_doc"), col("group_size"),
        concat_ws(",", transform(col("members"), m => m.cast("string"))).as("member_ids"))
      .orderBy(col("canonical_doc"))
  }

  // dedup_canonical_quality — survivorship policy for the dedup cut:
  // dedup_components keeps the MIN-ID member per duplicate group (a
  // stable but arbitrary choice); a training pipeline wants the BEST
  // member — here argmax (distinct token types, then chars, then min
  // id) per component, all exact integers, so the truncated twin loses
  // to its richer original by construction (DedupSpec pins that). Rides
  // the memoized simhash labels — no new pass over the corpus; the
  // per-component argmax is ONE lexicographic struct-max aggregation
  // (no second join back into the group).
  val canonicalQuality = Q(
    "dedup_canonical_quality",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      pairs AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      ${ccLabelsSql()},
      feats AS (
        SELECT doc_id,
               LEN(LIST_DISTINCT(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS n_types,
               LENGTH(text) AS n_chars
        FROM corpus),
      j AS (
        SELECT l.label, l.id, f.n_types, f.n_chars
        FROM labels l JOIN feats f ON f.doc_id = l.id),
      gs AS (
        SELECT label, COUNT(*) AS group_size
        FROM j GROUP BY label HAVING COUNT(*) >= 2),
      best AS (
        SELECT label, id, n_types, n_chars,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY n_types DESC, n_chars DESC, id) AS rn
        FROM j)
      SELECT CAST(g.label AS BIGINT) AS component,
             CAST(g.group_size AS BIGINT) AS group_size,
             CAST(b.id AS BIGINT) AS canonical_doc,
             CAST(b.n_types AS BIGINT) AS canon_types,
             CAST(b.n_chars AS BIGINT) AS canon_chars
      FROM gs g JOIN best b ON b.label = g.label AND b.rn = 1
      ORDER BY component
    """)
  ) { t =>
    val labels = simhashLabels(t).withColumnRenamed("id", "doc_id")
    val feats = withTwins(t).select(col("doc_id"),
      size(array_distinct(words(col("text")))).cast(LongType).as("n_types"),
      length(col("text")).cast(LongType).as("n_chars"))
    labels.join(feats, "doc_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("group_size"),
        max(struct(col("n_types"), col("n_chars"),
          (-col("doc_id")).as("neg_id"))).as("best"))
      .filter(col("group_size") >= 2)
      .select(col("label").cast(LongType).as("component"),
        col("group_size").cast(LongType).as("group_size"),
        (-col("best.neg_id")).cast(LongType).as("canonical_doc"),
        col("best.n_types").cast(LongType).as("canon_types"),
        col("best.n_chars").cast(LongType).as("canon_chars"))
      .orderBy(col("component"))
  }

  // Hyperplane LSH machinery shared with ann_lsh — one sign table, one
  // bucket builder, one SQL mirror (functions.VectorLsh).
  private val cosSql = graft.functions.VectorLsh.cosSql("a.embedding", "b.embedding")

  /** Memoized LSH-bucketed duplicate embedding corpus: original vectors
    * + themselves under offset ids (deterministic planted dups,
    * mirroring the text twins), bucketed with a corpus-size-derived
    * plane count (one cheap count inside the memoized build — the same
    * formula the oracle evaluates in SQL). Warmed by buildSteps.
    */
  private[graft] def embBucketed(t: Tables): DataFrame = {
    val base = t.embeddings.select(col("vec_id"), col("embedding"))
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#emb-bucketed")({
      val np = graft.functions.VectorLsh.planesFor(2L * t.embeddings.count())
      base.unionAll(
        base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorLsh.bucket(col("embedding"), np).as("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  // dedup_embedding — embedding-cosine near-dup pairs: random-hyperplane
  // LSH buckets (all sign bits must agree — near-identical vectors
  // almost always do) prune candidates, exact cosine ≥ 0.99 verifies.
  // Bucket self-join, never |corpus|² — and because a bucket self-join is
  // O(per-bucket²), the plane count is derived from the corpus size
  // (VectorLsh.planesFor: 2^planes ≈ corpus/16, clamped [8, 20]) on
  // BOTH engines rather than fixed at 8, so the key space grows with the
  // data instead of going quadratic at 10⁹ vectors. The hyperplane signs
  // are literal model constants, so the oracle reproduces buckets exactly.
  /** Embedding near-dup pair CTEs (`epairs`: id1, id2, cos ≥ 0.99) —
    * shared by the dedup_embedding oracle and the detector-agreement
    * report. CTE names are e-prefixed so the chain composes with the
    * simhash fragment in one WITH block.
    */
  private def embPairsSql: String = s"""ecorpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings),
      ebp AS (SELECT ${graft.functions.VectorLsh.planesForSql("COUNT(*)")} AS np
              FROM ecorpus),
      ebucketed AS (
        SELECT vec_id, embedding,
               ${graft.functions.VectorLsh.bucketSqlDynamic("embedding", "SELECT np FROM ebp")} AS bucket
        FROM ecorpus),
      epairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, $cosSql AS cos
        FROM ebucketed a JOIN ebucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE $cosSql >= 0.99)"""

  /** Spark twin of [[embPairsSql]]: embedding near-dup pairs off the
    * memoized bucketed corpus, codegen'd cosine kernel.
    */
  private[graft] def embPairs(t: Tables): DataFrame = {
    // codegen'd cosine kernel (CosineExpr) — bit-identical to the former
    // dot/(norm·norm) fold, ~50x cheaper on the bucket-pair scoring stage
    val corpus = embBucketed(t)
    corpus.as("a")
      .join(corpus.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(call_function("graft_cos",
          col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .filter(col("cos") >= 0.99)
  }

  val embeddingDedup = Q(
    "dedup_embedding",
    Some(s"""
      WITH $embPairsSql
      SELECT id1, id2, cos FROM epairs
      ORDER BY id1, id2
    """)
  ) { t =>
    embPairs(t).orderBy(col("id1"), col("id2"))
  }

  // dedup_detector_agreement — do the TEXT detector (simhash, token
  // frequency signal) and the EMBEDDING detector (hyperplane-LSH +
  // cosine ≥ 0.99) agree on which documents are near-dups? The report a
  // pipeline reads before trusting either alone: pair counts per
  // detector, the intersection, and agreement in basis points
  // (|∩|·10⁴/|∪|). Both pair sets come off memoized index structures,
  // and the comparison itself is one full-outer equi-join on the pair
  // key + a 1-row aggregate — the op costs what the detectors already
  // paid, which is how cross-detector monitoring stays affordable at
  // 100 TB.
  val detectorAgreement = Q(
    "dedup_detector_agreement",
    Some {
      s"""
      WITH $corpusSql,
      $simhashPairsSql,
      ptext AS (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      $embPairsSql,
      pemb AS (SELECT id1, id2 FROM epairs),
      j AS (
        SELECT CASE WHEN ptext.id1 IS NOT NULL THEN 1 ELSE 0 END AS t,
               CASE WHEN pemb.id1 IS NOT NULL THEN 1 ELSE 0 END AS e
        FROM ptext FULL JOIN pemb
          ON ptext.id1 = pemb.id1 AND ptext.id2 = pemb.id2)
      SELECT CAST(SUM(t) AS BIGINT) AS n_text_pairs,
             CAST(SUM(e) AS BIGINT) AS n_embed_pairs,
             CAST(SUM(t * e) AS BIGINT) AS n_both,
             CAST(COUNT(*) AS BIGINT) AS n_union,
             CAST(SUM(t * e) * 10000 // COUNT(*) AS BIGINT) AS agreement_bp
      FROM j
      """
    }
  ) { t =>
    val a = simhashPairs(t).select(col("id1"), col("id2"), lit(1L).as("t"))
    val b = embPairs(t).select(col("id1"), col("id2"), lit(1L).as("e"))
    a.join(b, Seq("id1", "id2"), "full_outer")
      .select(coalesce(col("t"), lit(0L)).as("t"),
        coalesce(col("e"), lit(0L)).as("e"))
      .agg(sum(col("t")).as("n_text_pairs"),
        sum(col("e")).as("n_embed_pairs"),
        sum(col("t") * col("e")).as("n_both"),
        count(lit(1)).as("n_union"))
      .select(col("n_text_pairs").cast(LongType).as("n_text_pairs"),
        col("n_embed_pairs").cast(LongType).as("n_embed_pairs"),
        col("n_both").cast(LongType).as("n_both"),
        col("n_union").cast(LongType).as("n_union"),
        expr("n_both * 10000 div n_union").cast(LongType).as("agreement_bp"))
  }

  // dedup_chunks — paragraph/chunk-level dedup: tumbling 10-word chunks
  // across the twins corpus, reporting chunks that appear in more than
  // one document (the substring-duplication profile a corpus cleaner
  // removes before training). One explode + one aggregation shuffle;
  // chunk identity is the exact text, so this is also the exact-dedup
  // complement to the probabilistic near-dup family above.
  val chunkDedup = Q(
    "dedup_chunks",
    Some(s"""
      WITH $corpusSql,
      words AS (SELECT doc_id, list_filter(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                   w -> w <> '') AS ws FROM corpus),
      chunks AS (
        SELECT doc_id, array_to_string(list_slice(ws, (i - 1) * 10 + 1, i * 10), ' ') AS chunk
        FROM words, UNNEST(RANGE(1, CAST(CEIL(LEN(ws) / 10.0) AS BIGINT) + 1)) AS t(i)),
      dup AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
        FROM chunks
        GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) >= 2)
      SELECT chunk, n_docs, n_occurrences
      FROM dup
      ORDER BY n_docs DESC, chunk
      LIMIT 20
    """)
  ) { t =>
    // empty-token filter mirrors the oracle's list_filter (degenerate
    // whitespace-only docs yield [''] from split on both engines)
    val ws = filter(words(col("text")), w => w =!= "")
    val nChunks = ceil(size(ws).cast(DoubleType) / 10.0).cast("int")
    val chunks = transform(sequence(lit(1), nChunks),
      i => array_join(slice(ws, (i - 1) * 10 + 1, lit(10)), " "))
    withTwins(t)
      .select(col("doc_id"), explode(chunks).as("chunk"))
      .groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("chunk"))
      .limit(20)
  }

  /** Memoized DF-weighted banded simhash signature table (rare tokens
    * weighted 4×), used by dedup_simhash_idf. The corpus size comes from
    * the SAME frame definition the oracle counts — never a hand-derived
    * 2×documents that could drift from withTwins. The 32 lane-sum
    * aggregates pack 2 bit-counters per long (32-bit lanes): a lane
    * overflows only past 2^32 total weighted tokens per doc —
    * unreachable for any real document, unlike 16-bit lanes which a
    * >16k-rare-token doc would silently wrap. Warmed by
    * buildSteps.
    */
  private[graft] def idfBanded(t: Tables): DataFrame = {
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#idf-banded") {
      val n = withTwins(t).count()
      val tokc = withTwins(t)
        .select(col("doc_id"),
          explode(filter(split(trim(lower(col("text"))), "\\s+"), w => w =!= "")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      // cnt > 0 is a tautology (count(1) of a non-empty group): its only
      // job is to keep `cnt` REFERENCED on this branch, so the optimizer
      // cannot prune the count off the df side — pruned, the two tokc
      // subtrees stop canonicalizing equal and exchange reuse cannot
      // fire, and the r17 executed-plan dump showed the whole
      // tokenize+explode pipeline (4 parquet scans of the twins union)
      // running twice per build.
      val dft = tokc.where(col("cnt") > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val wt = tokc.join(dft, "tok")
        .select(col("doc_id"),
          (when(col("df") * 10 < n, 4L).otherwise(1L) * col("cnt")).as("wgt"),
          call_function("graft_bitlanes", col("tok")).as("lanes"))
      val laneSums = (0 until 32).map(i =>
        sum(element_at(col("lanes"), i + 1) * col("wgt")).as(s"c$i"))
      val agg = wt.groupBy(col("doc_id"))
        .agg(sum(col("wgt")).as("tw"), laneSums: _*)
      val sig = (0 until 64).map { b =>
        val cnt = shiftright(col(s"c${b >> 1}"), (b & 1) * 32).bitwiseAND(lit(0xffffffffL))
        when(cnt * 2 >= col("tw"), lit(1L << b)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
      val sigs = agg.select(col("doc_id"), sig.as("sig"))
      // same corpus-size-derived band split as simhashPairs
      val nb = simhashBands(n)
      val w = 64 / nb
      sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(nb - 1)),
          bb => call_function("shiftright", col("sig"), bb * w)
            .bitwiseAND(lit((1L << w) - 1)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  // dedup_simhash_idf — document-frequency-weighted SimHash: rare tokens
  // (df < 10% of corpus) vote with weight 4, common tokens with weight 1,
  // so ubiquitous filler words can't saturate the majority vote — the
  // failure mode where long docs sharing only boilerplate collapse into
  // one mega-component. Integer weights keep the signature exactly
  // reproducible in the oracle. The per-doc bit aggregation uses packed
  // 16-bit lanes (graft_bitlanes: 64 bit-counters in 16 longs), so it's
  // 16 plain long sums with map-side combine — no 64×-row bit explode, no
  // per-dim expression blowup. Two shuffles total (token df + per-doc
  // sums) before the usual banded bucket join.
  val simhashIdf = Q(
    "dedup_simhash_idf",
    Some {
      val al = PortableHash.coefASql(64)
      val bl = PortableHash.coefBSql(64)
      s"""
      WITH $corpusSql,
      toks AS (
        SELECT doc_id, UNNEST(list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> '')) AS tok
        FROM corpus),
      tokc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
      dft AS (SELECT tok, COUNT(*) AS df FROM tokc GROUP BY tok),
      nn AS (SELECT COUNT(*) AS n FROM corpus),
      wt AS (
        SELECT doc_id,
               (CASE WHEN df * 10 < (SELECT n FROM nn) THEN 4 ELSE 1 END) * cnt AS wgt,
               ${PortableHash.wordHashSql("tok")} AS h
        FROM tokc JOIN dft USING (tok)),
      bits AS (
        SELECT doc_id, b,
               CASE WHEN 2 * SUM(wgt * (((list_extract($al, b + 1) * h + list_extract($bl, b + 1)) % $P >> 15) & 1)) >= SUM(wgt)
                    THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
                              ELSE (1::BIGINT << b) END
                    ELSE 0 END AS bitval
        FROM wt, UNNEST(RANGE(0, 64)) AS t(b)
        GROUP BY doc_id, b),
      sigs AS (SELECT doc_id, SUM(bitval)::BIGINT AS sig FROM bits GROUP BY doc_id),
      sbp AS (SELECT $simhashBandsSqlCase AS nb FROM corpus),
      sbanded AS (
        SELECT doc_id, sig, b,
               (sig >> (b * (64 // nb))) & ((1::BIGINT << (64 // nb)) - 1) AS bval
        FROM sigs, sbp, UNNEST(RANGE(0, nb)) AS t(b)),
      wpairs AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM sbanded a JOIN sbanded b
          ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id)
      SELECT id1, id2, hamming FROM wpairs
      WHERE hamming <= 8
      ORDER BY id1, id2
      """
    }
  ) { t =>
    val banded = idfBanded(t)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct()
      .orderBy(col("id1"), col("id2"))
  }

  // dedup_apply — the end of the dedup pipeline: apply the simhash
  // near-dup components as an actual corpus cut (keep the minimum doc id
  // per duplicate cluster, keep all singletons) and report the per-source
  // yield. Reuses the memoized pair graph AND the memoized component
  // labels — zero recompute beyond one broadcast join and one aggregation.
  val applyDedup = Q(
    "dedup_apply",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      pairs AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      ${ccLabelsSql()}
      SELECT d.source,
             COUNT(*) AS n_docs,
             COUNT(CASE WHEN l.label IS NULL OR l.label = c.doc_id THEN 1 END) AS n_kept,
             COUNT(*) - COUNT(CASE WHEN l.label IS NULL OR l.label = c.doc_id THEN 1 END) AS n_dropped
      FROM corpus c
      JOIN documents d ON d.doc_id = c.doc_id % 1000000
      LEFT JOIN labels l ON l.id = c.doc_id
      GROUP BY d.source
      ORDER BY d.source
    """)
  ) { t =>
    val corpus = withTwins(t).select(col("doc_id"))
    val labels = simhashLabels(t).withColumnRenamed("id", "doc_id")
    val src = t.documents.select(col("doc_id").as("odoc"), col("source"))
    val kept = col("label").isNull || col("label") === col("doc_id")
    corpus
      .join(labels, Seq("doc_id"), "left")
      .join(broadcast(src), col("doc_id") % 1000000L === col("odoc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), count(when(kept, 1)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"))
      .orderBy(col("source"))
  }

  // dedup_incremental — the production ingest flow: a NEW batch of
  // documents (the twins, ids ≥ 1M) near-dup-checked against the EXISTING
  // corpus (the originals) — not against itself. Each new doc reports its
  // closest existing match; the batch-vs-corpus restriction is a filter
  // on the shared memoized pair graph, so daily increments never rescan
  // or re-pair the historical corpus. At 100 TB this is the shape that
  // makes dedup tractable: |new| × bucket-collisions work per day, not
  // |corpus|².
  val incremental = Q(
    "dedup_incremental",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      crossp AS (
        SELECT id1 AS old_id, id2 AS new_id, hamming
        FROM spairs
        WHERE hamming <= 8 AND id1 < 1000000 AND id2 >= 1000000),
      best AS (
        SELECT new_id, old_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY hamming, old_id) AS rn
        FROM crossp)
      SELECT new_id, old_id AS matched_old, hamming AS best_hamming
      FROM best WHERE rn = 1
      ORDER BY new_id
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val cross = simhashPairs(t)
      .filter(col("id1") < 1000000L && col("id2") >= 1000000L)
      .select(col("id1").as("old_id"), col("id2").as("new_id"), col("hamming"))
    val w = Window.partitionBy(col("new_id")).orderBy(col("hamming"), col("old_id"))
    cross
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("old_id").as("matched_old"),
        col("hamming").as("best_hamming"))
      .orderBy(col("new_id"))
  }

  // dedup_url — URL canonicalization dedup: the crawl-side complement of
  // content dedup. The corpus has no URL column, so a deterministic URL is
  // derived per document (mixed-case scheme/host, explicit default port,
  // tracking query params, optional trailing slash — the classic
  // non-canonical variants); normalization lowercases, strips the default
  // port, drops utm-only query strings, and trims the trailing slash. A
  // narrow per-row transform + one aggregation — at crawl scale this runs
  // in the scan with no extra shuffle.
  val urlDedup = Q(
    "dedup_url",
    Some("""
      WITH urls AS (
        SELECT doc_id,
               'HTTPS://CDN-' || (doc_id % 7) || '.Example.COM:443/' || source ||
               '/doc/' || (doc_id % 40) ||
               CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
               CASE WHEN doc_id % 2 = 0
                    THEN '?utm_source=feed&utm_id=' || (doc_id % 5) ELSE '' END AS url
        FROM documents),
      norm AS (
        SELECT url,
               REGEXP_REPLACE(
                 REGEXP_REPLACE(
                   REGEXP_REPLACE(LOWER(url), '\?utm_[a-z_]+=[^#]*$', ''),
                   ':443/', '/'),
                 '/$', '') AS nurl
        FROM urls)
      SELECT REGEXP_EXTRACT(nurl, '^https://([^/:]+)', 1) AS host,
             COUNT(DISTINCT url) AS n_raw,
             COUNT(DISTINCT nurl) AS n_canonical,
             COUNT(DISTINCT url) - COUNT(DISTINCT nurl) AS n_aliased
      FROM norm
      GROUP BY host
      ORDER BY host
    """)
  ) { t =>
    val url = concat(
      lit("HTTPS://CDN-"), (col("doc_id") % 7).cast("string"),
      lit(".Example.COM:443/"), col("source"),
      lit("/doc/"), (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 3 === 0, "/").otherwise(""),
      when(col("doc_id") % 2 === 0,
        concat(lit("?utm_source=feed&utm_id="), (col("doc_id") % 5).cast("string")))
        .otherwise(""))
    val nurl = regexp_replace(
      regexp_replace(
        regexp_replace(lower(col("url")), "\\?utm_[a-z_]+=[^#]*$", ""),
        ":443/", "/"),
      "/$", "")
    t.documents
      .select(col("doc_id"), url.as("url"))
      .select(col("url"), nurl.as("nurl"))
      .groupBy(regexp_extract(col("nurl"), "^https://([^/:]+)", 1).as("host"))
      .agg(countDistinct(col("url")).as("n_raw"),
        countDistinct(col("nurl")).as("n_canonical"))
      .select(col("host"), col("n_raw"), col("n_canonical"),
        (col("n_raw") - col("n_canonical")).as("n_aliased"))
      .orderBy(col("host"))
  }

  // dedup_bloom — Bloom-filter-pruned incremental exact dedup, the
  // re-crawl ingest shape at 100 TB: the corpus is aggregated ONCE into
  // a broadcast-sized Bloom sketch (distributed aggregation, one sketch
  // to the driver — the only corpus pass), the new batch filters against
  // the sketch per-partition with zero shuffle, and only the surviving
  // candidates (true dups + the fpp tail) pay the exact-confirm join.
  // The corpus is never a join side for the non-duplicate bulk of the
  // batch. False positives cannot leak: the confirm join is exact, so
  // the result equals the plain join the oracle computes. The new batch
  // = a re-ingested corpus slice (guaranteed dups, new ids) plus a
  // mutated slice (guaranteed fresh — exercises the pruning path).
  val bloomDedup = Q(
    "dedup_bloom",
    Some("""
      WITH newbatch AS (
        SELECT doc_id + 5000000 AS new_id, text
        FROM documents WHERE doc_id % 7 = 3
        UNION ALL
        SELECT doc_id + 6000000, text || ' fresh-' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id % 7 = 5)
      SELECT n.new_id,
             MIN(c.doc_id) AS dup_of,
             CAST(COUNT(*) AS BIGINT) AS n_matches
      FROM newbatch n
      JOIN documents c ON n.text = c.text
      GROUP BY n.new_id
      ORDER BY n.new_id
    """)
  ) { t =>
    val spark = t.spark
    import spark.implicits._
    val corpus = t.documents.select(col("doc_id"), col("text"))
    val newbatch = t.documents.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 5000000L).as("new_id"), col("text"))
      .unionAll(t.documents.filter(col("doc_id") % 7 === 5)
        .select((col("doc_id") + 6000000L).as("new_id"),
          concat(col("text"), lit(" fresh-"), col("doc_id").cast("string")).as("text")))
    // one corpus pass builds the sketch (partial sketches merge
    // tree-wise; the merged filter is broadcast-sized: ~1.2 MB per 1M
    // docs at 1% fpp, so even 10B docs is a ~12 GB filter sharded by
    // hash prefix — here one shard suffices)
    val corpusHashes = corpus.select(xxhash64(col("text")).as("h"))
    val bf = corpusHashes.stat.bloomFilter("h", math.max(corpus.count(), 1L), 0.01)
    val bfBc = spark.sparkContext.broadcast(bf)
    val candidates = newbatch
      .select(col("new_id"), col("text"), xxhash64(col("text")).as("h"))
      .as[(Long, String, Long)]
      .filter(r => bfBc.value.mightContainLong(r._3))
      .toDF("new_id", "text", "h")
    candidates
      .join(corpus, Seq("text"))
      .groupBy(col("new_id"))
      .agg(min(col("doc_id")).as("dup_of"), count(lit(1)).as("n_matches"))
      .orderBy(col("new_id"))
  }

  // dedup_substring — exact-substring duplication detection (the
  // suffix-array criterion of "Deduplicating Training Data Makes
  // Language Models Better", distributed): two documents share an exact
  // substring of ≥ L tokens IFF they share at least one sliding L-token
  // window, so exploding every window and counting cross-document
  // occurrences detects exactly the pairs a suffix array would — with
  // one linear explode + one aggregation instead of a global sorted
  // index. Windows shuffle as 8-byte dual-fold hashes (graft_winhash,
  // rolled in one pass over the document bytes), never as the ~70-byte
  // concatenated window strings — at 100 TB that is the difference
  // between shuffling ~10× the corpus' token bytes and ~1×. The df
  // filter drops the unique tail map-side, and the twins corpus
  // guarantees planted hits. L = 10 tokens.
  /** DuckDB mirror of the per-position window-hash stream. */
  private def winsSql(distinct: Boolean): String = {
    val winStr = "array_to_string(list_slice(w, i, i + 9), ' ')"
    val d = if (distinct) "DISTINCT " else ""
    s"""toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS w
        FROM corpus),
      wins AS (
        SELECT ${d}doc_id, i AS pos, ${PortableHash.wideHashSql(winStr)} AS wh
        FROM toks, UNNEST(RANGE(1, GREATEST(LEN(w) - 9, 0) + 1)) AS t(i))"""
  }

  val substringDedup = Q(
    "dedup_substring",
    Some(s"""
      WITH $corpusSql,
      ${winsSql(distinct = false)},
      dwins AS (SELECT DISTINCT doc_id, wh FROM wins),
      rep AS (
        SELECT wh FROM dwins GROUP BY wh HAVING COUNT(*) >= 2),
      per_doc AS (
        SELECT w.doc_id,
               COUNT(*) AS n_windows,
               COUNT(r.wh) AS n_rep
        FROM dwins w LEFT JOIN rep r ON r.wh = w.wh
        GROUP BY w.doc_id)
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(CASE WHEN p.n_rep > 0 THEN 1 END) AS BIGINT) AS n_docs_with_rep,
             CAST(COALESCE(SUM(p.n_windows), 0) AS BIGINT) AS n_windows,
             CAST(COALESCE(SUM(p.n_rep), 0) AS BIGINT) AS n_rep_windows
      FROM corpus c
      JOIN documents d ON d.doc_id = c.doc_id % 1000000
      LEFT JOIN per_doc p ON p.doc_id = c.doc_id
      GROUP BY d.source
      ORDER BY d.source
    """)
  ) { t =>
    val wins = withTwins(t)
      .select(col("doc_id"),
        explode(call_function("graft_winhash", col("text"))).as("wh"))
      .distinct()
    val rep = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("wh"))
    val perDoc = wins.join(rep.withColumn("hit", lit(1)), Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), count(col("hit")).as("n_rep"))
    withTwins(t).select(col("doc_id"))
      .join(t.documents.select((col("doc_id")).as("orig_id"), col("source")),
        col("doc_id") % 1000000 === col("orig_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("n_rep") > 0, 1)).as("n_docs_with_rep"),
        coalesce(sum(col("n_windows")), lit(0L)).cast(LongType).as("n_windows"),
        coalesce(sum(col("n_rep")), lit(0L)).cast(LongType).as("n_rep_windows"))
      .orderBy(col("source"))
  }

  // dedup_substring_extents — the EXTENT half of the suffix-array
  // criterion: the reference recipe *clips* the duplicated span, so a
  // keep/clip decision needs each document's longest repeated run, not
  // just a flag. Window position i is repeated when its 10-token window
  // occurs ≥ 2 times corpus-wide (with multiplicity — within-document
  // repeats clip too); adjacent repeated positions merge into runs
  // (windows i and i+1 repeated ⇒ the shared substring extends to i+10),
  // classic gaps-and-islands: pos − row_number() is constant per run.
  // Run [s, e] covers tokens s .. e+9, so run_len = e − s + 10. One
  // window function partitioned by doc (no skew: partitions are
  // per-document), all-integer output.
  val substringExtents = Q(
    "dedup_substring_extents",
    Some(s"""
      WITH $corpusSql,
      ${winsSql(distinct = false)},
      rep AS (
        SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
      rp AS (
        SELECT w.doc_id, w.pos FROM wins w JOIN rep r ON r.wh = w.wh),
      runs AS (
        SELECT doc_id, MIN(pos) AS run_start,
               MAX(pos) - MIN(pos) + 10 AS run_len
        FROM (
          SELECT doc_id, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM rp)
        GROUP BY doc_id, grp),
      best AS (
        SELECT doc_id, run_start, run_len,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY run_len DESC, run_start) AS rn
        FROM runs)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(run_start AS BIGINT) AS run_start,
             CAST(run_len AS BIGINT) AS run_len
      FROM best WHERE rn = 1
      ORDER BY doc_id
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val wins = withTwins(t)
      .select(col("doc_id"),
        posexplode(call_function("graft_winhash", col("text"))).as(Seq("pos0", "wh")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("wh"))
    val rep = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("wh"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = wins.join(rep, Seq("wh"))
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("run_start"),
        (max(col("pos")) - min(col("pos")) + lit(10L)).as("run_len"))
    val bestFirst = Window.partitionBy(col("doc_id"))
      .orderBy(col("run_len").desc, col("run_start"))
    runs.withColumn("rn", row_number().over(bestFirst))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("run_start").cast(LongType).as("run_start"),
        col("run_len").cast(LongType).as("run_len"))
      .orderBy(col("doc_id"))
  }

  // dedup_substring_clip — the APPLY step of the suffix-array recipe: the
  // clipped-corpus yield report after removing EVERY repeated run (not
  // just the longest) from each document. Runs come from the same
  // gaps-and-islands chain as dedup_substring_extents; adjacent runs'
  // token spans can OVERLAP by up to windowLen−1 tokens (runs at
  // positions 1–5 and 8–10 cover tokens 1–14 and 8–19), so removed-token
  // counts are the measure of the interval UNION — computed with one
  // running-max window per doc (covered_i = e_i − max(s_i, prevmax+1) + 1
  // clamped at 0), never a sum of run lengths, which would double-count.
  // Everything is integer token arithmetic — both engines agree exactly.
  val substringClip = Q(
    "dedup_substring_clip",
    Some(s"""
      WITH $corpusSql,
      ${winsSql(distinct = false)},
      rep AS (
        SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) >= 2),
      rp AS (
        SELECT w.doc_id, w.pos FROM wins w JOIN rep r ON r.wh = w.wh),
      runs AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 9 AS e
        FROM (
          SELECT doc_id, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM rp)
        GROUP BY doc_id, grp),
      cov AS (
        SELECT doc_id,
               GREATEST(0, e - GREATEST(s, COALESCE(pm, 0) + 1) + 1) AS covered
        FROM (SELECT doc_id, s, e,
                     MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
              FROM runs)),
      clipped AS (
        SELECT doc_id, SUM(covered) AS removed FROM cov GROUP BY doc_id)
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(c.doc_id) AS BIGINT) AS n_docs_clipped,
             CAST(SUM(LEN(t.w)) AS BIGINT) AS tokens_before,
             CAST(COALESCE(SUM(c.removed), 0) AS BIGINT) AS tokens_removed,
             CAST(SUM(LEN(t.w)) - COALESCE(SUM(c.removed), 0) AS BIGINT)
               AS tokens_after
      FROM corpus cor
      JOIN documents d ON d.doc_id = cor.doc_id % 1000000
      JOIN toks t ON t.doc_id = cor.doc_id
      LEFT JOIN clipped c ON c.doc_id = cor.doc_id
      GROUP BY d.source
      ORDER BY d.source
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val wins = withTwins(t)
      .select(col("doc_id"),
        posexplode(call_function("graft_winhash", col("text"))).as(Seq("pos0", "wh")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("wh"))
    val rep = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("wh"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = wins.join(rep, Seq("wh"))
      .withColumn("grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(9L)).as("e"))
    val prevMax = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clipped = runs
      .withColumn("pm", max(col("e")).over(prevMax))
      .select(col("doc_id"),
        greatest(lit(0L), col("e") -
          greatest(col("s"), coalesce(col("pm"), lit(0L)) + 1) + 1).as("covered"))
      .groupBy(col("doc_id"))
      .agg(sum(col("covered")).as("removed"))
    withTwins(t)
      .select(col("doc_id"), size(words(col("text"))).cast(LongType).as("n_tok"))
      .join(t.documents.select(col("doc_id").as("orig_id"), col("source")),
        col("doc_id") % 1000000 === col("orig_id"))
      .join(clipped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("removed")).as("n_docs_clipped"),
        sum(col("n_tok")).cast(LongType).as("tokens_before"),
        coalesce(sum(col("removed")), lit(0L)).cast(LongType).as("tokens_removed"),
        (sum(col("n_tok")) - coalesce(sum(col("removed")), lit(0L)))
          .cast(LongType).as("tokens_after"))
      .orderBy(col("source"))
  }

  // pipe_train_corpus — the capstone: a production corpus-cleaning
  // recipe as ONE composed job over the raw documents —
  //   1. quality gate (word count + stopword ratio; fuses into the scan)
  //   2. exact dedup on normalized content (keep the minimum doc id)
  //   3. near-dup cut via the MEMOIZED simhash component labels: each
  //      duplicate cluster keeps its minimum SURVIVING doc — the keeper
  //      is chosen among the docs that passed stages 1–2, so a cluster
  //      whose global-min member was quality-gated away still
  //      contributes its best remaining member (dropping the whole
  //      cluster would silently lose content)
  //   4. deterministic stratified mix sampling to per-source targets
  //      (portable integer hash ranking — reproducible across engines)
  // with a per-source yield report at the end of each stage, so the cut
  // composition is auditable. The expensive structure (the pair graph)
  // is shared, not rebuilt, and each stage's survivor set is
  // localCheckpoint-materialized once — the multi-flag report joins read
  // the materialized sets instead of re-running the gate regexes and the
  // dedup aggregation once per flag branch.
  val trainCorpus = Q(
    "pipe_train_corpus",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      pairs AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      ${ccLabelsSql()},
      gated AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d
        WHERE LEN(STRING_SPLIT_REGEX(TRIM(d.text), '\\s+')) >= 20
          AND CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(d.text), '\\s+'),
                w -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], w)))
              AS DOUBLE) /
              LEN(STRING_SPLIT_REGEX(TRIM(d.text), '\\s+')) >= 0.05),
      exact_kept AS (
        SELECT MIN(doc_id) AS doc_id
        FROM gated
        GROUP BY MD5(LOWER(text))),
      exact_surv AS (
        SELECT g.doc_id, g.source
        FROM gated g JOIN exact_kept k ON k.doc_id = g.doc_id),
      labeled AS (
        SELECT e.doc_id, e.source, COALESCE(l.label, e.doc_id) AS grp
        FROM exact_surv e LEFT JOIN labels l ON l.id = e.doc_id),
      near_surv AS (
        SELECT doc_id, source
        FROM (SELECT doc_id, source,
                     MIN(doc_id) OVER (PARTITION BY grp) AS keeper
              FROM labeled)
        WHERE doc_id = keeper),
      ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY (doc_id * 2654435761) % 2147483648, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_near
        FROM near_surv),
      sampled AS (
        SELECT doc_id, source, n_near
        FROM ranked
        WHERE rn <= n_near * (CASE WHEN LENGTH(source) % 2 = 0 THEN 40 ELSE 10 END) // 100),
      per_source AS (
        SELECT d.source,
               COUNT(*) AS n_raw,
               COUNT(g.doc_id) AS n_gated,
               COUNT(e.doc_id) AS n_exact,
               COUNT(n.doc_id) AS n_near,
               COUNT(s.doc_id) AS n_final,
               COALESCE(SUM(s.doc_id), 0) AS final_id_sum
        FROM documents d
        LEFT JOIN gated g ON g.doc_id = d.doc_id
        LEFT JOIN exact_surv e ON e.doc_id = d.doc_id
        LEFT JOIN near_surv n ON n.doc_id = d.doc_id
        LEFT JOIN sampled s ON s.doc_id = d.doc_id
        GROUP BY d.source)
      SELECT source, CAST(n_raw AS BIGINT) AS n_raw,
             CAST(n_gated AS BIGINT) AS n_gated,
             CAST(n_exact AS BIGINT) AS n_exact,
             CAST(n_near AS BIGINT) AS n_near,
             CAST(n_final AS BIGINT) AS n_final,
             CAST(final_id_sum AS BIGINT) AS final_id_sum
      FROM per_source
      ORDER BY source
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val ws = split(trim(col("text")), "\\s+")
    val nStop = size(filter(ws, w =>
      w.isin(graft.text.TextOps.stopwords: _*)))
    // one gate scan, materialized (eager localCheckpoint): every later
    // stage and flag branch reads this, never the regex gate again
    val gated = t.documents
      .filter(size(ws) >= 20 &&
        nStop.cast(DoubleType) / size(ws) >= 0.05)
      .select(col("doc_id"), col("source"),
        md5(lower(col("text")).cast("binary")).as("k"))
      .localCheckpoint(false)
    val exactKept = gated
      .groupBy(col("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactSurv = gated.join(exactKept, "doc_id")
      .select(col("doc_id"), col("source"))
      .localCheckpoint(false)
    val labels = simhashLabels(t).withColumnRenamed("id", "doc_id")
      .withColumnRenamed("label", "cc_label")
    // keeper per duplicate cluster = min doc id AMONG SURVIVORS of the
    // earlier stages (a cluster never vanishes just because its global
    // minimum was gated away)
    val wg = Window.partitionBy(col("grp"))
    val nearSurv = exactSurv.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cc_label"), col("doc_id")).as("grp"))
      .withColumn("keeper", min(col("doc_id")).over(wg))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("source"))
      .localCheckpoint(false)
    val w = Window.partitionBy(col("source"))
    val wo = w.orderBy(((col("doc_id") * 2654435761L) % 2147483648L), col("doc_id"))
    val sampled = nearSurv
      .withColumn("rn", row_number().over(wo))
      .withColumn("n_near", count(lit(1)).over(w))
      .filter(col("rn") <=
        expr("n_near * (CASE WHEN LENGTH(source) % 2 = 0 THEN 40 ELSE 10 END) div 100"))
      .select(col("doc_id"))
    def flag(df: org.apache.spark.sql.DataFrame, name: String) =
      df.select(col("doc_id")).withColumn(name, lit(1))
    t.documents.select(col("doc_id"), col("source"))
      .join(flag(gated, "g"), Seq("doc_id"), "left")
      .join(flag(exactSurv, "e"), Seq("doc_id"), "left")
      .join(flag(nearSurv, "n"), Seq("doc_id"), "left")
      .join(flag(sampled, "s"), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        count(col("g")).as("n_gated"),
        count(col("e")).as("n_exact"),
        count(col("n")).as("n_near"),
        count(col("s")).as("n_final"),
        coalesce(sum(when(col("s").isNotNull, col("doc_id"))), lit(0L))
          .cast(LongType).as("final_id_sum"))
      .orderBy(col("source"))
  }

  /** Itemized Bench warm-up steps, one per memoized index structure, in
    * dependency order (cc_labels reuses the already-persisted sim_pairs,
    * so its timing is the CC loop alone). Without an explicit build
    * phase each index's cost lands on whichever sharing query runs
    * first; without itemization the phase is one opaque number — round
    * 4's `_build_dedup_graph` doubled to 36.6 s with no way to tell the
    * pair graph from the CC loop from the round's new idf family.
    */
  def buildSteps(t: Tables): Seq[(String, () => Unit)] = Seq(
    "sim_pairs" -> (() => { simhashPairs(t).count(); () }),
    "cc_labels" -> (() => { simhashLabels(t).count(); () }),
    "jaccard" -> (() => { jaccardIndex(t).count(); () }),
    "minhash" -> (() => { minhashBanded(t).count(); () }),
    "emb_lsh" -> (() => { embBucketed(t).count(); () }),
    "idf_bands" -> (() => { idfBanded(t).count(); () }))

  // dedup_threshold_sweep — the tuning report behind every near-dup
  // threshold decision: for each candidate similarity cut (50%..100% in
  // signature basis points), how many detected pairs and how many
  // distinct documents would be implicated. Runs entirely over the
  // memoized candidate pairs (LSH-bounded, never corpus²) with the same
  // signature-agreement estimate the detector uses, so the sweep costs
  // one pass over candidates however large the corpus — this is how a
  // curator picks θ BEFORE committing to a corpus cut.
  val thresholdSweep = Q(
    "dedup_threshold_sweep",
    Some {
      s"""
      WITH $minhashCandSql,
      est AS (
        SELECT id1, id2,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sig1, sig2),
                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) * 625 AS BIGINT) AS est_bp
        FROM cand),
      th AS (SELECT UNNEST([5000, 6250, 7500, 8750, 10000]) AS theta),
      hit AS (
        SELECT th.theta, est.id1, est.id2
        FROM th JOIN est ON est.est_bp >= th.theta),
      docs AS (
        SELECT theta, id1 AS d FROM hit UNION SELECT theta, id2 FROM hit)
      SELECT th.theta,
             COALESCE(p.n_pairs, 0) AS n_pairs,
             COALESCE(d.n_docs, 0) AS n_docs
      FROM th
      LEFT JOIN (SELECT theta, COUNT(*) AS n_pairs FROM hit GROUP BY theta) p
        ON p.theta = th.theta
      LEFT JOIN (SELECT theta, COUNT(*) AS n_docs FROM docs GROUP BY theta) d
        ON d.theta = th.theta
      ORDER BY th.theta
      """
    }
  ) { t =>
    val k = 16
    val thetas = Seq(5000L, 6250L, 7500L, 8750L, 10000L)
    val est = minhashCands(t).select(col("id1"), col("id2"),
      (size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
        m => m)).cast(LongType) * (10000L / k)).as("est_bp"))
    val thDf = {
      import t.spark.implicits._
      thetas.toDF("theta")
    }
    val hit = broadcast(thDf).join(est, est("est_bp") >= col("theta"))
    val pairs = hit.groupBy(col("theta")).agg(count(lit(1)).as("n_pairs"))
    val docs = hit.select(col("theta"), col("id1").as("d"))
      .union(hit.select(col("theta"), col("id2").as("d")))
      .distinct()
      .groupBy(col("theta")).agg(count(lit(1)).as("n_docs"))
    thDf
      .join(pairs, Seq("theta"), "left")
      .join(docs, Seq("theta"), "left")
      .select(col("theta"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("theta"))
  }

  // dedup_hub_rank — PageRank over the near-dup pair graph: which
  // documents sit at the CENTER of duplication structure (the template /
  // boilerplate "masters" that near-match many others). Three damped
  // iterations in pure INTEGER arithmetic (rank scaled by 10^12,
  // integral division at every step), so the fixed-point is identical in
  // any engine and under any partitioning — FP PageRank would be
  // last-ulp order-dependent and unhashable. Each iteration is one
  // edges⋈ranks join + one aggregation over the memoized pair graph
  // (LSH-bounded); the iteration count is fixed, so the plan is static —
  // no driver loop, no convergence action.
  val hubRank = Q(
    "dedup_hub_rank",
    Some {
      val S = "1000000000000"
      def iter(prev: String, out: String): String =
        s"""c_$out AS (
          SELECT e.dst AS id, SUM(r_$prev.r // r_$prev.deg) AS c
          FROM e JOIN r_$prev ON r_$prev.id = e.src GROUP BY e.dst),
        r_$out AS (
          SELECT d.id, d.deg,
                 (SELECT 15 * $S // (100 * n) FROM n) +
                   (85 * COALESCE(c_$out.c, 0)) // 100 AS r
          FROM deg d LEFT JOIN c_$out ON c_$out.id = d.id)"""
      s"""
      WITH $corpusSql,
      $simhashPairsSql,
      p AS (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      e AS (SELECT id1 AS src, id2 AS dst FROM p
            UNION ALL SELECT id2, id1 FROM p),
      deg AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
      n AS (SELECT COUNT(*) AS n FROM deg),
      r_0 AS (SELECT id, deg, $S // n.n AS r FROM deg, n),
      ${iter("0", "1")},
      ${iter("1", "2")},
      ${iter("2", "3")}
      SELECT id, CAST(deg AS BIGINT) AS deg, CAST(r AS BIGINT) AS score
      FROM r_3 ORDER BY score DESC, id LIMIT 10
      """
    }
  ) { t =>
    val S = 1000000000000L
    val pairs = simhashPairs(t).select(col("id1"), col("id2"))
    val e = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    // node-sized degree relation, referenced by r0 AND every iteration's
    // rank rebuild (4 subtrees): pinned so the executed plan reads one
    // cached frame instead of re-aggregating the edge list per
    // reference (r16 — the executed AQE plan showed the deg exchange
    // replicated per iteration, ~3 stages each)
    val deg = graft.plans.Pin.pinned(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    val nDf = deg.agg(count(lit(1)).as("n"))
    var r = deg.crossJoin(broadcast(nDf))
      .select(col("id"), col("deg"), expr(s"${S}L div n").as("r"))
    for (_ <- 1 to 3) {
      val contrib = e.join(r, e("src") === r("id"))
        .select(col("dst"), expr("r div deg").as("cr"))
        .groupBy(col("dst")).agg(sum(col("cr")).as("c"))
      r = deg.crossJoin(broadcast(nDf))
        .join(contrib, deg("id") === contrib("dst"), "left")
        .select(deg("id"), col("deg"),
          (expr(s"15L * ${S}L div (100L * n)") +
            expr("85L * coalesce(c, 0L) div 100L")).as("r"))
    }
    r.select(col("id"), col("deg").cast(LongType).as("deg"),
        col("r").cast(LongType).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(10)
  }

  // dedup_triangles — triangle census of the near-dup pair graph: the
  // cliquishness report that distinguishes tight duplicate CLUSTERS
  // (template families — triangle-dense) from chains of borderline
  // matches (transitive-closure accidents — triangle-free), read next to
  // dedup_components before trusting cluster collapse. Algorithm is the
  // classic degree-ordered orientation (each undirected edge points from
  // its lower (deg, id) endpoint): every triangle is counted exactly
  // once from its lowest corner, and wedge generation — the only
  // superlinear step — pairs only each node's ORIENTED out-edges, whose
  // count is O(√m) regardless of raw degree, so a boilerplate hub with
  // 10⁶ neighbors contributes out-pairs, not deg² pairs. Reuses the
  // memoized LSH-bounded pair graph; everything downstream of it is one
  // self-join plus 1-row aggregates. Global clustering coefficient in
  // integer basis points closes the report.
  val triangles = Q(
    "dedup_triangles",
    Some {
      s"""
      WITH $corpusSql,
      $simhashPairsSql,
      p AS (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      e AS (SELECT id1 AS src, id2 AS dst FROM p
            UNION ALL SELECT id2, id1 FROM p),
      deg AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
      o AS (
        SELECT CASE WHEN (d1.deg, p.id1) < (d2.deg, p.id2)
                    THEN p.id1 ELSE p.id2 END AS src,
               CASE WHEN (d1.deg, p.id1) < (d2.deg, p.id2)
                    THEN p.id2 ELSE p.id1 END AS dst,
               CASE WHEN (d1.deg, p.id1) < (d2.deg, p.id2)
                    THEN d2.deg ELSE d1.deg END AS ddst
        FROM p JOIN deg d1 ON d1.id = p.id1 JOIN deg d2 ON d2.id = p.id2),
      tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM o o1
        JOIN o o2 ON o1.src = o2.src
                 AND (o1.ddst, o1.dst) < (o2.ddst, o2.dst)
        JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst),
      sums AS (
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM p) AS n_edges,
               (SELECT SUM(deg * (deg - 1) // 2) FROM deg) AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles)
      SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_wedges AS BIGINT) AS n_wedges,
             CAST(n_triangles AS BIGINT) AS n_triangles,
             CAST(CASE WHEN n_wedges > 0
                  THEN 3 * n_triangles * 10000 // n_wedges
                  ELSE 0 END AS BIGINT) AS clustering_bp
      FROM sums
      """
    }
  ) { t =>
    val p = simhashPairs(t).select(col("id1"), col("id2"))
    val e = p.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(p.select(col("id2").as("src"), col("id1").as("dst")))
    // node-sized, referenced by the orientation join (twice) and the
    // wedge census — pinned for the same reason as dedup_hub_rank's deg.
    // The fill is EAGER here (r17): this query fans deg into several
    // INDEPENDENT AQE stages of one action (two broadcast exchanges +
    // the wedge-census aggregate), the concurrent-lazy-first-fill shape
    // the r16 driver artifact measured going pathological on q141 — and
    // dedup_triangles itself regressed 3.50→5.25 s on that driver at 32
    // cores while its 8-core twin read 2.26 s. One count() over a
    // node-sized aggregate buys the race away. (dedup_hub_rank's deg
    // pin stays lazy: the driver measured it IMPROVING 2.11× there.)
    val deg = graft.plans.Pin.pinned(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    deg.count()
    val pd = p
      .join(deg.select(col("id").as("id1"), col("deg").as("d1")), "id1")
      .join(deg.select(col("id").as("id2"), col("deg").as("d2")), "id2")
    val lower = struct(col("d1"), col("id1")) < struct(col("d2"), col("id2"))
    val o = pd.select(
      when(lower, col("id1")).otherwise(col("id2")).as("src"),
      when(lower, col("id2")).otherwise(col("id1")).as("dst"),
      when(lower, col("d2")).otherwise(col("d1")).as("ddst"))
    val o1 = o.select(col("src").as("a"), col("dst").as("b"), col("ddst").as("db"))
    val o2 = o.select(col("src").as("a2"), col("dst").as("c"), col("ddst").as("dc"))
    val o3 = o.select(col("src").as("b3"), col("dst").as("c3"))
    val triCnt = o1
      .join(o2, col("a") === col("a2") &&
        (struct(col("db"), col("b")) < struct(col("dc"), col("c"))))
      .join(o3, col("b") === col("b3") && col("c") === col("c3"))
      .agg(count(lit(1)).as("n_triangles"))
    val sums = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edges = p.agg(count(lit(1)).as("n_edges"))
    sums.crossJoin(edges).crossJoin(triCnt)
      .select(
        col("n_nodes").cast(LongType).as("n_nodes"),
        col("n_edges").cast(LongType).as("n_edges"),
        col("n_wedges").cast(LongType).as("n_wedges"),
        col("n_triangles").cast(LongType).as("n_triangles"),
        expr("case when n_wedges > 0 then 3 * n_triangles * 10000 div n_wedges else 0 end")
          .cast(LongType).as("clustering_bp"))
  }

  // dedup_kcore — k-core peeling of the near-dup pair graph: the DENSITY
  // sieve that complements dedup_triangles' census. The 3-core (every
  // member keeps ≥ 3 neighbors after all sparser nodes are removed) is
  // where template farms live — borderline chains and isolated pairs
  // peel away no matter how large their component is, so core membership
  // is a sharper "boilerplate family" signal than component size.
  // Runs R = 8 SYNCHRONIZED peeling rounds (each round drops every node
  // whose current degree < 3, simultaneously) and reports the trajectory
  // (nodes, edges after each round) — fixed rounds keep the operator a
  // pure function of the pair graph that the oracle replays verbatim;
  // equal trailing rows certify the fixpoint was reached inside the
  // budget. Each round is one degree aggregation plus one two-sided
  // semi-join — the same shuffle shape as a connectedComponents
  // iteration, state is node-sized, candidate volume edge-sized; at
  // 100 TB the serving variant runs the identical loop with an early
  // exit on a 1-row convergence count, and peeling only ever SHRINKS
  // the edge set, so round cost is monotone decreasing.
  val kcore = Q(
    "dedup_kcore",
    Some {
      // every k/e CTE is referenced 2–3 times by the next round; without
      // MATERIALIZED DuckDB inlines the chain and replay goes 3^8
      val rounds = (1 to 8).map { r =>
        s"""
      k$r AS MATERIALIZED (
        SELECT src AS id FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= 3),
      e$r AS MATERIALIZED (
        SELECT e.src, e.dst FROM e${r - 1} e
        JOIN k$r a ON a.id = e.src JOIN k$r b ON b.id = e.dst),
      r$r AS (SELECT $r AS peel_round,
                     (SELECT COUNT(*) FROM k$r) AS n_nodes,
                     (SELECT COUNT(*) // 2 FROM e$r) AS n_edges)"""
      }.mkString(",")
      s"""
      WITH $corpusSql,
      $simhashPairsSql,
      p AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      e0 AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM p
             UNION ALL SELECT id2, id1 FROM p),
      $rounds
      SELECT CAST(peel_round AS BIGINT) AS peel_round,
             CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(n_edges AS BIGINT) AS n_edges
      FROM (${(1 to 8).map(r => s"SELECT * FROM r$r").mkString(" UNION ALL ")})
      ORDER BY peel_round
      """
    }
  ) { t =>
    // The same iterative-loop discipline connectedComponents earned the
    // hard way: localCheckpoint each round (lazy since r16 — persists AND truncates
    // lineage — without it round r's logical plan embeds round r−1
    // THREE times and planning alone goes exponential), AQE off and
    // shuffle partitions pinned to the graph size for the loop only,
    // loop joins hinted SHUFFLE_HASH so no per-round broadcast job.
    val spark = t.spark
    import spark.implicits._
    val pairs = simhashPairs(t).select(col("id1"), col("id2"))
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (2L * pairs.count() / 500000L).toInt + 1))
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    try {
      var e = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
        .repartition(nParts, col("src"))
        .localCheckpoint(false)
      val trajectory = (1 to 8).map { r =>
        // lazy (r16): the blocks fill during the round's own count
        // actions — the truncation is identical, two eager jobs per
        // peeling round are gone
        val kept = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 3).select(col("id"))
          .localCheckpoint(false)
        e = e
          .join(kept.withColumnRenamed("id", "src").hint("shuffle_hash"),
            Seq("src"), "left_semi")
          .join(kept.withColumnRenamed("id", "dst").hint("shuffle_hash"),
            Seq("dst"), "left_semi")
          .localCheckpoint(false)
        (r.toLong, kept.count(), e.count() / 2L)
      }
      trajectory.toDF("peel_round", "n_nodes", "n_edges")
        .orderBy(col("peel_round"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
    }
  }

  // dedup_degree_profile — per-source near-dup degree distribution, the
  // curation readout that answers "WHICH sources bring the duplicated
  // content" (dedup_cross_source counts cross-source PAIRS; this bands
  // every corpus member by its pair-graph degree and shares within its
  // source): degree 0 / 1 / 2-3 / 4+ bands, per (source, band) the doc
  // count and the exact-bp share of the source. Twins attribute to
  // their original's source (id − 1M). Reuses the memoized LSH-bounded
  // pair graph; everything downstream is one degree aggregation plus a
  // source-dim-sized join — at 100 TB the only fact-scale work is the
  // pair graph every dedup operator already shares.
  val degreeProfile = Q(
    "dedup_degree_profile",
    Some {
      s"""
      WITH $corpusSql,
      $simhashPairsSql,
      p AS (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      e AS (SELECT id1 AS id FROM p UNION ALL SELECT id2 FROM p),
      deg AS (SELECT id, COUNT(*) AS deg FROM e GROUP BY id),
      mem AS (
        SELECT c.doc_id,
               CASE WHEN c.doc_id >= 1000000 THEN c.doc_id - 1000000
                    ELSE c.doc_id END AS orig
        FROM corpus c),
      d AS (
        SELECT doc.source, COALESCE(deg.deg, 0) AS deg
        FROM mem m
        JOIN documents doc ON doc.doc_id = m.orig
        LEFT JOIN deg ON deg.id = m.doc_id),
      b AS (
        SELECT source,
               CASE WHEN deg = 0 THEN '0' WHEN deg = 1 THEN '1'
                    WHEN deg <= 3 THEN '2_3' ELSE '4_plus' END AS deg_band
        FROM d),
      c2 AS (
        SELECT source, deg_band, COUNT(*) AS n_docs
        FROM b GROUP BY source, deg_band),
      t2 AS (SELECT source, SUM(n_docs) AS tot FROM c2 GROUP BY source)
      SELECT c2.source, c2.deg_band, CAST(c2.n_docs AS BIGINT) AS n_docs,
             CAST(c2.n_docs * 10000 // t2.tot AS BIGINT) AS share_bp
      FROM c2 JOIN t2 ON c2.source = t2.source
      ORDER BY c2.source, c2.deg_band
      """
    }
  ) { t =>
    val p = simhashPairs(t).select(col("id1"), col("id2"))
    val e = p.select(col("id1").as("id")).unionAll(p.select(col("id2").as("id")))
    val deg = e.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val mem = withTwins(t).select(col("doc_id"),
      when(col("doc_id") >= 1000000L, col("doc_id") - 1000000L)
        .otherwise(col("doc_id")).as("orig"))
    val src = t.documents.select(col("doc_id").as("orig"), col("source"))
    val banded = mem.join(src, "orig")
      .join(deg, mem("doc_id") === deg("id"), "left")
      .withColumn("deg0", coalesce(col("deg"), lit(0L)))
      .select(col("source"),
        when(col("deg0") === 0, "0").when(col("deg0") === 1, "1")
          .when(col("deg0") <= 3, "2_3").otherwise("4_plus").as("deg_band"))
    val counts = banded.groupBy(col("source"), col("deg_band"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = counts.groupBy(col("source")).agg(sum(col("n_docs")).as("tot"))
    counts.join(broadcast(tot), "source")
      .select(col("source"), col("deg_band"),
        col("n_docs").cast(LongType).as("n_docs"),
        expr("n_docs * 10000 div tot").cast(LongType).as("share_bp"))
      .orderBy(col("source"), col("deg_band"))
  }

  // dedup_winnow — winnowing fingerprints (Schleimer, Wilkerson & Aiken,
  // SIGMOD'03 — the MOSS algorithm): in every sliding window of w=4
  // consecutive shingle hashes, keep the rightmost minimum. The guarantee
  // MinHash can't give: any shared token run of length ≥ w+k−1 between
  // two documents ALWAYS produces a shared fingerprint (positional, not
  // probabilistic), at expected density 2/(w+1). The rightmost-min tie
  // rule costs nothing here: hash and negated position pack into ONE
  // 63-bit integer key (h·2³² + (2³² − pos)), so a plain frame MIN is the
  // argmin and the selected hash is a bit shift — no second argmax pass,
  // no struct comparisons. Fingerprint postings join df-capped (≤ 50,
  // the jaccardIndex rule), so the pair stage is linear in postings, and
  // every window is per-document — the whole op is embarrassingly
  // document-parallel.
  val winnow = Q(
    "dedup_winnow",
    Some {
      val m = 4294967296L
      val fold = "list_reduce(list_prepend(7::BIGINT, " +
        "list_transform(string_split(sh, ''), c -> ascii(c)::BIGINT)), " +
        s"(acc, x) -> (acc * 31 + x) % $P)"
      s"""
      WITH toks AS (
        SELECT doc_id, list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                 w -> w <> '') AS ws
        FROM documents),
      sh AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
               array_to_string(list_slice(ws, i, i + 2), ' ') AS sh
        FROM toks, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      keyed AS (
        SELECT doc_id, pos, $fold * $m + ($m - pos) AS k,
               COUNT(*) OVER (PARTITION BY doc_id) AS mm
        FROM sh),
      wins AS (
        SELECT doc_id,
               MIN(k) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
        FROM keyed WHERE pos <= GREATEST(mm - 3, 1)),
      fps AS (SELECT DISTINCT doc_id, wk // $m AS h FROM wins),
      fdf AS (SELECT h, COUNT(*) AS d FROM fps GROUP BY h),
      rare AS (SELECT f.doc_id, f.h FROM fps f JOIN fdf ON fdf.h = f.h
               WHERE fdf.d <= 50),
      pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS shared_fp
        FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT id1, id2, shared_fp FROM pairs
      ORDER BY shared_fp DESC, id1, id2 LIMIT 10
      """
    }
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val m = 4294967296L
    // one codegen'd kernel pass (graft_shingle_charfold) replaces the
    // shingle-string build (transform/slice/array_join) AND the
    // per-char split('')/ascii lambda fold — bit-identical, pinned by
    // DedupSpec (r17). The per-doc position count `mm` is the hash
    // array's size, so the count-over-doc window pass is gone too
    // (posexplode emits every position, unfiltered).
    val keyed = t.documents
      .select(col("doc_id"),
        call_function("graft_shingle_charfold", col("text")).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("mm"),
        posexplode(col("hs")).as(Seq("p0", "h")))
      .select(col("doc_id"), col("mm"),
        (col("p0") + 1).cast(LongType).as("pos"), col("h"))
      .withColumn("k", col("h") * m + (lit(m) - col("pos")))
    val wins = keyed.filter(col("pos") <= greatest(col("mm") - 3, lit(1)))
      .withColumn("wk", min(col("k")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)))
    val fps = wins.select(col("doc_id"), expr(s"wk div ${m}L").as("h")).distinct()
    val fdf = fps.groupBy(col("h")).agg(count(lit(1)).as("d"))
    val rare = fps.join(fdf.filter(col("d") <= 50), "h")
    rare.as("a")
      .join(rare.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).cast(LongType).as("shared_fp"))
      .orderBy(col("shared_fp").desc, col("id1"), col("id2"))
      .limit(10)
  }

  // dedup_index_stats — the LSH index-health report a production dedup
  // deployment watches: per MinHash band, the bucket count, the largest
  // bucket, and the exact candidate-pair cost Σ s·(s−1)/2 the bucket-join
  // will generate. A skewed bucket (hash bug, degenerate banding, a
  // boilerplate-dominated corpus) shows up here as a pair_cost explosion
  // BEFORE the join runs it — this is the observability side of the
  // "never corpus²" design rule, and it reuses the memoized banded index,
  // so the report is one tiny aggregation over an existing structure.
  val indexStats = Q(
    "dedup_index_stats",
    Some {
      s"""
      WITH $minhashCandSql,
      bsz AS (SELECT b AS band, bucket, COUNT(*) AS s FROM banded GROUP BY 1, 2)
      SELECT CAST(band AS BIGINT) AS band,
             COUNT(*) AS n_buckets,
             CAST(MAX(s) AS BIGINT) AS max_bucket,
             CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS pair_cost
      FROM bsz GROUP BY band ORDER BY band
      """
    }
  ) { t =>
    minhashBanded(t)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("band").cast(LongType).as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("s")).cast(LongType).as("max_bucket"),
        sum(expr("s * (s - 1) div 2")).cast(LongType).as("pair_cost"))
      .orderBy(col("band"))
  }

  // dedup_canonical — representative selection per near-dup component:
  // instead of dedup_apply's keep-min-id policy, keep the BEST member —
  // most tokens, tie → lowest id (the "keep the fullest copy" rule a
  // production cut ships). One join of the memoized component labels
  // against per-doc token counts + one keyed aggregation; the argmax is a
  // map-side-combinable max over (n_tok, -id) structs, so no per-group
  // sort anywhere. Reports what the policy keeps vs drops in tokens.
  val canonical = Q(
    "dedup_canonical",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      pairs AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      ${ccLabelsSql()},
      toks AS (
        SELECT doc_id AS id,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tok
        FROM corpus),
      m AS (SELECT l.label, l.id, t.n_tok FROM labels l JOIN toks t USING (id))
      SELECT label AS component, COUNT(*) AS group_size,
             CAST(FIRST(id ORDER BY n_tok DESC, id) AS BIGINT) AS canonical_id,
             CAST(FIRST(n_tok ORDER BY n_tok DESC, id) AS BIGINT) AS kept_tokens,
             CAST(SUM(n_tok) - FIRST(n_tok ORDER BY n_tok DESC, id) AS BIGINT)
               AS dropped_tokens
      FROM m
      GROUP BY label
      HAVING COUNT(*) >= 2
      ORDER BY component
    """)
  ) { t =>
    val toks = withTwins(t).select(col("doc_id").as("id"),
      size(words(col("text"))).cast(LongType).as("n_tok"))
    val best = struct(col("n_tok").as("n_tok"), (-col("id")).as("nid"))
    simhashLabels(t).join(toks, "id")
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("group_size"),
        max_by(col("id"), best).as("canonical_id"),
        max(best).getField("n_tok").cast(LongType).as("kept_tokens"),
        (sum(col("n_tok")) - max(best).getField("n_tok")).cast(LongType)
          .as("dropped_tokens"))
      .filter(col("group_size") >= 2)
      .orderBy(col("component"))
  }

  // dedup_edit_distance — ORDER-SENSITIVE confirmation of the MinHash
  // candidates: every set-based confirm upstream (signature agreement,
  // exact Jaccard, containment) treats "b a" ≡ "a b", so a shuffled
  // template scores as a perfect duplicate. Character-level Levenshtein
  // is the truth that catches reordering before a cut trusts it. Cost
  // discipline: the O(L²) DP runs ONLY on LSH candidate pairs (never
  // corpus²), through Spark's codegen'd levenshtein expression; the free
  // length-gap lower bound (|len1−len2| ≤ dist) ships alongside so a
  // cheap pre-filter stage can be audited against the DP it would skip.
  // At 100 TB docs past a length cap would be confirmed on a bounded
  // prefix (the standard banded-DP tradeoff) — a policy this report
  // makes explicit rather than silent.
  val editDistance = Q(
    "dedup_edit_distance",
    Some(s"""
      WITH $minhashCandSql,
      texts AS (SELECT doc_id, text, LEN(text) AS len FROM corpus),
      pairs AS (
        SELECT c.id1, c.id2,
               LEVENSHTEIN(t1.text, t2.text) AS dist,
               GREATEST(t1.len, t2.len) AS maxlen,
               ABS(t1.len - t2.len) AS len_gap
        FROM (SELECT DISTINCT id1, id2 FROM cand) c
        JOIN texts t1 ON t1.doc_id = c.id1
        JOIN texts t2 ON t2.doc_id = c.id2)
      SELECT id1, id2,
             CAST(dist AS BIGINT) AS dist,
             CAST(len_gap AS BIGINT) AS len_gap,
             CAST((maxlen - dist) * 10000 // maxlen AS BIGINT) AS sim_bp,
             CAST(CASE WHEN (maxlen - dist) * 10000 // maxlen >= 8000
                       THEN 1 ELSE 0 END AS BIGINT) AS confirmed
      FROM pairs
      ORDER BY id1, id2
    """)
  ) { t =>
    val texts = withTwins(t).select(col("doc_id"), col("text"),
      length(col("text")).cast(LongType).as("len"))
    minhashCands(t).select(col("id1"), col("id2"))
      .join(texts.toDF("id1", "text1", "len1"), "id1")
      .join(texts.toDF("id2", "text2", "len2"), "id2")
      // the DP stage is CPU-dense on BYTE-tiny rows: AQE coalesces the
      // post-join partitions by size and would serialize ~all pairs onto
      // one task (measured 10.8 s → 1.3 s at sf0.1). The explicit
      // numPartitions pins the scoring parallelism — the pair shuffle
      // itself is negligible
      .repartition(32, col("id1"), col("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("text1"), col("text2")).cast(LongType).as("dist"),
        abs(col("len1") - col("len2")).as("len_gap"),
        greatest(col("len1"), col("len2")).as("maxlen"))
      .select(col("id1"), col("id2"), col("dist"), col("len_gap"),
        expr("(maxlen - dist) * 10000 div maxlen").as("sim_bp"),
        when(expr("(maxlen - dist) * 10000 div maxlen") >= 8000, 1L)
          .otherwise(0L).as("confirmed"))
      .orderBy(col("id1"), col("id2"))
  }

  // dedup_similar_search — the QUERY-TIME shape of the near-dup stack:
  // "find documents like THIS one", served from the same banded MinHash
  // index the batch detector builds. Everything upstream is pairwise
  // detection (corpus × corpus); this is the retrieval path a curator or
  // ingest service actually calls — probe the query docs' band buckets
  // (index equi-join, touching only colliding postings), confirm
  // candidates with EXACT shingle Jaccard (candidates × shingles, never
  // corpus²), cut to top-3 per query through the two-phase TopKPerGroup
  // plan (≤k rows per task cross the exchange — no per-query partition
  // sort). At 100 TB the banded index is the materialized table this
  // op's first join probes; per-query cost scales with bucket collision
  // counts, not corpus size.
  val similarSearch = Q(
    "dedup_similar_search",
    Some {
      val shingleStr = "array_to_string(list_slice(ws, i, i + 2), ' ')"
      s"""
      WITH $minhashCandSql,
      probe AS (SELECT doc_id AS query_id, b, bucket FROM banded
                WHERE doc_id IN (1, 2, 3)),
      pc AS (
        SELECT DISTINCT p.query_id, b2.doc_id AS cand_id
        FROM probe p
        JOIN banded b2 ON b2.b = p.b AND b2.bucket = p.bucket
                      AND b2.doc_id <> p.query_id),
      inv AS (
        SELECT DISTINCT doc_id, ${PortableHash.wordHashSql(shingleStr)} AS h
        FROM words, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
      co AS (
        SELECT p.query_id, p.cand_id, COUNT(*) AS co
        FROM pc p
        JOIN inv a ON a.doc_id = p.query_id
        JOIN inv b ON b.doc_id = p.cand_id AND b.h = a.h
        GROUP BY p.query_id, p.cand_id),
      scored AS (
        SELECT p.query_id, p.cand_id,
               COALESCE(co.co, 0) * 10000 //
                 (s1.n + s2.n - COALESCE(co.co, 0)) AS jaccard_bp
        FROM pc p
        LEFT JOIN co ON co.query_id = p.query_id AND co.cand_id = p.cand_id
        JOIN sizes s1 ON s1.doc_id = p.query_id
        JOIN sizes s2 ON s2.doc_id = p.cand_id)
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(cand_id AS BIGINT) AS cand_id,
             CAST(jaccard_bp AS BIGINT) AS jaccard_bp
      FROM (SELECT query_id, cand_id, jaccard_bp,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY jaccard_bp DESC, cand_id) AS rnk
            FROM scored)
      WHERE rnk <= 3
      ORDER BY query_id, jaccard_bp DESC, cand_id
      """
    }
  ) { t =>
    val banded = minhashBanded(t)
    val probes = banded.filter(col("doc_id").isin(1L, 2L, 3L))
      .select(col("doc_id").as("query_id"), col("band"), col("bucket"))
    val cand = probes
      .join(banded.select(col("doc_id").as("cand_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id")).distinct()
    val inv = withTwins(t)
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("h"))
      .distinct()
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = cand
      .join(inv.select(col("doc_id").as("query_id"), col("h")), "query_id")
      .join(inv.select(col("doc_id").as("cand_id"), col("h")), Seq("cand_id", "h"))
      .groupBy(col("query_id"), col("cand_id")).agg(count(lit(1)).as("co"))
    val scored = cand
      .join(co, Seq("query_id", "cand_id"), "left")
      .join(sizes.toDF("query_id", "n1"), "query_id")
      .join(sizes.toDF("cand_id", "n2"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        expr("coalesce(co, 0) * 10000 div (n1 + n2 - coalesce(co, 0))")
          .as("jaccard_bp"))
    graft.plans.TopKPerGroup
      .topK(scored, Seq("query_id"), "jaccard_bp", "cand_id", 3)
      .orderBy(col("query_id"), col("jaccard_bp").desc, col("cand_id"))
  }

  // dedup_component_sizes — the size distribution of the near-dup
  // components: how much of the duplication mass sits in pairs vs
  // mega-clusters. THE number to read before dedup_apply ships — a fat
  // tail (one 10k-doc component) means the detector is collapsing
  // boilerplate families and the corpus cut will be far larger than the
  // pair count suggests; a pairs-dominated histogram means near-dup is
  // well-conditioned. Rides the memoized CC labels (built once per
  // dataset); two dimension-sized aggregations — label→size, then
  // size→histogram — plus exact share-of-implicated-docs in bp.
  val componentSizes = Q(
    "dedup_component_sizes",
    Some(s"""
      WITH $corpusSql,
      $simhashPairsSql,
      pairs AS MATERIALIZED (SELECT id1, id2 FROM spairs WHERE hamming <= 8),
      ${ccLabelsSql()},
      sizes AS (SELECT label, COUNT(*) AS s FROM labels GROUP BY label),
      hist AS (
        SELECT s AS group_size, COUNT(*) AS n_groups,
               CAST(s * COUNT(*) AS BIGINT) AS n_docs
        FROM sizes WHERE s >= 2 GROUP BY s),
      tot AS (SELECT SUM(n_docs) AS total_docs FROM hist)
      SELECT h.group_size, h.n_groups, h.n_docs,
             CAST(h.n_docs * 10000 // t.total_docs AS BIGINT) AS doc_share_bp
      FROM hist h CROSS JOIN tot t
      ORDER BY h.group_size
    """)
  ) { t =>
    val sizes = simhashLabels(t)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
    val hist = sizes
      .groupBy(col("s").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", (col("group_size") * col("n_groups")).cast(LongType))
    val tot = hist.agg(sum(col("n_docs")).as("total_docs"))
    hist.crossJoin(broadcast(tot))
      .select(col("group_size"), col("n_groups"), col("n_docs"),
        expr("n_docs * 10000 div total_docs").cast(LongType).as("doc_share_bp"))
      .orderBy(col("group_size"))
  }

  // dedup_cdc — content-defined chunking (the Rabin/LBFS recipe behind
  // rsync/restic/storage dedup, word-granular here): a chunk boundary
  // falls AFTER token i whenever the rolling 3-token hash lands in the
  // 1/8 sentinel class — boundaries move with the content, so an edit
  // reshuffles only the chunks it touches (fixed-size chunking shifts
  // every later chunk — dedup_chunks is the contrast op). Chunk
  // identity is the md5 of the chunk's token-hash sequence; the
  // duplicate mass is read off distinct-vs-total chunk counts over the
  // twinned corpus. Shape: per-doc rolling hash = two LAGs over
  // ≤100-token partitions, chunk ids from a running boundary count
  // (closed form — no fold), one (doc, chunk) aggregation, one global
  // distinct count. No pairwise stage at all: CDC dedup is O(corpus)
  // at any scale.
  val cdc = Q(
    "dedup_cdc",
    Some {
      s"""
      WITH $corpusSql,
      toks AS (
        SELECT doc_id, i - 1 AS pos, ${PortableHash.wordHashSql("ws[i]")} AS h
        FROM (SELECT doc_id,
                list_filter(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                  x -> x <> '') AS ws
              FROM corpus), UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)),
      rolled AS (
        SELECT doc_id, pos, h,
               LAG(h, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS h1,
               LAG(h, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS h2
        FROM toks),
      flagged AS (
        SELECT doc_id, pos, h,
               CASE WHEN pos >= 2
                 AND (h2 * 961 + h1 * 31 + h) % $P % 8 = 0
               THEN 1 ELSE 0 END AS b
        FROM rolled),
      grouped AS (
        SELECT doc_id, pos, h,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) - b AS grp
        FROM flagged),
      chunks AS (
        SELECT doc_id, grp,
               MD5(array_to_string(LIST(CAST(h AS VARCHAR) ORDER BY pos),
                 ' ')) AS k,
               COUNT(*) AS len
        FROM grouped GROUP BY doc_id, grp)
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct,
             CAST(COUNT(*) - COUNT(DISTINCT k) AS BIGINT) AS dup_instances,
             CAST((COUNT(*) - COUNT(DISTINCT k)) * 10000 // COUNT(*)
               AS BIGINT) AS dup_bp,
             CAST(SUM(len) * 100 // COUNT(*) AS BIGINT) AS mean_len_x100
      FROM chunks
      """
    }
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val toks = withTwins(t)
      .select(col("doc_id"),
        posexplode(call_function("graft_wordhashes", col("text"))))
      .toDF("doc_id", "pos", "h")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val rolled = toks
      .withColumn("h1", lag(col("h"), 1).over(wDoc))
      .withColumn("h2", lag(col("h"), 2).over(wDoc))
      .withColumn("b", when(col("pos") >= 2 &&
        (col("h2") * 961 + col("h1") * 31 + col("h")) % PortableHash.P % 8 === 0,
        1L).otherwise(0L))
      .withColumn("grp", sum(col("b")).over(wDoc) - col("b"))
    val chunks = rolled
      .groupBy(col("doc_id"), col("grp"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("h").cast("string").as("hs")))),
        s => s.getField("hs")), " ")).as("k"),
        count(lit(1)).as("len"))
    chunks.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_chunks"),
      countDistinct(col("k")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("k"))).as("dup_instances"),
      sum(col("len")).as("__tok"))
      .select(col("n_docs"), col("n_chunks"), col("n_distinct"),
        col("dup_instances"),
        expr("dup_instances * 10000 div n_chunks").cast(LongType).as("dup_bp"),
        expr("__tok * 100 div n_chunks").cast(LongType).as("mean_len_x100"))
  }

  // dedup_bbit — b-bit minhash (Li & König, WWW 2010: store only the
  // LOWEST b bits of each permutation's min-hash — 16 bits per doc here
  // for b=1, k=16 — a 64× signature compression whose agreement rate
  // still estimates Jaccard: E[agree] = J + (1−J)/2, so
  // Ĵ = 2·agree/k − 1). Audited on the planted twin pairs against the
  // full 61-bit-value estimator from the SAME signatures: per-estimator
  // means in exact bp, the mean absolute gap, and detection agreement
  // at the 0.5 threshold. One signature scan (codegen'd graft_minhash),
  // one id-keyed join of originals to twins — no pairwise stage, no FP.
  val bbit = Q(
    "dedup_bbit",
    Some {
      val al = PortableHash.coefASql(16)
      val bl = PortableHash.coefBSql(16)
      val shingleStr = "array_to_string(list_slice(ws, i, i + 2), ' ')"
      s"""
      WITH $corpusSql,
      words AS (SELECT doc_id, list_filter(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                   w -> w <> '') AS ws FROM corpus),
      sh AS (
        SELECT doc_id, ${PortableHash.wordHashSql(shingleStr)} AS h
        FROM words, UNNEST(RANGE(1, GREATEST(LEN(ws) - 2, 1) + 1)) AS t(i)),
      sigv AS (
        SELECT doc_id, j,
               MIN((list_extract($al, j + 1) * h + list_extract($bl, j + 1)) % $P) AS v
        FROM sh, UNNEST(RANGE(0, 16)) AS t2(j)
        GROUP BY doc_id, j),
      sigs AS (SELECT doc_id, LIST(v ORDER BY j) AS sig FROM sigv GROUP BY doc_id),
      pairs AS (
        SELECT o.doc_id AS id1, o.sig AS sig1, tw.sig AS sig2
        FROM sigs o JOIN sigs tw ON tw.doc_id = o.doc_id + 1000000
        WHERE o.doc_id < 1000000),
      est AS (
        SELECT id1,
               LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sig1, sig2),
                 p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) * 625 AS full_bp,
               GREATEST(0, (2 * LIST_SUM(LIST_TRANSFORM(LIST_ZIP(sig1, sig2),
                 p -> CASE WHEN p[1] % 2 = p[2] % 2 THEN 1 ELSE 0 END)) - 16)
                 * 625) AS bbit_bp
        FROM pairs)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(full_bp) // COUNT(*) AS BIGINT) AS mean_full_bp,
             CAST(SUM(bbit_bp) // COUNT(*) AS BIGINT) AS mean_bbit_bp,
             CAST(SUM(ABS(bbit_bp - full_bp)) // COUNT(*) AS BIGINT) AS mean_abs_gap_bp,
             CAST(COUNT(CASE WHEN (full_bp >= 5000) = (bbit_bp >= 5000)
               THEN 1 END) AS BIGINT) AS detect_agree
      FROM est
      """
    }
  ) { t =>
    val sig = withTwins(t)
      .select(col("doc_id"), call_function("graft_minhash", col("text")).as("sig"))
    val orig = sig.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("id1"), col("sig").as("sig1"))
    val twin = sig.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("id1"), col("sig").as("sig2"))
    val est = orig.join(twin, "id1")
      .select(col("id1"),
        (aggregate(zip_with(col("sig1"), col("sig2"),
          (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x) * 625L).as("full_bp"),
        greatest(lit(0L),
          (aggregate(zip_with(col("sig1"), col("sig2"),
            (a, b) => when(a % 2 === b % 2, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x) * 2L - 16L) * 625L).as("bbit_bp"))
    est.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("full_bp")).as("__sf"),
      sum(col("bbit_bp")).as("__sb"),
      sum(abs(col("bbit_bp") - col("full_bp"))).as("__sg"),
      count(when((col("full_bp") >= 5000) === (col("bbit_bp") >= 5000), 1))
        .as("detect_agree"))
      .select(col("n_pairs"),
        expr("__sf div n_pairs").cast(LongType).as("mean_full_bp"),
        expr("__sb div n_pairs").cast(LongType).as("mean_bbit_bp"),
        expr("__sg div n_pairs").cast(LongType).as("mean_abs_gap_bp"),
        col("detect_agree"))
  }

  // dedup_bag — bag-of-words (order-insensitive) exact dedup: two
  // documents collide when their token MULTISETS match, whatever the
  // word order — the templated-shuffle case (mail-merge bodies,
  // reordered list pages) that content-hash dedup (dedup_exact) misses
  // and similarity dedup pays a banded join to approximate. The
  // canonical form is the sorted token array re-joined (a per-row
  // map-local transform — no UDF, Spark's codegen'd sort_array), so the
  // whole operator is ONE hash aggregation: the same linear scan +
  // shuffle-on-key shape as dedup_exact, at any scale. The GROUP KEY is
  // md5(bag), not the bag itself (like dedup_exact's md5(lower(text)),
  // Dedup.scala:56) — at 100 TB a document-sized shuffle key IS the
  // corpus; 16 hash bytes cross the wire instead, and bag_chars is
  // computed row-locally before the shuffle (per-group constant, so
  // max() re-reads it exactly). Readout: corpus totals plus the top
  // clusters (count desc, min doc id) — TakeOrdered heap, never a
  // global sort.
  val bagDedup = Q(
    "dedup_bag",
    Some("""
      WITH canon AS (
        SELECT doc_id,
               ARRAY_TO_STRING(LIST_SORT(LIST_FILTER(
                 STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 x -> x <> '')), ' ') AS bag
        FROM documents),
      cl AS (
        SELECT bag, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        FROM canon GROUP BY bag)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(min_doc_id AS BIGINT) AS min_doc_id,
             CAST(LENGTH(bag) AS BIGINT) AS bag_chars
      FROM cl
      ORDER BY n_docs DESC, min_doc_id
      LIMIT 20
    """)
  ) { t =>
    val canon = t.documents
      .select(col("doc_id"),
        array_join(sort_array(filter(words(lower(col("text"))), x => x =!= "")),
          " ").as("bag"))
      .select(col("doc_id"), md5(col("bag")).as("bag_key"),
        length(col("bag")).cast(LongType).as("bag_chars"))
    canon.groupBy(col("bag_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"),
        max(col("bag_chars")).as("bag_chars"))
      .select(col("n_docs").cast(LongType).as("n_docs"),
        col("min_doc_id").cast(LongType).as("min_doc_id"),
        col("bag_chars"))
      .orderBy(col("n_docs").desc, col("min_doc_id"))
      .limit(20)
  }

  // dedup_prefix — prefix-key near-dup: documents sharing their first 8
  // normalized words collide, whatever follows — the truncation/
  // continuation case (same page crawled to different depths, feeds cut
  // at different lengths) that whole-text hashing misses and similarity
  // dedup pays a banded join to approximate. Like dedup_bag this is ONE
  // hash aggregation on a row-local canonical key (codegen'd
  // slice+join), linear at any scale; the two keys catch orthogonal
  // template failures (reorder vs truncate). Top clusters via
  // TakeOrdered.
  val prefixDedup = Q(
    "dedup_prefix",
    Some("""
      WITH k AS (
        SELECT doc_id,
               array_to_string(list_slice(list_filter(
                 STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 x -> x <> ''), 1, 8), ' ') AS pk
        FROM documents),
      cl AS (
        SELECT pk, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        FROM k GROUP BY pk)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(min_doc_id AS BIGINT) AS min_doc_id,
             CAST(LENGTH(pk) AS BIGINT) AS key_chars
      FROM cl
      ORDER BY n_docs DESC, min_doc_id
      LIMIT 20
    """)
  ) { t =>
    val k = t.documents.select(col("doc_id"),
      array_join(slice(filter(words(lower(col("text"))), x => x =!= ""),
        1, 8), " ").as("pk"))
    k.groupBy(col("pk"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .select(col("n_docs").cast(LongType).as("n_docs"),
        col("min_doc_id").cast(LongType).as("min_doc_id"),
        length(col("pk")).cast(LongType).as("key_chars"))
      .orderBy(col("n_docs").desc, col("min_doc_id"))
      .limit(20)
  }

  // dedup_suffix — suffix-key near-dup, the mirror of dedup_prefix:
  // documents sharing their LAST 8 normalized words collide, whatever
  // precedes — the prepended-boilerplate case (same article behind
  // different cookie banners / headers / site chrome, feeds that stamp
  // a variable preamble on a fixed body) that prefix keys miss by
  // construction. Same scale shape: one row-local canonical key
  // (codegen'd slice+join over the tail window), one hash aggregation,
  // top clusters via TakeOrdered — the prefix/suffix PAIR brackets the
  // truncation/prepend template space at two linear passes.
  val suffixDedup = Q(
    "dedup_suffix",
    Some("""
      WITH k AS (
        SELECT doc_id,
               array_to_string(list_slice(ws,
                 GREATEST(len(ws) - 7, 1), len(ws)), ' ') AS sk
        FROM (SELECT doc_id,
                list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                  x -> x <> '') AS ws
              FROM documents)),
      cl AS (
        SELECT sk, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
        FROM k GROUP BY sk)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(min_doc_id AS BIGINT) AS min_doc_id,
             CAST(LENGTH(sk) AS BIGINT) AS key_chars
      FROM cl
      ORDER BY n_docs DESC, min_doc_id
      LIMIT 20
    """)
  ) { t =>
    val k = t.documents
      .select(col("doc_id"),
        filter(words(lower(col("text"))), x => x =!= "").as("ws"))
      .select(col("doc_id"),
        array_join(slice(col("ws"),
          greatest(size(col("ws")) - 7, lit(1)), lit(8)), " ").as("sk"))
    k.groupBy(col("sk"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .select(col("n_docs").cast(LongType).as("n_docs"),
        col("min_doc_id").cast(LongType).as("min_doc_id"),
        length(col("sk")).cast(LongType).as("key_chars"))
      .orderBy(col("n_docs").desc, col("min_doc_id"))
      .limit(20)
  }

  // dedup_key_agreement — the EXACT-KEY family's observability readout
  // (dedup_detector_agreement covers the similarity detectors): per
  // document the four canonical keys — content (md5 of lowered text),
  // bag (order-insensitive), prefix (first 8 words), suffix (last 8
  // words) — and per family the duplicate census PLUS what it catches
  // OVER plain content hashing (the number a pipeline owner reads to
  // decide whether a fuzzy key family earns its pass). Four hash
  // aggregations on bounded keys + four equi-joins back to the doc
  // grain (all linear), one global aggregate, a 5-row long-form
  // readout in exact basis points.
  val keyAgreement = Q(
    "dedup_key_agreement",
    Some("""
      WITH ws AS (
        SELECT doc_id, LOWER(text) AS lt,
               list_filter(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                 x -> x <> '') AS w
        FROM documents),
      keys AS (
        SELECT doc_id, MD5(lt) AS ke,
               MD5(array_to_string(list_sort(w), ' ')) AS kb,
               array_to_string(list_slice(w, 1, 8), ' ') AS kp,
               array_to_string(list_slice(w, GREATEST(len(w) - 7, 1),
                 len(w)), ' ') AS ks
        FROM ws),
      fe AS (SELECT ke, COUNT(*) AS ce FROM keys GROUP BY ke),
      fb AS (SELECT kb, COUNT(*) AS cb FROM keys GROUP BY kb),
      fp AS (SELECT kp, COUNT(*) AS cp FROM keys GROUP BY kp),
      fs AS (SELECT ks, COUNT(*) AS cs FROM keys GROUP BY ks),
      flags AS (
        SELECT k.doc_id, ce > 1 AS de, cb > 1 AS db,
               cp > 1 AS dp, cs > 1 AS ds
        FROM keys k JOIN fe USING (ke) JOIN fb USING (kb)
             JOIN fp USING (kp) JOIN fs USING (ks)),
      agg AS (
        SELECT COUNT(*) AS n,
               COUNT(CASE WHEN de THEN 1 END) AS ne,
               COUNT(CASE WHEN db THEN 1 END) AS nb,
               COUNT(CASE WHEN db AND NOT de THEN 1 END) AS xb,
               COUNT(CASE WHEN dp THEN 1 END) AS np_,
               COUNT(CASE WHEN dp AND NOT de THEN 1 END) AS xp,
               COUNT(CASE WHEN ds THEN 1 END) AS ns_,
               COUNT(CASE WHEN ds AND NOT de THEN 1 END) AS xs,
               COUNT(CASE WHEN de OR db OR dp OR ds THEN 1 END) AS na,
               COUNT(CASE WHEN (db OR dp OR ds) AND NOT de THEN 1 END) AS xa
        FROM flags),
      long AS (
        SELECT e.family AS family, e.n_dup AS n_dup,
               e.extra AS extra_over_exact, n
        FROM agg, UNNEST([
          {'family': 'any', 'n_dup': na, 'extra': xa},
          {'family': 'bag', 'n_dup': nb, 'extra': xb},
          {'family': 'exact', 'n_dup': ne, 'extra': CAST(0 AS BIGINT)},
          {'family': 'prefix', 'n_dup': np_, 'extra': xp},
          {'family': 'suffix', 'n_dup': ns_, 'extra': xs}]) AS t(e))
      SELECT family, CAST(n_dup AS BIGINT) AS n_dup,
             CAST(extra_over_exact AS BIGINT) AS extra_over_exact,
             CAST(n_dup * 10000 // n AS BIGINT) AS share_bp
      FROM long
      ORDER BY family
    """)
  ) { t =>
    val ws = t.documents.select(col("doc_id"), lower(col("text")).as("lt"),
      filter(words(lower(col("text"))), x => x =!= "").as("w"))
    val keys = ws.select(col("doc_id"),
      md5(col("lt").cast("binary")).as("ke"),
      md5(array_join(sort_array(col("w")), " ").cast("binary")).as("kb"),
      array_join(slice(col("w"), 1, 8), " ").as("kp"),
      array_join(slice(col("w"), greatest(size(col("w")) - 7, lit(1)),
        lit(8)), " ").as("ks"))
    def fam(k: String, flag: String): DataFrame =
      keys.groupBy(col(k)).agg(count(lit(1)).as(s"c_$flag"))
    val flags = keys
      .join(fam("ke", "e"), "ke").join(fam("kb", "b"), "kb")
      .join(fam("kp", "p"), "kp").join(fam("ks", "s"), "ks")
      .select(col("doc_id"), (col("c_e") > 1).as("de"),
        (col("c_b") > 1).as("db"), (col("c_p") > 1).as("dp"),
        (col("c_s") > 1).as("ds"))
    flags.agg(count(lit(1)).as("n"),
      count(when(col("de"), 1)).as("ne"),
      count(when(col("db"), 1)).as("nb"),
      count(when(col("db") && !col("de"), 1)).as("xb"),
      count(when(col("dp"), 1)).as("np"),
      count(when(col("dp") && !col("de"), 1)).as("xp"),
      count(when(col("ds"), 1)).as("ns"),
      count(when(col("ds") && !col("de"), 1)).as("xs"),
      count(when(col("de") || col("db") || col("dp") || col("ds"), 1))
        .as("na"),
      count(when((col("db") || col("dp") || col("ds")) && !col("de"), 1))
        .as("xa"))
      .select(explode(array(
        struct(lit("any").as("family"), col("na").as("n_dup"),
          col("xa").as("extra")),
        struct(lit("bag").as("family"), col("nb").as("n_dup"),
          col("xb").as("extra")),
        struct(lit("exact").as("family"), col("ne").as("n_dup"),
          lit(0L).as("extra")),
        struct(lit("prefix").as("family"), col("np").as("n_dup"),
          col("xp").as("extra")),
        struct(lit("suffix").as("family"), col("ns").as("n_dup"),
          col("xs").as("extra")))).as("e"), col("n"))
      .select(col("e.family").as("family"),
        col("e.n_dup").cast(LongType).as("n_dup"),
        col("e.extra").cast(LongType).as("extra_over_exact"),
        expr("e.n_dup * 10000 div n").cast(LongType).as("share_bp"))
      .orderBy(col("family"))
  }

  val all: Seq[Q] = Seq(exact, ngramJaccard, minhashLsh, minhashRecall,
    containment, simhashDedup, simhashIdf, components, embeddingDedup,
    chunkDedup, applyDedup, urlDedup, incremental, bloomDedup, trainCorpus,
    substringDedup, substringExtents, substringClip, indexStats,
    thresholdSweep, hubRank, canonical, editDistance, similarSearch,
    triangles, detectorAgreement, winnow, componentSizes, cdc, bbit,
    bagDedup, prefixDedup, suffixDedup, keyAgreement, canonicalQuality,
    kcore, degreeProfile)
}
