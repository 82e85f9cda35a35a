package graft.ann

import graft.{Q, Tables}
import graft.plans.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Similarity search over the embeddings table (SURVEY.md §2c):
  * brute-force cosine top-k (the exactness baseline) and a random-
  * hyperplane LSH-bucketed variant (the scale path).
  *
  * Scale design: queries are a tiny broadcast side; the corpus is never
  * shuffled. Brute-force is broadcast-join + per-partition top-k
  * (TakeOrderedAndProject after a window prune); LSH prunes candidates to
  * same-bucket rows before scoring.
  */
object Ann {

  /** Double-space dot product of two float vectors (zip_with + aggregate —
    * codegen'd, no UDF).
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Pairwise cosine — the codegen'd kernel (CosineExpr): the same
    * sequential double fold as dot/(norm·norm), bit-identical values,
    * ~50× cheaper on million-pair scoring stages. Registered by Tables
    * construction, so call_function always resolves.
    */
  private def cosine(a: Column, b: Column): Column =
    call_function("graft_cos", a, b)

  /** Per-query top-k of a corpus-sized scored relation through the
    * two-phase TopKPerGroup physical plan (plans/TopKPerGroup.scala):
    * partial k-heaps map-side, so ≤ k rows per query per task cross the
    * shuffle — never `row_number() OVER (PARTITION BY query_id)`, which
    * funnels the whole scored corpus into |queries| partitions and sorts
    * each (SURVEY §4's stated design; q51 proves the operator). The rank
    * column is computed AFTER the cut, over ≤ k rows per query.
    */
  private def rankedTopK(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col(scoreCol).desc, col("vec_id"))
    graft.plans.TopKPerGroup.topK(scored, Seq("query_id"), scoreCol, "vec_id", k)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .orderBy(col("query_id"), col("rnk"))
  }

  // embed_norms — vector statistics per label: exact dims, rounded norms.
  // Oracle-checked: the same double-space fold is expressible in DuckDB
  // list lambdas with identical sequential semantics.
  val norms = Q(
    "embed_norms",
    Some("""
      SELECT label,
             COUNT(*) AS n,
             CAST(MIN(LEN(embedding)) AS BIGINT) AS dim,
             ROUND(MIN(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 3) AS min_norm,
             ROUND(MAX(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 3) AS max_norm
      FROM embeddings
      GROUP BY label
      ORDER BY label
    """)
  ) { t =>
    t.embeddings
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        min(size(col("embedding"))).cast(LongType).as("dim"),
        round(min(norm(col("embedding"))), 3).as("min_norm"),
        round(max(norm(col("embedding"))), 3).as("max_norm"))
      .orderBy(col("label"))
  }

  // ann_bruteforce — exact cosine top-10 for 5 query vectors. The query set
  // is broadcast; ranking is a window over (query, corpus) scored pairs.
  // Oracle: identical double-space zip fold in DuckDB list lambdas
  // (LIST_COSINE_SIMILARITY is float32 — not used), ranked on the same
  // rounded score with the same vec_id tie-break.
  val bruteForce = Q(
    "ann_bruteforce",
    Some("""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM e WHERE vec_id < 5),
      scored AS (
        SELECT query_id, vec_id,
          ROUND(
            LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qvec, embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
            (SQRT(LIST_SUM(LIST_TRANSFORM(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
            6) AS cos
        FROM e, q),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
    """)
  ) { t =>
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = t.embeddings
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  // Hyperplane LSH machinery shared with dedup_embedding — one sign
  // table, one bucket builder, one SQL mirror (functions.VectorLsh).
  private def lshBucket(vec: Column): Column = graft.functions.VectorLsh.bucket(vec)
  private def lshBucketSql(vecExpr: String): String =
    graft.functions.VectorLsh.bucketSql(vecExpr)
  private def cosSql(a: String, b: String): String =
    graft.functions.VectorLsh.cosSql(a, b)

  // ann_lsh — random-hyperplane LSH: 8 planes → 8-bit bucket; candidates =
  // same-bucket pairs with the query set; exact cosine re-ranking inside
  // the bucket. Recall is traded for pruning; AnnSpec measures it against
  // the brute-force result, and the oracle reproduces the bucketed search
  // exactly (literal sign table).
  val lsh = Q(
    "ann_lsh",
    Some(s"""
      WITH bucketed AS (
        SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
            FROM bucketed WHERE vec_id < 5),
      scored AS (
        SELECT query_id, vec_id, ${cosSql("qvec", "embedding")} AS cos
        FROM bucketed JOIN q ON bucket = qbucket),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
    """)
  ) { t =>
    val corpus = t.embeddings.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding")).as("bucket"))
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("bucket").as("qbucket"))
    val scored = corpus.join(broadcast(queries), col("bucket") === col("qbucket"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  // ann_lsh_multiprobe — multiprobe LSH (Lv et al., VLDB'07): probe the
  // query's bucket PLUS every bucket at Hamming distance 1 (each of the
  // 8 plane bits flipped), recovering the near neighbors that fell just
  // across one hyperplane — the recall lever that does NOT multiply
  // index size (more hash tables) or corpus passes. Probes stay a tiny
  // broadcast side (9 rows per query); the corpus is hashed once and
  // never shuffled; candidates come from the same bucket EQUI-join as
  // ann_lsh, just against 9× the probe keys, and each corpus row
  // matches at most one probe (probe buckets are distinct). Exact
  // cosine re-rank on the probed union; AnnSpec pins recall ≥ the
  // single-probe ann_lsh on the same queries.
  val lshMultiprobe = Q(
    "ann_lsh_multiprobe",
    Some(s"""
      WITH bucketed AS (
        SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
            FROM bucketed WHERE vec_id < 5),
      probes AS (
        SELECT query_id, qvec,
               CASE WHEN i = ${graft.functions.VectorLsh.NPlanes} THEN qbucket
                    ELSE xor(qbucket, CAST(1 AS BIGINT) << i) END AS bucket
        FROM q, UNNEST(RANGE(0, ${graft.functions.VectorLsh.NPlanes + 1})) AS t(i)),
      scored AS (
        SELECT p.query_id, b.vec_id, ${cosSql("p.qvec", "b.embedding")} AS cos
        FROM bucketed b JOIN probes p ON b.bucket = p.bucket),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
    """)
  ) { t =>
    val nPlanes = graft.functions.VectorLsh.NPlanes
    val corpus = t.embeddings.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding")).as("bucket"))
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("bucket").as("qbucket"))
    val probeArr = array((col("qbucket") +:
      (0 until nPlanes).map(i => col("qbucket").bitwiseXOR(lit(1L << i)))): _*)
    val probes = queries
      .select(col("query_id"), col("qvec"), explode(probeArr).as("bucket"))
    val scored = corpus.join(broadcast(probes), "bucket")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  /** Squared L2 distance in double space. */
  /** Codegen'd squared-L2 kernel (Dist2Expr): bit-identical to the
    * zip_with/aggregate fold, evaluated |corpus|×|cells| times per
    * assignment stage.
    */
  private def dist2(a: Column, b: Column): Column =
    call_function("graft_dist2", a, b)

  private def dist2Sql(a: String, b: String): String =
    s"LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b), pr -> (pr[1] - pr[2]) * (pr[1] - pr[2])))"

  /** Corpus-size-derived cluster count for the cluster-bounded-quadratic
    * semantic dedup: the smallest power of two with an EXPECTED cell
    * population ≤ ~400 vectors (cells ≥ n/400), clamped [16, 4096] — the
    * per-cell pairwise stage is O(population²), so the cell count must
    * grow with the corpus exactly as the LSH key spaces do
    * (VectorLsh.planesFor). Integer bit-length arithmetic with a SQL
    * mirror (cellsForSql), no FP log boundary to drift on.
    */
  private[graft] def cellsFor(n: Long): Int = {
    val m = (n + 399) / 400
    val bits = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(4096L, math.max(16L, 1L << bits)).toInt
  }

  /** SQL mirror of cellsFor over a COUNT expression (DuckDB BIN = binary
    * digits of a positive BIGINT, so LENGTH(BIN(x)) = bit length).
    */
  private def cellsForSql(countExpr: String): String =
    s"LEAST(4096, GREATEST(16, CASE WHEN (($countExpr) + 399) // 400 <= 1 THEN 1 " +
      s"ELSE 1 << LENGTH(BIN((($countExpr) + 399) // 400 - 1)) END))"

  /** IVF search with deterministic, oracle-reproducible training.
    *
    * Scale/portability design:
    *   - training runs on integer-grid quantized vectors (floor(x·1024)):
    *     centroid components become exact integer sums / counts, so they
    *     are FP-order-independent — reproducible on any cluster AND in the
    *     DuckDB oracle;
    *   - the Lloyd update is dim-independent: posexplode → (cell, dim)
    *     aggregate → rebuild, never a per-dimension expression tree;
    *   - C and nprobe are parameters; init = first C vectors (deterministic);
    *   - assignment ties break on centroid id (min(struct(dist, cid)));
    *   - final re-rank uses exact cosine on the original float vectors,
    *     only inside probed cells — the corpus is never shuffled.
    */
  /** IVF index structures: the corpus cell-assignment table
    * (vec_id, embedding, cell) and each query's probed cells
    * (query_id, qvec, cell) — shared by ann_ivf and ann_hybrid, and
    * memoized per (session, dataset, params) so the quantizer trains
    * once however many operators search it.
    */
  def ivfIndex(t: Tables, c: Int, nprobe: Int): (DataFrame, DataFrame) = {
    // lazy: built at most once even when both slots miss; untouched when
    // both hit (the earlier per-slot builds ran the training sub-plan
    // twice — once per tuple element).
    lazy val built = ivfIndexBuild(t, c, nprobe)
    (graft.PersistCache.getOrElseUpdate(t.spark, s"${t.dir}#ivf-cells-$c")(built._1),
      graft.PersistCache.getOrElseUpdate(t.spark, s"${t.dir}#ivf-probes-$c-$nprobe")(built._2))
  }

  private def ivfEmb(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id"), col("embedding"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(DoubleType)).as("qv"))

  /** Argmin-cell assignment of (vec_id, qv) rows against a COLLECTED
    * centroid matrix — the assignment kernel for corpus-derived cell
    * counts. The join-then-aggregate shape materializes n·C wide rows
    * (two d-element arrays each) through the exchange — ~100 GB at
    * gsf10's 200k × 512 — where the actual work is n·C·d flops; this
    * runs them at memory speed inside one mapPartitions over a
    * model-sized broadcast (C·d doubles, the documented
    * broadcast-dimension contract). Bit-identical to the join form:
    * same left-to-right (a−b)² accumulation as the Dist2Expr kernel
    * (exact: the grid values and the rational centroid components are
    * double-representable), ties broken to the lowest cid by iterating
    * the cid-sorted matrix with a strict `<`.
    */
  private def assignCells(emb: DataFrame,
    centroids: Array[(Long, Array[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sorted = centroids.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(sorted)
    emb.select(col("vec_id"), col("qv")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, qv) =>
          var best = 0L
          var bd = Double.MaxValue
          var i = 0
          while (i < cs.length) {
            val cv = cs(i)._2
            var d = 0.0
            var k = 0
            while (k < qv.length) {
              val x = qv(k) - cv(k)
              d += x * x
              k += 1
            }
            if (d < bd) { bd = d; best = cs(i)._1 }
            i += 1
          }
          (id, best, qv)
        }
      }
      .toDF("vec_id", "cell", "qv")
  }

  /** Trained coarse-quantizer centroids (cid, cv) — memoized; also read
    * directly by the residual-coding index (ann_ivfpq_residual).
    * Persisted + registered: cells and probes are separate output frames
    * that both embed this training sub-plan — without the persist the
    * quantizer would train once per frame materialization. The Lloyd
    * assignment pass runs on the [[assignCells]] kernel (the init
    * matrix is the first C grid vectors, collected — model-sized), so
    * training moves n·C·d flops, never n·C joined rows.
    */
  private def ivfCentroids(t: Tables, c: Int): DataFrame = {
    val emb = ivfEmb(t)
    graft.PersistCache.getOrElseUpdate(t.spark, s"${t.dir}#ivf-cents-$c") {
      // init: first C grid vectors, collected (C·d doubles, model-sized);
      // one Lloyd step with exact-integer averages
      val init = emb.filter(col("vec_id") < c)
        .select(col("vec_id"), col("qv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      assignCells(emb, init)
        .select(col("cell").as("cid"), posexplode(col("qv")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(LongType)).cast(DoubleType) / count(lit(1))).as("cv_i"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv_i")))),
          e => e.getField("cv_i")).as("cv"))
    }
  }

  private def ivfIndexBuild(t: Tables, c: Int, nprobe: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val emb = ivfEmb(t)
    val centroids = ivfCentroids(t, c)

    // corpus cell assignment against settled centroids
    val corpus = emb.join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        dist2(col("qv"), col("cv")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("cell"),
        first(col("embedding")).as("embedding"))

    // queries probe their nprobe nearest cells
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("qv").as("qqv"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cid"))
    val probes = queries.join(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("cid"),
        dist2(col("qqv"), col("cv")).as("cdist"))
      .withColumn("prank", row_number().over(wq))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cid").as("cell"))
    (corpus, probes)
  }

  def ivfQuery(t: Tables, c: Int, nprobe: Int): DataFrame = {
    val (corpus, probes) = ivfIndex(t, c, nprobe)
    // exact cosine inside probed cells only
    val scored = corpus.join(broadcast(probes), "cell")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  // ann_ivf — IVF (inverted-file) ANN: deterministic coarse quantizer,
  // corpus assigned to nearest centroid, queries probe their nprobe
  // nearest cells, exact cosine re-rank inside the probed cells only —
  // the 100 TB shape where brute force is off the table. AnnSpec measures
  // recall vs brute force; the oracle replays training + search in SQL.
  /** The IVF training + assignment + probe CTE chain (qemb → init → one
    * Lloyd step → cents → ac corpus-cell table → probes), shared by the
    * ann_ivf and ann_hybrid oracles so the two never drift.
    */
  private def ivfCtesSql(c: Int, nprobe: Int): String =
    ivfCtesSqlDyn(c.toString, nprobe, "")

  /** Same chain with the cell count as a SQL expression (scalar subquery
    * for corpus-derived k) and an optional extra CTE spliced after qemb.
    */
  private def ivfCtesSqlDyn(c: String, nprobe: Int, extra: String): String =
    s"""qemb AS (
        SELECT vec_id, embedding,
               LIST_TRANSFORM(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 1024)) AS qv
        FROM embeddings),
      ${extra}init AS (SELECT vec_id AS cid, qv AS cv FROM qemb WHERE vec_id < $c),
      a0 AS (
        SELECT vec_id, qv, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT e.vec_id, e.qv, i.cid, ${dist2Sql("e.qv", "i.cv")} AS dist
              FROM qemb e, init i)),
      assigned0 AS (SELECT vec_id, cid, qv FROM a0 WHERE rn = 1),
      centd AS (
        SELECT cid, i - 1 AS pos, SUM(qv[i]) / COUNT(*) AS cv_i
        FROM assigned0, UNNEST(RANGE(1, LEN(qv) + 1)) AS t(i)
        GROUP BY cid, i),
      cents AS (SELECT cid, LIST(cv_i ORDER BY pos) AS cv FROM centd GROUP BY cid),
      ac AS (
        SELECT vec_id, embedding, cid AS cell
        FROM (SELECT vec_id, embedding, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              FROM (SELECT e.vec_id, e.embedding, c.cid, ${dist2Sql("e.qv", "c.cv")} AS dist
                    FROM qemb e, cents c))
        WHERE rn = 1),
      probes AS (
        SELECT query_id, qvec, cell, pr
        FROM (SELECT query_id, qvec, cell,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cdist, cell) AS pr
              FROM (SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS cell,
                           ${dist2Sql("q.qv", "c.cv")} AS cdist
                    FROM qemb q, cents c WHERE q.vec_id < 5))
        WHERE pr <= $nprobe)"""

  val ivf = Q(
    "ann_ivf",
    Some {
      s"""
      WITH ${ivfCtesSql(16, 4)},
      scored AS (
        SELECT p.query_id, a.vec_id, ${cosSql("p.qvec", "a.embedding")} AS cos
        FROM ac a JOIN probes p ON a.cell = p.cell),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
      """
    }
  ) { t => ivfQuery(t, c = 16, nprobe = 4) }

  /** Delete a STALE warehouse directory a DEAD session left for `name`
    * (live catalog entries are never touched) — the Scale.bucketedPair /
    * CH-dialect rerun-stability rule.
    */
  private def clearStale(spark: org.apache.spark.sql.SparkSession,
    name: String): Unit =
    if (!spark.catalog.tableExists(name))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name))

  /** Session-memoized PERSISTED IVF index: the corpus cell table written
    * as a catalog table PARTITIONED BY cell, the trained centroids
    * beside it — the production serving layout, where the index is
    * STORAGE, not session state. A probe then reads exactly its nprobe
    * cell directories (partition pruning — at 100 TB a 4-of-4096-cell
    * probe scans ~0.1% of the corpus bytes and the query cost is
    * proportional to cells probed, not corpus), and a new session serves
    * the index without retraining anything.
    */
  /** Coarse-quantizer cell assignment — THE one formula both the batch
    * index build ([[persistedIvf]]) and the streaming ingest
    * (Streams.annIngest) run, so online and offline assignment can
    * never drift: integer-grid qv (floor ×1024 — FP-order-stable),
    * broadcast centroids, argmin dist² with ties on centroid id.
    * Input: (vec_id, embedding[Float]); centroids: (cid, cv[Double]);
    * output: (vec_id, cell, embedding). The corpus side is never
    * shuffled — the only wide op is the per-vector argmin aggregate.
    */
  def assignCells(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    // self-registering: callers outside a Tables session (the streaming
    // ingest's micro-batch clone, a bare serving session) still resolve
    // the codegen'd dist² kernel; idempotent on sessions that have it
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 1024).cast(DoubleType)).as("qv"))
      .join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        dist2(col("qv"), col("cv")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("cell"),
        first(col("embedding")).as("embedding"))
  }

  private def persistedIvf(t: Tables): (DataFrame, DataFrame) = synchronized {
    val spark = t.spark
    val tag = java.lang.Long.toHexString(t.dir.hashCode.toLong & 0xffffffffL)
    val cellsT = s"graft_ivf_cells_$tag"
    val centsT = s"graft_ivf_cents_$tag"
    if (!spark.catalog.tableExists(cellsT) ||
      !spark.catalog.tableExists(centsT)) {
      val centroids = ivfCentroids(t, 16)
      val corpus = assignCells(t.embeddings.select(col("vec_id"),
        col("embedding")), centroids)
      if (!spark.catalog.tableExists(centsT)) {
        clearStale(spark, centsT)
        centroids.write.format("parquet").saveAsTable(centsT)
      }
      if (!spark.catalog.tableExists(cellsT)) {
        clearStale(spark, cellsT)
        corpus.write.format("parquet").partitionBy("cell").saveAsTable(cellsT)
      }
    }
    (spark.table(cellsT), spark.table(centsT))
  }

  // ann_ivf_persisted — the SAME IVF search served from a PERSISTED
  // index: cells land as a cell-partitioned catalog table, centroids
  // beside them, and the query path reads ONLY what it probes (the
  // probe → cell equi-join prunes the partitioned scan to nprobe
  // directories). This is the piece ann_ivf's in-session memo doesn't
  // prove: the index round-trips through storage byte-exactly (floats
  // and the exact-ratio centroid doubles are parquet-stable), so a
  // fresh session — or a 1000-executor serving fleet that never saw
  // the build — returns the identical top-k. Oracle: ann_ivf's
  // training + search replayed in SQL; any storage-side drift
  // (precision, partition mix-up, lost rows) hash-fails.
  val ivfPersisted = Q(
    "ann_ivf_persisted",
    Some {
      s"""
      WITH ${ivfCtesSql(16, 4)},
      scored AS (
        SELECT p.query_id, a.vec_id, ${cosSql("p.qvec", "a.embedding")} AS cos
        FROM ac a JOIN probes p ON a.cell = p.cell),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
      """
    }
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val (cells, cents) = persistedIvf(t)
    // probes against the centroids READ BACK from storage — nothing of
    // the build session is consulted
    val queries = ivfEmb(t).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("qv").as("qqv"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cid"))
    val probes = queries.join(broadcast(cents))
      .select(col("query_id"), col("qvec"), col("cid"),
        dist2(col("qqv"), col("cv")).as("cdist"))
      .withColumn("prank", row_number().over(wq))
      .filter(col("prank") <= 4)
      .select(col("query_id"), col("qvec"), col("cid").as("cell"))
    val scored = cells.join(broadcast(probes), "cell")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  // ann_quantized — int8 scalar quantization: per-vector max-abs scale,
  // elements quantized to [-127, 127] via the tie-free floor(x·127/s + ½)
  // (ROUND half-rule differs between engines; floor is portable). 4×
  // memory/shuffle reduction for the 100 TB corpus; query-time scoring
  // dequantizes on the fly. AnnSpec measures recall@10 vs the float brute
  // force; the oracle replays quantization + integer scoring in SQL.
  val quantized = Q(
    "ann_quantized",
    Some(s"""
      WITH qz AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) / list_max(list_transform(embedding,
                        y -> abs(CAST(y AS DOUBLE)))) * 127 + 0.5) AS BIGINT)) AS qvec
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, qvec AS qq FROM qz WHERE vec_id < 5),
      scored AS (
        SELECT query_id, vec_id, ROUND(qd / (SQRT(qna) * SQRT(qnb)), 6) AS cos
        FROM (SELECT query_id, vec_id,
                     CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qq, qvec),
                       pr -> pr[1] * pr[2])) AS DOUBLE) AS qd,
                     CAST(LIST_SUM(LIST_TRANSFORM(qq, x -> x * x)) AS DOUBLE) AS qna,
                     CAST(LIST_SUM(LIST_TRANSFORM(qvec, x -> x * x)) AS DOUBLE) AS qnb
              FROM qz, q)),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
    """)
  ) { t =>
    val corpus = int8Corpus(t)
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"))
    // integer cosine via the codegen'd kernel: products ≤ 127² × dim stay
    // far under 2^53, so double accumulation of the integer grid is
    // exactly the long fold it replaces (dequantization scales cancel)
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_qvec"), col("qvec")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  /** Int8-quantized corpus (vec_id, qvec) — memoized per (session,
    * dataset) like the other index structures: at query time a served
    * quantized index is a BUILT artifact, not something re-derived from
    * the float corpus per search. Warmed by buildSteps (`_build_int8`).
    */
  private def int8Corpus(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#int8-corpus") {
      val scaleC = aggregate(col("embedding"), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast(DoubleType))))
      t.embeddings
        .select(col("vec_id"), col("embedding"), scaleC.as("scale"))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast(DoubleType) / col("scale") * 127 + 0.5)).as("qvec"))
    }

  // ann_range_search — range query variant: ALL corpus vectors within
  // cosine ≥ 0.2 of each query (not top-k). Same broadcast shape as
  // brute force — query set broadcast, corpus never shuffled — with the
  // threshold filter replacing the rank window entirely (no global sort,
  // no window exchange: the 100 TB-friendlier form when the caller wants
  // "everything similar enough" rather than a fixed k).
  val rangeSearch = Q(
    "ann_range_search",
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT query_id, vec_id, ${cosSql("qvec", "embedding")} AS cos
        FROM embeddings, q)
      SELECT query_id, vec_id, cos
      FROM scored
      WHERE cos >= 0.2
      ORDER BY query_id, vec_id
    """)
  ) { t =>
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    t.embeddings
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
      .filter(col("cos") >= 0.2)
      .orderBy(col("query_id"), col("vec_id"))
  }

  // ---- Product quantization machinery (shared by ann_pq and ann_hybrid) --

  private val PqM = 8; private val PqSub = 8; private val PqCand = 50
  private lazy val pqSigns = graft.functions.PortableHash.planeSigns(4 * PqM, PqSub)

  private def pqProjSql(m: Int, p: Int, vecExpr: String): String =
    s"LIST_SUM(LIST_TRANSFORM(LIST_ZIP(list_slice($vecExpr, ${m * PqSub + 1}, ${(m + 1) * PqSub}), " +
      s"${graft.functions.PortableHash.signsSql(pqSigns(4 * m + p))}), " +
      "pr -> CAST(pr[1] AS DOUBLE) * pr[2]))"
  private def pqCodeSql(m: Int, vecExpr: String): String =
    (0 until 4).map { p =>
      s"CASE WHEN ${pqProjSql(m, p, vecExpr)} > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("(", " + ", ")")
  private def pqGridSql(m: Int, vecExpr: String): String =
    s"LIST_TRANSFORM(list_slice($vecExpr, ${m * PqSub + 1}, ${(m + 1) * PqSub}), " +
      "x -> FLOOR(CAST(x AS DOUBLE) * 1024))"

  /** The PQ coding + codebook + query-LUT CTE chain (pqcodes → cbd →
    * cbv → qgrids → lut), shared by the ann_pq and ann_hybrid oracles.
    */
  private def pqCtesSql: String = {
    val codesUnion = (0 until PqM).map { m =>
      s"""SELECT vec_id, $m AS m, ${pqCodeSql(m, "embedding")} AS code,
             ${pqGridSql(m, "embedding")} AS gv FROM embeddings"""
    }.mkString("\nUNION ALL\n")
    val qgridsUnion = (0 until PqM).map { m =>
      s"""SELECT vec_id AS query_id, $m AS m, ${pqGridSql(m, "embedding")} AS gv
          FROM embeddings WHERE vec_id < 5"""
    }.mkString("\nUNION ALL\n")
    s"""pqcodes AS (
        $codesUnion),
      cbd AS (
        SELECT m, code, i AS pos, CAST(SUM(gv[i]) AS BIGINT) AS s, COUNT(*) AS cnt
        FROM pqcodes, UNNEST(RANGE(1, ${PqSub + 1})) AS t(i)
        GROUP BY m, code, i),
      cbv AS (
        SELECT m, code, LIST(s ORDER BY pos) AS sv, MIN(cnt) AS cnt
        FROM cbd GROUP BY m, code),
      qgrids AS (
        $qgridsUnion),
      lut AS (
        SELECT qg.query_id, c.m, c.code,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qg.gv, c.sv),
                 pr -> pr[1] * pr[2])) AS DOUBLE) / c.cnt AS part
        FROM cbv c JOIN qgrids qg ON qg.m = c.m)"""
  }

  /** The ADC pivot + fixed-order sum + top-candidate + exact-re-rank SQL
    * tail. `extraJoin` optionally restricts scoring to a candidate set
    * (the hybrid's probed-cell membership).
    */
  private def pqSearchTailSql(extraJoin: String): String = {
    val pivots = (0 until PqM).map(m =>
      s"               SUM(CASE WHEN p.m = $m THEN part END) AS p$m").mkString(",\n")
    val sumExpr = (1 until PqM).foldLeft("p0")((acc, m) => s"($acc + p$m)")
    s"""approx AS (
        SELECT l.query_id, p.vec_id,
$pivots
        FROM pqcodes p
        JOIN lut l ON l.m = p.m AND l.code = p.code
        $extraJoin
        GROUP BY l.query_id, p.vec_id),
      cands AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY $sumExpr DESC, vec_id) AS ar
              FROM approx)
        WHERE ar <= $PqCand),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT c.query_id, c.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
        FROM cands c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN q ON q.query_id = c.query_id),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk"""
  }

  private def pqSubv(v: Column, m: Int): Column = slice(v, m * PqSub + 1, PqSub)
  private def pqProj(v: Column, m: Int, p: Int): Column =
    aggregate(zip_with(pqSubv(v, m), typedlit(pqSigns(4 * m + p).toSeq),
      (x, s) => x.cast(DoubleType) * s), lit(0.0), (acc, x) => acc + x)
  private def pqCode(v: Column, m: Int): Column =
    (0 until 4).map { p =>
      when(pqProj(v, m, p) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  private def pqGrid(v: Column, m: Int): Column =
    transform(pqSubv(v, m), x => floor(x.cast(DoubleType) * 1024))
  private def pqLongDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Corpus PQ code table (vec_id, m, code, gv) — memoized per
    * (session, dataset): repeated builds (Verify + specs + Bench in one
    * JVM) must not stack persisted copies.
    */
  private def pqCodes(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#pq-codes")(
      t.embeddings.select(col("vec_id"),
        explode(array((0 until PqM).map(m => struct(
          lit(m).as("m"), pqCode(col("embedding"), m).as("code"),
          pqGrid(col("embedding"), m).as("gv"))): _*)).as("e"))
        .select(col("vec_id"), col("e.m").as("m"), col("e.code").as("code"),
          col("e.gv").as("gv")))

  /** Per-query ADC lookup table (query_id, m, code, part) — memoized:
    * the codebook aggregation over the corpus code table is the
    * expensive half, and it is identical for every search that shares
    * the query panel. Warmed by buildSteps (`_build_adc`).
    */
  private def pqLut(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#pq-lut")(pqLutBuild(t))

  /** PQ codebook as exact integer SUM vectors + member counts (the
    * centroid is sv/cnt, never divided) — shared by the ADC lut and
    * the distortion readout.
    */
  private def pqCodebook(t: Tables): DataFrame =
    pqCodes(t)
      .select(col("m"), col("code"), posexplode(col("gv")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("ps"),
        min(col("cnt")).as("cnt"))
      .select(col("m"), col("code"),
        transform(col("ps"), e => e.getField("s")).as("sv"), col("cnt"))

  private def pqLutBuild(t: Tables): DataFrame = {
    val cbv = pqCodebook(t)
    val qgrids = t.embeddings.filter(col("vec_id") < 5).select(col("vec_id"),
      explode(array((0 until PqM).map(m => struct(
        lit(m).as("m"), pqGrid(col("embedding"), m).as("gv"))): _*)).as("e"))
      .select(col("vec_id").as("query_id"), col("e.m").as("m"), col("e.gv").as("qgv"))
    cbv.join(qgrids, "m")
      .select(col("query_id"), col("m"), col("code"),
        (pqLongDot(col("qgv"), col("sv")).cast(DoubleType) / col("cnt")).as("part"))
  }

  /** ADC candidate selection + exact cosine re-rank. `restrict` limits
    * scoring to a (query_id, vec_id) candidate set (probed cells for the
    * hybrid); parts are added in FIXED subspace order — FP addition
    * order decides the candidate cut and must match the oracle.
    */
  private def pqSearch(t: Tables, restrict: Option[DataFrame]): DataFrame = {
    val scoredParts = pqCodes(t).join(broadcast(pqLut(t)), Seq("m", "code"))
    val restricted = restrict match {
      case Some(c) => scoredParts.join(c, Seq("query_id", "vec_id"), "left_semi")
      case None => scoredParts
    }
    val partCols = (0 until PqM).map(m =>
      sum(when(col("m") === m, col("part"))).as(s"p$m"))
    val approx = restricted
      .groupBy(col("query_id"), col("vec_id"))
      .agg(partCols.head, partCols.tail: _*)
      .select(col("query_id"), col("vec_id"),
        (1 until PqM).foldLeft(col("p0"))((acc, m) => acc + col(s"p$m")).as("approx"))
    // the ADC candidate cut ranks the corpus-sized approx relation —
    // two-phase top-k, same reason as the exact searches
    val cands = graft.plans.TopKPerGroup
      .topK(approx, Seq("query_id"), "approx", "vec_id", PqCand)
      .select(col("query_id"), col("vec_id"))
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = cands
      .join(t.embeddings, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  // ann_pq — product quantization (the memory-side complement of IVF's
  // cell pruning): the vector splits into M=8 subspaces of 8 dims; each
  // subspace is coded to 4 bits by deterministic hyperplane signs (16
  // codes/subspace), and the codebook entry is the integer-grid centroid
  // of its members — a corpus vector compresses to 4 BYTES. Query scoring
  // is ADC (asymmetric distance computation): a per-query lookup table of
  // query·centroid parts per (subspace, code), summed in FIXED subspace
  // order, then exact cosine re-rank of the top-50 ADC candidates. At
  // 100 TB the corpus side is 4 bytes of code per vector; raw vectors are
  // touched only for the ≤50 re-rank rows per query.
  val pq = Q(
    "ann_pq",
    Some(s"""
      WITH $pqCtesSql,
      ${pqSearchTailSql("")}
    """)
  ) { t => pqSearch(t, None) }

  // ann_hybrid — IVF × PQ composed index (the canonical billion-scale
  // ANN shape): the IVF coarse quantizer prunes the corpus to each
  // query's nprobe cells, and PQ/ADC scores ONLY the surviving cell
  // members from 4-byte codes before the exact re-rank. Search cost =
  // |probed cells| × ADC lookups, memory = 4B codes + one centroid table;
  // neither the float corpus nor unprobed cells are touched. Both index
  // structures are the memoized/shared ones (ivfIndex, pqCodes), and the
  // oracle composes the exact same IVF and PQ CTE chains.
  val hybrid = Q(
    "ann_hybrid",
    Some(s"""
      WITH ${ivfCtesSql(16, 4)},
      $pqCtesSql,
      ${pqSearchTailSql("""JOIN ac a ON a.vec_id = p.vec_id
        JOIN probes pr ON pr.cell = a.cell AND pr.query_id = l.query_id""")}
    """)
  ) { t =>
    val (cells, probes) = ivfIndex(t, 16, 4)
    val candSet = cells.select(col("vec_id"), col("cell"))
      .join(broadcast(probes.select(col("query_id"), col("cell"))), "cell")
      .select(col("query_id"), col("vec_id"))
    pqSearch(t, Some(candSet))
  }

  /** Residual-coded corpus table (vec_id, cell, m, code, rgvm) — the
    * FAISS-IVFPQ design: PQ codes computed on the RESIDUAL r = v − c(v)
    * (each vector minus its cell centroid) instead of the raw vector, so
    * the 4-bit codes spend their precision on the within-cell detail the
    * coarse quantizer already removed. Exactness: centroids truncate to
    * an integer grid (floor — identical in both engines), residuals are
    * integer differences of integer grids, so codes and codebooks are
    * exact integer arithmetic end to end. Memoized per dataset.
    */
  private def residCodes(t: Tables, c: Int): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, s"${t.dir}#rpq-codes-$c") {
      val (cells, _) = ivfIndex(t, c, 4)
      val cvq = ivfCentroids(t, c).select(col("cid"),
        transform(col("cv"), x => floor(x).cast(LongType)).as("cvq"))
      val withR = cells.join(broadcast(cvq), col("cell") === col("cid"))
        .select(col("vec_id"), col("cell"),
          zip_with(
            transform(col("embedding"), x => floor(x.cast(DoubleType) * 1024).cast(LongType)),
            col("cvq"), (a, b) => a - b).as("rgv"))
      def rsub(m: Int) = slice(col("rgv"), m * PqSub + 1, PqSub)
      // signs are ±1.0 doubles (shared with the raw-vector PQ); residual
      // grids are exact integers, so the double projection is exact and
      // the sign decision deterministic on both engines
      def rproj(m: Int, p: Int) =
        aggregate(zip_with(rsub(m), typedlit(pqSigns(4 * m + p).toSeq),
          (x, s) => x.cast(DoubleType) * s), lit(0.0), (acc, x) => acc + x)
      def rcode(m: Int) = (0 until 4).map { p =>
        when(rproj(m, p) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
      withR.select(col("vec_id"), col("cell"),
        explode(array((0 until PqM).map(m => struct(
          lit(m).as("m"), rcode(m).as("code"), rsub(m).as("rgvm"))): _*)).as("e"))
        .select(col("vec_id"), col("cell"), col("e.m").as("m"),
          col("e.code").as("code"), col("e.rgvm").as("rgvm"))
    }

  // ann_ivfpq_residual — IVF + residual-coded PQ (the full FAISS IVFPQ
  // shape): scoring decomposes dot(q,v) = dot(q,c) + dot(q, v−c); the
  // first term is an exact integer dot with the probed cell's centroid
  // grid, the second is ADC against a residual codebook. Compared to
  // ann_hybrid (raw-vector codebooks), the same 4 bytes/vector code the
  // within-cell detail instead of re-coding what the coarse quantizer
  // already knows. Everything up to the two final double divisions/sums
  // is exact integer arithmetic, summed in fixed subspace order, so the
  // oracle composes bit-for-bit.
  val ivfpqResidual = Q(
    "ann_ivfpq_residual",
    Some {
      val signsFor = (m: Int, p: Int) =>
        graft.functions.PortableHash.signsSql(pqSigns(4 * m + p))
      val rcodesUnion = (0 until PqM).map { m =>
        val sliceExpr = s"list_slice(rgv, ${m * PqSub + 1}, ${(m + 1) * PqSub})"
        val code = (0 until 4).map { p =>
          s"CASE WHEN LIST_SUM(LIST_TRANSFORM(LIST_ZIP($sliceExpr, ${signsFor(m, p)}), " +
            s"pr -> pr[1] * pr[2])) > 0 THEN ${1L << p} ELSE 0 END"
        }.mkString("(", " + ", ")")
        s"""SELECT vec_id, cell, $m AS m, $code AS code, $sliceExpr AS rgvm FROM rvec"""
      }.mkString("\nUNION ALL\n")
      val pivots = (0 until PqM).map(m =>
        s"               SUM(CASE WHEN r.m = $m THEN l.part END) AS p$m").mkString(",\n")
      val sumExpr = (0 until PqM).foldLeft("cellterm")((acc, m) => s"($acc + p$m)")
      s"""
      WITH ${ivfCtesSql(16, 4)},
      cvq AS (
        SELECT cid, LIST_TRANSFORM(cv, x -> CAST(FLOOR(x) AS BIGINT)) AS cvq
        FROM cents),
      qvl AS (
        SELECT vec_id, LIST_TRANSFORM(qv, x -> CAST(x AS BIGINT)) AS qvi
        FROM qemb),
      rvec AS (
        SELECT a.vec_id, a.cell,
               LIST_TRANSFORM(LIST_ZIP(e.qvi, v.cvq), pr -> pr[1] - pr[2]) AS rgv
        FROM ac a
        JOIN qvl e ON e.vec_id = a.vec_id
        JOIN cvq v ON v.cid = a.cell),
      rcodes AS (
        $rcodesUnion),
      rcbd AS (
        SELECT m, code, i AS pos, CAST(SUM(rgvm[i]) AS BIGINT) AS s, COUNT(*) AS cnt
        FROM rcodes, UNNEST(RANGE(1, ${PqSub + 1})) AS t(i)
        GROUP BY m, code, i),
      rcbv AS (
        SELECT m, code, LIST(s ORDER BY pos) AS sv, MIN(cnt) AS cnt
        FROM rcbd GROUP BY m, code),
      qg AS (SELECT vec_id AS query_id, qvi FROM qvl WHERE vec_id < 5),
      rlut AS (
        SELECT q.query_id, c.m, c.code,
               CAST(LIST_SUM(LIST_TRANSFORM(
                 LIST_ZIP(list_slice(q.qvi, c.m * $PqSub + 1, (c.m + 1) * $PqSub), c.sv),
                 pr -> pr[1] * pr[2])) AS DOUBLE) / c.cnt AS part
        FROM rcbv c, qg q),
      cellterms AS (
        SELECT p.query_id, p.cell,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qvi, v.cvq),
                 pr -> pr[1] * pr[2])) AS DOUBLE) AS cellterm
        FROM (SELECT DISTINCT query_id, cell FROM probes) p
        JOIN qg q ON q.query_id = p.query_id
        JOIN cvq v ON v.cid = p.cell),
      approx AS (
        SELECT ct.query_id, r.vec_id, ct.cellterm,
$pivots
        FROM rcodes r
        JOIN cellterms ct ON ct.cell = r.cell
        JOIN rlut l ON l.query_id = ct.query_id AND l.m = r.m AND l.code = r.code
        GROUP BY ct.query_id, r.vec_id, ct.cellterm),
      cands AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY $sumExpr DESC, vec_id) AS ar
              FROM approx)
        WHERE ar <= $PqCand),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT c.query_id, c.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
        FROM cands c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN q ON q.query_id = c.query_id),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
      """
    }
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val c = 16
    val codes = residCodes(t, c)
    val cvq = ivfCentroids(t, c).select(col("cid"),
      transform(col("cv"), x => floor(x).cast(LongType)).as("cvq"))
    val rcbv = codes
      .select(col("m"), col("code"), posexplode(col("rgvm")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("s")))).as("ps"),
        min(col("cnt")).as("cnt"))
      .select(col("m"), col("code"),
        transform(col("ps"), e => e.getField("s")).as("sv"), col("cnt"))
    val qg = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 1024).cast(LongType)).as("qvi"))
    val rlut = rcbv.crossJoin(broadcast(qg))
      .select(col("query_id"), col("m"), col("code"),
        (pqLongDot(slice(col("qvi"), col("m") * PqSub + 1, lit(PqSub)), col("sv"))
          .cast(DoubleType) / col("cnt")).as("part"))
    val (_, probes) = ivfIndex(t, c, 4)
    val cellterms = probes.select(col("query_id"), col("cell")).distinct()
      .join(broadcast(qg), "query_id")
      .join(broadcast(cvq), col("cell") === col("cid"))
      .select(col("query_id"), col("cell"),
        pqLongDot(col("qvi"), col("cvq")).cast(DoubleType).as("cellterm"))
    val partCols = (0 until PqM).map(m =>
      sum(when(col("m") === m, col("part"))).as(s"p$m"))
    val approx = codes
      .join(broadcast(cellterms), Seq("cell"))
      .join(broadcast(rlut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"), col("cellterm"))
      .agg(partCols.head, partCols.tail: _*)
      .select(col("query_id"), col("vec_id"),
        (1 until PqM).foldLeft(col("cellterm") + col("p0"))((acc, m) => acc + col(s"p$m"))
          .as("approx"))
    // the residual ADC cut ranks the probed-cell code relation — the
    // same two-phase top-k as the raw-vector PQ search
    val cands = graft.plans.TopKPerGroup
      .topK(approx.select(col("query_id"), col("vec_id"), col("approx")),
        Seq("query_id"), "approx", "vec_id", PqCand)
      .select(col("query_id"), col("vec_id"))
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = cands
      .join(t.embeddings, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 10)
  }

  // ann_recall — the evaluation harness a real ANN deployment ships with:
  // recall@10 of ALL FOUR approximate index families (LSH buckets, IVF
  // probed cells, PQ/ADC codes, residual-coded IVFPQ) against exact
  // brute-force ground truth, per query. A recall regression after
  // retuning bucket width / C / nprobe — or a compression-quality
  // regression in the PQ codebooks — shows up here as a hard number,
  // not an anecdote. Composed entirely from the shared machinery (same
  // queries, same tie-breaks), so the measured indexes are exactly the
  // ones ann_lsh/ann_ivf/ann_pq/ann_ivfpq_residual serve (the pq/resid
  // oracle SQL embeds those operators' own oracle text as subqueries);
  // integer basis points — no float compare. At 100 TB ground truth
  // comes from a sampled query panel (here: the same 5-query panel all
  // ann_* ops use).
  val recallEval = Q(
    "ann_recall",
    Some(s"""
      WITH ${ivfCtesSql(16, 4)},
      bt_q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 5),
      bt_scored AS (
        SELECT q.query_id, e.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
        FROM embeddings e, bt_q q),
      bt_top AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rnk
              FROM bt_scored)
        WHERE rnk <= 10),
      lsh_b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
                FROM embeddings),
      lsh_q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
                FROM lsh_b WHERE vec_id < 5),
      lsh_scored AS (
        SELECT q.query_id, b.vec_id, ${cosSql("q.qvec", "b.embedding")} AS cos
        FROM lsh_b b JOIN lsh_q q ON b.bucket = q.qbucket),
      lsh_top AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rnk
              FROM lsh_scored)
        WHERE rnk <= 10),
      ivf_scored AS (
        SELECT p.query_id, a.vec_id, ${cosSql("p.qvec", "a.embedding")} AS cos
        FROM ac a JOIN probes p ON a.cell = p.cell),
      ivf_top AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rnk
              FROM ivf_scored)
        WHERE rnk <= 10),
      pq_top AS (
        SELECT query_id, vec_id FROM (${pq.oracle.get})),
      resid_top AS (
        SELECT query_id, vec_id FROM (${ivfpqResidual.oracle.get})),
      methods AS (
        SELECT 'lsh' AS method, query_id, vec_id FROM lsh_top
        UNION ALL
        SELECT 'ivf', query_id, vec_id FROM ivf_top
        UNION ALL
        SELECT 'pq', query_id, vec_id FROM pq_top
        UNION ALL
        SELECT 'ivfpq', query_id, vec_id FROM resid_top),
      eval AS (
        SELECT m.method, m.query_id,
               COUNT(*) AS n_retrieved,
               COUNT(t.vec_id) AS n_hits
        FROM methods m
        LEFT JOIN bt_top t
          ON m.query_id = t.query_id AND m.vec_id = t.vec_id
        GROUP BY m.method, m.query_id)
      SELECT method, query_id,
             CAST(n_retrieved AS BIGINT) AS n_retrieved,
             CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 1000 AS BIGINT) AS recall_bp
      FROM eval
      ORDER BY method, query_id
    """)
  ) { t =>
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("vec_id"))
    val truth = ids(bruteForce.build(t))
      .select(col("query_id").as("t_qid"), col("vec_id").as("hit_id"))
    val methods = ids(lsh.build(t)).withColumn("method", lit("lsh"))
      .unionAll(ids(ivfQuery(t, c = 16, nprobe = 4)).withColumn("method", lit("ivf")))
      .unionAll(ids(pq.build(t)).withColumn("method", lit("pq")))
      .unionAll(ids(ivfpqResidual.build(t)).withColumn("method", lit("ivfpq")))
    methods
      .join(truth,
        col("query_id") === col("t_qid") && col("vec_id") === col("hit_id"), "left")
      .groupBy(col("method"), col("query_id"))
      .agg(count(lit(1)).as("n_retrieved"), count(col("hit_id")).as("n_hits"))
      .select(col("method"), col("query_id"), col("n_retrieved"), col("n_hits"),
        (col("n_hits") * 1000).as("recall_bp"))
      .orderBy(col("method"), col("query_id"))
  }

  /** Itemized Bench warm-up steps, one per memoized index structure:
    * IVF cells/probes and the PQ/residual code tables are shared by
    * ann_ivf/ann_pq/ann_hybrid/ann_ivfpq_residual, so without an
    * explicit build phase the whole training cost lands on whichever
    * sharing query happens to run first, and without itemization build
    * growth is unattributable to a family.
    */
  def buildSteps(t: Tables): Seq[(String, () => Unit)] = Seq(
    "ivf" -> (() => { val (cells, probes) = ivfIndex(t, 16, 4)
      cells.count(); probes.count(); () }),
    "pq" -> (() => { pqCodes(t).count(); () }),
    "ivfpq_resid" -> (() => { residCodes(t, 16).count(); () }),
    "int8" -> (() => { int8Corpus(t).count(); () }),
    "adc" -> (() => { pqLut(t).count(); () }),
    "knn_edges" -> (() => { knnEdgeSet(t).count(); () }))

  // embed_dim_stats — per-dimension first/second moments across the
  // corpus (the whitening/normalization diagnostic an embedding pipeline
  // reads before centering or PCA): elements quantized to the same 1024
  // integer grid IVF trains on, so sums are exact integers and both
  // engines agree bit-for-bit regardless of aggregation order (a raw
  // double sum over millions of floats is order-dependent). mean/var in
  // integer milli-units of the grid. One posexplode + one agg keyed by
  // dimension — 64 output rows, map-side combined. The n²-scaled
  // variance numerator is long-exact to ~10^4 vectors per dim at this
  // grid; past that the accumulators widen to DECIMAL(38) (same plan
  // shape) or the merge flips to per-partition Welford in doubles.
  val dimStats = Q(
    "embed_dim_stats",
    Some("""
      WITH px AS (
        SELECT i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
        FROM embeddings, UNNEST(RANGE(1, LEN(embedding) + 1)) AS t(i)),
      moments AS (
        SELECT dim, COUNT(*) AS n, SUM(xq) AS s1, SUM(xq * xq) AS s2
        FROM px
        GROUP BY dim)
      SELECT dim,
             CAST(n AS BIGINT) AS n,
             CAST(s1 * 1000 // n AS BIGINT) AS mean_milli,
             CAST((n * s2 - s1 * s1) * 1000 // (n * n) AS BIGINT) AS var_milli
      FROM moments
      ORDER BY dim
    """)
  ) { t =>
    t.embeddings
      .select(posexplode(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(LongType))))
      .groupBy(col("pos").cast(LongType).as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("col")).as("s1"),
        sum(col("col") * col("col")).as("s2"))
      .select(col("dim"), col("n"),
        expr("s1 * 1000 div n").as("mean_milli"),
        expr("(n * s2 - s1 * s1) * 1000 div (n * n)").as("var_milli"))
      .orderBy(col("dim"))
  }

  // embed_covariance — strongest cross-dimension covariances on the
  // shared 1024 integer grid: the redundancy/whitening diagnostic read
  // before trusting per-dimension pruning or PCA (a pair of highly
  // covariant dimensions carries half the information the index pays
  // for). All moments are exact integer sums (n·Sij − Si·Sj), so both
  // engines rank identically — no FP covariance drift. Cost is the
  // inherent O(n·d²) cross-moment explode, aggregated map-side to
  // d(d−1)/2 groups; the per-dimension sums (d rows) broadcast back.
  // Long accumulators are exact to ~10⁹ rows at this grid; past that the
  // sums widen to DECIMAL(38) with the same plan shape.
  val covariance = Q(
    "embed_covariance",
    Some("""
      WITH px AS (
        SELECT vec_id, i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
        FROM embeddings, UNNEST(RANGE(1, LEN(embedding) + 1)) AS t(i)),
      dims AS (
        SELECT dim, COUNT(*) AS n, SUM(xq) AS s FROM px GROUP BY dim),
      cross_m AS (
        SELECT a.dim AS dim_i, b.dim AS dim_j, SUM(a.xq * b.xq) AS sij
        FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.dim < b.dim
        GROUP BY a.dim, b.dim),
      cov AS (
        SELECT c.dim_i, c.dim_j,
               di.n AS n,
               di.n * c.sij - di.s * dj.s AS cov_n2
        FROM cross_m c
        JOIN dims di ON di.dim = c.dim_i
        JOIN dims dj ON dj.dim = c.dim_j)
      SELECT CAST(dim_i AS BIGINT) AS dim_i,
             CAST(dim_j AS BIGINT) AS dim_j,
             CAST(cov_n2 * 1000 // (n * n) AS BIGINT) AS cov_milli
      FROM (SELECT dim_i, dim_j, n, cov_n2,
                   ROW_NUMBER() OVER (ORDER BY ABS(cov_n2) DESC, dim_i, dim_j) AS rn
            FROM cov)
      WHERE rn <= 20
      ORDER BY dim_i, dim_j
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val px = t.embeddings
      .select(col("vec_id"), posexplode(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(LongType))))
      .select(col("vec_id"), col("pos").cast(LongType).as("dim"), col("col").as("xq"))
    val dims = px.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"))
    // cross moments without the vec_id self-join (r10, the
    // embed_pca_power shape): per-row (i<j) pair products through one
    // generator, hash-aggregated map-side into d²/2 keys — the only
    // shuffle is the fixed-size partials, never the n·d relation.
    val qaCov = t.embeddings.select(transform(col("embedding"),
      x => floor(x.cast(DoubleType) * 1024).cast(LongType)).as("qa"))
    // r11: the pair products come from the graft_crossmom generator
    // kernel (one primitive loop per row) instead of interpreted
    // nested-transform lambdas — same rows, same Generate →
    // HashAggregate shape, ~3 s of lambda dispatch gone at sf0.1
    val crossM = qaCov
      .selectExpr("graft_crossmom(qa) AS (dim_i, dim_j, p)")
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(sum(col("p")).as("sij"))
    val cov = crossM
      .join(broadcast(dims.toDF("dim_i", "n", "s_i")), "dim_i")
      .join(broadcast(dims.toDF("dim_j", "n_j", "s_j")), "dim_j")
      .select(col("dim_i"), col("dim_j"), col("n"),
        (col("n") * col("sij") - col("s_i") * col("s_j")).as("cov_n2"))
    cov
      .withColumn("rn", row_number().over(
        Window.orderBy(abs(col("cov_n2")).desc, col("dim_i"), col("dim_j"))))
      .filter(col("rn") <= 20)
      .select(col("dim_i"), col("dim_j"),
        expr("cov_n2 * 1000 div (n * n)").cast(LongType).as("cov_milli"))
      .orderBy(col("dim_i"), col("dim_j"))
  }

  // embed_kmeans — the coarse quantizer exposed as a clustering operator:
  // per-cluster population, inertia (sum of squared distances to the
  // centroid), and radius — the diagnostics a pipeline reads to judge
  // cluster balance before semantic dedup or IVF search trusts the
  // partitioning. Training is the shared deterministic integer-grid
  // Lloyd step (ivfCentroids, memoized — free when any IVF op already
  // ran); per-row distances floor to integers before the row-order-
  // independent BIGINT sum, so both engines agree exactly. Centroids
  // broadcast; the corpus aggregates map-side to C rows — no shuffle of
  // vectors at any scale.
  val kmeansStats = Q(
    "embed_kmeans",
    Some(s"""
      WITH ${ivfCtesSql(16, 4)},
      ad AS (
        SELECT vec_id, cid AS cell, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT e.vec_id, c.cid, ${dist2Sql("e.qv", "c.cv")} AS dist
              FROM qemb e, cents c))
      SELECT cell, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(dist) AS BIGINT)) AS BIGINT) AS inertia_fp,
             MAX(CAST(FLOOR(dist) AS BIGINT)) AS radius_fp
      FROM ad WHERE rn = 1
      GROUP BY cell
      ORDER BY cell
    """)
  ) { t =>
    val emb = ivfEmb(t)
    val centroids = ivfCentroids(t, 16)
    emb.join(broadcast(centroids))
      .select(col("vec_id"), col("cid"), dist2(col("qv"), col("cv")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("m.cid").as("cell"),
        floor(col("m.dist")).cast(LongType).as("dq"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("dq")).as("inertia_fp"),
        max(col("dq")).as("radius_fp"))
      .orderBy(col("cell"))
  }

  // dedup_semantic — SemDeDup-style semantic deduplication ("SemDeDup:
  // Data-efficient learning at web-scale through semantic deduplication",
  // Abbas et al. 2023): cluster the corpus with the trained coarse
  // quantizer, then inside each cluster drop any vector whose cosine to
  // an earlier-id cluster member exceeds the threshold. The cluster
  // bounds the quadratic — pairwise work is per-cell, never corpus-wide,
  // which is the published 100 TB recipe (vs dedup_embedding's
  // hyperplane-LSH buckets: same product, different candidate generator).
  // The corpus is twinned (vec_id + 1e6, exact copies) so planted
  // duplicates exist: twins quantize identically, land in the same cell,
  // and the original (smaller id) survives.
  val semanticDedup = Q(
    "dedup_semantic",
    Some(s"""
      WITH ${ivfCtesSqlDyn("(SELECT cells FROM kc)", 4,
        s"""kc AS (SELECT ${cellsForSql("2 * COUNT(*)")} AS cells FROM embeddings),
      """)},
      twins AS (
        SELECT vec_id, embedding, qv FROM qemb
        UNION ALL
        SELECT vec_id + 1000000, embedding, qv FROM qemb),
      tac AS (
        SELECT vec_id, embedding, cid AS cell
        FROM (SELECT vec_id, embedding, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              FROM (SELECT e.vec_id, e.embedding, c.cid,
                           ${dist2Sql("e.qv", "c.cv")} AS dist
                    FROM twins e, cents c))
        WHERE rn = 1),
      dup AS (
        SELECT DISTINCT a.vec_id
        FROM tac a JOIN tac b ON a.cell = b.cell AND b.vec_id < a.vec_id
        WHERE ROUND(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.99)
      SELECT t.vec_id, t.cell,
             CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM tac t LEFT JOIN dup d ON t.vec_id = d.vec_id
      ORDER BY t.vec_id
    """)
  ) { t =>
    val emb = ivfEmb(t)
    val twins = emb.unionAll(emb.select(
      (col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("qv")))
    // corpus-derived cluster count (cellsFor): the per-cell pairwise stage
    // is quadratic in cell population, so cells scale with the clustered
    // (twinned) corpus — at the gate SFs this resolves to 16, sharing the
    // memoized IVF quantizer
    val cents = ivfCentroids(t, cellsFor(2L * t.embeddings.count()))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // three consumers (both sides of the in-cell pair join + the verdict
    // join) — share the vector-grain assignment so the quantize pass
    // runs ONCE rather than relying on plan reuse, so a cache-evicted
    // memoized quantizer cannot silently triple the cost (the r10/r11
    // bench hypothesis).
    // Assignment rides the assignCells kernel (r16): the broadcast-join
    // form moved 2n·cells wide rows through the exchange, an n² data
    // volume under the corpus-derived cell dial; embeddings join back
    // id-keyed (linear) for the in-cell cosine verify.
    val assigned = Materialize.share(
      assignCells(twins, cents).select(col("vec_id"), col("cell"))
        .join(twins.select(col("vec_id"), col("embedding")), "vec_id"))
    val dup = assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell") &&
        col("b.vec_id") < col("a.vec_id"))
      .filter(round(cosine(col("a.embedding"), col("b.embedding")), 6) >= 0.99)
      .select(col("a.vec_id").as("vec_id")).distinct()
    assigned.join(dup.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("is_dup").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy(col("vec_id"))
  }

  // ann_filtered — filtered (predicate-constrained) similarity search:
  // each query's top-5 neighbors AMONG VECTORS SHARING ITS LABEL — the
  // "similar documents from the same source/class" query every retrieval
  // system needs. The label predicate is applied BEFORE scoring (filter-
  // then-search): the equi-join on label lets Catalyst push the filter
  // into the corpus scan, so the scored candidate set is the filtered
  // corpus, not a post-filtered top-k that can silently return < k rows
  // (the classic filtered-ANN bug). Queries broadcast; the corpus never
  // shuffles; with an IVF index the same label filter composes with cell
  // probing.
  val filteredSearch = Q(
    "ann_filtered",
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec, label
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
               ${graft.functions.VectorLsh.cosSql("q.qvec", "e.embedding")} AS cos
        FROM embeddings e JOIN q ON e.label = q.label
        WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 5
      ORDER BY query_id, rnk
    """)
  ) { t =>
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val scored = t.embeddings
      .join(broadcast(queries), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    rankedTopK(scored, "cos", 5)
  }

  // embed_outliers — per-cluster distance outliers: vectors whose squared
  // distance to their centroid exceeds 2× the cluster mean — the cheap
  // mislabeled/garbage-vector screen a pipeline runs before trusting an
  // embedding space (outliers are dropped or re-embedded). Shares the
  // memoized quantizer and integer-grid distances (exact in both
  // engines); the per-cluster means are |cells| rows broadcast back, so
  // the corpus is scanned twice and never shuffled. Integer arithmetic
  // end-to-end.
  val outliers = Q(
    "embed_outliers",
    Some(s"""
      WITH ${ivfCtesSql(16, 4)},
      ad AS (
        SELECT vec_id, cell, CAST(FLOOR(dist) AS BIGINT) AS dq
        FROM (SELECT vec_id, cid AS cell, dist,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              FROM (SELECT e.vec_id, c.cid, ${dist2Sql("e.qv", "c.cv")} AS dist
                    FROM qemb e, cents c))
        WHERE rn = 1),
      means AS (
        SELECT cell, SUM(dq) // COUNT(*) AS mean_dq FROM ad GROUP BY cell)
      SELECT a.cell,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(m.mean_dq) AS BIGINT) AS mean_dq,
             CAST(MAX(a.dq) AS BIGINT) AS max_dq,
             CAST(COUNT(CASE WHEN a.dq > 2 * m.mean_dq THEN 1 END) AS BIGINT)
               AS n_outliers
      FROM ad a JOIN means m ON m.cell = a.cell
      GROUP BY a.cell
      ORDER BY a.cell
    """)
  ) { t =>
    val emb = ivfEmb(t)
    val centroids = ivfCentroids(t, 16)
    val ad = emb.join(broadcast(centroids))
      .select(col("vec_id"), col("cid"), dist2(col("qv"), col("cv")).as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("m.cid").as("cell"),
        floor(col("m.dist")).cast(LongType).as("dq"))
    val means = ad.groupBy(col("cell"))
      .agg(expr("sum(dq) div count(1)").as("mean_dq"))
    ad.join(broadcast(means), Seq("cell"))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n"),
        min(col("mean_dq")).cast(LongType).as("mean_dq"),
        max(col("dq")).cast(LongType).as("max_dq"),
        count(when(col("dq") > col("mean_dq") * 2, 1)).as("n_outliers"))
      .orderBy(col("cell"))
  }

  // ann_mips — maximum-inner-product retrieval: top-10 by RAW dot
  // product, not cosine. The metric of recommender scoring (user·item
  // where vector magnitude IS signal — normalizing it away, as cosine
  // does, changes the ranking). Same broadcast shape as brute force; the
  // score is the codegen'd dot kernel and the oracle the same
  // left-to-right LIST_SUM fold. At scale the standard reduction applies:
  // append sqrt(maxNorm² − ‖v‖²) as an extra coordinate and MIPS becomes
  // cosine search over the augmented vectors, reusing the IVF/PQ stack.
  val mips = Q(
    "ann_mips",
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qvec, e.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))), 6) AS score
        FROM embeddings e, q),
      ranked AS (
        SELECT query_id, vec_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
        FROM scored)
      SELECT query_id, vec_id, score, CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
    """)
  ) { t =>
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = t.embeddings
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(call_function("graft_dot", col("qvec"), col("embedding")), 6)
          .as("score"))
    rankedTopK(scored, "score", 10)
  }

  // ann_knn_graph — exact k-NN graph, cell-bounded: each vector's top-3
  // neighbors AMONG ITS OWN IVF CELL'S members, ranked by the integer-
  // grid dot product (exact arithmetic — no FP-ordering ambiguity
  // between engines or executors). The kNN graph is the backbone
  // structure of graph-based ANN indexes (HNSW/NSG build from exactly
  // this neighborhood seed) and of graph-clustering semantic dedup; the
  // cell bound keeps the pairwise stage O(cell²) like dedup_semantic —
  // per-cell work, never corpus-quadratic, so the same plan holds at
  // 100 TB with cellsFor-scaled cell counts. Quantizer training is the
  // shared memoized Lloyd step — free when any IVF op already ran.
  /** Corpus-size-derived cell count for the memoized kNN assignment and
    * every cell-bounded pairwise stage that reads it (kNN graph/purity/
    * margin, TwoNN intrinsic dimension, cell stats, graph-search
    * routing). r15's third decade measured why this cannot stay fixed:
    * with 16 cells, occupancy grows linearly with the corpus and the
    * Σ cell² candidate stage goes quadratic — embed_intrinsic_dim read
    * 63× on 10× rows at gsf10. cellsFor holds expected occupancy ≤ ~400
    * (the dedup_semantic dial); at the driver SFs (≤ 6 400 vectors) it
    * resolves to the same 16 cells as before. Memoized per dataset —
    * the count is one parquet-metadata job.
    */
  private val knnCellsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[graft] def knnCells(t: Tables): Int =
    knnCellsCache.computeIfAbsent(t.dir, _ => cellsFor(t.embeddings.count()))

  /** SQL mirror of the [[knnCells]]-dialed IVF chain (kc scalar + the
    * shared training/assignment/probe CTEs) — spliced by every oracle
    * whose engine side reads [[knnAssigned]], so dial and oracle can
    * never drift.
    */
  private def knnCtesSql(nprobe: Int): String =
    ivfCtesSqlDyn("(SELECT cells FROM kc)", nprobe,
      s"""kc AS (SELECT ${cellsForSql("COUNT(*)")} AS cells FROM embeddings),
      """)

  /** Memoized (vec_id, cell, qv) corpus cell assignment on the integer
    * grid — the relation both the k-NN graph and graph-search routing
    * read; built once per (session, dataset). Cell count is the
    * [[knnCells]] corpus-derived dial, never a fixed grid.
    */
  private[graft] def knnAssigned(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#knn-assigned") {
      // trained centroids collected (knnCells·d doubles, model-sized)
      // and assigned through the kernel — the broadcast-join form moved
      // n·cells wide rows through the exchange, which with the
      // corpus-derived cell count is itself an n² data volume
      val cents = ivfCentroids(t, knnCells(t)).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      assignCells(ivfEmb(t), cents)
    }

  /** Memoized cell-bounded k-NN edge set (vec_id, neighbor_id, dot_q;
    * top-3 per vector) — ann_knn_graph's rows, shared with
    * ann_graph_search's routing. Pair volume is Σ cell²; the top-3 cut
    * rides the two-phase TopKPerGroup plan.
    */
  private[graft] def knnEdgeSet(t: Tables): DataFrame =
    graft.PersistCache.getOrElseUpdate(t.spark, t.dir + "#knn-edges") {
      val assigned = knnAssigned(t)
      val pairs = assigned.as("a")
        .join(assigned.as("b"), col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
          call_function("graft_dot", col("a.qv"), col("b.qv"))
            .cast(LongType).as("dot_q"))
      graft.plans.TopKPerGroup.topK(pairs, Seq("vec_id"), "dot_q", "neighbor_id", 3)
    }

  val knnGraph = Q(
    "ann_knn_graph",
    Some(s"""
      WITH ${knnCtesSql(4)},
      acq AS (SELECT ac.vec_id, ac.cell, q.qv
              FROM ac JOIN qemb q ON q.vec_id = ac.vec_id),
      pairs AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.qv, b.qv),
                 pr -> pr[1] * pr[2])) AS BIGINT) AS dot_q
        FROM acq a JOIN acq b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT vec_id, neighbor_id, dot_q,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot_q DESC, neighbor_id) AS rnk
        FROM pairs)
      SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, dot_q
      FROM ranked WHERE rnk <= 3
      ORDER BY vec_id, rnk
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    // pair volume is Σ cell² — per-VECTOR top-3 via the two-phase plan,
    // so ≤ 3 rows per vector per task cross the shuffle; the rank window
    // then sees 3 rows per group (edge set memoized, shared with
    // ann_graph_search)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    knnEdgeSet(t)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("dot_q"))
      .orderBy(col("vec_id"), col("rnk"))
  }

  // ann_graph_search — greedy best-first routing over the k-NN graph:
  // the serving primitive of every graph-based ANN index (HNSW's layer-0
  // walk, NSG's search) run as a STATIC plan. Entry = the lowest-id
  // member of the query's nearest coarse cell; then three unrolled hops,
  // each moving to the best of {current} ∪ neighbors(current) by exact
  // grid dot — monotone by construction (current is always a candidate),
  // deterministic tie-break (higher dot, then lower id). Per hop the
  // per-query 1-row frames broadcast against the memoized edge set —
  // the corpus is touched only through the edge structure, which is the
  // entire point of graph ANN at 100 TB: search cost is hops×degree,
  // not corpus size. The oracle replays every hop as generated CTEs
  // over the same integer-grid arithmetic, including the full trace
  // (step 0..3 per query).
  val graphSearch = Q(
    "ann_graph_search",
    Some {
      val dotSql = (a: String, b: String) =>
        s"CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b), pr -> pr[1] * pr[2])) AS BIGINT)"
      val hops = (1 to 3).map { i =>
        val prev = s"s${i - 1}"
        s"""cand$i AS (
          SELECT s.query_id, s.node AS cand FROM $prev s
          UNION ALL
          SELECT s.query_id, ed.neighbor_id
          FROM $prev s JOIN edges ed ON ed.vec_id = s.node),
        s$i AS (
          SELECT query_id, node, dot_q FROM (
            SELECT c.query_id, c.cand AS node,
                   ${dotSql("g.gq", "n.qv")} AS dot_q,
                   ROW_NUMBER() OVER (PARTITION BY c.query_id
                     ORDER BY ${dotSql("g.gq", "n.qv")} DESC, c.cand) AS rn
            FROM cand$i c
            JOIN qgrid g ON g.query_id = c.query_id
            JOIN acq n ON n.vec_id = c.cand)
          WHERE rn = 1)"""
      }.mkString(",")
      val trace = (0 to 3)
        .map(i => s"SELECT query_id, $i AS step, node, dot_q FROM s$i")
        .mkString("\n        UNION ALL ")
      s"""
      WITH ${knnCtesSql(1)},
      acq AS (SELECT ac.vec_id, ac.cell, q.qv
              FROM ac JOIN qemb q ON q.vec_id = ac.vec_id),
      pairs AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               ${dotSql("a.qv", "b.qv")} AS dot_q
        FROM acq a JOIN acq b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      edges AS (
        SELECT vec_id, neighbor_id FROM (
          SELECT vec_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dot_q DESC, neighbor_id) AS rnk
          FROM pairs) WHERE rnk <= 3),
      qgrid AS (SELECT vec_id AS query_id, qv AS gq FROM qemb WHERE vec_id < 5),
      entry AS (
        SELECT p.query_id, MIN(a.vec_id) AS node
        FROM probes p JOIN ac a ON a.cell = p.cell
        GROUP BY p.query_id),
      s0 AS (
        SELECT e.query_id, e.node, ${dotSql("g.gq", "n.qv")} AS dot_q
        FROM entry e
        JOIN qgrid g ON g.query_id = e.query_id
        JOIN acq n ON n.vec_id = e.node),
      $hops
      SELECT query_id, CAST(step AS BIGINT) AS step, node, dot_q
      FROM (
        $trace)
      ORDER BY query_id, step
      """
    }
  ) { t =>
    val assigned = knnAssigned(t)
    val edges = knnEdgeSet(t).select(col("vec_id").as("src"), col("neighbor_id"))
    val centroids = ivfCentroids(t, knnCells(t))
    val queries = ivfEmb(t).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("gq"))
    val qcell = queries.join(broadcast(centroids))
      .select(col("query_id"), col("gq"), col("cid"),
        dist2(col("gq"), col("cv")).as("dist"))
      .groupBy(col("query_id"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("cell"),
        first(col("gq")).as("gq"))
    def score(df: DataFrame): DataFrame = df
      .join(assigned.select(col("vec_id").as("cand"), col("qv")), "cand")
      .withColumn("dot_q",
        call_function("graft_dot", col("gq"), col("qv")).cast(LongType))
    // cur_i feeds BOTH the trace union and cur_{i+1} twice (as candidate
    // and as join seed) — without truncation the hop chain re-derives
    // every earlier hop exponentially (measured ~10 s of micro-job
    // scheduling at sf0.1); truncating each 1-row-per-query frame runs
    // every hop exactly once.
    var cur = score(
      qcell.join(assigned.select(col("vec_id"), col("cell")), "cell")
        .groupBy(col("query_id"))
        .agg(min(col("vec_id")).as("cand"), first(col("gq")).as("gq")))
      .select(col("query_id"), col("gq"), col("cand").as("node"), col("dot_q"))
      .transform(Materialize.truncate)
    val steps = scala.collection.mutable.ArrayBuffer(
      cur.select(col("query_id"), lit(0L).as("step"), col("node"), col("dot_q")))
    for (i <- 1 to 3) {
      val cand = cur.select(col("query_id"), col("gq"), col("node").as("cand"))
        .unionByName(
          cur.join(edges, cur("node") === edges("src"))
            .select(col("query_id"), col("gq"), col("neighbor_id").as("cand")))
      cur = score(cand)
        .groupBy(col("query_id"))
        .agg(max_by(struct(col("cand"), col("dot_q")),
          struct(col("dot_q"), -col("cand"))).as("p"),
          first(col("gq")).as("gq"))
        .select(col("query_id"), col("gq"), col("p.cand").as("node"),
          col("p.dot_q").as("dot_q"))
        .transform(Materialize.truncate)
      steps += cur.select(col("query_id"), lit(i.toLong).as("step"),
        col("node"), col("dot_q"))
    }
    steps.reduce(_ unionByName _).orderBy(col("query_id"), col("step"))
  }

  // embed_calibration — int8 quantization calibration: per-dimension
  // p1/p99 clip bounds on the shared 1024 grid, the symmetric clip
  // max(|p1|, |p99|) (floored at one grid unit so a dead dimension never
  // divides by zero), the resulting int8 scale 127/clip, and the
  // saturation count that clip would cause — the report a quantized
  // serving rollout reads before committing a scale, and the honest
  // counterpart to ann_quantized's fixed grid. Two passes over the
  // exploded (dim, xq) relation: a sort-based exact percentile per dim
  // (64 keyed groups, parallel across dims — q21's interpolation-parity
  // convention), the bounds broadcast back for the saturation count
  // (q75's per-group-medians pattern). At larger dim×corpus products the
  // percentile pass would flip to approx_percentile with the same shape.
  val calibration = Q(
    "embed_calibration",
    Some("""
      WITH px AS (
        SELECT i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
        FROM embeddings, UNNEST(RANGE(1, LEN(embedding) + 1)) AS t(i)),
      bounds AS (
        SELECT dim, COUNT(*) AS n,
               ROUND(QUANTILE_CONT(xq, 0.01) + 0.000001, 2) AS p1,
               ROUND(QUANTILE_CONT(xq, 0.99) + 0.000001, 2) AS p99
        FROM px GROUP BY dim),
      clip AS (
        SELECT dim, n, p1, p99,
               GREATEST(ABS(p1), ABS(p99), 1) AS clip_abs
        FROM bounds)
      SELECT c.dim, CAST(c.n AS BIGINT) AS n, c.p1, c.p99, c.clip_abs,
             CAST(FLOOR(127000000 / c.clip_abs) AS BIGINT) AS scale_x1e6,
             CAST(SUM(CASE WHEN ABS(p.xq) > c.clip_abs THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped
      FROM clip c JOIN px p ON p.dim = c.dim
      GROUP BY c.dim, c.n, c.p1, c.p99, c.clip_abs
      ORDER BY c.dim
    """)
  ) { t =>
    val px = t.embeddings
      .select(posexplode(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(LongType))))
      .select(col("pos").cast(LongType).as("dim"), col("col").as("xq"))
    val bounds = px.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        percentile(col("xq"), array(lit(0.01), lit(0.99))).as("ps"))
      .select(col("dim"), col("n"),
        round(col("ps").getItem(0) + 0.000001, 2).as("p1"),
        round(col("ps").getItem(1) + 0.000001, 2).as("p99"))
      .withColumn("clip_abs",
        greatest(abs(col("p1")), abs(col("p99")), lit(1.0)))
    px.join(broadcast(bounds), "dim")
      .groupBy(col("dim"), col("n"), col("p1"), col("p99"), col("clip_abs"))
      .agg(sum(when(abs(col("xq")) > col("clip_abs"), 1L).otherwise(0L))
        .cast(LongType).as("n_clipped"))
      .select(col("dim"), col("n").cast(LongType).as("n"),
        col("p1"), col("p99"), col("clip_abs"),
        floor(lit(127000000.0) / col("clip_abs")).cast(LongType).as("scale_x1e6"),
        col("n_clipped"))
      .orderBy(col("dim"))
  }

  // embed_pca_power — the top principal component by THREE fixed power
  // iterations, integer-exact end to end: the heavy O(n·d²) cross-moment
  // pass is the same distributed aggregation as embed_covariance; the
  // iterations then run entirely on the d×d milli-normalized matrix
  // (≤ 4096 rows — broadcast joins, no driver loop state, a static plan
  // like dedup_hub_rank). Divisions are sign-split (sign · |x| div m),
  // which IS truncating division spelled engine-agnostically: both
  // engines' integer div/`//` truncate toward zero today, and the split
  // form stays correct even against a floor-division engine (they
  // diverge only on negative operands). L∞ normalization keeps entries in
  // [-1000, 1000], so the matvec bound is d·10⁹·10³ ≈ 6·10¹³ — Long-safe
  // at any corpus size (the n-dependence divides out in cov_milli).
  // Covariance is PSD, so the dominant eigenvalue is non-negative and
  // the all-positive seed cannot land orthogonal by sign symmetry.
  val pcaPower = Q(
    "embed_pca_power",
    Some("""
      WITH px AS (
        SELECT vec_id, i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
        FROM embeddings, UNNEST(RANGE(1, LEN(embedding) + 1)) AS t(i)),
      dims AS (
        SELECT dim, COUNT(*) AS n, SUM(xq) AS s, SUM(xq * xq) AS s2
        FROM px GROUP BY dim),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      cm0 AS (
        SELECT a.dim AS i, b.dim AS j, SUM(a.xq * b.xq) AS sij
        FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.dim < b.dim
        GROUP BY 1, 2),
      cp AS (
        SELECT c.i, c.j, di.n * c.sij - di.s * dj.s AS cov_n2
        FROM cm0 c
        JOIN dims di ON di.dim = c.i
        JOIN dims dj ON dj.dim = c.j),
      cfull AS (
        SELECT i, j, cov_n2 FROM cp
        UNION ALL SELECT j, i, cov_n2 FROM cp
        UNION ALL SELECT dim, dim, n * s2 - s * s FROM dims),
      cmat AS (
        SELECT i, j,
               (CASE WHEN cov_n2 < 0 THEN -1 ELSE 1 END)
                 * (ABS(cov_n2) * 1000 // (nn.n * nn.n)) AS c
        FROM cfull, nn),
      v0 AS (SELECT dim AS j, CAST(1000 AS BIGINT) AS v FROM dims),
      w1 AS (SELECT c.i, SUM(c.c * v0.v) AS w FROM cmat c JOIN v0 ON v0.j = c.j GROUP BY c.i),
      m1 AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w1),
      v1 AS (SELECT i AS j, (CASE WHEN w < 0 THEN -1 ELSE 1 END) * (ABS(w) * 1000 // m) AS v FROM w1, m1),
      w2 AS (SELECT c.i, SUM(c.c * v1.v) AS w FROM cmat c JOIN v1 ON v1.j = c.j GROUP BY c.i),
      m2 AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w2),
      v2 AS (SELECT i AS j, (CASE WHEN w < 0 THEN -1 ELSE 1 END) * (ABS(w) * 1000 // m) AS v FROM w2, m2),
      w3 AS (SELECT c.i, SUM(c.c * v2.v) AS w FROM cmat c JOIN v2 ON v2.j = c.j GROUP BY c.i),
      m3 AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w3),
      v3 AS (SELECT i AS j, (CASE WHEN w < 0 THEN -1 ELSE 1 END) * (ABS(w) * 1000 // m) AS v FROM w3, m3)
      SELECT CAST(j AS BIGINT) AS dim, CAST(v AS BIGINT) AS loading_milli
      FROM v3 ORDER BY dim
    """)
  ) { t =>
    val px = t.embeddings
      .select(col("vec_id"), posexplode(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(LongType))))
      .select(col("vec_id"), col("pos").cast(LongType).as("dim"), col("col").as("xq"))
    val dims = px.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xq")).as("s"),
        sum(col("xq") * col("xq")).as("s2"))
    // cross moments WITHOUT the vec_id self-join (r10): each row expands
    // its own (i<j) pair products through one generator — flatten of
    // nested indexed transforms — and the hash aggregate combines
    // map-side into the fixed d²/2 key space, so the only shuffle is
    // ≤ d²/2 partials per task. The join form range-shuffled the whole
    // n·d exploded relation on vec_id before producing the same pairs —
    // at 100 TB that shuffle IS the query; this shape is a single
    // narrow scan at any corpus size.
    val qa = t.embeddings.select(transform(col("embedding"),
      x => floor(x.cast(DoubleType) * 1024).cast(LongType)).as("qa"))
    // r11: primitive-loop generator kernel instead of interpreted
    // nested-transform lambdas (see embed_covariance)
    val crossM = qa
      .selectExpr("graft_crossmom(qa) AS (i, j, p)")
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("sij"))
    val cp = crossM
      .join(broadcast(dims.select(col("dim").as("i"), col("n"), col("s").as("s_i"))), "i")
      .join(broadcast(dims.select(col("dim").as("j"), col("s").as("s_j"))), "j")
      .select(col("i"), col("j"), (col("n") * col("sij") - col("s_i") * col("s_j")).as("cov_n2"))
    val diag = dims.select(col("dim").as("i"), col("dim").as("j"),
      (col("n") * col("s2") - col("s") * col("s")).as("cov_n2"))
    val nn = t.embeddings.agg(count(lit(1)).as("nn"))
    val cmat = cp
      .unionAll(cp.select(col("j").as("i"), col("i").as("j"), col("cov_n2")))
      .unionAll(diag)
      .crossJoin(broadcast(nn))
      .select(col("i"), col("j"),
        expr("(CASE WHEN cov_n2 < 0 THEN -1 ELSE 1 END) * (ABS(cov_n2) * 1000 DIV (nn * nn))").as("c"))
    var v = dims.select(col("dim").as("j"), lit(1000L).as("v"))
    for (_ <- 1 to 3) {
      val w = cmat.join(v, "j").groupBy(col("i"))
        .agg(sum(col("c") * col("v")).as("w"))
      val m = w.agg(greatest(max(abs(col("w"))), lit(1L)).as("m"))
      v = w.crossJoin(broadcast(m)).select(col("i").as("j"),
        expr("(CASE WHEN w < 0 THEN -1 ELSE 1 END) * (ABS(w) * 1000 DIV m)").as("v"))
    }
    v.select(col("j").cast(LongType).as("dim"),
      col("v").cast(LongType).as("loading_milli"))
      .orderBy(col("dim"))
  }

  // embed_rp_project — signed random projection 64→8 dims (the
  // Achlioptas/JL sketch) with its distortion audit: y_j = Σ_d s_dj·x_d
  // over the ±1 hyperplane family the LSH index already treats as model
  // constants, on the shared 1024 integer grid so both engines agree on
  // every coordinate. E[‖y‖²] = 8·‖x‖² for ±1 signs, so the per-vector
  // ratio ‖y‖²·10⁴/(8·‖x‖²) centered on 10000 bp IS the JL distortion —
  // reported per label as mean/min/max. Shape matters more than the
  // sketch: the projection is a PER-ROW map (8 codegen'd
  // aggregate-over-array folds, no explode, no shuffle), so at 100 TB it
  // rides the scan like any narrow transform; only the label-sized audit
  // aggregate moves. The oracle takes the explode form — same
  // arithmetic, friendlier SQL.
  val rpProject = {
    val signs = graft.functions.PortableHash.planeSigns(8, 64)
    val sMatSql = (0 until 8).map(j => signs(j).map(v =>
      if (v > 0) "1" else "-1").mkString("[", ", ", "]")).mkString("[", ", ", "]")
    Q(
      "embed_rp_project",
      Some(s"""
        WITH px AS (
          SELECT vec_id, i - 1 AS dim,
                 CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS xq
          FROM embeddings, UNNEST(RANGE(1, LEN(embedding) + 1)) AS t(i)),
        nx AS (SELECT vec_id, SUM(xq * xq) AS n2x FROM px GROUP BY vec_id),
        proj AS (
          SELECT vec_id, j,
                 SUM(xq * CAST(list_extract(list_extract($sMatSql, j + 1),
                   dim + 1) AS BIGINT)) AS y
          FROM px, UNNEST(RANGE(0, 8)) AS t2(j)
          GROUP BY vec_id, j),
        ny AS (SELECT vec_id, SUM(y * y) AS n2y FROM proj GROUP BY vec_id),
        r AS (
          SELECT e.label,
                 ny.n2y * 10000 // (8 * GREATEST(nx.n2x, 1)) AS ratio_bp
          FROM embeddings e
          JOIN nx ON nx.vec_id = e.vec_id
          JOIN ny ON ny.vec_id = e.vec_id)
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ratio_bp) // COUNT(*) AS BIGINT) AS mean_ratio_bp,
               CAST(MIN(ratio_bp) AS BIGINT) AS min_ratio_bp,
               CAST(MAX(ratio_bp) AS BIGINT) AS max_ratio_bp
        FROM r
        GROUP BY label
        ORDER BY label
      """)
    ) { t =>
      val xq = transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(LongType))
      def signsLit(j: Int): Column =
        array(signs(j).map(v => lit(if (v > 0) 1L else -1L)): _*)
      val yCols = (0 until 8).map { j =>
        aggregate(zip_with(col("xq"), signsLit(j), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as(s"y$j")
      }
      val perVec = t.embeddings
        .select(col("vec_id"), col("label").cast(LongType).as("label"), xq.as("xq"))
        .select(col("vec_id"), col("label"),
          aggregate(col("xq"), lit(0L), (acc, v) => acc + v * v).as("n2x"),
          struct(yCols: _*).as("ys"))
        .select(col("vec_id"), col("label"), col("n2x"),
          (0 until 8).map(j => col(s"ys.y$j") * col(s"ys.y$j"))
            .reduce(_ + _).as("n2y"))
        .select(col("label"),
          expr("n2y * 10000 div (8 * greatest(n2x, 1))").as("ratio_bp"))
      perVec
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("ratio_bp")).as("sr"),
          min(col("ratio_bp")).as("min_ratio_bp"),
          max(col("ratio_bp")).as("max_ratio_bp"))
        .select(col("label"), col("n"),
          expr("sr div n").as("mean_ratio_bp"),
          col("min_ratio_bp"), col("max_ratio_bp"))
        .orderBy(col("label"))
    }
  }

  // ann_diversify — MMR diversity re-ranking (maximal marginal relevance,
  // Carbonell & Goldstein 1998): pick 3 of each query's top-10 greedily by
  // 0.7·relevance − 0.3·max-similarity-to-already-picked, the re-rank a
  // retrieval pipeline runs so "similar docs" aren't 3 copies of the same
  // near-dup. The decomposition is what scales: the corpus contributes
  // ONLY the top-k stage (two-phase TopKPerGroup — ≤ k rows per query
  // cross the wire); MMR's quadratic runs over k² candidate pairs per
  // query, a constant independent of corpus size. Greedy rounds are
  // unrolled (static plan); each pick is a k=1 TopKPerGroup argmax with
  // the (score desc, vec_id) tie-break, and scores are micro-unit
  // integers off the 6-rounded cosine, so the DuckDB oracle replays every
  // pick exactly.
  val diversify = Q(
    "ann_diversify",
    Some {
      val simU = s"CAST(ROUND(${cosSql("a.embedding", "b.embedding")} * 1000000) AS BIGINT)"
      s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qvec FROM e WHERE vec_id < 5),
      scored AS (
        SELECT query_id, vec_id, e.embedding,
               ${cosSql("qvec", "embedding")} AS cos
        FROM e, q),
      cand AS (
        SELECT query_id, vec_id, embedding,
               CAST(ROUND(cos * 1000000) AS BIGINT) AS relu
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos DESC, vec_id) AS rn FROM scored)
        WHERE rn <= 10),
      sims AS (
        SELECT a.query_id, a.vec_id AS v1, b.vec_id AS v2, $simU AS simu
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
      p1 AS (
        SELECT query_id, vec_id, relu, 7 * relu AS mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY relu DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
      r2 AS (
        SELECT c.query_id, c.vec_id, c.relu, 7 * c.relu - 3 * s.simu AS mmr
        FROM cand c
        JOIN p1 ON p1.query_id = c.query_id AND c.vec_id <> p1.vec_id
        JOIN sims s ON s.query_id = c.query_id AND s.v1 = c.vec_id
                   AND s.v2 = p1.vec_id),
      p2 AS (
        SELECT query_id, vec_id, relu, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM r2) WHERE rn = 1),
      sel2 AS (SELECT query_id, vec_id FROM p1
               UNION ALL SELECT query_id, vec_id FROM p2),
      r3 AS (
        SELECT c.query_id, c.vec_id, c.relu,
               7 * c.relu - 3 * MAX(s.simu) AS mmr
        FROM cand c
        LEFT JOIN sel2 x ON x.query_id = c.query_id AND x.vec_id = c.vec_id
        JOIN sims s ON s.query_id = c.query_id AND s.v1 = c.vec_id
        JOIN sel2 ON sel2.query_id = s.query_id AND sel2.vec_id = s.v2
        WHERE x.vec_id IS NULL
        GROUP BY c.query_id, c.vec_id, c.relu),
      p3 AS (
        SELECT query_id, vec_id, relu, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr DESC, vec_id) AS rn FROM r3) WHERE rn = 1)
      SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, relu, mmr
      FROM (SELECT query_id, 1 AS rnk, vec_id, relu, mmr FROM p1
            UNION ALL SELECT query_id, 2, vec_id, relu, mmr FROM p2
            UNION ALL SELECT query_id, 3, vec_id, relu, mmr FROM p3)
      ORDER BY query_id, rnk
      """
    }
  ) { t =>
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = t.embeddings
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    val cand = graft.plans.TopKPerGroup.topK(scored, Seq("query_id"), "cos", "vec_id", 10)
      .select(col("query_id"), col("vec_id"), col("embedding"),
        round(col("cos") * 1000000).cast(LongType).as("relu"))
    val simU = round(round(cosine(col("e1"), col("e2")), 6) * 1000000)
      .cast(LongType).as("simu")
    val sims = cand.select(col("query_id"), col("vec_id").as("v1"), col("embedding").as("e1"))
      .join(cand.select(col("query_id").as("qb"), col("vec_id").as("v2"),
        col("embedding").as("e2")),
        col("query_id") === col("qb") && col("v1") =!= col("v2"))
      .select(col("query_id"), col("v1"), col("v2"), simU)
    def pick(r: DataFrame): DataFrame =
      graft.plans.TopKPerGroup.topK(r, Seq("query_id"), "mmr", "vec_id", 1)
    val base = cand.select(col("query_id"), col("vec_id"), col("relu"))
    val p1 = pick(base.withColumn("mmr", col("relu") * 7))
    val r2 = base.as("c")
      .join(p1.select(col("query_id").as("q1"), col("vec_id").as("pv1")),
        col("query_id") === col("q1") && col("vec_id") =!= col("pv1"))
      .join(sims.select(col("query_id").as("qs"), col("v1"), col("v2"), col("simu")),
        col("qs") === col("query_id") && col("v1") === col("vec_id") &&
          col("v2") === col("pv1"))
      .select(col("query_id"), col("vec_id"), col("relu"),
        (col("relu") * 7 - col("simu") * 3).as("mmr"))
    val p2 = pick(r2)
    val sel2 = p1.select(col("query_id"), col("vec_id"))
      .unionAll(p2.select(col("query_id"), col("vec_id")))
    val r3 = base
      .join(sel2, Seq("query_id", "vec_id"), "left_anti")
      .join(sims.select(col("query_id").as("qs"), col("v1"), col("v2"), col("simu")),
        col("qs") === col("query_id") && col("v1") === col("vec_id"))
      .join(sel2.select(col("query_id").as("q2"), col("vec_id").as("pv")),
        col("q2") === col("query_id") && col("pv") === col("v2"))
      .groupBy(col("query_id"), col("vec_id"), col("relu"))
      .agg(max(col("simu")).as("ms"))
      .select(col("query_id"), col("vec_id"), col("relu"),
        (col("relu") * 7 - col("ms") * 3).as("mmr"))
    val p3 = pick(r3)
    Seq(p1 -> 1, p2 -> 2, p3 -> 3).map { case (p, i) =>
      p.select(col("query_id"), lit(i.toLong).as("rnk"), col("vec_id"),
        col("relu"), col("mmr"))
    }.reduce(_.unionAll(_)).orderBy(col("query_id"), col("rnk"))
  }

  // embed_matryoshka — truncated-dimension retrieval quality (the MRL /
  // Matryoshka-embedding eval): how much top-10 recall survives when
  // vectors are cut to their first 8/16/32 of 64 dimensions — the
  // cheapest memory/recall dial a serving stack has (a w-dim prefix is
  // w/64 of the RAM and FLOPs, no retraining). Per width one
  // broadcast-join scoring pass over the corpus on the shared integer
  // grid (prefix dots are exact BIGINTs), each ranked through the
  // two-phase TopKPerGroup; recall is exact hits against the full-width
  // truth, reported per width in basis points. Four corpus passes total
  // (truth + 3 widths), all the same plan shape as ann_bruteforce.
  private val MatryoshkaWidths = Seq(8, 16, 32)

  val matryoshka = Q(
    "embed_matryoshka",
    Some {
      def dotW(a: String, b: String, w: Int) =
        s"CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a[1:$w], $b[1:$w]), pr -> pr[1] * pr[2])) AS BIGINT)"
      def topW(name: String, w: Int) =
        s"""${name}_s AS (
          SELECT q.query_id, e.vec_id, ${dotW("q.gq", "e.qv", w)} AS dq
          FROM grid e, qgrid q),
        $name AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY dq DESC, vec_id) AS rnk
            FROM ${name}_s) WHERE rnk <= 10)"""
      val widthCtes = MatryoshkaWidths.map(w => topW(s"top_$w", w)).mkString(",")
      val widthUnion = MatryoshkaWidths
        .map(w => s"SELECT $w AS width, query_id, vec_id FROM top_$w")
        .mkString("\n        UNION ALL ")
      s"""
      WITH grid AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 1024)) AS qv
        FROM embeddings),
      qgrid AS (SELECT vec_id AS query_id, qv AS gq FROM grid WHERE vec_id < 5),
      ${topW("truth", 64)},
      $widthCtes,
      methods AS (
        $widthUnion),
      eval AS (
        SELECT m.width, COUNT(*) AS n_retrieved, COUNT(t.vec_id) AS n_hits
        FROM methods m
        LEFT JOIN truth t ON t.query_id = m.query_id AND t.vec_id = m.vec_id
        GROUP BY m.width)
      SELECT CAST(width AS BIGINT) AS width,
             CAST(n_retrieved AS BIGINT) AS n_retrieved,
             CAST(n_hits AS BIGINT) AS n_hits,
             CAST(n_hits * 10000 // n_retrieved AS BIGINT) AS recall_bp
      FROM eval
      ORDER BY width
      """
    }
  ) { t =>
    val grid = ivfEmb(t).select(col("vec_id"), col("qv"))
    val qgrid = grid.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("gq"))
    def topW(w: Int): DataFrame = {
      val scored = grid.join(broadcast(qgrid))
        .select(col("query_id"), col("vec_id"),
          call_function("graft_dot",
            slice(col("gq"), 1, w), slice(col("qv"), 1, w))
            .cast(LongType).as("dq"))
      graft.plans.TopKPerGroup.topK(scored, Seq("query_id"), "dq", "vec_id", 10)
        .select(col("query_id"), col("vec_id"))
    }
    val truth = topW(64)
    val methods = MatryoshkaWidths
      .map(w => topW(w).withColumn("width", lit(w.toLong)))
      .reduce(_ unionByName _)
    val tr = truth.select(col("query_id").as("tq"), col("vec_id").as("tvec"))
    methods
      .join(tr, col("query_id") === col("tq") && col("vec_id") === col("tvec"),
        "left")
      .groupBy(col("width"))
      .agg(count(lit(1)).as("n_retrieved"), count(col("tvec")).as("n_hits"))
      .select(col("width"),
        col("n_retrieved").cast(LongType).as("n_retrieved"),
        col("n_hits").cast(LongType).as("n_hits"),
        expr("n_hits * 10000 div n_retrieved").cast(LongType).as("recall_bp"))
      .orderBy(col("width"))
  }

  // embed_binary_quant — 1-bit (sign) quantization retrieval eval, the
  // binary-quantization dial next to embed_matryoshka's prefix dial:
  // every 64-dim vector collapses to ONE BIGINT of sign bits (32×
  // memory cut), candidates rank by hamming distance (a single XOR +
  // popcount per pair — the cheapest similarity a CPU can score), and
  // recall@10 is measured exactly against the full-precision dot truth.
  // Bit 63 packs via the simhash two's-complement convention so both
  // engines build identical signed keys; the hamming top-10 rides
  // TopKPerGroup on the negated distance. This is the
  // binary-prefilter-then-rerank shape modern vector stores ship.
  val binaryQuant = Q(
    "embed_binary_quant",
    Some {
      val dot64 = (a: String, b: String) =>
        s"CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b), pr -> pr[1] * pr[2])) AS BIGINT)"
      s"""
      WITH grid AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 1024)) AS qv
        FROM embeddings),
      qgrid AS (SELECT vec_id AS query_id, qv AS gq FROM grid WHERE vec_id < 5),
      bits AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN qv[i + 1] > 0
                 THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1
                           ELSE (1::BIGINT << i) END
                 ELSE 0 END) AS BIGINT) AS sig
        FROM grid, UNNEST(RANGE(0, 64)) AS t(i)
        GROUP BY vec_id),
      qbits AS (SELECT vec_id AS query_id, sig AS qsig FROM bits WHERE vec_id < 5),
      truth_s AS (
        SELECT q.query_id, e.vec_id, ${dot64("q.gq", "e.qv")} AS dq
        FROM grid e, qgrid q),
      truth AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY dq DESC, vec_id) AS rnk
          FROM truth_s) WHERE rnk <= 10),
      ham AS (
        SELECT q.query_id, b.vec_id, BIT_COUNT(XOR(b.sig, q.qsig)) AS h
        FROM bits b, qbits q),
      btop AS (
        SELECT query_id, vec_id, h FROM (
          SELECT query_id, vec_id, h,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY h, vec_id) AS rnk
          FROM ham) WHERE rnk <= 10)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_retrieved,
             CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits,
             CAST(COUNT(t.vec_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bp,
             CAST(SUM(b.h) AS BIGINT) AS total_hamming
      FROM btop b
      LEFT JOIN truth t ON t.query_id = b.query_id AND t.vec_id = b.vec_id
      """
    }
  ) { t =>
    val grid = ivfEmb(t).select(col("vec_id"), col("qv"))
    val qgrid = grid.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("gq"))
    // sign-bit pack: Java's 1L << 63 IS Long.MinValue, matching the
    // oracle's explicit two's-complement case
    val sig = expr(
      "aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc + CASE WHEN element_at(qv, i + 1) > 0D THEN shiftleft(1L, i) ELSE 0L END)")
    val bits = grid.select(col("vec_id"), sig.as("sig"))
    val qbits = bits.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val truth = graft.plans.TopKPerGroup.topK(
      grid.join(broadcast(qgrid))
        .select(col("query_id"), col("vec_id"),
          call_function("graft_dot", col("gq"), col("qv"))
            .cast(LongType).as("dq")),
      Seq("query_id"), "dq", "vec_id", 10)
      .select(col("query_id").as("tq"), col("vec_id").as("tvec"))
    val ham = bits.join(broadcast(qbits))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("sig").bitwiseXOR(col("qsig"))).cast(LongType).as("h"))
      .withColumn("negh", -col("h"))
    val btop = graft.plans.TopKPerGroup.topK(ham, Seq("query_id"), "negh", "vec_id", 10)
    btop
      .join(truth, col("query_id") === col("tq") && col("vec_id") === col("tvec"),
        "left")
      .agg(count(lit(1)).cast(LongType).as("n_retrieved"),
        count(col("tvec")).cast(LongType).as("n_hits"),
        expr("count(tvec) * 10000 div count(1)").cast(LongType).as("recall_bp"),
        sum(col("h")).cast(LongType).as("total_hamming"))
  }

  // ann_binary_rerank — the two-stage serving pipeline modern vector
  // stores actually run, end-to-end: a CHEAP binary prefilter (sign-bit
  // hamming, one XOR+popcount per pair) shortlists 50 candidates per
  // query, then the EXPENSIVE exact dot re-ranks only those 50 to the
  // final top-10. The readout is the engineering trade in numbers:
  // recall@10 vs the exact-everywhere truth next to the fraction of the
  // corpus that ever reached the exact kernel (the cost dial). Both
  // stages ride TopKPerGroup (hamming stage on the negated distance);
  // at 100 TB the full-precision vectors are only fetched for the
  // shortlist — the scan is 8 bytes/vector.
  val binaryRerank = Q(
    "ann_binary_rerank",
    Some {
      val dot64 = (a: String, b: String) =>
        s"CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b), pr -> pr[1] * pr[2])) AS BIGINT)"
      s"""
      WITH grid AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 1024)) AS qv
        FROM embeddings),
      qgrid AS (SELECT vec_id AS query_id, qv AS gq FROM grid WHERE vec_id < 5),
      bits AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN qv[i + 1] > 0
                 THEN CASE WHEN i = 63 THEN -9223372036854775807 - 1
                           ELSE (1::BIGINT << i) END
                 ELSE 0 END) AS BIGINT) AS sig
        FROM grid, UNNEST(RANGE(0, 64)) AS t(i)
        GROUP BY vec_id),
      qbits AS (SELECT vec_id AS query_id, sig AS qsig FROM bits WHERE vec_id < 5),
      shortlist AS (
        SELECT query_id, vec_id FROM (
          SELECT q.query_id, b.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY BIT_COUNT(XOR(b.sig, q.qsig)), b.vec_id) AS rnk
          FROM bits b, qbits q) WHERE rnk <= 50),
      rescored AS (
        SELECT s.query_id, s.vec_id, ${dot64("g.gq", "e.qv")} AS dq
        FROM shortlist s
        JOIN qgrid g ON g.query_id = s.query_id
        JOIN grid e ON e.vec_id = s.vec_id),
      final AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY dq DESC, vec_id) AS rnk
          FROM rescored) WHERE rnk <= 10),
      truth_s AS (
        SELECT q.query_id, e.vec_id, ${dot64("q.gq", "e.qv")} AS dq
        FROM grid e, qgrid q),
      truth AS (
        SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY dq DESC, vec_id) AS rnk
          FROM truth_s) WHERE rnk <= 10),
      n_corpus AS (SELECT COUNT(*) AS n FROM grid)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_retrieved,
             CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits,
             CAST(COUNT(t.vec_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bp,
             CAST(50 * 10000 // ANY_VALUE(nc.n) AS BIGINT) AS exact_scan_bp
      FROM final f
      LEFT JOIN truth t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
      CROSS JOIN n_corpus nc
      """
    }
  ) { t =>
    val grid = ivfEmb(t).select(col("vec_id"), col("qv"))
    val qgrid = grid.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("gq"))
    val sig = expr(
      "aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc + CASE WHEN element_at(qv, i + 1) > 0D THEN shiftleft(1L, i) ELSE 0L END)")
    val bits = grid.select(col("vec_id"), sig.as("sig"))
    val qbits = bits.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val shortlist = graft.plans.TopKPerGroup.topK(
      bits.crossJoin(broadcast(qbits))
        .select(col("query_id"), col("vec_id"),
          (-bit_count(col("sig").bitwiseXOR(col("qsig"))).cast(LongType)).as("negh")),
      Seq("query_id"), "negh", "vec_id", 50)
      .select(col("query_id"), col("vec_id"))
    val rescored = shortlist
      .join(broadcast(qgrid), "query_id")
      .join(grid, "vec_id")
      .select(col("query_id"), col("vec_id"),
        call_function("graft_dot", col("gq"), col("qv")).cast(LongType).as("dq"))
    val fin = graft.plans.TopKPerGroup.topK(rescored, Seq("query_id"), "dq", "vec_id", 10)
      .select(col("query_id"), col("vec_id"))
    val truth = graft.plans.TopKPerGroup.topK(
      grid.crossJoin(broadcast(qgrid))
        .select(col("query_id"), col("vec_id"),
          call_function("graft_dot", col("gq"), col("qv")).cast(LongType).as("dq")),
      Seq("query_id"), "dq", "vec_id", 10)
      .select(col("query_id").as("tq"), col("vec_id").as("tvec"))
    val nCorpus = grid.agg(count(lit(1)).as("n"))
    fin
      .join(truth, col("query_id") === col("tq") && col("vec_id") === col("tvec"),
        "left")
      .crossJoin(broadcast(nCorpus))
      .agg(count(lit(1)).cast(LongType).as("n_retrieved"),
        count(col("tvec")).cast(LongType).as("n_hits"),
        expr("count(tvec) * 10000 div count(1)").cast(LongType).as("recall_bp"),
        expr("50 * 10000 div any_value(n)").cast(LongType).as("exact_scan_bp"))
  }

  // ann_probe_sweep — the IVF serving dial measured end-to-end: recall@10
  // and candidate-scan cost at nprobe = 1/2/4/8 against the brute-force
  // truth, in one pass. Probe sets are prefix-nested (ranked by centroid
  // distance), so ONE pranked probe table serves every sweep point —
  // cells and centroids come from the memoized index build, the corpus
  // joins the ≤8-cell candidate set once, and the sweep explodes only
  // the candidate rows (≤ 4× a candidate set that is itself a small
  // fraction of the corpus — never 4 corpus scans). This is the table a
  // serving team reads to pick nprobe: scanned_rows is the exact cost,
  // recall_bp the exact quality, both integers; ranking matches
  // ann_ivf's (round(cos,6), vec_id tie-break), so both engines select
  // identical top-10 sets.
  val probeSweep = Q(
    "ann_probe_sweep",
    Some(s"""
      WITH ${ivfCtesSqlDyn("16", 8, "")},
      bt_q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 5),
      bt_scored AS (
        SELECT q.query_id, e.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos
        FROM embeddings e, bt_q q),
      bt_top AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rnk
              FROM bt_scored)
        WHERE rnk <= 10),
      sweep AS (SELECT UNNEST([1, 2, 4, 8]) AS nprobe),
      cand AS (
        SELECT s.nprobe, p.query_id, p.qvec, a.vec_id, a.embedding
        FROM probes p JOIN ac a ON a.cell = p.cell, sweep s
        WHERE p.pr <= s.nprobe),
      cost AS (
        SELECT nprobe, COUNT(*) AS scanned_rows,
               COUNT(DISTINCT query_id) AS n_queries
        FROM cand GROUP BY nprobe),
      scored AS (
        SELECT nprobe, query_id, vec_id,
               ROUND(${cosSql("qvec", "embedding")}, 6) AS cos
        FROM cand),
      topk AS (
        SELECT nprobe, query_id, vec_id
        FROM (SELECT nprobe, query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                        ORDER BY cos DESC, vec_id) AS rnk
              FROM scored)
        WHERE rnk <= 10),
      hits AS (
        SELECT k.nprobe, COUNT(t.vec_id) AS n_hits
        FROM topk k LEFT JOIN bt_top t
          ON k.query_id = t.query_id AND k.vec_id = t.vec_id
        GROUP BY k.nprobe)
      SELECT CAST(c.nprobe AS BIGINT) AS nprobe,
             CAST(c.n_queries AS BIGINT) AS n_queries,
             CAST(c.scanned_rows AS BIGINT) AS scanned_rows,
             CAST(h.n_hits AS BIGINT) AS n_hits,
             CAST(h.n_hits * 10000 // (c.n_queries * 10) AS BIGINT) AS recall_bp
      FROM cost c JOIN hits h ON c.nprobe = h.nprobe
      ORDER BY nprobe
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val (corpus, _) = ivfIndex(t, 16, 8) // memoized cells; probes re-ranked below
    val centroids = ivfCentroids(t, 16)
    val emb = ivfEmb(t)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("qv").as("qqv"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("cid"))
    val pranked = queries.join(broadcast(centroids))
      .select(col("query_id"), col("qvec"), col("cid"),
        dist2(col("qqv"), col("cv")).as("cdist"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= 8)
      .select(col("query_id"), col("qvec"), col("cid").as("cell"), col("pr"))
    val cand = corpus.join(broadcast(pranked), "cell")
      .withColumn("nprobe", explode(array(Seq(1, 2, 4, 8).map(lit): _*)))
      .filter(col("pr") <= col("nprobe"))
    val cost = cand.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("scanned_rows"),
        countDistinct(col("query_id")).as("n_queries"))
    val scored = cand.select(col("nprobe"), col("query_id"), col("vec_id"),
      round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    val wk = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val topk = graft.plans.TopKPerGroup
      .topK(scored, Seq("nprobe", "query_id"), "cos", "vec_id", 10)
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= 10)
    val truth = bruteForce.build(t)
      .select(col("query_id").as("t_qid"), col("vec_id").as("hit_id"))
    val hits = topk
      .join(truth, col("query_id") === col("t_qid") &&
        col("vec_id") === col("hit_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(col("hit_id")).as("n_hits"))
    cost.join(hits, "nprobe")
      .select(col("nprobe").cast(LongType).as("nprobe"),
        col("n_queries").cast(LongType).as("n_queries"),
        col("scanned_rows").cast(LongType).as("scanned_rows"),
        col("n_hits").cast(LongType).as("n_hits"),
        expr("n_hits * 10000 div (n_queries * 10)").cast(LongType)
          .as("recall_bp"))
      .orderBy(col("nprobe"))
  }

  // embed_centroid_drift — distribution-shift monitor: per label, the
  // cosine between the centroid of one half of the corpus (even vec_id —
  // "the previous snapshot") and the other (odd — "the new batch"). A
  // drifting embedding space (model change, upstream corruption, a
  // poisoned source) shows up as drift_cos falling away from 1 before
  // any downstream metric moves. Cross-ROW float sums are order-
  // dependent, so the mean is computed in integer space: each component
  // is floored onto a 2^16 grid (float→double is exact, ×2^16 is a
  // power-of-two shift, FLOOR is deterministic), per-dimension sums are
  // BIGINT (exact, order-free), and the n divisors cancel inside the
  // cosine — so both engines fold the same integers and the only
  // float step is one division of correctly-rounded int64→double casts.
  // Bounds: |q| ≤ 2¹⁵, so Σ(sa·sb) over d dims stays in int64 up to
  // ~1.2e7 rows per (label, half) at d=64 — past that, drop the grid to
  // 2^8 or widen the internal sums to DECIMAL (outputs stay as-is).
  // Scale shape: one corpus scan, map-side-combinable (label, dim)
  // aggregation to a |labels|×d relation; everything after is
  // dimension-sized.
  val centroidDrift = Q(
    "embed_centroid_drift",
    Some("""
      WITH c AS (
        SELECT label, vec_id % 2 AS half, i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 65536) AS BIGINT) AS q
        FROM embeddings, UNNEST(RANGE(1, LEN(embedding) + 1)) AS t(i)),
      s AS (
        SELECT label, dim,
               CAST(SUM(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS sa,
               CAST(SUM(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS sb
        FROM c GROUP BY label, dim),
      agg AS (
        SELECT label,
               CAST(SUM(sa * sb) AS BIGINT) AS dot,
               CAST(SUM(sa * sa) AS BIGINT) AS na2,
               CAST(SUM(sb * sb) AS BIGINT) AS nb2
        FROM s GROUP BY label),
      n AS (
        SELECT label,
               CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM embeddings GROUP BY label)
      SELECT a.label AS label, n.n_a AS n_a, n.n_b AS n_b,
             ROUND(CAST(dot AS DOUBLE) /
               (SQRT(CAST(na2 AS DOUBLE)) * SQRT(CAST(nb2 AS DOUBLE))), 6)
               AS drift_cos
      FROM agg a JOIN n ON a.label = n.label
      WHERE na2 > 0 AND nb2 > 0
      ORDER BY label
    """)
  ) { t =>
    val comps = t.embeddings
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "comp")))
      .withColumn("q",
        floor(col("comp").cast(DoubleType) * 65536).cast(LongType))
    val s = comps.groupBy(col("label"), col("dim"))
      .agg(
        sum(when(col("half") === 0, col("q")).otherwise(0L)).as("sa"),
        sum(when(col("half") === 1, col("q")).otherwise(0L)).as("sb"))
    val agg = s.groupBy(col("label"))
      .agg(
        sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("na2"),
        sum(col("sb") * col("sb")).as("nb2"))
    val n = t.embeddings.groupBy(col("label"))
      .agg(
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
    agg.join(broadcast(n), "label")
      .where(col("na2") > 0 && col("nb2") > 0)
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dot").cast(DoubleType) /
          (sqrt(col("na2").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType))),
          6).as("drift_cos"))
      .orderBy(col("label"))
  }

  // ann_rrf — reciprocal rank fusion (Cormack/Clarke/Buettcher 2009, the
  // standard hybrid-retrieval merge in RAG and training-data search
  // stacks): two retrievers rank the corpus per query — normalized
  // cosine and raw inner product (MIPS), genuinely different orderings
  // when norms vary — each is cut to its top-50, and a document's fused
  // score is Σ 1/(60 + rank) over the lists it appears in, here as the
  // EXACT integer Σ 1000000 div (60 + rank), so the fused ordering and
  // every readout are engine-identical BIGINTs (ranks themselves are
  // deterministic: rounded score desc, vec_id tie-break). Scale shape:
  // ONE broadcast-scored corpus pass feeds both lists, each cut by
  // TopKPerGroup (partial k-heaps map-side — ≤50 rows per query per
  // task cross the shuffle, never a corpus window), and fusion joins two
  // 50-row-per-query relations. Missing-from-list contributes 0, the
  // published convention.
  val rrf = Q(
    "ann_rrf",
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
          ROUND(
            LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qvec, e.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
            (SQRT(LIST_SUM(LIST_TRANSFORM(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
            6) AS cos,
          ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qvec, e.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6) AS dot
        FROM embeddings e, q),
      rc AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
        FROM scored QUALIFY r <= 50),
      rd AS (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS r
        FROM scored QUALIFY r <= 50),
      fused AS (
        SELECT COALESCE(rc.query_id, rd.query_id) AS query_id,
               COALESCE(rc.vec_id, rd.vec_id) AS vec_id,
               COALESCE(rc.r, 0) AS rank_cos,
               COALESCE(rd.r, 0) AS rank_dot,
               COALESCE(1000000 // (60 + rc.r), 0)
                 + COALESCE(1000000 // (60 + rd.r), 0) AS rrf_e6
        FROM rc FULL OUTER JOIN rd
          ON rc.query_id = rd.query_id AND rc.vec_id = rd.vec_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rrf_e6 DESC, vec_id) AS rnk
        FROM fused)
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(vec_id AS BIGINT) AS vec_id,
             CAST(rank_cos AS BIGINT) AS rank_cos,
             CAST(rank_dot AS BIGINT) AS rank_dot,
             CAST(rrf_e6 AS BIGINT) AS rrf_e6,
             CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10
      ORDER BY query_id, rnk
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = t.embeddings
      .join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"),
        round(call_function("graft_dot", col("qvec"), col("embedding")), 6)
          .as("dot"))
    def top50(score: String): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col(score).desc, col("vec_id"))
      graft.plans.TopKPerGroup
        .topK(scored.select(col("query_id"), col("vec_id"), col(score)),
          Seq("query_id"), score, "vec_id", 50)
        .withColumn("r", row_number().over(w).cast(LongType))
        .select(col("query_id"), col("vec_id"), col("r"))
    }
    val rc = top50("cos").withColumnRenamed("r", "r_cos")
    val rd = top50("dot").withColumnRenamed("r", "r_dot")
    val fused = rc.join(rd, Seq("query_id", "vec_id"), "full_outer")
      .select(col("query_id"), col("vec_id"),
        coalesce(col("r_cos"), lit(0L)).as("rank_cos"),
        coalesce(col("r_dot"), lit(0L)).as("rank_dot"),
        (coalesce(expr("1000000 div (60 + r_cos)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_dot)"), lit(0L))).as("rrf_e6"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_e6").desc, col("vec_id"))
    graft.plans.TopKPerGroup.topK(fused, Seq("query_id"), "rrf_e6", "vec_id", 10)
      .withColumn("rnk", row_number().over(wF).cast(LongType))
      .select(col("query_id"), col("vec_id"), col("rank_cos"),
        col("rank_dot"), col("rrf_e6").cast(LongType).as("rrf_e6"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // embed_isotropy — mean-direction cosine profile per label (the
  // Ethayarajh-style anisotropy diagnostic: embeddings that all point
  // the same way — mean cos near 1 — carry little directional
  // information; a healthy space reads near 0). cos(x, m̄) is
  // scale-invariant in m̄, so the UNNORMALIZED per-label sum vector
  // stands in for the mean: every dot and norm is an exact integer on
  // the shared 1024 grid (row-order-independent), and only the final
  // sqrt/ratio runs in IEEE — identical ops both engines, floored to
  // e4. Scale shape: the (label, dim) sum table is label-count × d
  // rows → broadcast back as an array; the per-vector pass is a
  // row-local fold — no n·d shuffle, no self-join (caveat: the LONG
  // dot fold is exact below ~1e19 per term-sum; DECIMAL-widen beyond).
  val isotropy = Q(
    "embed_isotropy",
    Some("""
      WITH q AS (
        SELECT vec_id, label,
               LIST_TRANSFORM(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS xq
        FROM embeddings),
      px AS (
        SELECT vec_id, label, i - 1 AS dim, xq[i] AS x
        FROM q, UNNEST(RANGE(1, LEN(xq) + 1)) AS t(i)),
      sums AS (SELECT label, dim, SUM(x) AS s FROM px GROUP BY label, dim),
      ssn AS (SELECT label, SUM(s * s) AS ss FROM sums GROUP BY label),
      percvec AS (
        SELECT px.vec_id, px.label,
               SUM(px.x * sums.s) AS dot,
               SUM(px.x * px.x) AS xx
        FROM px JOIN sums ON sums.label = px.label AND sums.dim = px.dim
        GROUP BY px.vec_id, px.label),
      cosv AS (
        SELECT p.label,
               CAST(FLOOR(CAST(dot AS DOUBLE) * 10000 /
                 (SQRT(CAST(xx AS DOUBLE)) * SQRT(CAST(ss AS DOUBLE))))
                 AS BIGINT) AS cos_e4
        FROM percvec p JOIN ssn ON ssn.label = p.label
        WHERE xx > 0)
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cos_e4) // COUNT(*) AS BIGINT) AS mean_cos_e4,
             CAST(MIN(cos_e4) AS BIGINT) AS min_cos_e4,
             CAST(MAX(cos_e4) AS BIGINT) AS max_cos_e4
      FROM cosv
      GROUP BY label
      ORDER BY label
    """)
  ) { t =>
    val q = t.embeddings.select(col("vec_id"), col("label"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1024).cast(LongType)).as("xq"))
    val sums = q
      .select(col("label"), posexplode(col("xq")))
      .groupBy(col("label"), col("pos").as("dim"))
      .agg(sum(col("col")).as("s"))
    val sarr = sums.groupBy(col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("s")))),
          e => e.getField("s")).as("sarr"),
        sum(col("s") * col("s")).as("ss"))
    val cosv = q.join(broadcast(sarr), "label")
      .select(col("label"),
        aggregate(zip_with(col("xq"), col("sarr"), (x, y) => x * y),
          lit(0L), (acc, p) => acc + p).as("dot"),
        aggregate(col("xq"), lit(0L), (acc, x) => acc + x * x).as("xx"),
        col("ss"))
      .filter(col("xx") > 0)
      .select(col("label"),
        floor(col("dot").cast(DoubleType) * 10000 /
          (sqrt(col("xx").cast(DoubleType)) * sqrt(col("ss").cast(DoubleType))))
          .cast(LongType).as("cos_e4"))
    cosv.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("cos_e4")).as("__s"),
        min(col("cos_e4")).as("min_cos_e4"),
        max(col("cos_e4")).as("max_cos_e4"))
      .select(col("label"), col("n"),
        expr("__s div n").cast(LongType).as("mean_cos_e4"),
        col("min_cos_e4"), col("max_cos_e4"))
      .orderBy(col("label"))
  }

  // embed_knn_purity — neighborhood label purity of the k-NN graph
  // (the embedding-quality readout retrieval teams gate on: if a
  // vector's nearest neighbors don't share its label, the space won't
  // retrieve): per label, the fraction of top-3 kNN edges whose
  // endpoints agree, exact basis points. Reuses the MEMOIZED edge set
  // (free when ann_knn_graph/ann_graph_search already ran); the label
  // joins are id-keyed equi joins on the 3n-row edge relation.
  val knnPurity = Q(
    "embed_knn_purity",
    Some(s"""
      WITH ${knnCtesSql(4)},
      acq AS (SELECT ac.vec_id, ac.cell, q.qv
              FROM ac JOIN qemb q ON q.vec_id = ac.vec_id),
      pairs AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.qv, b.qv),
                 pr -> pr[1] * pr[2])) AS BIGINT) AS dot_q
        FROM acq a JOIN acq b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT vec_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot_q DESC, neighbor_id) AS rnk
        FROM pairs),
      edges AS (SELECT vec_id, neighbor_id FROM ranked WHERE rnk <= 3),
      lab AS (SELECT vec_id, label FROM embeddings)
      SELECT la.label,
             CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(COUNT(CASE WHEN lb.label = la.label THEN 1 END) AS BIGINT) AS n_same,
             CAST(COUNT(CASE WHEN lb.label = la.label THEN 1 END) * 10000
                  // COUNT(*) AS BIGINT) AS purity_bp
      FROM edges e
      JOIN lab la ON la.vec_id = e.vec_id
      JOIN lab lb ON lb.vec_id = e.neighbor_id
      GROUP BY la.label
      ORDER BY la.label
    """)
  ) { t =>
    val labels = t.embeddings.select(col("vec_id"), col("label"))
    knnEdgeSet(t)
      .join(labels.toDF("vec_id", "label_a"), "vec_id")
      .join(labels.toDF("neighbor_id", "label_b"), "neighbor_id")
      .groupBy(col("label_a").as("label"))
      .agg(count(lit(1)).as("n_edges"),
        count(when(col("label_b") === col("label_a"), 1)).as("n_same"))
      .select(col("label"), col("n_edges"), col("n_same"),
        expr("n_same * 10000 div n_edges").cast(LongType).as("purity_bp"))
      .orderBy(col("label"))
  }

  // embed_margin — nearest-neighbor margin per label: how decisively
  // each vector's top-1 neighbor beats its top-2 (d1 − d2 in exact
  // quantized-dot units, averaged per label). A collapsed margin means
  // ties everywhere — retrieval rankings become arbitrary and ANN
  // recall measurements unstable; the readout retrieval teams check
  // next to embed_knn_purity's label agreement. Reuses the MEMOIZED
  // top-3 edge set (free when the kNN family already ran); the rank
  // window sees 3 rows per vector, the pivot to (d1, d2) is one
  // vector-grain aggregation, labels join on the id co-key. Integer
  // end to end — no FP in the artifact.
  val knnMargin = Q(
    "embed_margin",
    Some(s"""
      WITH ${knnCtesSql(4)},
      acq AS (SELECT ac.vec_id, ac.cell, q.qv
              FROM ac JOIN qemb q ON q.vec_id = ac.vec_id),
      pairs AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               CAST(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.qv, b.qv),
                 pr -> pr[1] * pr[2])) AS BIGINT) AS dot_q
        FROM acq a JOIN acq b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT vec_id, dot_q,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dot_q DESC, neighbor_id) AS rnk
        FROM pairs),
      m AS (
        SELECT vec_id,
               MAX(CASE WHEN rnk = 1 THEN dot_q END) AS d1,
               MAX(CASE WHEN rnk = 2 THEN dot_q END) AS d2
        FROM ranked WHERE rnk <= 2 GROUP BY vec_id),
      lab AS (SELECT vec_id, label FROM embeddings)
      SELECT l.label,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(m.d1 - m.d2) AS BIGINT) AS margin_sum,
             CAST(SUM(m.d1 - m.d2) * 100 // COUNT(*) AS BIGINT) AS margin_x100
      FROM m JOIN lab l ON l.vec_id = m.vec_id
      WHERE m.d2 IS NOT NULL
      GROUP BY l.label
      ORDER BY l.label
    """)
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    val m = knnEdgeSet(t)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rnk") === 1, col("dot_q"))).as("d1"),
        max(when(col("rnk") === 2, col("dot_q"))).as("d2"))
      .filter(col("d2").isNotNull)
    m.join(t.embeddings.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("d1") - col("d2")).as("margin_sum"))
      .select(col("label"), col("n_vectors"),
        col("margin_sum").cast(LongType).as("margin_sum"),
        expr("margin_sum * 100 div n_vectors").cast(LongType).as("margin_x100"))
      .orderBy(col("label"))
  }

  // embed_intrinsic_dim — TwoNN intrinsic-dimension estimate (Facco et
  // al. 2017, "Estimating the intrinsic dimension of datasets by a
  // minimal neighborhood information"): ID ≈ 2n / Σ ln(d2²/d1²) over
  // each vector's two nearest neighbors — embeddings living on a
  // low-dimensional manifold inside the ambient d dims retrieve and
  // cluster differently than full-rank ones, and this is the standard
  // one-number readout. Distances are EXACT integer-valued quantized
  // d² (the ivf grid), neighbor search is cell-bounded (Σ cell² pairs,
  // the knn-graph shape) with the 2-NN cut on TopKPerGroup — ≤2 rows
  // per vector cross the shuffle; exact-duplicate pairs (d1 = 0) and
  // vectors with fewer than two cell neighbors are excluded on both
  // engines. LN over exact integers, one ROUND (the q131 class).
  val intrinsicDim = Q(
    "embed_intrinsic_dim",
    Some(s"""
      WITH ${knnCtesSql(4)},
      acq AS (SELECT ac.vec_id, ac.cell, q.qv
              FROM ac JOIN qemb q ON q.vec_id = ac.vec_id),
      pairs AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               CAST(${dist2Sql("a.qv", "b.qv")} AS BIGINT) AS d2
        FROM acq a JOIN acq b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT vec_id, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY d2, neighbor_id) AS rnk
        FROM pairs),
      nn AS (
        SELECT vec_id, MIN(d2) AS dnear, MAX(d2) AS dfar, COUNT(*) AS k
        FROM ranked WHERE rnk <= 2 GROUP BY vec_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
             ROUND(SUM(LN(CAST(dfar AS DOUBLE) / dnear)), 4) AS sum_lnr,
             ROUND(2.0 * COUNT(*)
                   / SUM(LN(CAST(dfar AS DOUBLE) / dnear)), 4) AS id_hat
      FROM nn WHERE k = 2 AND dnear > 0
    """)
  ) { t =>
    val assigned = knnAssigned(t)
    val pairs = assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"),
        dist2(col("a.qv"), col("b.qv")).cast(LongType).as("d2"))
      // TopKPerGroup orders DESC — negate for the 2 SMALLEST distances
      .withColumn("negd", -col("d2"))
    val nn = graft.plans.TopKPerGroup
      .topK(pairs, Seq("vec_id"), "negd", "neighbor_id", 2)
      .groupBy(col("vec_id"))
      .agg(min(col("d2")).as("dnear"), max(col("d2")).as("dfar"),
        count(lit(1)).as("k"))
      .filter(col("k") === 2 && col("dnear") > 0)
    val lnr = log(col("dfar").cast(DoubleType) / col("dnear"))
    nn.agg(count(lit(1)).as("n"), sum(lnr).as("s"))
      .select(col("n").cast(LongType).as("n_used"),
        round(col("s"), 4).as("sum_lnr"),
        round(lit(2.0) * col("n") / col("s"), 4).as("id_hat"))
  }

  // ann_rbo — rank-biased overlap (Webber, Moffat & Zobel 2010)
  // between the EXACT brute-force top-10 and the IVF top-10, per query:
  // the ranking-quality readout ann_recall's set overlap can't see
  // (recall@10 treats rank 1 and rank 10 alike; RBO's geometric
  // weights, p = 0.9, score agreement where users look). The truncated
  // form reduces to a per-SHARED-DOC closed sum — each doc in both
  // lists contributes Σ_{d=max(ra,rb)}^{10} p^{d−1}/d, so the whole
  // metric is one rank equi-join + a ≤10-row generator per shared doc
  // (tie-breaks are identical on both engines, so the rank lists —
  // and the metric — match exactly). Queries with zero overlap report
  // rbo 0, never a dropped row.
  val rbo = Q(
    "ann_rbo",
    Some(s"""
      WITH ${ivfCtesSql(16, 4)},
      scored_ivf AS (
        SELECT p.query_id, a.vec_id, ${cosSql("p.qvec", "a.embedding")} AS cos
        FROM ac a JOIN probes p ON a.cell = p.cell),
      rb AS (
        SELECT query_id, vec_id, rnk FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM scored_ivf) WHERE rnk <= 10),
      scored_bf AS (
        SELECT q.vec_id AS query_id, e.vec_id,
               ${cosSql("q.embedding", "e.embedding")} AS cos
        FROM qemb e, qemb q WHERE q.vec_id < 5),
      ra AS (
        SELECT query_id, vec_id, rnk FROM (
          SELECT query_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, vec_id) AS rnk
          FROM scored_bf) WHERE rnk <= 10),
      shared AS (
        SELECT a.query_id, GREATEST(a.rnk, b.rnk) AS m
        FROM ra a JOIN rb b USING (query_id, vec_id)),
      w AS (
        SELECT query_id, SUM(POWER(0.9, d - 1) / d) AS s
        FROM shared, UNNEST(RANGE(m, 11)) AS t(d)
        GROUP BY query_id),
      cnt AS (SELECT query_id, COUNT(*) AS n FROM shared GROUP BY query_id),
      qs AS (SELECT vec_id AS query_id FROM qemb WHERE vec_id < 5)
      SELECT qs.query_id,
             CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_overlap10,
             ROUND(0.1 * COALESCE(w.s, 0), 4) AS rbo10
      FROM qs LEFT JOIN w USING (query_id) LEFT JOIN cnt USING (query_id)
      ORDER BY query_id
    """)
  ) { t =>
    val queries = t.embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val bruteScored = t.embeddings.join(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("embedding")), 6).as("cos"))
    val a = rankedTopK(bruteScored, "cos", 10)
      .select(col("query_id"), col("vec_id"), col("rnk").as("ra"))
    val b = ivfQuery(t, c = 16, nprobe = 4)
      .select(col("query_id"), col("vec_id"), col("rnk").as("rb"))
    val shared = a.join(b, Seq("query_id", "vec_id"))
      .select(col("query_id"), greatest(col("ra"), col("rb")).as("m"))
    val totals = shared
      .select(col("query_id"), explode(sequence(col("m"), lit(10L))).as("d"))
      .groupBy(col("query_id"))
      .agg(sum(pow(lit(0.9), col("d") - 1) / col("d")).as("s"))
    val counts = shared.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"))
    queries.select(col("query_id"))
      .join(totals, Seq("query_id"), "left")
      .join(counts, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n"), lit(0L)).cast(LongType).as("n_overlap10"),
        round(lit(0.1) * coalesce(col("s"), lit(0.0)), 4).as("rbo10"))
      .orderBy(col("query_id"))
  }

  // ann_cell_stats — IVF index-health audit: cell-population balance of
  // the trained coarse quantizer (the first number an index operator
  // checks — a hot cell is where probe latency, memory and the
  // cell-bounded quadratic all concentrate; imbalance = max/avg in
  // exact basis points, so max_pop·cells·10⁴ div total). Reuses the
  // MEMOIZED cell assignment; the readout is one |cells|-row
  // aggregation — free when any IVF/kNN operator already ran.
  val cellStats = Q(
    "ann_cell_stats",
    Some(s"""
      WITH ${knnCtesSql(4)},
      pop AS (SELECT cell, COUNT(*) AS n FROM ac GROUP BY cell)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(MIN(n) AS BIGINT) AS min_pop,
             CAST(MAX(n) AS BIGINT) AS max_pop,
             CAST(SUM(n) AS BIGINT) AS n_vectors,
             CAST(MAX(n) * COUNT(*) * 10000 // SUM(n) AS BIGINT)
               AS imbalance_bp
      FROM pop
    """)
  ) { t =>
    knnAssigned(t)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), min(col("n")).as("min_pop"),
        max(col("n")).as("max_pop"), sum(col("n")).as("n_vectors"))
      .select(col("n_cells").cast(LongType).as("n_cells"),
        col("min_pop").cast(LongType).as("min_pop"),
        col("max_pop").cast(LongType).as("max_pop"),
        col("n_vectors").cast(LongType).as("n_vectors"),
        expr("max_pop * n_cells * 10000 div n_vectors")
          .cast(LongType).as("imbalance_bp"))
  }

  // embed_pq_distortion — the quantization-error readout of the PQ
  // codebook (what a PQ tuning pass inspects before committing
  // subspace/bit choices): per (subspace m, code) cell, the EXACT
  // within-cell squared reconstruction error of the integer-grid
  // member vectors against their centroid, as the rational
  // err_num/err_den with the division never taken — centroid = sv/cnt,
  // so Σ‖gv − sv/cnt‖² = Σ(gv·cnt − sv)² / cnt². Rides the memoized
  // pqCodes/pqCodebook artifacts (`_build_pq`/`_build_adc` warm them);
  // one broadcast join + one map-side aggregation to the
  // (subspaces × codes)-row readout. 100 TB: err_num sums |cell|·8
  // products of grid ints — widen to DECIMAL(38) there (the q171
  // rule); at the test SFs it is Long-safe by 4 orders of magnitude.
  val pqDistortion = Q(
    "embed_pq_distortion",
    Some(s"""
      WITH $pqCtesSql,
      err AS (
        SELECT p.m, p.code, c.cnt,
               CAST(SUM((CAST(p.gv[t.i] AS BIGINT) * c.cnt - c.sv[t.i]) *
                        (CAST(p.gv[t.i] AS BIGINT) * c.cnt - c.sv[t.i]))
                 AS BIGINT) AS en
        FROM pqcodes p
        JOIN cbv c ON c.m = p.m AND c.code = p.code,
        UNNEST(RANGE(1, ${PqSub + 1})) AS t(i)
        GROUP BY p.m, p.code, c.cnt)
      SELECT CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code,
             CAST(cnt AS BIGINT) AS n_vecs, en AS err_num,
             CAST(cnt * cnt AS BIGINT) AS err_den
      FROM err ORDER BY m, code
    """)
  ) { t =>
    pqCodes(t).join(broadcast(pqCodebook(t)), Seq("m", "code"))
      .select(col("m"), col("code"), col("cnt"),
        aggregate(zip_with(col("gv"), col("sv"),
          (g, s) => (g * col("cnt") - s) * (g * col("cnt") - s)),
          lit(0L), (acc, v) => acc + v).as("e"))
      .groupBy(col("m"), col("code"))
      .agg(min(col("cnt")).cast(LongType).as("n_vecs"),
        sum(col("e")).cast(LongType).as("err_num"))
      .select(col("m").cast(LongType).as("m"),
        col("code").cast(LongType).as("code"), col("n_vecs"),
        col("err_num"),
        (col("n_vecs") * col("n_vecs")).cast(LongType).as("err_den"))
      .orderBy(col("m"), col("code"))
  }

  val all: Seq[Q] = Seq(norms, bruteForce, lsh, lshMultiprobe, ivf, quantized, rangeSearch, pq,
    hybrid, ivfpqResidual, recallEval, dimStats, kmeansStats, semanticDedup,
    filteredSearch, outliers, mips, covariance, knnGraph, calibration, pcaPower,
    rpProject, diversify, graphSearch, matryoshka, binaryQuant, binaryRerank,
    centroidDrift, probeSweep, rrf, isotropy, knnPurity, knnMargin,
    intrinsicDim, ivfPersisted, rbo, cellStats, pqDistortion)
}
