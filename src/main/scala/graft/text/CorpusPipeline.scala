package graft.text

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables

/** The training-corpus analog of [[graft.sources.SbomPipeline]]: the
  * registry's curation stages (quality gate → exact dedup → near-dup cut
  * over the shared component labels → benchmark decontamination →
  * stratified mix → shard layout) as ONE callable `run(tables, config)`
  * that also WRITES the result — sharded corpus parquet plus the shard
  * manifest — and returns per-stage yields. Individual stages are
  * oracle-checked as registry operators (pipe_train_corpus,
  * text_decontaminate, pipe_shard_plan …); this object contributes the
  * end-to-end dispatch, the write step, and the log surface a user needs
  * to actually SHIP a corpus rather than study one.
  *
  * Scale shape: every stage is a filter/aggregation keyed by doc or
  * source — the corpus never collects, the only driver-side values are
  * the per-stage (docs, tokens) yield pairs. The near-dup labels come
  * from the session-memoized component build (built once per dataset,
  * shared with the whole dedup family); the decontamination side is a
  * broadcast semi-join of the (tiny) holdout shingle set; the mix rank
  * and shard prefix sums ride [[graft.plans.GroupedPrefix]] — every
  * window partitions on (source, slice), numPartitions × |sources|
  * concurrent tasks, never |sources| corpus-sized sorts and never a
  * single global ordering.
  */
object CorpusPipeline {

  final case class Config(
    /** Quality gate: minimum whitespace tokens per doc. */
    minTokens: Int = 20,
    /** Quality gate: minimum stopword share, integer basis points. */
    minStopwordBp: Int = 500,
    /** Held-out evaluation texts (one `text` column); any training doc
      * sharing a 5-word shingle with them is dropped. None = skip. */
    holdout: Option[DataFrame] = None,
    /** Per-source keep share in basis points (absent source = keep all),
      * selected by deterministic Knuth-hash rank like pipe_mix_sample. */
    sourceShareBp: Map[String, Int] = Map.empty,
    /** DSIR selection (Xie et al. 2023, the pipe_dsir_weights
      * arithmetic): keep only docs whose hashed-feature importance
      * weight vs the curated target sample is at least this many basis
      * points (10000 = corpus-neutral). Weights are computed over the
      * SURVIVING corpus at this stage, so ratios reflect what cleaning
      * left. None = skip. */
    dsirMinWeightBp: Option[Int] = None,
    /** Whole-doc shard token budget (pipe_shard_plan contract). */
    shardTokenBudget: Long = 2000L,
    /** Destination directory: corpus/ (partitioned by source, shard) and
      * manifest/ parquet land under it. */
    outDir: String)

  final case class StageYield(stage: String, docs: Long, tokens: Long)

  final case class Result(
    stages: Seq[StageYield],
    shards: Long,
    docsWritten: Long,
    tokensWritten: Long,
    log: Seq[String])

  /** Per-source deterministic hash-rank mix cut (the pipe_mix_sample
    * rule): keep each source's `share_bp`/10000 fraction, selected by
    * the smallest Knuth-hash rank. The rank rides
    * [[graft.plans.GroupedPrefix.withRank]] — numPartitions × |sources|
    * parallel slices, never |sources| corpus-sized window sorts — and
    * (hash, doc_id) is unique per source so min-rank == row_number.
    * Per-source counts are a dimension-sized aggregate broadcast back.
    * Exposed for plan-shape tests; `run` is the caller.
    */
  private[graft] def mixSample(clean: DataFrame,
    sourceShareBp: Map[String, Int]): DataFrame = {
    val shareExpr = sourceShareBp.foldLeft(lit(10000L)) {
      case (acc, (src, bp)) => when(col("source") === src, lit(bp.toLong)).otherwise(acc)
    }
    val ranked = graft.plans.GroupedPrefix.withRank(clean, Seq("source"),
      struct((col("doc_id") * 2654435761L) % 2147483648L, col("doc_id")),
      "rn")
    val counts = clean.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
    ranked
      .join(broadcast(counts), "source")
      .withColumn("share_bp", shareExpr)
      .filter(col("rn") <= expr("n_src * share_bp div 10000"))
      .drop("rn", "n_src", "share_bp")
      .select(clean.columns.map(col): _*)
  }

  /** Whole-doc shard assignment per source: shard = floor(cum_start /
    * budget) off a per-source token prefix sum (pipe_shard_plan's
    * closed form), GroupedPrefix-decomposed — range-partition on
    * (source, doc_id), per-slice token-sum partials, broadcast
    * exclusive offsets, slice-local running sums. Layout work
    * distributes across numPartitions × |sources| slices, not one sort
    * task per source. Exposed for plan-shape tests.
    */
  private[graft] def shardLayout(mixed: DataFrame, budget: Long): DataFrame = {
    val gp = graft.plans.GroupedPrefix
    val staged = gp.stage(mixed, Seq(col("source"), col("doc_id")))
    val withOff = gp.withOffsets(staged, Seq("source"),
      Seq(sum(col("n_tok")).as("__gp_s"))) { (slices, wPrev) =>
      slices.select(col("source"), col(gp.PID),
        coalesce(sum(col("__gp_s")).over(wPrev), lit(0L)).as("__gp_off"))
    }
    val wLocal = gp.localWindow(Seq("source"), Seq(col("doc_id")))
      .rowsBetween(Window.unboundedPreceding, -1)
    withOff
      .withColumn("cum_start",
        col("__gp_off") + coalesce(sum(col("n_tok")).over(wLocal), lit(0L)))
      .withColumn("shard", expr(s"cum_start div $budget"))
      .select(mixed.columns.map(col) :+ col("shard"): _*)
  }

  def run(t: Tables, cfg: Config): Result = {
    val log = ListBuffer.empty[String]
    def yieldOf(stage: String, df: DataFrame): StageYield = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L))).head()
      val y = StageYield(stage, r.getLong(0), r.getLong(1))
      log += s"[corpus] $stage: ${y.docs} docs, ${y.tokens} tokens"
      y
    }
    val stages = ListBuffer.empty[StageYield]

    // one tokenizing scan feeds every stage; n_tok rides along so yields
    // never re-split text
    val ws = split(trim(col("text")), "\\s+")
    val raw = t.documents.select(col("doc_id"), col("source"), col("text"),
      size(ws).cast(LongType).as("n_tok"),
      size(filter(ws, w => w.isin(TextOps.stopwords: _*)))
        .cast(LongType).as("n_stop"))
    stages += yieldOf("raw", raw)

    val gated = raw
      .filter(col("n_tok") >= cfg.minTokens &&
        col("n_stop") * 10000L >= col("n_tok") * cfg.minStopwordBp)
      .drop("n_stop")
      .localCheckpoint(false)
    stages += yieldOf("quality_gate", gated)

    val exactKept = gated
      .groupBy(md5(lower(col("text")).cast("binary")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = gated.join(exactKept, "doc_id").localCheckpoint(false)
    stages += yieldOf("exact_dedup", exact)

    // keeper per near-dup component = min doc id among SURVIVORS (the
    // pipe_train_corpus rule); labels are the session-memoized CC build
    val labels = graft.dedup.Dedup.simhashLabels(t)
      .withColumnRenamed("id", "doc_id").withColumnRenamed("label", "grp0")
    val near = exact.join(labels, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("grp0"), col("doc_id")))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("grp"))))
      .filter(col("doc_id") === col("keeper"))
      .select(exact.columns.map(col): _*)
      .localCheckpoint(false)
    stages += yieldOf("neardup_cut", near)

    val clean = cfg.holdout match {
      case None => near
      case Some(bench) =>
        val benchSh = bench
          .select(split(trim(col("text")), "\\s+").as("w"))
          .filter(size(col("w")) >= 5)
          .select(explode(transform(sequence(lit(1), size(col("w")) - 4),
            i => concat_ws(" ", slice(col("w"), i, lit(5))))).as("sh"))
          .distinct()
        val hit = near.select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
          .filter(size(col("w")) >= 5)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("w")) - 4),
              i => concat_ws(" ", slice(col("w"), i, lit(5))))).as("sh"))
          .join(broadcast(benchSh), "sh")
          .select(col("doc_id")).distinct()
        near.join(hit, Seq("doc_id"), "left_anti").localCheckpoint(false)
    }
    stages += yieldOf("decontaminate", clean)

    // DSIR selection: hashed-feature importance weights vs the curated
    // target sample, computed over the surviving corpus (the ≤4096-row
    // feature table broadcasts; text never shuffles — Curation's shape)
    val selected = cfg.dsirMinWeightBp match {
      case None => clean
      case Some(minBp) =>
        val keep = CurationOps
          .dsirDocWeights(clean.select(col("doc_id"), col("text")))
          .filter(col("w_bp") >= minBp)
          .select(col("doc_id"))
        clean.join(keep, "doc_id").localCheckpoint(false)
    }
    stages += yieldOf("dsir_select", selected)

    val mixed = if (cfg.sourceShareBp.isEmpty) selected
                else mixSample(selected, cfg.sourceShareBp).localCheckpoint(false)
    stages += yieldOf("mix_sample", mixed)

    val sharded = shardLayout(mixed, cfg.shardTokenBudget)

    sharded.write.mode(SaveMode.Overwrite)
      .partitionBy("source", "shard")
      .parquet(s"${cfg.outDir}/corpus")
    log += s"[corpus] wrote corpus to ${cfg.outDir}/corpus"

    val manifest = sharded.groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("id_lo"),
        max(col("doc_id")).as("id_hi"))
      .orderBy(col("source"), col("shard"))
    manifest.write.mode(SaveMode.Overwrite).parquet(s"${cfg.outDir}/manifest")
    log += s"[corpus] wrote manifest to ${cfg.outDir}/manifest"

    val m = manifest.agg(count(lit(1)), coalesce(sum(col("n_docs")), lit(0L)),
      coalesce(sum(col("n_tokens")), lit(0L))).head()
    Result(stages.toSeq, m.getLong(0), m.getLong(1), m.getLong(2), log.toSeq)
  }
}
