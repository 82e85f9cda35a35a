package graft

/** The one build-step list behind Bench's `_build_*` entries and the
  * dev tool: its order, its unique names, and the error an unknown
  * name gets.
  */
class BuildStepsSpec extends SparkSpec {

  test("build steps are Dedup ++ Ann ++ TextOps in Bench's order") {
    assert(SparkEntry.buildSteps(sf0001).map(_._1) === Seq(
      "sim_pairs", "cc_labels", "jaccard", "minhash", "emb_lsh", "idf_bands",
      "ivf", "pq", "ivfpq_resid", "int8", "adc", "knn_edges",
      "bpe", "unigram"))
  }

  test("two build steps sharing a name are rejected") {
    val run = () => ()
    val e = intercept[IllegalArgumentException](
      SparkEntry.uniqueSteps(Seq("a" -> run, "b" -> run, "a" -> run)))
    assert(e.getMessage.contains("duplicate build step names: a"))
  }

  test("an unknown _build_ name is an error listing the valid names") {
    val e = intercept[IllegalArgumentException](graft.tools.Dev.buildStep(sf0001, "nope"))
    assert(e.getMessage.contains("unknown build step _build_nope"))
    SparkEntry.buildSteps(sf0001).foreach { case (n, _) =>
      assert(e.getMessage.contains(s"_build_$n"))
    }
  }
}
