package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("a percentile is reportable only with ten samples beyond it") {
    assert(Stats.beyond(20, 50) == 10)
    assert(Stats.reportable(20, 50))
    assert(!Stats.reportable(19, 50))
    assert(Stats.reportable(100, 90))
    assert(!Stats.reportable(99, 90))
    assert(!Stats.reportable(0, 50))
    assert(Stats.highestReportable(20).contains(50.0))
    assert(Stats.highestReportable(100).contains(90.0))
    assert(Stats.highestReportable(9).isEmpty)
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90).contains(90.0))
    assert(Stats.percentile(xs, 50).contains(50.0))
    assert(Stats.percentile(xs.take(15), 50).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, 0, start, end, Counts.zero)

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),
      span(2, 0, 20, 50), // overlaps child 1: 10..50 covered once
      span(3, 0, 90, 120), // runs past its parent: only 90..100 counts
      span(4, 1, 12, 18))
    val self = Span.selfNs(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(4) == 6)
  }

  test("SBOM and corpus generators repeat for a seed and differ across seeds") {
    assert(Gen.sbomPass(7, 20) == Gen.sbomPass(7, 20))
    assert(Gen.sbomPass(7, 20) != Gen.sbomPass(8, 20))
    val pass = Gen.sbomPass(7, 20)
    val counts = pass.map(_.expected.size)
    assert(counts.forall(c => c >= 10 && c <= 20000))
    assert(counts.min < 20 && counts.max > 10000) // stratified: both ends every pass
    assert(pass.count(_.json.contains("spdxVersion")) == 7)
    assert(pass.count(_.json.startsWith("{\"sbom\":")) == 5)
    assert(pass.groupBy(_.repository).values.map(_.size).toSet == Set(6, 7))
    assert(Gen.corpusRows(7, 300, 0.01, 0.2) == Gen.corpusRows(7, 300, 0.01, 0.2))
    assert(Gen.corpusRows(7, 300, 0.01, 0.2) != Gen.corpusRows(8, 300, 0.01, 0.2))
  }

  test("table generators repeat for a seed") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def gen(seed: Long): Map[String, Set[String]] = {
        val dir = Files.createTempDirectory("perfbench-gen")
        try {
          Gen.tables(spark, seed, 0.001, 50, dir)
          Seq("customer", "orders", "lineitem", "events", "documents", "embeddings").map { t =>
            t -> spark.read.parquet(dir.resolve(s"$t.parquet").toString).collect()
              .map(_.toString).toSet
          }.toMap
        } finally Main.deleteTree(dir)
      }
      val a = gen(5)
      assert(a == gen(5))
      assert(a("lineitem") != gen(6)("lineitem"))
    } finally spark.stop()
  }
}
