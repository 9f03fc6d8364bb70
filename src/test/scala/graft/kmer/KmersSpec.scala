package graft.kmer

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.TestSpark

/** Pins the k-mer semantics the reference's verifier checks
  * (`/root/reference/scripts/verifier.py:22-36`,
  * `scripts/solutiongenerator.py:11-33`): sliding windows per row,
  * windows never cross rows (the '\0' file barrier), len<k yields
  * nothing, counts are exact.
  */
class KmersSpec extends AnyFunSuite with Matchers {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def counts(texts: Seq[String], k: Int): Map[String, Long] =
    Kmers.kmerCounts(texts.toDF("text"), "text", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Spark-free reference: window counts over each text's code points. */
  private def codePointCounts(texts: Seq[String], k: Int): Map[String, Long] =
    texts
      .flatMap(_.codePoints().toArray.sliding(k).filter(_.length == k).map(new String(_, 0, k)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("ABAB, k=2 -> AB:2, BA:1") {
    counts(Seq("ABAB"), 2) shouldBe Map("AB" -> 2L, "BA" -> 1L)
  }

  test("text shorter than k yields no windows") {
    counts(Seq("AB"), 3) shouldBe empty
  }

  test("empty text yields no windows") {
    counts(Seq(""), 1) shouldBe empty
  }

  test("k equal to text length yields exactly one window") {
    val s = "ACGT" * 16 // 64 chars — the reference's MAXK bound
    counts(Seq(s), 64) shouldBe Map(s -> 1L)
  }

  test("k bounds are enforced (reference MAXK=64)") {
    an[IllegalArgumentException] should be thrownBy
      Kmers.kmersGen(Seq("A").toDF("text"), "text", 0)
    an[IllegalArgumentException] should be thrownBy
      Kmers.kmersGen(Seq("A").toDF("text"), "text", 65)
  }

  test("windows never cross rows (file barrier)") {
    // concatenated "AB"+"BA" would produce a BB window; per-row must not
    counts(Seq("AB", "BA"), 2) shouldBe Map("AB" -> 1L, "BA" -> 1L)
  }

  test("thresholded keeps only counts > 1 (reference v>1 output filter)") {
    val out = Kmers.thresholded(Seq("ABAB").toDF("text"), "text", 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out shouldBe Map("AB" -> 2L)
  }

  test("totalWindows = sum of max(0, len-k+1)") {
    val df = Seq("ACGTA", "AC", "").toDF("text") // 3 + 0 + 0 windows at k=3
    Kmers.totalWindows(df, "text", 3).collect()(0).getLong(0) shouldBe 3L
  }

  test("KmerGenerator windows equal a Spark-free code-point window count") {
    // combining marks and an astral char: each code point is one position
    val corpus = Seq("ABABCCA", "XY", "", "GATTACA", "cafe\u0301 ne\u0301e", "\uD83D\uDE00ab\uD83D\uDE00")
    for (k <- Seq(1, 2, 3, 7)) {
      val viaGen = Kmers.kmersGen(corpus.toDF("text"), "text", k)
        .groupBy("word").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      viaGen shouldBe codePointCounts(corpus, k)
    }
  }

  test("KmerGenerator runs inside WholeStageCodegen (no interpreted boundary)") {
    // fallback=false makes a codegen compile error FAIL the query
    // instead of silently dropping to the interpreted path
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Kmers.kmersGen(Seq("GATTACA").toDF("text"), "text", 3)
      df.collect().map(_.getString(0)) should contain theSameElementsAs
        Seq("GAT", "ATT", "TTA", "TAC", "ACA")
      // AQE applies codegen collapse per stage — assert on the FINAL plan;
      // codegen'd operators carry the `*(n)` prefix
      df.queryExecution.executedPlan.toString should include regex """\*\(\d+\) Generate"""
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("KmerGenerator handles multibyte text (char windows, not byte windows)") {
    val viaGen = Kmers.kmersGen(Seq("héllò", "日本語です").toDF("text"), "text", 2)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    viaGen shouldBe Map(
      "hé" -> 1L, "él" -> 1L, "ll" -> 1L, "lò" -> 1L,
      "日本" -> 1L, "本語" -> 1L, "語で" -> 1L, "です" -> 1L)
    viaGen shouldBe codePointCounts(Seq("héllò", "日本語です"), 2)
  }

  test("verifyJoin classifies match / mismatch / missing") {
    val l = Seq(("AB", 2L), ("BA", 1L)).toDF("word", "cnt")
    val r = Seq(("AB", 2L), ("CC", 5L)).toDF("word", "cnt")
    val st = Kmers.verifyJoin(l, r)
      .collect().map(row => row.getString(0) -> row.getString(3)).toMap
    st shouldBe Map("AB" -> "match", "BA" -> "missing_right", "CC" -> "missing_left")
  }
}
