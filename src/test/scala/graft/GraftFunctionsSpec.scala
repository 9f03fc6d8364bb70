package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every function [[GraftFunctions]] registers must return the same
  * rows through its interpreted path and its generated-code path.
  *
  * Each case runs over one shared table (seeded random text plus
  * adversarial rows: null, empty, combining marks, an astral char,
  * CRLF and tab, text shorter than k) under the four combinations of
  * `spark.sql.codegen.factoryMode` ∈ {NO_CODEGEN, CODEGEN_ONLY} and
  * `spark.sql.codegen.wholeStage` ∈ {false, true}. NO_CODEGEN without
  * whole-stage codegen evaluates every expression and generator
  * interpreted; with whole-stage codegen the project, filter and
  * generate operators run the `doGenCode` output. Every mode runs with
  * `spark.sql.codegen.fallback=false`, so a compile error fails the
  * case instead of silently falling back to `eval`.
  *
  * The table is read from parquet: a local relation would let the
  * optimizer fold the projections before either path runs.
  */
class GraftFunctionsSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val dir = java.nio.file.Files.createTempDirectory("graft_functions_spec").toFile

  override def beforeAll(): Unit = {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(20261017)
    // precomposed é, e + combining acute, a CJK char, an astral char
    val pieces = Seq("a", "b", "c", " ", "\u00e9", "e\u0301", "\u65e5", "\uD83D\uDE00", "\r\n", "\t")
    val random = (1 to 150).map(_ => Seq.fill(rnd.nextInt(25))(pieces(rnd.nextInt(pieces.length))).mkString)
    val adversarial = Seq(null, "", "a", "ab", "e\u0301\u0301", "a\r\nb\tc", "\uD83D\uDE00", "  ")
    (adversarial ++ random).zipWithIndex.map { case (t, i) => (i.toLong, i % 5, t) }
      .toDF("id", "g", "t").write.mode("overwrite").parquet(dir.getPath)
    spark.read.parquet(dir.getPath).createOrReplaceTempView("fx")
  }

  override def afterAll(): Unit = {
    spark.catalog.dropTempView("fx")
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(dir)
  }

  private val merged = "regexp_replace(t, 'b', 'c')"
  private val weights = "array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)"

  /** Registered name → queries over `fx` that exercise it. */
  private val cases: Map[String, Seq[String]] = Map(
    "kmer_windows" -> Seq("SELECT id, kmer_windows(t, 1) FROM fx", "SELECT id, kmer_windows(t, 3) FROM fx"),
    "kmer_windows_pos" -> Seq("SELECT id, kmer_windows_pos(t, 2) FROM fx"),
    "ngram_hashes" -> Seq(
      // no lambda in a generator's argument: a CodegenFallback child
      // would keep the Generate out of whole-stage codegen
      "SELECT id, ngram_hashes(concat(split(t, ' '), array(CAST(NULL AS STRING))), 1, 3) FROM fx"),
    "rolling_hashes" -> Seq("SELECT id, rolling_hashes(t, 3) FROM fx", "SELECT id, rolling_hashes(t, 2, 3) FROM fx"),
    "winnow_fingerprints" -> Seq("SELECT id, winnow_fingerprints(t, 3, 2) FROM fx"),
    "ac_matches" -> Seq("SELECT id, ac_matches(t, 'a|ab|\u00e9|e\u0301|\\t|\\r\\n|\u65e5') FROM fx"),
    "wordpiece_pieces" -> Seq("SELECT id, wordpiece_pieces(t, 'a|ab|b|c|\u00e9|\u65e5|\u0301') FROM fx"),
    "topk_pairs" -> Seq("SELECT g, topk_pairs(CAST(length(t) AS BIGINT), id, 3) FROM fx GROUP BY g"),
    "dot_i64" -> Seq(
      s"SELECT id, dot_i64(transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT)), $weights) FROM fx"),
    "dot_feats_w" -> Seq(
      "SELECT id, dot_feats_w(transform(split(t, ''), c -> named_struct(" +
        s"'b', CAST(ascii(c) % 8 AS BIGINT), 'c', CAST(length(c) AS BIGINT))), $weights) FROM fx"),
    "lcs_len" -> Seq(
      "SELECT id, lcs_len(split(t, ' '), transform(split(reverse(t), ' '), x -> nullif(x, 'a'))) FROM fx"),
    "unigram_segment" -> Seq(
      "SELECT id, unigram_segment(t, map_from_entries(transform(" +
        "filter(sequence(1, 8 * length(t) + 7), i -> i % 5 <> 0), " +
        "i -> struct(i, CAST(i % 7 - 3 AS BIGINT)))), 4) FROM fx"),
    "common_run_len" -> Seq(
      s"SELECT id, common_run_len(t, least(2, length(t)), $merged, least(2, length(t)), length(t), 1), " +
        s"common_run_len(t, length(t), $merged, length(t), length(t), -1) FROM fx"),
    "bpe_merge_all" -> Seq(
      "SELECT id, bpe_merge_all(split(t, ''), array('a', 'ab', 'e'), array('b', 'c', '\u0301')) FROM fx"),
    "nfc_normalize" -> Seq("SELECT id, nfc_normalize(t) FROM fx"),
    "char_entropy_q" -> Seq("SELECT id, char_entropy_q(t) FROM fx"),
    "bloom_filter_agg" -> Seq("SELECT g, bloom_filter_agg(xxhash64(t), 100L, 1024L) FROM fx GROUP BY g"),
    "might_contain" -> Seq(
      "SELECT id, might_contain((SELECT bloom_filter_agg(xxhash64(t), 100L, 1024L) FROM fx WHERE g = 0), " +
        "xxhash64(t)) FROM fx"),
  )

  private val modes = for {
    factory <- Seq("NO_CODEGEN", "CODEGEN_ONLY")
    wholeStage <- Seq("false", "true")
  } yield (factory, wholeStage)

  private def show(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(show).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(show).mkString("<", ",", ">")
    case x => x.toString
  }

  private def rowsUnder(sql: String, factory: String, wholeStage: String): Seq[String] = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage", "spark.sql.codegen.fallback")
    keys.zip(Seq(factory, wholeStage, "false"))
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try spark.sql(sql).collect().map(show).toSeq.sorted
    finally keys.foreach(spark.conf.unset)
  }

  test("every registered function has a dual-mode case") {
    GraftFunctions.names.filterNot(cases.contains) shouldBe empty
  }

  for ((name, queries) <- cases.toSeq.sortBy(_._1); (sql, i) <- queries.zipWithIndex)
    test(s"$name returns identical rows in all four codegen modes (case ${i + 1})") {
      val results = modes.map(m => m -> rowsUnder(sql, m._1, m._2))
      val (baseMode, base) = results.head
      base should not be empty
      results.tail.foreach { case (mode, rows) =>
        withClue(s"$sql\n$mode vs $baseMode: ") { rows shouldBe base }
      }
    }

  test("generators run inside whole-stage codegen when it is on") {
    for (name <- Seq("kmer_windows", "kmer_windows_pos", "ngram_hashes", "rolling_hashes",
        "winnow_fingerprints", "ac_matches", "wordpiece_pieces")) {
      val df = spark.sql(cases(name).head)
      df.collect()
      withClue(name) {
        df.queryExecution.executedPlan.toString should include regex """\*\(\d+\) Generate"""
      }
    }
  }

  test("misused literal arguments raise AnalysisException, not an internal error") {
    Seq(
      "SELECT kmer_windows(t) FROM fx" -> Seq("`kmer_windows`"),
      "SELECT kmer_windows(t, length(t)) FROM fx" -> Seq("`kmer_windows`", "`k`"),
      "SELECT unigram_segment(t, map(1, 1L), length(t)) FROM fx" -> Seq("`unigram_segment`", "`maxPiece`"),
      "SELECT unigram_segment(t, map(1, 1L), 8) FROM fx" -> Seq("unigram_segment", "maxPiece"),
      "SELECT common_run_len(t, 1, t, 1, 3, 2) FROM fx" -> Seq("common_run_len", "step"),
    ).foreach { case (sql, named) =>
      val e = intercept[AnalysisException](spark.sql(sql).collect())
      named.foreach(n => withClue(sql) { e.getMessage should include(n) })
    }
  }
}
