package graft

import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine function registration, packaged both ways Spark supports:
  *
  *  - [[GraftExtensions]] for session-creation time
  *    (`.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.GraftExtensions`) — the idiomatic
  *    deployment for a cluster;
  *  - [[GraftFunctions.register]] for an already-running session
  *    (idempotent; the library's internal entry points call it so the
  *    functions work regardless of how the session was built).
  */
object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  /** The arguments of one call of function `fn`. */
  private final class Args(fn: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)
    def length: Int = es.length

    /** Argument `i`, named `param`, which must be an integer literal. */
    def int(i: Int, param: String): Int = {
      val e = es(i)
      if (!e.foldable)
        throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
          "funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "INT"))
      e.eval() match {
        case n: Number => n.intValue()
        case v => throw new AnalysisException("INVALID_PARAMETER_VALUE.INTEGER", Map(
          "parameter" -> s"`$param`", "functionName" -> s"`$fn`", "invalidValue" -> String.valueOf(v)))
      }
    }
  }

  /** Function `name`, callable with any of the `arities` argument counts. */
  private def fn(name: String, arities: Int*)(build: Args => Expression): (String, Builder) =
    name -> { es =>
      if (!arities.contains(es.length))
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`", "expectedNum" -> arities.mkString(" or "),
          "actualNum" -> es.length.toString, "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
      build(new Args(name, es))
    }

  private val builders: Seq[(String, Builder)] = Seq(
    fn("kmer_windows", 2)(a => kmer.KmerGenerator(a(0), a.int(1, "k"))),
    fn("kmer_windows_pos", 2)(a => kmer.KmerGenerator(a(0), a.int(1, "k"), withPos = true)),
    fn("ngram_hashes", 3)(a =>
      text.NgramHashGenerator(a(0), a.int(1, "minN"), a.int(2, "maxN"))),
    // rolling_hashes(text, k[, keepMod]): all k-window hashes, or the
    // content-defined h % keepMod == 0 sample filtered INSIDE the
    // generator (discarded windows never become rows)
    fn("rolling_hashes", 2, 3)(a =>
      text.RollingHashGenerator(a(0), a.int(1, "k"), winnowW = 0,
        keepMod = if (a.length > 2) a.int(2, "keepMod") else 1)),
    fn("winnow_fingerprints", 3)(a =>
      text.RollingHashGenerator(a(0), a.int(1, "k"), a.int(2, "w"))),
    // ac_matches(text, 'p1|p2|…'): every occurrence of every literal
    // pattern (overlapping included) via a per-executor-cached
    // Aho-Corasick automaton — O(text + matches), dictionary-size-free
    fn("ac_matches", 2)(a => text.AhoCorasickGenerator(a(0), a(1))),
    // wordpiece_pieces(word, 'p1|p2|…'): greedy longest-match subword
    // segmentation against a per-executor-cached trie; pid -1 = UNK
    fn("wordpiece_pieces", 2)(a => text.WordPieceGenerator(a(0), a(1))),
    // topk_pairs(score, id, k): bounded-heap per-group top-k aggregate
    // (k-sized state, map-side-combinable) — the no-window-sort top-N
    fn("topk_pairs", 3)(a => functions.TopKPairs(a(0), a(1), a(2))),
    fn("dot_i64", 2)(a => functions.DotI64(a(0), a(1))),
    // dot_feats_w(feats, w): sparse (bucket, count) · dense weights —
    // the perceptron margin as one codegen'd loop (no per-element HOF
    // interpretation); see functions.DotFeatsW
    fn("dot_feats_w", 2)(a => functions.DotFeatsW(a(0), a(1))),
    // lcs_len(a, b): longest common SUBSEQUENCE length over two token
    // arrays — the ROUGE-L core as one codegen'd two-row DP loop
    fn("lcs_len", 2)(a => functions.LcsLen(a(0), a(1))),
    // unigram_segment(w, m, maxPiece): Viterbi DP + backwalk over one
    // word under a (pos*8+len → score) candidate map — the unigram-LM
    // EM hot loop as one codegen'd pass (no per-element HOF
    // interpretation, no per-step accumulator array copies)
    fn("unigram_segment", 3)(a =>
      functions.UnigramSegment(a(0), a(1), a.int(2, "maxPiece"))),
    // common_run_len(ta, pa, tb, pb, bound, step): maximal aligned
    // char run extending right (step=+1) or left (step=-1) from two
    // seed anchors — the winnowing seed extension as one byte-walking
    // codegen'd pass (no per-block interpreted substring re-scans)
    fn("common_run_len", 6)(a =>
      functions.CommonRunLen(a(0), a(1), a(2), a(3), a(4), a.int(5, "step"))),
    // bpe_merge_all(syms, as, bs): sequential greedy-leftmost replay of
    // a whole BPE merge table, each merge one in-place codegen'd pass
    // (no chained per-element HOF folds); see functions.BpeMergeAll
    fn("bpe_merge_all", 3)(a => functions.BpeMergeAll(a(0), a(1), a(2))),
    fn("nfc_normalize", 1)(a => functions.NfcNormalize(a(0))),
    // char_entropy_q(text): (n, nd, hq) — the fixed-point entropy lane
    // as one tight code-point histogram loop per row (HOF lambdas
    // interpret per element; see functions.CharEntropyQ)
    fn("char_entropy_q", 1)(a => functions.CharEntropyQ(a(0))),
    // Spark ships these sketch expressions for its own runtime join
    // filters but leaves them out of the public registry; the engine
    // exposes them under the upstream names for bounded-size semi-join
    // pre-filters (see Curation.decontaminateBloom).
    fn("bloom_filter_agg", 3)(a =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        a(0), a(1), a(2))),
    fn("might_contain", 2)(a =>
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(a(0), a(1))),
  )

  /** Every registered function name. */
  private[graft] def names: Seq[String] = builders.map(_._1)

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, null, "", "", "", "", "", "", "scala_udf")

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }

  private[graft] def inject(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), b))
    }
    ext.injectOptimizerRule(_ => plans.RewriteDotProduct)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
