package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit}

/**
 * The graft_* SQL functions: their one (name, usage, builder) table, its
 * session registration, and the Column API over it. Spark 4's `Column` no
 * longer wraps a Catalyst `Expression` directly, so the supported route to
 * a custom Expression is a `FunctionRegistry` entry + `call_function`. The
 * table reaches a registry by two routes: [[register]] adds it to a
 * session at run time, including sessions the library did not build (e.g.
 * the driver's), and [[GraftExtensions]] injects it when a session is
 * built with `spark.sql.extensions`.
 */
object GraftFunctions {

  private def literalInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def literalLong(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  /** 'xx' (default, xxhash64) | 'md5' (Md5Hash60, DuckDB-reproducible). */
  private def literalHashMode(e: Expression, what: String): Boolean =
    e match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _)
          if s.toString == "md5" => true
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _)
          if s.toString == "xx" => false
      case other => throw new IllegalArgumentException(
        s"$what must be the string literal 'xx' or 'md5', got $other")
    }

  /** Merge-list wire form for `graft_bpe_segment`: `"a b,c d,..."` —
   * rank-ordered pairs, sides space-separated. A string literal (not an
   * array column) because the merge table is part of the OPERATOR, baked
   * into the expression at plan time like the other literal params. */
  private def literalMerges(
      e: Expression, what: String): Seq[(String, String)] = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
      s.toString.split(",").toSeq.filter(_.nonEmpty).map { p =>
        p.split(" ") match {
          case Array(a, b) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"$what entries must be 'left right' pairs, got '$p'")
        }
      }
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** Every graft_* function as (name, usage, builder): the one table that
    * both [[register]] and [[GraftExtensions]] read. */
  private[functions] val table: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_vec_dot", "dot product of two numeric arrays",
      c => VecDot(c(0), c(1))),
    ("graft_vec_norm", "L2 norm of a numeric array",
      c => VecNorm(c(0))),
    ("graft_vec_cosine", "cosine similarity of two numeric arrays",
      c => VecCosine(c(0), c(1))),
    ("graft_lsh_bands", "random-hyperplane LSH band keys",
      c => LshBands(c(0), literalInt(c(1), "planes"), literalInt(c(2), "rowsPerBand"))),
    ("graft_minhash_sig", "MinHash signature of hashed shingles",
      c => MinHashSig(c(0), literalInt(c(1), "numHashes"), literalLong(c(2), "seed"))),
    ("graft_simhash64", "64-bit SimHash of a token array",
      c => SimHash64(c(0), if (c.length > 1) literalHashMode(c(1), "mode") else false)),
    ("graft_word_shingles", "hashed word n-gram shingles of a text",
      c => WordShingleHash(c(0), literalInt(c(1), "n"))),
    ("graft_winnow", "winnowing fingerprints of a text column",
      c => Winnow(c(0), literalInt(c(1), "k"), literalInt(c(2), "window"),
        if (c.length > 3) literalHashMode(c(3), "mode") else false)),
    ("graft_lang_id", "stopword-profile language id of a token array",
      c => LangIdExpr(c(0), graft.ops.TextAnalysis.stopwordProfiles.toSeq)),
    ("graft_text_stats", "one-pass per-document text statistics struct",
      c => TextStatsExpr(c(0))),
    ("graft_gopher_stats", "one-pass repetition/diversity counts struct",
      c => GopherStatsExpr(c(0))),
    ("graft_quantize_int8", "one-pass symmetric int8 quantization struct",
      c => QuantizeInt8Expr(c(0))),
    ("graft_gram_products", "6-dp-quantized upper-triangle Gram products",
      c => GramProducts(c(0))),
    ("graft_char_pairs", "adjacent character pairs within each word",
      c => CharPairsExpr(c(0))),
    ("graft_anchor_hashes", "60-bit md5 of every sliding k-word window",
      c => AnchorHashes(c(0), literalInt(c(1), "k"))),
    ("graft_bpe_segment", "BPE merge-list apply: subword token array",
      c => BpeSegmentExpr(c(0), literalMerges(c(1), "merges"))),
    ("graft_wrapped_token_pairs", "adjacent token pairs of a BPE-wrapped string",
      c => WrappedTokenPairs(c(0))),
    // Spark's runtime-filter expressions, which have no FunctionRegistry
    // entries of their own, for the explicit bloom-prune operators
    // (graft.ops.Prune)
    ("graft_bloom_agg", "Bloom filter sketch aggregate over long hashes",
      c => new BloomFilterAggregate(c(0), c(1))),
    ("graft_might_contain", "Bloom filter membership probe",
      c => BloomFilterMightContain(c(0), c(1))))

  /** Register all graft_* functions in the session. Each is registered
    * once per function registry: a later call finds it and leaves it in
    * place, so the ~40 operator call sites do not each replace every
    * builder (Spark logs a warning per replacement). `newSession()` starts
    * from a fresh registry and registers again; `cloneSession()` copies the
    * registry and keeps them. The registry's own lock makes the check and
    * the registration one step. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      table.foreach { case (name, _, builder) =>
        if (!reg.functionExists(FunctionIdentifier(name)))
          reg.createOrReplaceTempFunction(name, builder, "built-in")
      }
    }
  }

  // Column-API wrappers (caller must have registered on the session that
  // analyzes the plan; the graft.ops operators do this themselves).
  def vecDot(a: Column, b: Column): Column =
    call_function("graft_vec_dot", a, b)
  def vecNorm(a: Column): Column = call_function("graft_vec_norm", a)
  def vecCosine(a: Column, b: Column): Column =
    call_function("graft_vec_cosine", a, b)
  def lshBands(vec: Column, planes: Int, rowsPerBand: Int): Column =
    call_function("graft_lsh_bands", vec, lit(planes), lit(rowsPerBand))
  def minHashSig(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    call_function("graft_minhash_sig", shingles, lit(numHashes), lit(seed))
  def simHash64(tokens: Column, mode: String = "xx"): Column =
    call_function("graft_simhash64", tokens, lit(mode))
  def winnow(text: Column, k: Int, window: Int, mode: String = "xx"): Column =
    call_function("graft_winnow", text, lit(k), lit(window), lit(mode))
  def wordShingles(normText: Column, n: Int): Column =
    call_function("graft_word_shingles", normText, lit(n))
  def textStats(text: Column): Column = call_function("graft_text_stats", text)
  def gopherStats(tokens: Column): Column =
    call_function("graft_gopher_stats", tokens)
  def quantizeInt8(vec: Column): Column =
    call_function("graft_quantize_int8", vec)
  def gramProducts(vec: Column): Column =
    call_function("graft_gram_products", vec)
  def charPairs(words: Column): Column =
    call_function("graft_char_pairs", words)
  def anchorHashes(text: Column, k: Int): Column =
    call_function("graft_anchor_hashes", text, lit(k))
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_segment", text,
      lit(merges.map { case (a, b) => s"$a $b" }.mkString(",")))
  def wrappedTokenPairs(s: Column): Column =
    call_function("graft_wrapped_token_pairs", s)
}
