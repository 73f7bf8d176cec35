package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.{Dedup, Shingles, Similarity}

/** The native codegen expressions must agree exactly with the
  * higher-order-function reference formulations they replace. */
class VectorExpressionsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val vecs = {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    (1 to 50).map { i =>
      (i.toLong,
        Seq.fill(16)(rnd.nextFloat() * 2 - 1),
        Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
  }

  test("register adds the functions once per registry") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    def registered = reg.listFunction().filter(_.funcName.startsWith("graft_"))
    assert(registered.isEmpty)
    GraftFunctions.register(s)
    val first = registered.map(id => id -> reg.lookupFunction(id).get)
    assert(first.nonEmpty)
    GraftFunctions.register(s)
    first.foreach { case (id, info) =>
      assert(reg.lookupFunction(id).get eq info, s"$id was replaced")
    }
  }

  test("vec_dot / vec_norm / vec_cosine match the HOF reference forms") {
    val out = vecs.select(
      GraftFunctions.vecDot(col("a"), col("b")).as("d1"),
      Similarity.dot(col("a"), col("b")).as("d2"),
      GraftFunctions.vecNorm(col("a")).as("n1"),
      Similarity.norm(col("a")).as("n2"),
      GraftFunctions.vecCosine(col("a"), col("b")).as("c1"),
      Similarity.cosine(col("a"), col("b")).as("c2")).collect()
    // HOF zip_with multiplies in FLOAT before the double sum; the native
    // loop widens each element to double first — agree to float precision.
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-5)
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-5)
      assert(math.abs(r.getDouble(4) - r.getDouble(5)) < 1e-5)
    }
  }

  test("vec expressions run under whole-stage codegen (doGenCode path)") {
    // a local Seq relation is pre-evaluated by ConvertToLocalRelation, so
    // assert over a real parquet scan
    GraftFunctions.register(spark)
    val emb = graft.tables.Tables(spark, sf, "embeddings")
    val plan = emb.select(
      GraftFunctions.vecCosine(col("embedding"), col("embedding")).as("c"))
      .queryExecution.executedPlan
    val hasCodegen = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasCodegen, s"expected WholeStageCodegenExec in:\n$plan")
  }

  test("minhash_sig matches the aggregate/zip_with reference signature") {
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about distributed query engines"))
      .toDF("id", "text")
      .select(col("id"), Shingles.wordShingles(col("text"), 3).as("sh"))
    val out = docs.select(
      GraftFunctions.minHashSig(col("sh"), 64).as("fast"),
      Dedup.minHashSignature(col("sh"), 64).as("ref")).collect()
    out.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("simhash64 matches the HOF reference fingerprint") {
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "one two three four five six seven"),
      (2L, "totally different words in here altogether"))
      .toDF("id", "text")
    val out = docs.select(
      GraftFunctions.simHash64(Shingles.words(col("text"))).as("fast"),
      Dedup.simHashBits(Shingles.words(col("text"))).as("ref")).collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("md5 hash mode equals conv(substr(md5,1,15),16,10) — the oracle form") {
    GraftFunctions.register(spark)
    // a single-token simhash IS the token's hash (one +1/-1 vote per bit),
    // so simhash64([t], 'md5') must equal the SQL-expressible 60-bit md5
    // prefix value that the DuckDB oracles recompute.
    val toks = Seq("a", "", "the quick brown fox", "日本語テキスト", "x y\tz")
      .toDF("t")
    val out = toks.select(
      GraftFunctions.simHash64(array(col("t")), "md5").as("fast"),
      expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)").as("ref"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // known value pinned cross-engine: DuckDB ('0x'||substr(md5('a'),1,15))::BIGINT
    val a = toks.filter(col("t") === "a").select(
      GraftFunctions.simHash64(array(col("t")), "md5")).head.getLong(0)
    assert(a === 57446577476672362L)
  }

  test("winnow md5 mode matches an md5-prefix HOF reference") {
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "The quick   brown fox jumps over the lazy dog"),
      (2L, "tiny"),
      (3L, "")).toDF("id", "text")
    val norm = lower(regexp_replace(col("text"), "[ \\t\\r\\n\\u000B\\f]+", " "))
    docs.createOrReplaceTempView("winnow_md5_docs")
    val refRows = spark.sql(
      """WITH nrm AS (SELECT id,
           -- escapes are doubled so they reach the REGEX engine: Spark's
           -- SQL literal lexer eats unrecognized escapes (a bare \f
           -- becomes the letter f, which would strip 'f' from the text)
           lower(regexp_replace(text, '[ \\t\\r\\n\\u000B\\f]+', ' ')) AS t
           FROM winnow_md5_docs),
         g AS (SELECT id, t, greatest(length(t) - 7, 1) AS n FROM nrm),
         h AS (SELECT id, transform(sequence(1, n),
             i -> cast(conv(substring(md5(substring(t, i, 8)), 1, 15), 16, 10) as bigint)) AS hs
           FROM g),
         f AS (SELECT id, array_sort(array_distinct(transform(
             sequence(1, greatest(size(hs) - 3, 1)),
             j -> array_min(slice(hs, j, 4))))) AS fps FROM h)
         SELECT id, fps FROM f ORDER BY id""")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fastRows = docs.select(col("id"),
        GraftFunctions.winnow(norm, 8, 4, "md5").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fastRows === refRows)
  }

  test("lsh_bands: deterministic, bounded keys, identical vectors collide") {
    GraftFunctions.register(spark)
    val v = Seq.fill(16)(0.5f)
    val df = Seq((1L, v), (2L, v)).toDF("id", "vec")
      .select(col("id"), GraftFunctions.lshBands(col("vec"), 48, 8).as("bands"))
    val rows = df.collect()
    val b1 = rows(0).getSeq[Long](1)
    val b2 = rows(1).getSeq[Long](1)
    assert(b1.length === 6)                      // 48 planes / 8 rows
    assert(b1.forall(k => k >= 0 && k < 256))    // 8-bit keys
    assert(b1 === b2)                            // same vector → same bands
  }

  test("winnow matches the HOF winnowing reference") {
    GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "The quick   brown fox jumps over the lazy dog"),
      (2L, "tiny"),
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa"))
      .toDF("id", "text")
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val out = docs.select(
      GraftFunctions.winnow(norm, 8, 4).as("fast"),
      graft.ops.TextAnalysis.winnowingFingerprints(col("text"), 8, 4).as("ref"))
      .collect()
    out.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("native lang_id matches the HOF reference incl. tie-breaks") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lang_id",
      (c: Seq[Expression]) =>
        LangIdExpr(c(0), graft.ops.TextAnalysis.stopwordProfiles.toSeq),
      "built-in")
    val docs = Seq(
      (1L, "the cat is on the mat and it is warm"),
      (2L, "el gato y la casa en que vivimos"),
      (3L, "der hund und die katze ist ein tier"),
      (4L, "zzz qqq xxx"),                       // no hits -> und
      (5L, "de de de"),                          // es/fr tie on 'de'
      (6L, ""))
      .toDF("id", "text")
    val out = docs.select(
      call_function("graft_lang_id",
        graft.ops.Shingles.words(col("text"))).as("fast"),
      graft.ops.TextAnalysis.langId(col("text")).as("ref")).collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1), r.toString))
  }

  test("GraftExtensions injector covers every imperatively-registered name") {
    GraftFunctions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // builder registration must not throw
    val fld = classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getDeclaredFields.find(_.getName.contains("injectedFunctions"))
      .getOrElse(fail("SparkSessionExtensions.injectedFunctions field moved"))
    fld.setAccessible(true)
    val injected = fld.get(ext)
      .asInstanceOf[scala.collection.mutable.Buffer[
        (org.apache.spark.sql.catalyst.FunctionIdentifier, _, _)]]
      .map(_._1.funcName).toSet
    assert(injected === registered,
      "spark-submit (injector) and library (register) SQL surfaces diverged")
  }

  test("text_stats matches the HOF token-count and quality forms") {
    import graft.ops.TextAnalysis
    val docs = graft.tables.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      // adversarial shapes: empty, whitespace-only, padding, unicode,
      // attached punctuation, stopwords with case, long words, digits
      .unionByName(Seq(
        (9001L, ""), (9002L, "   "), (9003L, "  The cat IS on a mat.  "),
        (9004L, "für die straße 一二三 emoji\ttabs\nnewlines"),
        (9005L, "the the THE that that it for of and to in is a"),
        (9006L, "antidisestablishmentarianism x_y_z 3.14159 a1b2"),
        (9007L, "!!!??? ;;; ___ [brackets] (parens) \"quotes\""),
        // leading/trailing NON-SPACE whitespace: trim strips only 0x20 and
        // split keeps empty fields, so these exercise the n_words
        // empty-field semantics ("\tfoo bar" → 3 fields, "\t" → 2)
        (9008L, "\tfoo bar"), (9009L, "foo bar\n"), (9010L, "\t"),
        (9011L, "\n\nfoo\n\n"), (9012L, "  \tmixed lead"),
        (9013L, "trail mix\t  "), (9014L, " \t \n "))
        .toDF("doc_id", "text"))
    val native = TextAnalysis.tokenCounts(docs, "text", "doc_id").collect()
    val hofTok = TextAnalysis.tokenCountsHof(docs, "text", "doc_id").collect()
    assert(native.map(_.toSeq) === hofTok.map(_.toSeq))
    val nativeQ = TextAnalysis.qualityScore(docs, "text", "doc_id").collect()
    val hofQ = TextAnalysis.qualityScoreHof(docs, "text", "doc_id").collect()
    assert(nativeQ.map(_.toSeq) === hofQ.map(_.toSeq))
  }

  test("text_stats equals the HOF forms on 400 random adversarial strings") {
    // scalacheck-generated corpus: characters drawn to stress every
    // boundary in the one-pass scanner — whitespace variants (incl. \x0B
    // vertical tab and runs at the ends), ASCII letter/digit/punct,
    // multi-byte unicode, stopwords with mixed case
    import org.scalacheck.{Gen, rng}
    val alphabet: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("a", "Z", "m", "q", "3", "_", "."),
      4 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      2 -> Gen.oneOf("the", "IS", "That", "für", "中文", "😀"),
      1 -> Gen.oneOf("!", "[", "{", "\"", "\\"))
    val doc: Gen[String] =
      Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString))
    val texts = (0 until 400).foldLeft((rng.Seed(42L), List.empty[String])) {
      case ((seed, acc), _) =>
        (seed.next, doc.pureApply(Gen.Parameters.default, seed) :: acc)
    }._2
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val native = graft.ops.TextAnalysis.qualityScore(df, "text", "doc_id").collect()
    val hof = graft.ops.TextAnalysis.qualityScoreHof(df, "text", "doc_id").collect()
    native.zip(hof).foreach { case (n, h) =>
      assert(n.toSeq === h.toSeq, s"diverged on text=${texts(n.getLong(0).toInt)}")
    }
    val nTok = graft.ops.TextAnalysis.tokenCounts(df, "text", "doc_id").collect()
    val hTok = graft.ops.TextAnalysis.tokenCountsHof(df, "text", "doc_id").collect()
    assert(nTok.map(_.toSeq) === hTok.map(_.toSeq))
  }

  test("word_shingles matches the HOF shingling over the documents fixture") {
    GraftFunctions.register(spark)
    val docs = graft.tables.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      // edge cases the fixture may not contain
      .unionByName(Seq((9001L, ""), (9002L, "one"), (9003L, "  two words  "),
        (9004L, "a b c d e f")).toDF("doc_id", "text"))
    val out = docs.select(
      graft.ops.Shingles.wordShinglesFast(col("text"), 3).as("fast"),
      graft.ops.Shingles.wordShingles(col("text"), 3).as("ref"))
      .collect()
    out.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("gopher_stats native expression matches the HOF counting reference") {
    val docs = graft.tables.Tables(spark, sf, "documents")
    val fast = graft.ops.TextAnalysis.gopherStats(docs, "text", "doc_id")
      .collect().map(_.toSeq)
    val ref = graft.ops.TextAnalysis.gopherStatsHof(docs, "text", "doc_id")
      .collect().map(_.toSeq)
    assert(fast.toSeq === ref.toSeq)
  }

  test("quantize_int8 native expression matches the HOF reference") {
    val embs = graft.tables.Tables(spark, sf, "embeddings")
    val fast = Similarity.quantizeInt8(embs, "embedding", "vec_id")
      .orderBy(col("id")).collect().map(_.toSeq)
    val ref = Similarity.quantizeInt8Hof(embs, "embedding", "vec_id")
      .orderBy(col("id")).collect().map(_.toSeq)
    assert(fast.toSeq === ref.toSeq)
  }

  test("gram_products matches the decimal-cast HOF reference, incl. edge values") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def productsOf(df: org.apache.spark.sql.DataFrame) = {
      val native = df
        .select(explode(graft.functions.GraftFunctions
          .gramProducts(col("embedding"))).as("p"))
        .select(col("p.dim_i"), col("p.dim_j"), col("p.prod"))
        .collect().map(_.toSeq)
      val ref = Similarity.gramProductsHof(df, "embedding")
        .collect().map(_.toSeq)
      (native.toSeq, ref.toSeq)
    }
    // fixture corpus: every embedding vector
    val embs = graft.tables.Tables(spark, sf, "embeddings")
    val (nf, rf) = productsOf(embs)
    assert(nf === rf)
    // adversarial coordinates: HALF_UP ties at the 7th decimal, values
    // needing Double.toString (not raw binary expansion) to quantize
    // the way Spark's double->DECIMAL(18,6) cast does, negatives, zeros,
    // and a null element (null products against every dimension)
    val edge = Seq(
      (1L, Seq(Some(0.0000005f), Some(-0.0000005f), Some(0.1f),
        Some(-0.3f), Some(0.0f))),
      (2L, Seq(Some(1.0000004f), Some(-123.456789f), Some(0.9999995f),
        None, Some(3.0000005f))))
      .toDF("vec_id", "embedding")
    val (ne, re) = productsOf(edge)
    assert(ne === re)
    // non-finite and out-of-envelope coordinates: the decimal cast nulls
    // them under try_cast semantics, and the native expression must
    // null-propagate the same way instead of throwing
    // (NumberFormatException on NaN, ArithmeticException past
    // DECIMAL(18,6)'s 12 integer digits). The reference here is the
    // TRY_CAST HOF form — null-on-failure in both ANSI modes.
    val hostile = Seq(
      (3L, Seq(Some(Float.NaN), Some(1.0f), Some(Float.PositiveInfinity))),
      (4L, Seq(Some(Float.NegativeInfinity), Some(2.0f), Some(-0.5f))),
      (5L, Seq(Some(9.3e12f), Some(1.0f), Some(-9.3e15f))))
      .toDF("vec_id", "embedding")
    val nh = hostile
      .select(explode(graft.functions.GraftFunctions
        .gramProducts(col("embedding"))).as("p"))
      .select(col("p.dim_i"), col("p.dim_j"), col("p.prod"))
      .collect().map(_.toSeq)
    val rh = hostile
      .select(expr(
        """transform(embedding, x ->
             CAST(TRY_CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000
                  AS BIGINT))""").as("xi"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(xi) - 1), i ->
             transform(sequence(i, size(xi) - 1), j ->
               struct(i AS dim_i, j AS dim_j, xi[i] * xi[j] AS prod))))"""))
        .as("p"))
      .select(col("p.dim_i"), col("p.dim_j"), col("p.prod"))
      .collect().map(_.toSeq)
    assert(nh.toSeq === rh.toSeq)
    assert(nh.exists(r => r(2) == null),
      "hostile coordinates must yield null products, not crash")
  }

  test("char_pairs matches the split-on-empty HOF reference, incl. astral plane") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = {
      val native = df.select(explode(graft.functions.GraftFunctions
          .charPairs(graft.ops.Shingles.words(col("text")))).as("pair"))
        .collect().map(_.getString(0)).sorted
      val ref = graft.ops.TextAnalysis.bpePairsHof(df, "text")
        .collect().map(_.getString(0)).sorted
      (native.toSeq, ref.toSeq)
    }
    val docs = graft.tables.Tables(spark, sf, "documents")
    val (nf, rf) = pairsOf(docs)
    assert(nf === rf)
    // adversarial: multibyte BMP, an astral-plane emoji (code-point
    // pairing, not UTF-16 code units), 1-char and empty words, digits
    val edge = Seq((1L, "héllo 一二三 a😀b x . 42  spaced\tout"))
      .toDF("doc_id", "text")
    val (ne, re) = pairsOf(edge)
    assert(ne === re)
    assert(ne.contains("a😀"))   // pair spans the emoji intact
  }

  test("anchor_hashes matches the md5-HOF reference, incl. edge strings") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the d16 HOF form this expression replaced: 15-hex-char md5 prefix
    // per sliding 5-word window — parse to long to compare with the
    // native Md5Hash60 output
    def bothOf(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val w = graft.ops.Shingles.words(coalesce(col("text"), lit("")))
      val refCol = graft.ops.Shingles.let(w) { wds =>
        when(size(wds) >= k,
          transform(sequence(lit(0), size(wds) - k), p =>
            substring(md5(array_join(slice(wds, p + 1, lit(k)), " ")),
              1, 15)))
          .otherwise(expr("CAST(array() AS array<string>)"))
      }
      val ref = df.select(col("doc_id"), refCol.as("r")).collect()
        .map(r => r.getLong(0) ->
          r.getSeq[String](1).map(java.lang.Long.parseLong(_, 16)))
        .toMap
      val native = df.select(col("doc_id"),
          graft.functions.GraftFunctions.anchorHashes(
            coalesce(col("text"), lit("")), k).as("n"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      (native, ref)
    }
    val docs = graft.tables.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val (nf, rf) = bothOf(docs, 5)
    assert(nf === rf)
    val edge = Seq(
      (1L, "héllo 一二三 a😀b x . 42  spaced\tout words here"),
      (2L, "  UPPER  Case\tmixed   whitespace "),
      (3L, "short doc"), (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val (ne, re) = bothOf(edge, 3)
    assert(ne === re)
    assert(ne(3L).isEmpty && ne(4L).isEmpty && ne(5L).isEmpty)
    assert(ne(2L).nonEmpty) // trim/lower/\s+ parity exercised
  }

  test("bpe_segment matches the replace-device HOF reference on the corpus") {
    GraftFunctions.register(spark)
    val merges = graft.ops.TextAnalysis.DefaultMerges
    val docs = graft.tables.Tables(spark, sf, "documents")
    val out = docs.select(
      GraftFunctions.bpeSegment(col("text"), merges).as("native"),
      graft.ops.TextAnalysis.bpeSegmentHof(col("text"), merges).as("ref"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("bpe_segment rejects malformed merge tables loudly") {
    GraftFunctions.register(spark)
    val df = Seq(Tuple1("text")).toDF("t")
    // empty side
    intercept[Exception] {
      df.select(GraftFunctions.bpeSegment(col("t"), Seq("" -> "a"))).collect()
    }
    // non-alphabet side (would be invisible to the [a-z0-9]+ tokenizer)
    intercept[Exception] {
      df.select(GraftFunctions.bpeSegment(col("t"), Seq("A" -> "b"))).collect()
    }
  }

  test("wrapped_token_pairs matches the HOF reference on the corpus") {
    GraftFunctions.register(spark)
    val docs = graft.tables.Tables(spark, sf, "documents")
    val ws = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val wrapped = array_join(transform(ws, w =>
      concat(lit("|"),
        array_join(filter(split(w, ""), c => c =!= ""), "||"),
        lit("|"))), "#")
    // exercise both raw-char and post-merge forms (merged tokens are
    // multi-char, the state machine must not split them)
    val merged = graft.ops.TextAnalysis.DefaultMerges.foldLeft(wrapped) {
      case (acc, (a, b)) =>
        call_function("replace", acc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    Seq(wrapped, merged).foreach { form =>
      val out = docs.select(
        GraftFunctions.wrappedTokenPairs(form).as("native"),
        graft.ops.TextAnalysis.bpeTrainPairsHof(form).as("ref")).collect()
      assert(out.nonEmpty)
      out.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    }
  }
}
