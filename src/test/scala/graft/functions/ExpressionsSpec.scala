package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ext.Similarity

class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.init()

  def vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(-1.5f, 0.25f, 4.0f)),
      (3L, Array(0.001f, -0.002f, 0.003f))).toDF("id", "v")
  }

  test("native cosine_sim is bit-identical to the HOF composition") {
    val df = vecs.as("a").crossJoin(vecs.as("b"))
      .select(
        exprs.cosine_sim(col("a.v"), col("b.v")).as("native"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine_sim self-similarity is 1.0, bounds hold") {
    val rows = vecs.select(exprs.cosine_sim(col("v"), col("v")).as("c")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("minhash_sig: deterministic, correct length, permutation-stable") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")),
      (3L, Seq("x y z"))).toDF("id", "sh")
    val sigs = df.select(col("id"), exprs.minhash_sig(col("sh"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1).length == 16)
    assert(sigs(1) == sigs(2))     // identical shingles → identical signature
    assert(sigs(1) != sigs(3))
  }

  test("minhash_sig portable family is bit-identical to the md5/conv " +
      "HOF composition (the q156 oracle arithmetic)") {
    import spark.implicits._
    val perms = 8
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("", "unicode 日本語", "x y z")),
      (3L, Seq("solo"))).toDF("id", "sh")
    // HOF reference: ONE md5 per shingle, hm = 60-bit prefix mod
    // (2^31-1), perm hash (a_p*hm + p*40503) mod (2^31-1) — exactly
    // what the DuckDB oracle computes
    val P = org.apache.spark.sql.graft.MinHashSig.P
    val B = org.apache.spark.sql.graft.MinHashSig.B
    val hm = (s: Column) =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long") % P
    val hofCols = (0 until perms).map { p =>
      val ap = org.apache.spark.sql.graft.MinHashSig.mult(p)
      array_min(transform(col("sh"), s =>
        (lit(ap) * hm(s) + lit(p.toLong) * B) % P)).as(s"h$p")
    }
    val rows = df.select(
      Seq(exprs.minhash_sig_portable(col("sh"), perms).as("sig")) ++
        hofCols: _*).collect()
    rows.foreach { r =>
      val sig = r.getSeq[Long](0)
      assert(sig.length == perms)
      (0 until perms).foreach(p => assert(sig(p) == r.getLong(1 + p)))
      sig.foreach(v => assert(v >= 0L))  // < 2^61: BIGINT-safe in DuckDB
    }
  }

  test("minhash_sig similarity estimate tracks jaccard") {
    import spark.implicits._
    // two near-identical shingle sets vs one disjoint
    val near = (0 until 50).map(i => s"sh$i")
    val df = Seq(
      (1L, near),
      (2L, near.drop(2) ++ Seq("extra1", "extra2")),
      (3L, (0 until 50).map(i => s"zz$i"))).toDF("id", "sh")
    val sigs = df.select(col("id"), exprs.minhash_sig(col("sh"), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(est(sigs(1), sigs(2)) > 0.6)
    assert(est(sigs(1), sigs(3)) < 0.2)
  }

  test("native phash is bit-identical to the explode+substr+window " +
      "composition (incl. unicode, spaces-only, empty)") {
    import spark.implicits._
    val payloads = Seq(
      1L -> "hello world this is a block structured payload with words",
      2L -> "",
      3L -> "     ",
      4L -> ("dense" * 50 + " " * 40 + "tail" * 9),
      5L -> ("日本語のテキスト と spaces " * 7))
    val media = payloads.toDF("media_id", "txt")
      .select(col("media_id"), col("txt").cast("binary").as("payload"))
    val composed = graft.ext.ReferenceTwins.perceptualHashComposed(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = media
      .select(col("media_id"),
        exprs.phash(decode(col("payload"), "UTF-8"), 32).as("ph"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
    // corpus sweep: the real media table, every row identical
    val sfMedia = graft.ext.Multimodal.mediaTable(spark, TestSpark.sf)
    val c2 = graft.ext.ReferenceTwins.perceptualHashComposed(sfMedia)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n2 = graft.ext.Multimodal
      .perceptualHash(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n2 == c2)
  }

  test("SimHashGen (codegen A/B instrument) is bit-identical to the " +
      "CodegenFallback SimHash, incl. null elements and empty arrays") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{SimHash, SimHashGen, bridge}
    val rows = Seq(
      (1L, Seq[java.lang.Long](7L, -3L, Long.MaxValue, Long.MinValue)),
      (2L, Seq[java.lang.Long](null, 0L, null)),
      (3L, Seq.empty[java.lang.Long]),
      (4L, (0 until 300).map(i => java.lang.Long.valueOf(i * 2654435761L))))
    val df = rows.toDF("id", "hs")
    def vals(mk: org.apache.spark.sql.Column): Map[Long, Long] =
      df.select(col("id"), mk.as("s")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fb = vals(bridge.column(SimHash(bridge.expression(col("hs")), 48)))
    val cg = vals(bridge.column(SimHashGen(bridge.expression(col("hs")), 48)))
    assert(fb == cg)
  }

  test("binary phash is byte-exact on non-UTF8 payloads (no decode " +
      "mangling) and coincides with the string form on ASCII") {
    import spark.implicits._
    // raw blobs a UTF-8 decode would mangle: invalid lead bytes
    // (0xFF/0xFE), bare continuation bytes (0x80), valid multi-byte
    // sequences (0xC3 0xA9 = é, 2 bytes -> 1 char), interleaved 0x20
    val blobs = Seq(
      1L -> (Array.fill(24)(0xFF.toByte) ++ Array.fill(40)(' '.toByte)),
      2L -> Array.tabulate(97)(i =>
        if (i % 5 == 0) 0x20.toByte else (0x80 + i % 64).toByte),
      3L -> (("é" * 20 + " " * 30 + "x" * 10).getBytes("UTF-8")),
      4L -> Array[Byte](),
      5L -> Array.fill(16)(0x20.toByte))
    val media = blobs.toDF("media_id", "payload")
    def hashes(c: Column): Map[Long, Long] =
      media.select(col("media_id"), c.as("ph"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bin = hashes(exprs.phash(col("payload"), 32))
    // ISO-8859-1 is a byte <-> code-point bijection, so the STRING
    // form over a latin-1 decode IS byte semantics — the reference
    // the binary fast path must reproduce bit-for-bit
    val latin1 = hashes(exprs.phash(decode(col("payload"), "ISO-8859-1"), 32))
    assert(bin == latin1)
    // the closed wart, demonstrated twice: (a) on invalid bytes a
    // UTF-8 decode THROWS in Spark 4 (MALFORMED_CHARACTER_CODING) —
    // the old path wouldn't mangle a real blob, it would kill the job
    intercept[RuntimeException] { // SparkRuntimeException: MALFORMED_CHARACTER_CODING
      media.filter(col("media_id") === 1L)
        .select(exprs.phash(decode(col("payload"), "UTF-8"), 32)).collect()
    }
    // (b) on VALID multi-byte UTF-8 it silently collapses the 2-byte
    // é sequences, shifting block boundaries — a different hash
    val utf8of3 = media.filter(col("media_id") === 3L)
      .select(exprs.phash(decode(col("payload"), "UTF-8"), 32).as("ph"))
      .collect().head.getLong(0)
    assert(bin(3L) != utf8of3)
    // ASCII coincidence (the gate-corpus property): byte form ==
    // code-point form whenever every code point is one byte
    val ascii = Seq(6L -> "plain ascii payload with  spaces and words")
      .toDF("media_id", "txt")
    val a1 = ascii.select(col("media_id"),
      exprs.phash(col("txt").cast("binary"), 32).as("ph")).collect().head.getLong(1)
    val a2 = ascii.select(col("media_id"),
      exprs.phash(col("txt"), 32).as("ph")).collect().head.getLong(1)
    assert(a1 == a2)
  }

  test("native jaccard_sim equals the array_intersect/union composition") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c", "c"), Seq("b", "c", "d")),
      (Seq("x"), Seq("y")),
      (Seq("q", "q"), Seq("q"))).toDF("a", "b")
    val rows = df.select(
      exprs.jaccard_sim(col("a"), col("b")).as("native"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("composed")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows(0).getDouble(0) == 0.5)   // {a,b,c} ∩ {b,c,d} = 2; ∪ = 4
    assert(rows(2).getDouble(0) == 1.0)
    // empty∪empty: native defines jaccard = 0.0 (composed form divides by zero)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(exprs.jaccard_sim(col("a"), col("b"))).collect()
    assert(empty.head.getDouble(0) == 0.0)
  }

  test("native simhash is bit-identical to the HOF vote composition") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0x0L, 0xFFFFL, 0x1234L, -17L)),
      (2L, Seq(Long.MaxValue, Long.MinValue, 42L)),
      (3L, Seq(7L)),
      (4L, Seq.empty[Long])).toDF("id", "th")
    val rows = df.select(
      exprs.simhash(col("th"), 16).as("native"),
      graft.ext.Dedup.simhashFromHashesHof(col("th"), 16).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // and on real tokenized documents
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf)
      .select(transform(graft.ext.TextAnalysis.tokens(col("text")),
        t => xxhash64(t)).as("th"))
      .select(exprs.simhash(col("th"), 16).as("native"),
        graft.ext.Dedup.simhashFromHashesHof(col("th"), 16).as("hof"))
      .collect()
    assert(docs.length == 500)
    docs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native lsh_bucket is bit-identical to the HOF projection") {
    import graft.ext.Similarity
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
    val rows = emb.select(
      exprs.lsh_bucket(col("embedding"), 64, 8).as("native"),
      Similarity.lshBucketHof(col("embedding"), 64, 8).as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // SHORTER arrays bucket to 0 in both forms (zip_with null-padding)
    import spark.implicits._
    val short = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("embedding")
      .select(exprs.lsh_bucket(col("embedding"), 64, 8).as("native"),
        Similarity.lshBucketHof(col("embedding"), 64, 8).as("hof")).collect()
    assert(short.head.getLong(0) == 0L && short.head.getLong(1) == 0L)
  }

  test("native word_shingles equals the staged HOF composition") {
    import spark.implicits._
    // edge shapes: shorter-than-k, exactly-k, duplicates, empty
    val df = Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b"),
      Seq("x", "y", "z"),
      Seq("r", "r", "r", "r", "r"),   // duplicate shingles → distinct
      Seq.empty[String]).toDF("toks")
    val rows = df.select(
      exprs.word_shingles(col("toks"), 3).as("native"),
      graft.ext.ReferenceTwins.shinglesFromTokensHof(col("toks"), 3).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    assert(rows(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](0) == Seq("a b"))
    assert(rows(3).getSeq[String](0) == Seq("r r r"))
    assert(rows(4).getSeq[String](0) == Seq(""))
    // null array → null in both forms
    val nul = Seq(Tuple1(null: Seq[String])).toDF("toks").select(
      exprs.word_shingles(col("toks"), 3).as("native"),
      graft.ext.ReferenceTwins.shinglesFromTokensHof(col("toks"), 3).as("hof")).collect()
    assert(nul.head.isNullAt(0) && nul.head.isNullAt(1))
    // and identical over every real tokenized document
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf)
      .select(graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
      .select(exprs.word_shingles(col("toks"), 3).as("native"),
        graft.ext.ReferenceTwins.shinglesFromTokensHof(col("toks"), 3).as("hof"))
      .collect()
    assert(docs.length == 500)
    docs.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("lsh_bucket documented edge semantics: longer arrays → 0, null → NULL") {
    // outside the length ≤ dim contract the HOF form is NOT the oracle
    // (xxhash64 skips zip_with's null padding); pin the native
    // expression's own documented behavior instead
    import spark.implicits._
    val longer = Seq(Tuple1(Array.fill(70)(1.0f))).toDF("embedding")
      .select(exprs.lsh_bucket(col("embedding"), 64, 8).as("native")).collect()
    assert(longer.head.getLong(0) == 0L)
    val nul = Seq(Tuple1(null: Array[Float])).toDF("embedding")
      .select(exprs.lsh_bucket(col("embedding"), 64, 8).as("native")).collect()
    assert(nul.head.isNullAt(0))
  }

  test("SQL registration via GraftExtensions function builders") {
    // exercise the injected builders directly through the registry path
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // builders validated via Column API round-trip in SQL
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim_t",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.graft.CosineSim(children.head, children(1)), "built-in")
    vecs.createOrReplaceTempView("vt")
    val r = spark.sql(
      "SELECT cosine_sim_t(a.v, a.v) AS c FROM vt a WHERE a.id = 1").collect()
    assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-12)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "phash_t",
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.graft.PHash(children.head, 32), "built-in")
    val p = spark.sql(
      "SELECT phash_t('dense dense  gap  dense') AS p").collect()
    assert(p.head.getLong(0) >= 0L && p.head.getLong(0) < (1L << 32))
  }
}
