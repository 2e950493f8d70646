package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.JsonUtil
import graft.ops.DocOps

/** Property-based checks (SURVEY.md §5 item 3) for the pure kernels —
  * invariants that must hold for ANY input, not just fixtures.
  * Sampling is driven directly off scalacheck Gens with a fixed seed
  * (scalatestplus isn't in the offline dependency set). */
class PropertiesSpec extends AnyFunSuite {

  private def forSamples[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 10) {
      g.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too sparse: $produced/$n")
  }

  val tokenGen: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  val fieldsGen: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(tokenGen, Gen.asciiPrintableStr))

  test("scopeProject output is always a subset of the input fields") {
    forSamples(Gen.zip(fieldsGen, Gen.option(Gen.listOf(tokenGen)))) {
      case (fields, scope) =>
        val out = DocOps.scopeProject(fields, scope)
        assert(out.toSet.subsetOf(fields.toSet))
        scope.foreach(s => assert(out.keySet.subsetOf(s.toSet)))
    }
  }

  test("scopeProject with None or the full key list is identity") {
    forSamples(fieldsGen) { fields =>
      assert(DocOps.scopeProject(fields, None) == fields)
      assert(DocOps.scopeProject(fields, Some(fields.keys.toSeq)) == fields)
    }
  }

  test("JsonUtil.pretty round-trips through parse (AST fixpoint)") {
    import org.json4s._
    val leaf: Gen[JValue] = Gen.oneOf(
      Gen.alphaNumStr.map(JString(_)),
      Gen.chooseNum(-1000000L, 1000000L).map(l => JInt(BigInt(l))),
      Gen.oneOf(true, false).map(JBool(_)),
      Gen.const(JNull))
    def node(depth: Int): Gen[JValue] =
      if (depth <= 0) leaf
      else Gen.oneOf(leaf,
        Gen.listOfN(2, Gen.zip(tokenGen, node(depth - 1))).map(JObject(_)),
        Gen.listOfN(2, node(depth - 1)).map(JArray(_)))
    forSamples(node(3), 100) { jv =>
      assert(JsonUtil.parse(JsonUtil.pretty(jv)) == jv)
    }
  }

  test("xmlPack wraps every projected field exactly once") {
    forSamples(fieldsGen.suchThat(_.nonEmpty), 100) { fields =>
      val packed = DocOps.xmlPack(fields)
      fields.keys.foreach { k =>
        assert(packed.contains(s"<$k>") && packed.contains(s"</$k>"))
      }
    }
  }

  test("mdRender emits one header per section") {
    forSamples(Gen.listOf(Gen.zip(tokenGen, Gen.alphaNumStr)), 100) { pairs =>
      val md = DocOps.mdRender(pairs)
      val headers = "(?m)^# ".r.findAllIn(md).length
      assert(headers == pairs.length || pairs.isEmpty)
    }
  }

  test("jsonClean is idempotent") {
    forSamples(Gen.asciiPrintableStr) { s =>
      val once = DocOps.jsonClean(s)
      assert(DocOps.jsonClean(once) == once)
    }
  }

  test("word_shingles ≡ HOF composition for random token arrays and k") {
    val spark = TestSpark.init()
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val caseGen = Gen.zip(
      Gen.listOf(Gen.oneOf(Gen.const(""), tokenGen)), // incl. empty tokens
      Gen.chooseNum(1, 5))
    val cases = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Int)]
    forSamples(caseGen, 120) { case (toks, k) => cases += ((toks, k)) }
    cases.groupBy(_._2).foreach { case (k, group) =>
      val df = group.map(_._1).toSeq.toDF("toks")
      val rows = df.select(
        graft.functions.exprs.word_shingles(col("toks"), k).as("native"),
        graft.ext.ReferenceTwins.shinglesFromTokensHof(col("toks"), k).as("hof")).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    }
  }

  test("ivf_cells: valid cell ids, no repeats, nearest-first by true distance") {
    val spark = TestSpark.init()
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dim = 6
    val cents: Seq[Seq[Double]] =
      (0 until 5).map(c => (0 until dim).map(d => math.sin(c * 7 + d).toDouble))
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-100, 100).map(_ / 10.0f))
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    forSamples(vecGen, 100) { v => vecs += v }
    val rows = vecs.toSeq.map(v => Tuple1(v.toArray)).toDF("emb")
      .select(col("emb"),
        graft.functions.exprs.ivf_cells(col("emb"), cents, 3).as("cells"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val cells = r.getSeq[Int](1)
      assert(cells.length == 3 && cells.distinct.length == 3)
      assert(cells.forall(c => c >= 0 && c < 5))
      def d2(c: Int) = cents(c).zip(v).map { case (a, b) => val x = a - b; x * x }.sum
      // reported order is non-decreasing in true squared distance
      cells.sliding(2).foreach { case Seq(a, b) => assert(d2(a) <= d2(b) + 1e-9) }
      // and the first cell is a global argmin
      assert((0 until 5).forall(c => d2(cells.head) <= d2(c) + 1e-9))
    }
  }

  test("ivf_cells degrades gracefully on NaN-poisoned embeddings") {
    // ADVICE r3: all-NaN distances left best = -1 and threw on
    // taken(-1); the guard falls back to the lowest untaken id
    val spark = TestSpark.init()
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cents: Seq[Seq[Double]] = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(2.0, 2.0))
    val rows = Seq(
      Tuple1(Array(Float.NaN, Float.NaN)), // every distance NaN
      Tuple1(Array(1.0f, Float.NaN)))      // NaN poisons all dists too
      .toDF("emb")
      .select(graft.functions.exprs.ivf_cells(col("emb"), cents, 3).as("cells"))
      .collect()
    rows.foreach { r =>
      val cells = r.getSeq[Int](0)
      // falls back to id order: still 3 distinct valid cells, no throw
      assert(cells == Seq(0, 1, 2))
    }
  }

  test("zValue is a bijection on 16-bit pairs: de-interleaving recovers (a, b)") {
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.init()
    import spark.implicits._
    val pairGen = Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L))
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    forSamples(pairGen, 300) { p => pairs += p }
    val got = pairs.toSeq.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.rel.Reduce.zValue(col("a"), col("b")).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var (da, db) = (0L, 0L)
      for (i <- 0 until 16) {
        da |= ((z >> (2 * i)) & 1L) << i
        db |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(da == a && db == b, s"z=$z did not invert to ($a, $b)")
    }
  }

  test("TopKAgg equals sort-take on random groups under random partitioning") {
    val spark = TestSpark.init()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rowGen = Gen.zip(Gen.choose(1L, 8L), Gen.choose(-1000.0, 1000.0),
      Gen.choose(0L, 100000L))
    val data = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    forSamples(rowGen, 400) { r => data += r }
    val expected = data.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(x => (x._2, x._3)).toSeq
        .sortBy { case (v, id) => (-v, id) }.take(3)
    }
    val agg = new graft.rel.Reduce.TopKAgg(3).toColumn
    val got = data.toSeq.toDF("g", "v", "id").repartition(7)
      .as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(agg.name("top"))
      .collect().map { case (g, top) => g -> top }.toMap
    expected.foreach { case (g, want) => assert(got(g) == want, s"group $g") }
  }

  test("ccIncrement folded over ANY random graph + split equals one-shot CC") {
    val spark = TestSpark.init()
    import spark.implicits._
    // random multigraphs over a small id space (so components merge,
    // self-loops and duplicate edges occur) folded in random batch
    // counts — the q322 cut-invariance contract as a property, not a
    // fixture. Few samples: each runs real Spark jobs.
    val caseGen = Gen.zip(
      Gen.listOfN(14, Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L))),
      Gen.choose(1, 4))
    forSamples(caseGen, 8) { case (edges, nBatches) =>
      val df = edges.toDF("doc_a", "doc_b")
      val oneShot = graft.ext.Dedup.connectedComponents(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      var labels = Seq.empty[(Long, Long)].toDF("id", "label")
      edges.grouped(math.max(1, edges.length / nBatches)).foreach { b =>
        labels = graft.ext.Dedup
          .ccIncrement(labels, b.toDF("doc_a", "doc_b"))
          .localCheckpoint(eager = true)
      }
      val inc = labels.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(inc == oneShot, s"edges=$edges nBatches=$nBatches")
    }
  }

  test("ccIncrement + ccDecrement folded over random adds and deletes equal one-shot CC of the surviving graph, at any cap") {
    val spark = TestSpark.init()
    import spark.implicits._
    // each batch adds random edges, then deletes random ids (the CDC
    // maintainers' order). The reference is the distributed one-shot
    // CC of the surviving edge store, plus a singleton for every id
    // still standing with no surviving edge. The default cap folds on
    // the driver; 0 forces the distributed steps; 2 passes the first
    // collect of a small batch and falls back at a later one once a
    // touched component has grown past two members.
    val batchGen = Gen.zip(
      Gen.choose(0, 4).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.choose(1L, 10L), Gen.choose(1L, 10L)))),
      Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, Gen.choose(1L, 10L))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    forSamples(Gen.listOfN(4, batchGen), 5) { batches =>
      var store = Seq.empty[(Long, Long)]
      var standing = Set.empty[Long]
      for ((adds, dels) <- batches) {
        store ++= adds
        standing ++= adds.flatMap(e => Seq(e._1, e._2))
        store = store.filterNot(e => dels.contains(e._1) || dels.contains(e._2))
        standing --= dels
      }
      val linked = rows(graft.ext.Dedup.connectedComponents(
        store.toDF("doc_a", "doc_b"), driverGridMax = 0))
      val want = (linked ++ (standing -- linked.map(_._1)).map(id => (id, id))).sorted
      for (cap <- Seq(graft.ext.Guards.defaultDriverGridMax, 0, 2)) {
        var labels = Seq.empty[(Long, Long)].toDF("id", "label")
        var edges = Seq.empty[(Long, Long)]
        for ((adds, dels) <- batches) {
          edges ++= adds
          labels = graft.ext.Dedup.ccIncrement(labels, adds.toDF("doc_a", "doc_b"),
            driverGridMax = cap).localCheckpoint(eager = true)
          edges = edges.filterNot(e => dels.contains(e._1) || dels.contains(e._2))
          labels = graft.ext.Dedup.ccDecrement(labels, edges.toDF("doc_a", "doc_b"),
            dels.toDF("id"), driverGridMax = cap).localCheckpoint(eager = true)
        }
        assert(rows(labels) == want, s"cap=$cap batches=$batches")
      }
    }
  }

  test("bloomAntiJoin ≡ plain left_anti for random key sets and fpp") {
    val spark = TestSpark.init()
    import spark.implicits._
    val caseGen = Gen.zip(
      Gen.listOf(Gen.chooseNum(0L, 40L)),           // big keys, with dups
      Gen.listOf(Gen.chooseNum(20L, 60L)),          // small keys, overlapping
      Gen.oneOf(0.01, 0.2, 0.5))                    // incl. high-fpp regimes
    val cases = scala.collection.mutable.ArrayBuffer.empty[(List[Long], List[Long], Double)]
    forSamples(caseGen, 40) { c => cases += c }
    cases.filter(c => c._1.nonEmpty && c._2.nonEmpty).take(12).foreach {
      case (bigK, smallK, fpp) =>
        val big = bigK.zipWithIndex.toDF("k", "v")
        val small = smallK.toDF("k")
        val got = graft.rel.Reduce.bloomAntiJoin(big, small, "k", fpp = fpp)
          .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        val want = big.join(small, Seq("k"), "left_anti")
          .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        assert(got == want, s"fpp=$fpp big=$bigK small=$smallK")
    }
  }

  test("lsh_bucket with injected planes ≡ scalar reference for random vectors") {
    val spark = TestSpark.init()
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dim = 8
    val planes: Seq[Seq[Double]] =
      (0 until 5).map(p => (0 until dim).map(d => ((p * 3 + d * 2) % 7 - 3).toDouble))
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-100, 100).map(_ / 10.0f))
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    forSamples(vecGen, 100) { v => vecs += v }
    def ref(v: Seq[Float]): Long =
      (0 until 5).map { p =>
        var s = 0.0; var d = 0
        while (d < dim) { s += v(d).toDouble * planes(p)(d); d += 1 }
        if (s > 0) 1L << p else 0L
      }.sum
    val rows = vecs.toSeq.map(v => Tuple1(v.toArray)).toDF("emb")
      .select(col("emb"),
        graft.functions.exprs.lsh_bucket_planes(col("emb"), planes).as("b"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == ref(r.getSeq[Float](0))))
  }

  test("weightedSample is invariant under input partitioning") {
    val spark = TestSpark.init()
    val sf = "/root/testdata/sf0.001"
    val a = graft.ext.Sampling.weightedSample(spark, sf, k = 20).collect()
      .map(_.toSeq).toSeq
    // the operator reads from dir; partitioning-invariance is exercised
    // through different shuffle-partition settings
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val b = graft.ext.Sampling.weightedSample(spark, sf, k = 20).collect()
        .map(_.toSeq).toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // precision is NOT claimed here: distance-2 pairs CAN share a
  // deletion key (e.g. "abc"/"bca" both contain "bc"); q184's
  // levenshtein verify is what filters those — this property pins
  // the recall half of the contract, which has no later safety net
  test("deletion-neighborhood: expression matches reference; any lev<=1 pair shares a key") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def delKeys(s: String): Set[String] =
      Set(s) ++ s.indices.map(i => s.substring(0, i) + s.substring(i + 1))
    val spark = TestSpark.init()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the Catalyst expression agrees with the local reference on
    // random strings
    val strGen = Gen.chooseNum(1, 12)
      .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val samples = scala.collection.mutable.ArrayBuffer[String]()
    forSamples(strGen, 100)(samples += _)
    val fromExpr = samples.toSeq.toDF("s")
      .select(col("s"), graft.ext.Linkage.deletionKeys(col("s")).as("ks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    samples.foreach(s => assert(fromExpr(s) == delKeys(s), s"keys of '$s'"))
    // recall: mutate each sample by one random edit — the pair must
    // share a key (this is the guarantee q184's candidates rest on)
    val editGen = Gen.zip(strGen, Gen.chooseNum(0, 2), Gen.chooseNum(0, 999),
      Gen.alphaNumChar)
    forSamples(editGen, 200) { case (s, kind, posSeed, ch) =>
      val pos = posSeed % s.length
      val t = kind match {
        case 0 => s.substring(0, pos) + ch + s.substring(pos + 1) // sub
        case 1 => s.substring(0, pos) + ch + s.substring(pos)     // ins
        case _ if s.length > 1 => s.substring(0, pos) + s.substring(pos + 1)
        case _ => s // deleting the only char would make it empty; skip
      }
      assert(lev(s, t) <= 1)
      assert(delKeys(s).intersect(delKeys(t)).nonEmpty,
        s"'$s' ~ '$t' share no deletion key")
    }
  }

  test("hashBucket is uniform enough and total: every row lands in [0, B)") {
    val spark = TestSpark.init()
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (0L until 5000L).toDF("id")
    val counts = ids
      .select(graft.ext.Sampling.hashBucket(col("id"), 10).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0L until 10L).toSet)
    // md5 uniformity: each decile within ±25% of the expected 500
    counts.values.foreach(c => assert(c > 375 && c < 625, counts.toString))
  }
}
