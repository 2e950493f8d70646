package graft.rel

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ext.{Dedup, Similarity, TextAnalysis}

/** Light sanity specs over sf0.001 (the DuckDB oracle in Verify is
  * the authoritative correctness gate; these catch regressions fast
  * in `sbt test`). */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()
  val sf = TestSpark.sf

  test("pricing summary: 6 flag/status groups, counts add up") {
    val rows = Relational.pricingSummary(spark, sf).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Long]("count_order")).sum <= 6000L)
  }

  test("revenue by nation covers all 25 nations with positive revenue") {
    val rows = Relational.revenueByNation(spark, sf).collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("top-k is ordered desc and bounded") {
    val prices = Relational.topK(spark, sf).collect().map(_.getAs[Double]("price"))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("semi ∪ anti partitions customers") {
    val semi = Relational.semiJoin(spark, sf).count()
    val anti = Relational.antiJoin(spark, sf).count()
    assert(semi > 0 && anti > 0)
  }

  test("sessionize: every user has ≥1 session, events conserved") {
    val rows = Relational.sessionize(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_sessions") >= 1))
  }

  test("exact dedup conserves documents") {
    val rows = Dedup.exactDedup(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("cluster_size")).sum == 500L)
  }

  test("minhash LSH candidates verify to high jaccard on this corpus") {
    val verified = Dedup.jaccardVerify(spark, sf, k = 3, threshold = 0.7).collect()
    assert(verified.nonEmpty)
    assert(verified.forall(_.getAs[Double]("jaccard") >= 0.7))
  }

  test("incremental dedup: in-batch and cross-batch duplicates dropped") {
    import spark.implicits._
    val batch1 = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val noKnown = Seq.empty[String].toDF("content_hash")
    val kept1 = Dedup.exactDedupIncremental(batch1, noKnown)
    // in-batch: min doc_id survives per digest
    assert(kept1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // day 2: one old doc (different id, same text), one new
    val digests = kept1.select("content_hash")
    val batch2 = Seq((10L, "ALPHA   beta"), (11L, "delta")).toDF("doc_id", "text")
    val kept2 = Dedup.exactDedupIncremental(batch2, digests)
    assert(kept2.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
  }

  test("connected components: min-label fixpoint on known graphs") {
    import spark.implicits._
    // a 6-node path (forces > 1 propagation round: label 1 must walk
    // 5 hops), a separate pair, and a triangle
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
    // empty edge list → empty labelling, no NPE
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect().isEmpty)
  }

  test("connected components: labelprop non-convergence at maxIter THROWS, warns only on opt-out") {
    import spark.implicits._
    // a 9-hop chain needs more than 2 one-hop rounds: label 1 cannot
    // reach node 10 — partially-propagated ids are a wrong answer.
    // algorithm = "labelprop" EXPLICITLY: the default is "auto",
    // which would escalate instead of throwing (pinned below)
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2,
        algorithm = "labelprop").collect()
    }
    assert(e.getMessage.contains("maxIter"))
    // explicit opt-out returns the partial labels (and warns)
    val partial = Dedup.connectedComponents(chain, maxIter = 2,
      failOnNonConvergence = false, algorithm = "labelprop").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial.nonEmpty && partial.values.toSet.size > 1)
    // ample iterations: same chain converges and no longer throws
    val full = Dedup.connectedComponents(chain, maxIter = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 10L).forall(full(_) == 1L))
  }

  test("connected components: the DEFAULT algorithm is auto — deep chains escalate, never throw") {
    import spark.implicits._
    // VERDICT r11 item 2: the default must be the policy no caller
    // can diameter-fail under. A 60-hop chain at maxIter=10 throws
    // under explicit labelprop (previous spec) — the DEFAULT call
    // must escalate to doubling and land on the exact fixpoint
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 61L).forall(labels(_) == 1L))
    // and with the driver altitude disabled, the DEFAULT policy must
    // still never diameter-fail — the distributed escalation path
    val dist = Dedup.connectedComponents(chain, maxIter = 10,
      driverGridMax = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == labels)
  }

  test("incremental cc: any batch split converges to the one-shot fixpoint") {
    import spark.implicits._
    // shapes that stress the quotient merge: a chain built out of
    // order (later batches bridge earlier components), a late edge
    // carrying a SMALLER id that must relabel a standing component,
    // a merge of two existing components, and an untouched island
    val all = Seq(
      (10L, 11L), (12L, 13L), (11L, 12L),   // bridge two components
      (5L, 10L),                            // smaller id arrives late
      (20L, 21L), (22L, 23L), (21L, 22L),   // second family
      (90L, 91L))                           // island, untouched later
    val oneShot = Dedup.connectedComponents(all.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // three different cut patterns, incl. an empty middle batch
    val splits = Seq(
      Seq(all.take(3), all.slice(3, 6), all.drop(6)),
      Seq(all.take(1), Seq.empty, all.drop(1)),
      all.map(Seq(_)))
    splits.foreach { batches =>
      var labels = Seq.empty[(Long, Long)].toDF("id", "label")
      batches.foreach { b =>
        labels = Dedup.ccIncrement(labels, b.toDF("doc_a", "doc_b"))
          .localCheckpoint(eager = true)
      }
      val inc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == oneShot, s"split ${batches.map(_.size)} diverged")
    }
    // corpus-level: the q322 replay equals q45's one-shot clustering
    val q45 = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val q322 = Dedup.ccIncrementalClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(q322 == q45 && q322.nonEmpty)
  }

  test("connected components: driver union-find is identical to the distributed fixpoint") {
    import spark.implicits._
    // long-typed mixed shapes: path + star + clique + isolated pair
    val edges = ((1L to 30L).map(i => (i, i + 1)) ++
      (101L to 120L).map(i => (100L, i)) ++
      (for {a <- 200L to 205L; b <- a + 1 to 205L} yield (a, b)) ++
      Seq((300L, 301L))).toDF("doc_a", "doc_b")
    val drv = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = Dedup.connectedComponents(edges, driverGridMax = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(drv == dist && drv.nonEmpty)
    // string-typed graph incl. a non-ASCII key: the driver ordering
    // must pick the same minimum as Spark's binary string min
    val sEdges = Seq(("zeta", "alpha"), ("alpha", "Beta"),
      ("é-src", "zz"), ("zz", "Zcap")).toDF("doc_a", "doc_b")
    val sDrv = Dedup.connectedComponents(sEdges).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val sDist = Dedup.connectedComponents(sEdges, driverGridMax = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(sDrv == sDist && sDrv.nonEmpty)
  }

  test("connected components: pointer doubling matches label-prop on path/star/clique") {
    import spark.implicits._
    // parity on the three canonical shapes (VERDICT r9 item 4): a
    // long path (diameter stress), a star (the LSH anchor shape),
    // a clique, plus an isolated pair — same fixpoint, both algos
    val path = (1L to 30L).map(i => (i, i + 1))
    val star = (101L to 120L).map(i => (100L, i))
    val clique = (for {a <- 200L to 205L; b <- a + 1 to 205L}
      yield (a, b)).toSeq
    val edges = (path ++ star ++ clique ++ Seq((300L, 301L)))
      .toDF("doc_a", "doc_b")
    def labelsOf(algo: String, iters: Int = 40) =
      Dedup.connectedComponents(edges, maxIter = iters, algorithm = algo)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lp = labelsOf("labelprop")
    val pd = labelsOf("doubling")
    assert(pd == lp, "doubling fixpoint diverged from label-prop")
    assert((1L to 31L).forall(pd(_) == 1L))
    assert((100L to 120L).forall(pd(_) == 100L))
    assert((200L to 205L).forall(pd(_) == 200L))
  }

  test("connected components: doubling converges in O(log d) where label-prop hits maxIter") {
    import spark.implicits._
    // a 60-hop chain: one-hop label-prop needs ~60 rounds and THROWS
    // at maxIter=10; pointer doubling's horizon doubles per round, so
    // 10 rounds cover 2^10 hops — the chain-shaped 100 TB dup cluster
    // failure class the doubling variant exists to end
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 10,
        algorithm = "labelprop").collect()
    }
    val pd = Dedup.connectedComponents(chain, maxIter = 10,
      algorithm = "doubling").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 61L).forall(pd(_) == 1L))
  }

  test("connected components: auto escalates to doubling instead of throwing on a deep chain") {
    import spark.implicits._
    // the VERDICT r10 item-3 policy: production callers must not be
    // able to fail on component diameter. Same 60-hop chain where
    // labelprop at maxIter=10 THROWS (previous spec) — "auto" burns
    // its labelprop budget, resumes with doubling from the PARTIAL
    // labels, and lands on the exact fixpoint
    // driverGridMax = 0: this spec pins the DISTRIBUTED escalation
    // machinery (the driver union-find would trivially succeed)
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val auto = Dedup.connectedComponents(chain, maxIter = 10,
      algorithm = "auto", driverGridMax = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 61L).forall(auto(_) == 1L))
    // and on a shallow graph, auto converges inside the labelprop
    // phase — same fixpoint as plain labelprop (the gated-query case)
    val star = (101L to 120L).map(i => (100L, i)).toDF("doc_a", "doc_b")
    val a = Dedup.connectedComponents(star, algorithm = "auto",
      driverGridMax = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lp = Dedup.connectedComponents(star, algorithm = "labelprop")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == lp)
  }

  test("portable cms watchlist: a token the corpus never produced reports est_count 0, not absence") {
    val rows = graft.ext.Profile.cmsPortableHitters(spark, sf,
      candidates = Some(Seq("the", "zzz_never_in_corpus"))).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_count")).toMap
    assert(rows.keySet == Set("the", "zzz_never_in_corpus"))
    // empty cells are proof of absence — the estimate must be 0
    assert(rows("zzz_never_in_corpus") == 0L)
    assert(rows("the") > 0L)
  }

  test("near-dup clusters: reps are component minima, edges stay intra-cluster") {
    val edges = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val comp = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.nonEmpty)
    // every rep is ≤ its members and is itself a member mapping to itself
    comp.foreach { case (id, rep) => assert(rep <= id && comp(rep) == rep) }
    // both endpoints of every verified edge share a cluster
    edges.foreach { case (a, b) => assert(comp(a) == comp(b)) }
  }

  test("binned range join is exact vs the broadcast NLJ form") {
    val nlj = Relational.rangeJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val binned = Relational.rangeJoinBinned(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(binned == nlj && binned.nonEmpty)
    // boundary semantics: a value exactly on hi is excluded (v < hi)
    import spark.implicits._
    val fact = Seq((1L, 10.0), (2L, 20.0), (3L, 19.999)).toDF("id", "v")
    val ranges = Seq((100L, 10.0, 20.0)).toDF("rid", "lo", "hi")
    val out = Relational.binnedRangeJoin(fact, ranges, "v", "lo", "hi", 7.0)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }

  test("hash sampling: deterministic, partitioning-invariant, strata-bounded") {
    import graft.ext.Sampling
    val docs = graft.Tables.documents(spark, sf)
    val s1 = Sampling.hashSample(docs, col("doc_id"), 30)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // identical under a different partitioning (rand-sample is not)
    val s2 = Sampling.hashSample(docs.repartition(13), col("doc_id"), 30)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    // rate lands near the dial (md5 buckets ≈ uniform)
    val rate = s1.size.toDouble / docs.count()
    assert(rate > 0.2 && rate < 0.4, s"rate $rate")
    // a wider sample strictly contains a narrower one (nested samples)
    val s3 = Sampling.hashSample(docs, col("doc_id"), 60)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
    // stratified: every surviving row's bucket is under its stratum pct
    val strat = Sampling.stratifiedDocs(spark, sf).collect()
    assert(strat.nonEmpty)
    strat.foreach { r =>
      val cap = r.getString(1) match { case "en" => 50; case "fr" => 20; case _ => 10 }
      assert(r.getLong(2) < cap)
    }
    // train/test split: total partition, disjoint, stable vs hashSample(10)
    val split = Sampling.trainTestSplit(docs, col("doc_id"), 10)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == docs.count())
    val test10 = Sampling.hashSample(docs, col("doc_id"), 10)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(split.filter(_._2 == "test").keySet == test10)
  }

  test("balanced theta join: exact multiset parity with cartesian+filter") {
    import spark.implicits._
    val l = (1 to 40).map(i => (i.toLong, i * 1.5)).toDF("lid", "lv")
    val r = (1 to 30).map(j => (j.toLong, j * 2.0)).toDF("rid", "rv")
    val cond = col("lv") > col("rv") && (col("lid") + col("rid")) % 3 =!= 0
    val expected = l.crossJoin(r).filter(cond)
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val got = Skew.balancedThetaJoin(l, r, cond, grid = 4)
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    // exact multiset: every pair meets in exactly one grid cell
    assert(got == expected && got.nonEmpty)
  }

  test("simhash band pairs: pigeonhole recall within distance, none beyond") {
    import spark.implicits._
    // 48-bit signatures with engineered hamming distances
    val base = 0x0000FACEB00CL
    val sigs = Seq(
      1L -> base,
      2L -> (base ^ 0x7L),               // d=3, one band → found
      3L -> (base ^ ((1L << 1) | (1L << 13) | (1L << 25))), // d=3 across 3 bands → found (agree on band 3)
      4L -> (base ^ ((1L << 0) | (1L << 12) | (1L << 24) | (1L << 36))), // d=4, all bands differ → correctly excluded
      5L -> (base ^ 0xFFFL)              // d=12, shares bands 1-3 → candidate but filtered
    ).toDF("doc_id", "sh")
    val pairs = Dedup.simhashBandPairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 3)))
    assert(pairs.contains((1L, 3L, 3)))
    assert(!pairs.exists { case (a, b, _) => (a, b) == (1L, 4L) })
    assert(!pairs.exists { case (a, b, _) => (a, b) == (1L, 5L) })
    // corpus smoke: every emitted pair is within tolerance
    val corpus = Dedup.simhashNearDup(spark, sf).collect()
    assert(corpus.forall(_.getInt(2) <= 3))
  }

  test("salted join: row parity with the plain join, salt spread on the hot key") {
    import spark.implicits._
    // pathological histogram: one key owns 90% of the fact side
    val fact = ((1 to 900).map(i => (1L, s"row$i")) ++
      (1 to 100).map(i => (i.toLong + 1, s"tail$i"))).toDF("k", "payload")
    val dim = (1 to 200).map(i => (i.toLong, s"dim$i")).toDF("k", "attr")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = fact.join(dim, "k")
      val salted = Skew.saltedJoin(fact, dim, "k", salts = 8)
      // identical multiset of result rows, no __salt leakage
      assert(salted.columns.toSeq == plain.columns.toSeq)
      assert(salted.count() == plain.count())
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
      // the hot key's rows really spread over multiple salt values
      val spread = fact.withColumn("__salt",
          pmod(xxhash64(spark_partition_id(), monotonically_increasing_id()), lit(8L)))
        .filter(col("k") === 1L).select(col("__salt")).distinct().count()
      assert(spread > 1, "hot key must land on more than one salt")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("cosine top-k: similarities within [-1,1], sorted desc") {
    val sims = Similarity.cosineTopK(spark, sf).collect().map(_.getAs[Double]("cos_sim"))
    assert(sims.length == 10)
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("ann probe results are a subset of brute-force ranking universe") {
    val probe = Similarity.annProbe(spark, sf).collect()
    assert(probe.forall(r => r.getAs[Double]("cos_sim") <= 1.0))
  }

  test("multi-probe LSH: recall vs exact top-k dominates the " +
      "single-bucket probe, and every hit lies in a probed bucket") {
    val k = 10
    val exact = Similarity.cosineTopK(spark, sf, k = k).collect()
      .map(_.getLong(0)).toSet
    val single = Similarity.annProbeFixed(spark, sf, bits = 6, k = k)
      .collect().map(_.getLong(0)).toSet
    val multi = Similarity.multiProbeLsh(spark, sf, bits = 6, k = k)
      .collect().map(_.getLong(0)).toSet
    // 1-flip probing can only ADD candidates: recall is monotone
    assert((exact & multi).size >= (exact & single).size)
    // hits really come from the probed buckets (bucket ∈ {q, q^2^p})
    val buckets = Similarity.lshFixedBuckets(spark, sf, bits = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qb = buckets(0L)
    val probed = (Set(qb) ++ (0 until 6).map(p => qb ^ (1L << p))).toSet
    assert(multi.forall(id => probed.contains(buckets(id))))
  }

  test("pq refine: exact re-rank recovers every true neighbour the shortlist retains") {
    val k = 10
    val refined = Similarity.pqFixedRefineProbe(spark, sf, topK = k).collect()
    assert(refined.length == k)
    // cos_exact really is the exact cosine (brute-force recompute)
    val exactAll = Similarity.cosineTopK(spark, sf, k = 499).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cos_sim")).toMap
    refined.foreach { r =>
      assert(r.getAs[Double]("cos_exact") == exactAll(r.getLong(0)))
    }
    // refine guarantee: any true top-k member that survived into the
    // shortlist MUST be in the refined top-k (the exact score ranks it)
    val shortIds = Similarity.pqFixedProbe(spark, sf)
      .filter(col("vec_id") =!= 0L)
      .orderBy(col("cos_approx").desc, col("vec_id")).limit(50)
      .collect().map(_.getLong(0)).toSet
    val trueTopK = Similarity.cosineTopK(spark, sf, k = k).collect()
      .map(_.getLong(0)).toSet
    val refinedIds = refined.map(_.getLong(0)).toSet
    assert((trueTopK & shortIds).subsetOf(refinedIds))
    // and refine can only improve on the raw ADC top-k cut
    val adcCut = Similarity.pqFixedProbe(spark, sf)
      .filter(col("vec_id") =!= 0L)
      .orderBy(col("cos_approx").desc, col("vec_id")).limit(k)
      .collect().map(_.getLong(0)).toSet
    assert((trueTopK & refinedIds).size >= (trueTopK & adcCut).size)
  }

  test("ann recall: harness numbers match an independent per-query recompute") {
    val rows = Similarity.annRecallFixed(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L))
    rows.values.foreach { case (ne, nh, rec) =>
      assert(ne == 10L && nh >= 0L && nh <= ne)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec == math.rint(nh.toDouble / ne * 10000) / 10000)
    }
    // cross-check query 0 against the standalone probe + brute force
    val exact0 = Similarity.cosineTopK(spark, sf, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val approx0 = Similarity.annProbeFixed(spark, sf, queryId = 0L,
      bits = 6, k = 10).collect().map(_.getLong(0)).toSet
    assert(rows(0L)._2 == (exact0 & approx0).size.toLong)
  }

  test("leakage-safe split: no near-dup family straddles the train/test boundary") {
    val rows = graft.ext.Sampling.leakageSafeSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("split")))
    assert(rows.length == 500)
    // every member of a cluster carries its family's split
    rows.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $rep straddles the split")
    }
    // clusters really are the LSH pipeline's (spot-check: every doc of
    // a multi-doc cluster shares the recomputed rep)
    val clusters = graft.ext.Dedup.lshDedupClustersPortable(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (doc, rep, _) =>
      assert(rep == clusters.getOrElse(doc, doc))
    }
    // both sides populated (the bucket formula itself is pinned by
    // the q76/q47 specs — hashBucket is the shared implementation)
    assert(rows.map(_._3).toSet == Set("train", "test"))
  }

  test("materialized LSH index probe is partition-pruned and matches in-session probe") {
    val idx = java.nio.file.Files.createTempDirectory("graft-lsh-idx").toString
    Similarity.writeLshIndex(spark, sf, idx, bits = 6)
    val probe = Similarity.lshProbeMaterialized(spark, sf, idx, bits = 6)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(raw"PartitionFilters: \[[^\]]*bucket".r.findFirstIn(plan).isDefined,
      "bucket predicate not in PartitionFilters:\n" + plan.take(2000))
    // pruned probe returns the same neighbours as the in-session index
    val mat = probe.collect().map(r => (r.getLong(0), r.getDouble(2)))
    val mem = Similarity.annProbe(spark, sf, bits = 6).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(mat.toSeq == mem.toSeq)
  }

  test("materialized IVF index probe is partition-pruned and matches in-session probe") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.writeIvfIndex(spark, sf, idx)
    val probe = Similarity.ivfProbeMaterialized(spark, sf, idx)
    val plan = probe.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(plan).isDefined,
      "cell predicate not in PartitionFilters:\n" + plan.take(2000))
    val mat = probe.collect().map(r => (r.getLong(0), r.getDouble(2)))
    val mem = Similarity.ivfProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(mat.toSeq == mem.toSeq)
  }

  test("ivf+pq probe: pruned-cell superset of pq ranking, materialized matches in-session") {
    // in-session: scored rows come only from the query's nProbe cells,
    // and scores agree with the pure-PQ ADC scores for shared ids
    val ivfpq = Similarity.ivfPqProbe(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ivfpq.nonEmpty)
    val pqAll = Similarity.pqProbe(spark, sf, topK = 2000).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ivfpq.foreach { case (id, s) =>
      assert(pqAll(id) == s, s"ADC score diverged for $id: $s vs ${pqAll(id)}")
    }
    // materialized: codes-only schema, partition-pruned scan, same rows
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    Similarity.writeIvfPqIndex(spark, sf, idx)
    val probe = Similarity.ivfPqProbeMaterialized(spark, sf, idx)
    assert(!spark.read.parquet(idx).schema.fieldNames.contains("embedding"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(plan).isDefined,
      "cell predicate not in PartitionFilters:\n" + plan.take(2000))
    val mat = probe.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val mem = Similarity.ivfPqProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(mat == mem)
  }

  test("ivf+pq index deletes: tombstones leave the probe, compaction folds them in") {
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-del").toString + "/idx"
    Similarity.writeIvfPqIndex(spark, sf, idx)
    def probe(p: String, topK: Int = 10) =
      Similarity.ivfPqProbeMaterialized(spark, sf, p, topK = topK)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val before = probe(idx)
    assert(before.size == 10)
    // tombstone the probe's current top TWO hits (two separate
    // delete batches — tombstones accrete across appends)
    val kill = before.take(2).map(_._1)
    Similarity.deleteFromIvfPqIndex(Seq(kill(0)).toDF("vec_id"), idx)
    Similarity.deleteFromIvfPqIndex(Seq(kill(1)).toDF("vec_id"), idx)
    val after = probe(idx)
    assert(after.map(_._1).toSet.intersect(kill.toSet).isEmpty)
    // deleted rows vacate top-k slots for the NEXT candidates: the
    // post-delete ranking equals the pre-delete ranking minus the
    // tombstoned ids (anti-join before rank, not after)
    assert(after == probe(idx, topK = 10).toSeq)
    val expected = {
      // rank past the tombstones on an undeleted twin of the index
      val wide = java.nio.file.Files
        .createTempDirectory("graft-ivfpq-del2").toString + "/idx"
      Similarity.writeIvfPqIndex(spark, sf, wide)
      Similarity.ivfPqProbeMaterialized(spark, sf, wide, topK = 12)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
        .filterNot(r => kill.contains(r._1)).take(10).toSeq
    }
    assert(after == expected)
    // compaction: survivors only, tombstone dir gone, probe unchanged
    val out = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-cmp").toString + "/idx"
    val n = Similarity.compactIvfPqIndex(spark, idx, out)
    assert(n == spark.read.parquet(idx).count() - 2)
    assert(probe(out) == after)
  }

  test("epoch shuffle: total order per epoch, different epochs permute differently") {
    val e1 = graft.ext.Sampling.epochShuffle(spark, sf, epoch = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val n = graft.Tables.documents(spark, sf).count()
    assert(e1.length == n)
    // (bucket, pos) is a total order: positions within a bucket are 1..size
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // deterministic per epoch, different across epochs
    val e1b = graft.ext.Sampling.epochShuffle(spark, sf, epoch = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(e1.sortBy(_._1).toSeq == e1b.sortBy(_._1).toSeq)
    val e2 = graft.ext.Sampling.epochShuffle(spark, sf, epoch = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(e1.sortBy(_._1).toSeq != e2.sortBy(_._1).toSeq)
  }

  test("ivf+pq index append without refit: grown index probes like a full build") {
    val emb = graft.Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val grown = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString + "/idx"
    graft.sources.Io.writeParquet(
      Similarity.ivfPqIndex(spark, sf).join(
        half.select(col("vec_id")), Seq("vec_id"), "left_semi"),
      grown, Seq("cell"))
    Similarity.appendToIvfPqIndex(spark, sf, rest, grown)
    val full = java.nio.file.Files.createTempDirectory("graft-ivfpq-full").toString + "/idx"
    Similarity.writeIvfPqIndex(spark, sf, full)
    // same frozen codebooks -> identical probe over grown vs full-build
    val a = Similarity.ivfPqProbeMaterialized(spark, sf, grown).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = Similarity.ivfPqProbeMaterialized(spark, sf, full).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("pq fixed-codebook twin: codes in range, scores agree with a scala re-encode") {
    val rows = Similarity.pqFixedProbe(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent driver-side re-encode of one row with the same books
    val books = Similarity.pqFixedBooks()
    val emb = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === rows.head.getLong(0))
      .select(col("embedding")).head().getSeq[Float](0)
    (0 until 8).foreach { j =>
      val d = books(j).map(c => (0 until 8).map(i =>
        math.pow(emb(8 * j + i).toDouble - c(i), 2)).sum)
      assert(rows.head.getInt(1 + j) == d.indexOf(d.min))
    }
    rows.foreach { r =>
      (1 to 8).foreach(k => assert(r.getInt(k) >= 0 && r.getInt(k) < 4))
    }
  }

  test("approx distinct brackets the exact count within rsd") {
    val approx = Relational.approxDistinct(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("approx_orders")).toMap
    val exact = Relational.pricingSummary(spark, sf).sparkSession.emptyDataFrame
    val exactCounts = graft.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct("l_orderkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    exactCounts.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n).toDouble / n < 0.1, s"$k: ${approx(k)} vs $n")
    }
  }

  test("LSH skew guard: degenerate all-duplicates corpus stays linear") {
    // every doc identical ⇒ every band maps all docs to ONE bucket.
    // Over the cap each band emits the star (minId, other) plus
    // salted sub-cliques of expected size ≤ maxBucket — per-band work
    // O(n·maxBucket), never the O(n²) clique on one shuffle key.
    import spark.implicits._
    val n = 50
    val bands = 8
    val maxBucket = 10
    val sameSig = (1L to 32L).toArray
    val sig = (0 until n).map(i => (i.toLong, sameSig)).toDF("doc_id", "sig")
    val pairs = Dedup.lshCandidatePairs(sig, bands = bands, rowsPerBand = 4,
      maxBucket = maxBucket).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // star: every member stays connected to the anchor's component
    assert((1 until n).forall(i => pairs.contains((0L, i.toLong))))
    // salted sub-cliques add direct pairs beyond the star...
    assert(pairs.exists(_._1 != 0L))
    // ...but per-band output stays within the O(n·maxBucket) budget
    // (distinct union across bands is at most the full clique)
    assert(pairs.length <= math.min(n * (n - 1) / 2,
      (n - 1) + bands * n * maxBucket))
    // below the cap the full clique is still emitted (recall unchanged)
    val small = (0 until 5).map(i => (i.toLong, sameSig)).toDF("doc_id", "sig")
    val clique = Dedup.lshCandidatePairs(small, bands = bands, rowsPerBand = 4,
      maxBucket = maxBucket).collect()
    assert(clique.length == 5 * 4 / 2)
  }

  test("bucket-cap observation rides the banding action and reports " +
      "the oversized bucket (oracle-divergence signal)") {
    import spark.implicits._
    // 10 identical sigs, cap 4: ONE bucket of 10 > maxBucket — the
    // same condition that silently flips a full-clique oracle to
    // star+salt pairs; the observed max-bucket metric must surface it
    // on the SAME action (no extra job) so the divergence is a named
    // log condition, not a mystery hash mismatch
    val sig = (0 until 10).map(i => (i.toLong, Array(1L, 2L, 3L, 4L)))
      .toDF("doc_id", "sig")
    val pairs = Dedup.lshCandidatePairs(sig, bands = 1, rowsPerBand = 4,
      maxBucket = 4, compressBuckets = false)
    pairs.collect()
    val guard = pairs.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith("lsh_guard_") =>
        (name.substring(name.lastIndexOf('_') + 1).toLong, row.getLong(0))
    }
    assert(guard.contains((4L, 10L))) // cap 4, largest bucket 10
  }

  test("star-guard expansion: components recover transitive identity over capped buckets") {
    import spark.implicits._
    // degenerate corpus: candidate graph is star+salted-subcliques,
    // NOT the full clique — components must still be ONE cluster
    val n = 50
    val sameSig = (1L to 32L).toArray
    val sig = (0 until n).map(i => (i.toLong, sameSig)).toDF("doc_id", "sig")
    val pairs = Dedup.lshCandidatePairs(sig, bands = 8, rowsPerBand = 4,
      maxBucket = 10)
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == n)
    assert(comp.values.toSet == Set(0L), "all duplicates must share one cluster")
    // end-to-end on the real corpus: every verified edge intra-cluster
    val clusters = Dedup.lshDedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.jaccardVerify(spark, sf).collect().foreach { r =>
      assert(clusters(r.getLong(0)) == clusters(r.getLong(1)))
    }
  }

  test("memoized index tables are rebuilt for a new session, not handed out stale") {
    // ADVICE r2: a (dir, bits) key alone would return a DataFrame bound
    // to whichever session built it first; Memo validates session
    // identity and rebuilds. newSession() shares the SparkContext, so
    // this exercises the exact staleness without stopping anything.
    val s2 = spark.newSession()
    val a = Similarity.lshIndex(spark, sf, bits = 5)
    val b = Similarity.lshIndex(s2, sf, bits = 5)
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq s2)
    assert(Similarity.lshIndex(s2, sf, bits = 5) eq b) // memo hit for the new session
    Similarity.clearCaches()
  }

  test("IVF probe: deterministic centroids, partitioned cells, useful recall") {
    // centroid fit is a pure function of the sample → byte-stable
    val c1 = Similarity.ivfCentroids(spark, sf, k = 8)
    Similarity.clearCaches()
    val c2 = Similarity.ivfCentroids(spark, sf, k = 8)
    assert(c1 == c2)
    // every vector lands in exactly one of k cells; totals conserved
    val n = graft.Tables.embeddings(spark, sf).count()
    val stats = Similarity.ivfIndexStats(spark, sf, k = 8).collect()
    assert(stats.map(_.getAs[Long]("n_vectors")).sum == n)
    assert(stats.forall(r => r.getAs[Int]("cell") >= 0 && r.getAs[Int]("cell") < 8))
    // probe recall vs the exact scan: nProbe=4 of 8 cells must recover
    // most of the true top-10 (the dial the scaladoc documents)
    val exact = Similarity.cosineTopK(spark, sf, queryId = 0L, k = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.ivfProbe(spark, sf, queryId = 0L,
      k = 8, nProbe = 4, topK = 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@10 too low: $recall")
    // and full probe (nProbe = k) is exact by construction
    val full = Similarity.ivfProbe(spark, sf, queryId = 0L,
      k = 8, nProbe = 8, topK = 10).collect().map(_.getAs[Long]("vec_id")).toSet
    assert(full == exact)
    Similarity.clearCaches()
  }

  test("int8 quantization: high cosine fidelity, error bounded by scale/2") {
    val rows = Similarity.quantizeStats(spark, sf).collect()
    assert(rows.length == graft.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val scale = r.getDouble(1); val cos = r.getDouble(2); val err = r.getDouble(3)
      assert(cos > 0.995, s"fidelity $cos")
      assert(err <= scale / 2 + 1e-6, s"err $err vs scale $scale")
    }
  }

  test("bitsForCorpus bounds expected bucket occupancy as the corpus grows") {
    assert(Similarity.bitsForCorpus(0) == 4)
    assert(Similarity.bitsForCorpus(1000, targetOccupancy = 16) == 6)
    // 100 TB-ish corpus: a billion vectors still gets a bounded answer
    val b = Similarity.bitsForCorpus(1000000000L, targetOccupancy = 16)
    assert(b == 20) // capped at maxBits
    assert(Similarity.bitsForCorpus(1000000L) ==
      math.ceil(math.log(1000000.0 / 16) / math.log(2)).toInt)
    // the derived default keeps observed max occupancy sane on testdata
    val stats = Similarity.lshIndexStats(spark, sf,
      Similarity.bitsForCorpus(graft.Tables.embeddings(spark, sf).count()))
    val maxOcc = stats.collect().map(_.getAs[Long]("n_vectors")).max
    assert(maxOcc < 200, s"hot bucket too big: $maxOcc")
  }

  test("doc chunking: stride offsets, overlap, tail chunk, digest stability") {
    val rows = TextAnalysis.chunkDocs(spark, sf, chunk = 200, stride = 150)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val byDoc = rows.groupBy(_._1)
    val nChars = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (doc, cs) =>
      val len = nChars(doc)
      // chunk count = starts 1, 151, 301, … ≤ len
      assert(cs.length == (len - 1) / 150 + 1)
      // indexes contiguous from 0; chunk i covers exactly
      // [i·stride+1, min(i·stride+chunk, len)]
      assert(cs.map(_._2).sorted.toSeq == (0 until cs.length))
      cs.foreach { case (_, idx, size, _) =>
        assert(size == math.min(200, len - idx * 150))
      }
    }
    // digests deterministic across runs
    val again = TextAnalysis.chunkDocs(spark, sf, 200, 150).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(rows.toSet == again.toSet)
  }

  test("PII scrub replaces emails/IPs/phones globally, leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      "contact bob@example.com or alice@test.org today",
      "server at 192.168.0.1 and 10.0.0.255 responded",
      "call 555-123-4567 now",
      "nothing sensitive here").toDF("text")
    val out = df.select(TextAnalysis.scrubPii(col("text")).as("s"))
      .collect().map(_.getString(0))
    assert(out(0) == "contact [EMAIL] or [EMAIL] today")   // global, not first-only
    assert(out(1) == "server at [IP] and [IP] responded")
    assert(out(2) == "call [PHONE] now")
    assert(out(3) == "nothing sensitive here")
  }

  test("language id is deterministic and total") {
    val rows = TextAnalysis.langId(spark, sf).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => Set("en", "es", "fr", "de", "zh")(r.getAs[String]("pred_lang"))))
  }

  test("staged HOF projections evaluate the expensive subtree once (plan shape)") {
    // HOF-bearing expressions are excluded from Catalyst CSE (lambda
    // variables bind at runtime), so single evaluation must come from
    // the plan: a non-cheap alias referenced more than once blocks
    // CollapseProject. Count the expensive subtree's occurrences in
    // the optimized plan.
    def occurrences(df: org.apache.spark.sql.DataFrame, needle: String): Int = {
      val plan = df.queryExecution.optimizedPlan.toString
      plan.sliding(needle.length).count(_ == needle)
    }
    // langId: one greatest(...) argmax struct, not one per getField
    assert(occurrences(TextAnalysis.langId(spark, sf), "greatest(") == 1)
    // qualityScore: the tokenizer split runs once per row, not 6×
    assert(occurrences(TextAnalysis.qualityClassifier(spark, sf), "split(") == 1)
    assert(occurrences(TextAnalysis.tokenStats(spark, sf), "split(") == 1)
  }

  test("connected components: reliable-checkpoint path reaches the same fixpoint") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    // driverGridMax = 0: checkpointing only exists at the
    // distributed altitude — keep both runs there
    val local = Dedup.connectedComponents(edges, driverGridMax = 0)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      val reliable = Dedup.connectedComponents(edges,
        checkpointDir = Some(dir.toString), driverGridMax = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(reliable == local && reliable.nonEmpty)
      // the reliable path actually wrote checkpoint data to the dir
      assert(java.nio.file.Files.list(dir).count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("supplier star join: every supplier counted exactly once across regions") {
    val rows = Relational.supplierByRegion(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_suppliers")).sum
    assert(total == graft.Tables.supplier(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Double]("max_bal") >= r.getAs[Double]("avg_bal") - 1e-9)
    }
  }

  test("frame sampling slices raw binary byte-exactly (non-UTF8 payload)") {
    import spark.implicits._
    // 100 bytes spanning the full 0..255 range — a UTF-8 string cast
    // would mangle these; the binary substr path must count exactly
    val payload = Array.tabulate(100)(i => ((i * 37 + 128) % 256).toByte)
    val df = Seq((1L, payload)).toDF("media_id", "payload")
    val out = graft.ext.Multimodal.frameSampleOf(df, frameBytes = 32, everyK = 2)
      .collect()
    assert(out.length == 1)
    // frames: idx 0..3 of len 32,32,32,4 — keep idx 0 and 2 → 64 bytes
    assert(out.head.getAs[Long]("n_frames_kept") == 2L)
    assert(out.head.getAs[Long]("bytes_kept") == 64L)
  }

  test("phash near-dup skew guard: a mass-duplicate media corpus " +
      "emits O(n·maxBucket) pairs (never the n² clique), keeps the " +
      "duplicate set connected, and leaves small buckets exact") {
    import spark.implicits._
    // the sf1 probe's pathology, synthesized: 2000 byte-identical
    // payloads (every band bucket holds all 2000 — unguarded, the
    // candidate join is the 2M-pair clique that grew 327× at 10×
    // data) plus a small 5-copy group that must stay on the exact
    // clique path
    val bigN = 2000
    val a = "dense payload with words and  gaps repeated ".getBytes("UTF-8")
    val b = "#################### no spaces at all here #".getBytes("UTF-8")
    val media = ((0 until bigN).map(i => (i.toLong, a)) ++
      (0 until 5).map(i => ((bigN + i).toLong, b))).toDF("media_id", "payload")
    // precondition: the two groups are > maxDist apart, so every
    // emitted pair is within-group by correctness, not by luck
    val hs = media.select(col("media_id"),
        graft.functions.exprs.phash(col("payload"), 32).as("ph"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(hs(0L) ^ hs(bigN.toLong)) > 3)
    val maxBucket = 64
    val pairs = graft.ext.Multimodal
      .phashNearDupOf(media, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the guard's bound is PER (band, bucket): star (n-1) + salted
    // sub-cliques of expected size ≤ maxBucket ⇒ ≤ n·maxBucket pairs
    // per bucket, and salts are band-independent so the union is ≤
    // bands·n·maxBucket (= 512k here, observed ≈ 240k — linear in n).
    // The unguarded clique emits n²/2 ≈ 2M distinct pairs and fails
    // this bound ~4×; at 10× data it fails it ~40×.
    val bound = 4 * bigN * maxBucket
    assert(pairs.length <= bound,
      s"guard bound violated: ${pairs.length} pairs > $bound")
    assert(pairs.length >= bigN - 1) // at least the star survives
    // connectivity: every duplicate reaches every other through the
    // anchor star — one component over the big group
    val parent = scala.collection.mutable.Map((0 until bigN).map(i => i.toLong -> i.toLong): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.filter(_._1 < bigN).foreach { case (x, y) => parent(find(x)) = find(y) }
    assert((0 until bigN).map(i => find(i.toLong)).distinct.size == 1)
    // small bucket stays exact: the 5-copy group emits its full
    // 10-pair clique, nothing crosses groups
    val smallPairs = pairs.filter(_._1 >= bigN)
    assert(smallPairs.length == 10)
    assert(pairs.forall { case (x, y) => (x < bigN) == (y < bigN) })
  }

  test("decode-features: column-math twin is bit-equal to the " +
      "mapPartitions path (incl. non-UTF8 payloads)") {
    import spark.implicits._
    def collectBoth(media: org.apache.spark.sql.DataFrame) = {
      val mp = graft.ext.Multimodal.decodeFeaturesOf(media).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getSeq[Float](3).toList))).toMap
      val tw = graft.ext.Multimodal.decodeFeaturesTwinOf(media).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2),
            (3 until 11).map(r.getFloat).toList))).toMap
      (mp, tw)
    }
    // full 0..255 byte range, empty, all-space, plain ASCII — the
    // twin's latin-1 char arithmetic must equal unsigned-byte math
    // on every one (a UTF-8 reading would throw on blob 1)
    val blobs = Seq(
      1L -> Array.tabulate(100)(i => ((i * 37 + 128) % 256).toByte),
      2L -> Array[Byte](),
      3L -> Array.fill(64)(0x20.toByte),
      4L -> "ascii payload with words and  spacing".getBytes("UTF-8"))
    val (mp, tw) = collectBoth(blobs.toDF("media_id", "payload"))
    assert(mp == tw)
    // corpus sweep at test scale
    val media = graft.ext.Multimodal.mediaTable(spark, sf)
      .select(col("media_id"), col("payload"))
    val (mpC, twC) = collectBoth(media)
    assert(mpC == twC)
  }

  test("resize stub: column-math twin is bit-equal to the mapPartitions path (incl. non-UTF8, empty)") {
    import spark.implicits._
    def collectBoth(media: org.apache.spark.sql.DataFrame) = {
      val mp = graft.ext.Multimodal.resizeStubOf(media).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getSeq[Int](2).toList))).toMap
      val tw = graft.ext.ReferenceTwins.resizeTwinOf(media).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getSeq[Int](2).toList))).toMap
      (mp, tw)
    }
    val blobs = Seq(
      1L -> Array.tabulate(100)(i => ((i * 37 + 128) % 256).toByte),
      2L -> Array[Byte](),                       // empty: all-zero output
      3L -> Array.tabulate(7)(i => (i * 40).toByte), // n < target: sparse buckets
      4L -> "ascii payload with words and  spacing".getBytes("UTF-8"))
    val (mp, tw) = collectBoth(blobs.toDF("media_id", "payload"))
    assert(mp == tw)
    mp.values.foreach { case (_, out) =>
      assert(out.length == 32 && out.forall(v => v >= 0 && v <= 255))
    }
    // downsample really averages: a constant payload resizes to its value
    val const = Seq(9L -> Array.fill(640)(200.toByte))
      .toDF("media_id", "payload")
    val (mpC, _) = collectBoth(const)
    assert(mpC(9L)._2.forall(_ == 200))
    // corpus sweep
    val media = graft.ext.Multimodal.mediaTable(spark, sf)
      .select(col("media_id"), col("payload"))
    val (mpS, twS) = collectBoth(media)
    assert(mpS == twS)
    // randomized sweep: 50 seeded arbitrary-length arbitrary-byte
    // payloads in one frame — property-style coverage of the
    // boundary arithmetic (lengths straddle the target on both sides)
    val rnd = new scala.util.Random(42)
    val fuzz = (100L until 150L).map { id =>
      id -> Array.fill(rnd.nextInt(90))(rnd.nextInt(256).toByte)
    }
    val (mpF, twF) = collectBoth(fuzz.toDF("media_id", "payload"))
    assert(mpF == twF)
  }

  test("perceptual hash: total, deterministic, 32-bit-bounded; " +
      "identical texts collide") {
    val ph = graft.ext.Multimodal.perceptualHash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph.size == graft.Tables.documents(spark, sf).count())
    ph.values.foreach(v => assert(v >= 0L && v < (1L << 32)))
    // identical texts must collide exactly: assert over EVERY dup
    // group (sf0.001 may have none — then the collision property is
    // asserted via determinism below)
    val byText = graft.Tables.documents(spark, sf)
      .groupBy(col("text")).agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2).collect()
      .map(_.getSeq[Long](0))
    byText.foreach(g => assert(g.map(ph).distinct.size == 1))
    val ph2 = graft.ext.Multimodal.perceptualHash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph == ph2)
  }

  test("phash near-dup: pairs ordered, hamming verified within " +
      "maxDist, every exact-dup pair recalled, parity with " +
      "brute-force hamming join") {
    val pairs = graft.ext.Multimodal.phashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    pairs.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 3) }
    val ph = graft.ext.Multimodal.perceptualHash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pigeonhole guarantee (4 bands, maxDist 3): the banded candidate
    // set loses NO pair within distance — brute-force over collected
    // hashes must agree exactly
    val ids = ph.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      h = java.lang.Long.bitCount(ph(ids(i)) ^ ph(ids(j)))
      if h <= 3
    } yield (ids(i), ids(j), h)).toSet
    assert(pairs.toSet == brute)
  }

  test("cross-modal retrieval: probe hits carry aligned media + doc " +
      "metadata, scores sorted within the probe's top-k contract") {
    val rows = graft.ext.Multimodal.crossModalRetrieve(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"),
        length(col("text").cast("binary")).as("nb")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getInt(3)))
      .toMap
    rows.foreach { r =>
      val (src, lang, nb) = docs(r.getAs[Long]("media_id"))
      assert(r.getAs[String]("origin") == src)
      assert(r.getAs[String]("lang") == lang)
      assert(r.getAs[Int]("n_bytes") == nb)
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("scene changes: per-media frame/scene counts match a driver-side " +
      "recompute of the frame-differencing arithmetic") {
    val got = graft.ext.Multimodal.sceneChanges(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_frames"),
        r.getAs[Long]("n_scenes"), r.getAs[Long]("max_delta"))).toMap
    val texts = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == texts.size)
    texts.foreach { case (id, txt) =>
      val frames = txt.grouped(64).toSeq match {
        case Seq() => Seq("")
        case fs => fs
      }
      val it = frames.map(_.count(_ != ' ').toLong)
      val deltas = it.sliding(2).collect { case Seq(a, b) => (a, (b - a).abs) }.toSeq
      val scenes = 1L + deltas.count { case (prev, d) => 2 * d >= math.max(prev, 1L) }
      val maxDelta = (0L +: deltas.map(_._2)).max
      val (nf, ns, md) = got(id)
      assert(nf == it.length.toLong, s"doc $id frames")
      assert(ns == scenes, s"doc $id scenes")
      assert(md == maxDelta, s"doc $id max delta")
      assert(ns >= 1 && ns <= nf)
    }
  }

  test("cross-modal near-dup: evidence labels exactly reflect the two " +
      "source pair sets") {
    val ph = graft.ext.Multimodal.phashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val em = graft.ext.Similarity.embeddingNearDupFixed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val combined = graft.ext.Multimodal.crossModalNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(combined.keySet == (ph ++ em))
    combined.foreach { case (pair, ev) =>
      val expected =
        if (ph(pair) && em(pair)) "both" else if (ph(pair)) "phash" else "cosine"
      assert(ev == expected, s"$pair")
    }
  }

  test("bloom filter cache: bounded under many distinct small sides, " +
      "evicted entries rebuild correctly") {
    import spark.implicits._
    Reduce.clearBloomCache()
    val big = (0L until 40L).map(i => (i, s"v$i")).toDF("k", "v")
    // 70 distinct small sides (> the 64-entry LRU bound), each a
    // different plan -> a different cache key
    (0 until 70).foreach { i =>
      val small = Seq(i.toLong, (i + 1).toLong).toDF("k")
      Reduce.bloomSemiJoin(big, small, "k") // builds + caches eagerly
    }
    assert(Reduce.bloomCacheSize <= 64, s"cache grew to ${Reduce.bloomCacheSize}")
    // key 0 was evicted (eldest); a fresh call must rebuild and stay
    // exactly the plain semi join
    val small0 = Seq(0L, 1L).toDF("k")
    val got = Reduce.bloomSemiJoin(big, small0, "k").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(0L, 1L))
    Reduce.clearBloomCache()
    assert(Reduce.bloomCacheSize == 0)
  }

  test("exact percentiles are ordered p25 <= p50 <= p90 per group") {
    val rows = Relational.percentiles(spark, sf).collect()
    assert(rows.length == 3) // A, N, R
    rows.foreach { r =>
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p50"))
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90"))
    }
  }

  test("latest-per-key keeps exactly one order per customer, the max-date one") {
    val latest = Relational.latestPerKey(spark, sf)
    val nCust = graft.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(latest.count() == nCust)
    // spot-check: no other order for the same customer is strictly later
    val joined = latest.alias("l")
      .join(graft.Tables.orders(spark, sf).alias("o"),
        col("l.o_custkey") === col("o.o_custkey") &&
        col("o.o_orderdate") > col("l.o_orderdate"))
    assert(joined.count() == 0)
  }

  test("ntile buckets: 4 per segment, ranges non-overlapping and ordered") {
    val rows = Relational.ntileBuckets(spark, sf).collect()
    rows.groupBy(_.getAs[String]("c_mktsegment")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("bucket"))
      assert(sorted.map(_.getAs[Int]("bucket")).toSeq == (1 to sorted.length))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("max_bal") <= b.getAs[Double]("min_bal"))
        case _ =>
      }
    }
  }

  test("shipping priority: top-10 revenue descending, BUILDING only") {
    val rows = Relational.shippingPriority(spark, sf).collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sorted.reverse))
  }

  test("activity streaks: max streak bounded by the user's active-day count") {
    val streaks = Relational.activityStreaks(spark, sf)
    val days = graft.Tables.events(spark, sf)
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
      .distinct().groupBy(col("user_id")).count()
    val joined = streaks.join(days, Seq("user_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val streak = r.getAs[Int]("max_streak")
      assert(streak >= 1 && streak <= r.getAs[Long]("count"))
    }
  }

  test("arg extremes: reported balances are the group's true min/max") {
    val rows = Relational.argExtremes(spark, sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      assert(r.getAs[Double]("top_bal") >= r.getAs[Double]("bottom_bal"))
    }
    // tie-break determinism: run twice, identical argmax keys
    val again = Relational.argExtremes(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("top_custkey")).toSet ==
      again.map(_.getAs[Long]("top_custkey")).toSet)
  }

  test("bigrams: counts positive, top list deterministic and bounded") {
    val rows = TextAnalysis.bigramFreq(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.sameElements(ns.sorted.reverse))
    // one-token and empty docs contribute nothing — total bigrams =
    // sum over docs of max(tokens-1, 0)
    val expected = graft.Tables.documents(spark, sf)
      .select(greatest(size(TextAnalysis.tokens(col("text"))) - 1, lit(0))
        .as("nb"))
      .agg(sum(col("nb"))).head().getLong(0)
    val total = TextAnalysis.bigramFreq(spark, sf, topK = Int.MaxValue)
      .agg(sum(col("n"))).head().getLong(0)
    assert(total == expected)
  }

  test("vocab coverage in [0,1] per language; full-size vocab covers 1.0") {
    val rows = TextAnalysis.vocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cov = r.getAs[Double]("avg_coverage")
      assert(cov >= 0.0 && cov <= 1.0)
    }
    val full = TextAnalysis.vocabCoverage(spark, sf, vocabSize = 100000)
      .collect()
    full.foreach(r => assert(r.getAs[Double]("avg_coverage") == 1.0))
  }

  test("two-stage distinct equals the fused countDistinct plan") {
    val two = Relational.distinctTwoStage(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_users"), r.getAs[Long]("n_events"))).sorted.toSeq
    val fused = graft.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_users"), r.getAs[Long]("n_events"))).sorted.toSeq
    assert(two == fused && two.nonEmpty)
  }

  test("order priority (SQL surface): every priority counted, bounded by orders") {
    val rows = Relational.orderPriority(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_orders")).sum > 0)
  }

  test("revenue shares sum to 1 within every region") {
    val rows = Relational.revenueShare(spark, sf).collect()
    rows.groupBy(_.getAs[String]("r_name")).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Double]("region_share")).sum
      assert(math.abs(s - 1.0) < 1e-3)
    }
  }

  test("first/last window: one row per customer, nth null for single-order keys") {
    val rows = Relational.firstLast(spark, sf).collect()
    val nCust = graft.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.length == nCust)
  }

  test("fingerprint: identical texts collide, digest inside modulus") {
    val fp = TextAnalysis.fingerprint(spark, sf)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("txt_md5"))
    // same text ⇒ same token sequence ⇒ same fingerprint
    val perText = fp.join(docs, Seq("doc_id"))
      .groupBy(col("txt_md5"))
      .agg(countDistinct(col("fingerprint")).as("n_fp")).collect()
    assert(perText.nonEmpty)
    assert(perText.forall(_.getAs[Long]("n_fp") == 1L))
    val rows = fp.collect()
    assert(rows.forall { r =>
      val f = r.getAs[Long]("fingerprint")
      f >= 0 && f < 1000000007L
    })
  }

  test("decontamination: counts conserve and eval slice is excluded") {
    val rows = TextAnalysis.decontaminate(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_contaminated") + r.getAs[Long]("n_clean") ==
        r.getAs[Long]("n_docs"))
    }
    val corpusN = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") >= 5).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == corpusN)
  }

  test("nearest asof: one row per purchase, nearest beats backward-only") {
    val near = Relational.nearestAsofJoin(spark, sf)
    val nPurch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(near.count() == nPurch)
    // nearest |Δt| can never exceed the backward-only match's |Δt|
    val back = Relational.asofJoin(spark, sf)
      .select(col("event_id"), col("signup_us"))
    val ev = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val cmp = near.join(back, Seq("event_id")).join(ev, Seq("event_id"))
      .filter(col("signup_us").isNotNull)
      .select(col("diff_us"), abs(col("us") - col("signup_us")).as("back_diff"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach(r =>
      assert(r.getAs[Long]("diff_us") <= r.getAs[Long]("back_diff")))
  }

  test("quantile buckets: 4 value-ordered buckets partitioning all orders") {
    val rows = Relational.quantileBuckets(spark, sf).collect()
      .sortBy(_.getAs[Int]("bucket"))
    assert(rows.map(_.getAs[Int]("bucket")).toSeq == Seq(1, 2, 3, 4))
    assert(rows.map(_.getAs[Long]("n_orders")).sum ==
      graft.Tables.orders(spark, sf).count())
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("max_price") <= b.getAs[Double]("min_price"))
      case _ =>
    }
  }

  test("quantile buckets approx: same plan shape, counts within sketch tolerance of exact") {
    val exact = Relational.quantileBuckets(spark, sf).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n_orders")).toMap
    val approx = Relational.quantileBucketsApprox(spark, sf).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("n_orders")).toMap
    assert(approx.keySet == Set(1, 2, 3, 4))
    assert(approx.values.sum == exact.values.sum)
    // accuracy=10000 → rank error ≤ total/10000 rows may shift across
    // each of the 3 cutoffs; allow a small floor for tiny sf
    val tol = math.max(2L, exact.values.sum / 10000)
    (1 to 4).foreach { b =>
      assert(math.abs(approx(b) - exact(b)) <= 2 * tol,
        s"bucket $b: approx ${approx(b)} vs exact ${exact(b)} (tol $tol)")
    }
  }

  test("corpus mix: exactly min(cap, available) selected per source") {
    val rows = graft.ext.Sampling.corpusMix(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sel = r.getAs[Long]("n_selected")
      assert(sel == math.min(10L, r.getAs[Long]("n_available")))
      assert(r.getAs[Long]("sel_checksum") > 0L)
    }
  }

  test("target mixture: selected = min(target, available) per stratum") {
    val rows = graft.ext.Sampling.targetMixture(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_selected") ==
        math.min(r.getAs[Long]("n_target"), r.getAs[Long]("n_available")))
    }
  }

  test("pack bins: docs and tokens conserved, bins contiguous per source") {
    val rows = graft.ext.Sampling.packBins(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val bins = rs.map(_.getAs[Int]("bin")).sorted.toSeq
      assert(bins == (0 to bins.max).toSeq)
    }
  }

  test("curated corpus: kept docs pass every gate, never exceed the raw corpus") {
    val rows = TextAnalysis.curatedCorpus(spark, sf).collect()
    assert(rows.nonEmpty)
    val kept = rows.map(_.getAs[Long]("n_docs")).sum
    val raw = graft.Tables.documents(spark, sf).filter(col("doc_id") >= 5).count()
    assert(kept > 0 && kept <= raw)
    // tokens-per-doc ≥ the 20-token gate in every output cell
    rows.foreach { r =>
      assert(r.getAs[Long]("total_tokens") >= 20L * r.getAs[Long]("n_docs"))
    }
  }

  test("curated corpus bloom pre-filter path is value-identical to the plain anti join") {
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens")))
      .sortBy(t => (t._1, t._2)).toSeq
    val plain = canon(TextAnalysis.curatedCorpus(spark, sf))
    val bloom = canon(TextAnalysis.curatedCorpus(spark, sf, bloomPrefilter = true))
    assert(plain == bloom && plain.nonEmpty)
  }

  test("prefix join: exact superset of LSH-verified pairs, same jaccard values") {
    val exact = Dedup.jaccardJoinPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    exact.keys.foreach { case (a, b) => assert(a < b) }
    // LSH has recall loss, the prefix filter does not: every verified
    // LSH pair must appear here with the identical jaccard
    val lsh = Dedup.jaccardVerify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(lsh.nonEmpty)
    lsh.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j), s"pair $pair missing or diverged")
    }
  }

  test("prefix join pruning filters keep pairs at the exact J = t and min = t·max boundaries") {
    import spark.implicits._
    // Adversarial fixture for the PPJoin length/positional filters at
    // t = 0.7: doc 1 ⊂ doc 2 with |∩| = 7, |∪| = 10 puts BOTH the
    // jaccard (7/10) and the length ratio (sizes 7 vs 10) exactly ON
    // the threshold — any rounding slip in the filters drops a valid
    // pair. Ground truth is the unfiltered all-pairs verify.
    val s = (i: Int) => s"sh$i"
    val docs = Seq(
      1L -> (1 to 7).map(s),                       // J(1,2) = 7/10 = t exactly
      2L -> (1 to 10).map(s),
      3L -> ((1 to 6).map(s) :+ "uniq3"),          // J(1,3) = 6/8 = 0.75
      4L -> (1 to 7).map(s),                       // identical to 1 → J = 1
      5L -> (1 to 4).map(s),                       // J(1,5) = 4/7 < t, len-filtered
      6L -> Seq("d1", "d2", "d3")                  // disjoint
    ).toDF("doc_id", "sh")
    val got = Dedup.jaccardJoinPrefixOn(docs, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ids = docs.select("doc_id").as[Long].collect()
    val brute = ids.flatMap(a => ids.filter(_ > a).map(a -> _)).toSeq
      .toDF("doc_a", "doc_b")
    val truth = Dedup.verifyPairs(docs, brute, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(truth.contains((1L, 2L)) && truth((1L, 2L)) == 0.7) // fixture is on-boundary
    assert(got == truth, s"filtered=$got truth=$truth")
  }

  test("prefix join pruning keeps a pair whose jaccard rounds UP to the threshold") {
    import spark.implicits._
    // true J = 13999/20000 = 0.69995 < 0.7, but the verify predicate
    // (and the DuckDB oracle) accept round(J, 4) = 0.7000 — so the
    // pruning bounds must be derived from tEff = t − 6e-5, not t.
    // Pre-fix this pair was provably lost TWICE over: the t-based
    // length filter requires 13999 ≥ 0.7·20000 = 14000, and the
    // t-based prefix of doc 2 (6001 tokens) stops one short of its
    // first common token at position 6002.
    val a = (1 to 13999).map(i => f"s$i%05d")
    val b = (1 to 20000).map(i => f"s$i%05d")
    val docs = Seq(1L -> a, 2L -> b).toDF("doc_id", "sh")
    val got = Dedup.jaccardJoinPrefixOn(docs, 0.7).collect()
    assert(got.length == 1, s"pair lost by pruning: ${got.toSeq}")
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 2L)
    assert(got.head.getDouble(2) == 0.7)
  }

  test("jaccard verify window twin agrees with the shared verification core") {
    // the twin's all-pairs candidates are a superset of any LSH
    // candidate set inside the window, so every LSH-verified pair in
    // the window must appear with the SAME jaccard
    val win = Dedup.jaccardVerifyWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(win.nonEmpty)
    win.keys.foreach { case (a, b) => assert(a < b && b < 100L) }
    val lshInWindow = Dedup.jaccardVerify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((a, b), _) => a < 100L && b < 100L }
    lshInWindow.foreach { case (pair, j) =>
      assert(win.get(pair).contains(j), s"pair $pair: lsh=$j window=${win.get(pair)}")
    }
  }

  test("curated corpus near-dup: drops exactly the gate-surviving non-rep cluster members") {
    val exact = TextAnalysis.curatedCorpus(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_docs")).toMap
    val near = TextAnalysis.curatedCorpusNearDup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_docs")).toMap
    // near-dup removal only ever shrinks cells, never adds or grows them
    assert(near.keySet.subsetOf(exact.keySet))
    near.foreach { case (k, n) => assert(n <= exact(k), s"$k grew: $n > ${exact(k)}") }
    // audit equality: total drop == non-rep cluster members that
    // survived the gates (recompute the survivor ids independently)
    val nonReps = graft.ext.Dedup.lshDedupClusters(spark, sf)
      .filter(col("rep_id") =!= col("doc_id")).select(col("doc_id"))
    val survivors = TextAnalysis.curatedDocs(spark, sf)
    val expectedDrop = survivors.join(nonReps, Seq("doc_id"), "left_semi").count()
    assert(exact.values.sum - near.values.sum == expectedDrop)
  }

  test("bm25: descending positive scores, hit counts bounded by query size") {
    val df = TextAnalysis.bm25(spark, sf)
    // two corpus scans (match branch + scalar avgdl), a global top-N
    // (no full sort), and exactly one explode
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert("(?s)Generate".r.findAllIn(plan).length == 1, "df branch re-explodes")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-_)), "not descending")
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_terms_hit")
      assert(hits >= 1 && hits <= 3)
    }
    // more distinct query terms can only help: every 3-hit doc outranks
    // the best 1-hit doc is NOT guaranteed by bm25, but a doc hitting
    // zero terms must never appear
    assert(rows.forall(_.getAs[Long]("n_terms_hit") > 0))
  }

  test("pq probe: deterministic, self-excluded, recalls most exact top-k") {
    val exact = Similarity.cosineTopK(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val a = Similarity.pqProbe(spark, sf).collect()
    val b = Similarity.pqProbe(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // byte-stable
    val ids = a.map(_.getAs[Long]("vec_id")).toSet
    assert(!ids.contains(0L) && ids.size == a.length)
    // ADC on 8x16 codebooks over dim-64: coarse, but the top-10 should
    // still recover a meaningful share of the exact top-10
    val recall = ids.intersect(exact).size
    assert(recall >= 3, s"PQ recall too low: $recall of ${exact.size}")
    // approximate cosine stays in [-1.2, 1.2] (quantization can
    // overshoot slightly but not wildly)
    a.foreach(r => assert(math.abs(r.getAs[Double]("cos_approx")) <= 1.2))
  }

  test("pq index stats: one row per subspace, codes live and in range") {
    val rows = Similarity.pqIndexStats(spark, sf).collect()
    assert(rows.length == 8)
    val n = graft.Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == n)
      val live = r.getAs[Long]("live_codes")
      assert(live >= 1 && live <= 16)
      assert(r.getAs[Int]("max_code") <= 15)
    }
  }

  test("trigram perplexity: nll nonnegative, trigram counts match token counts") {
    val rows = TextAnalysis.trigramPerplexity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nll = r.getAs[Double]("avg_nll")
      val ppl = r.getAs[Double]("perplexity")
      assert(nll >= 0.0, s"negative nll: $nll") // p(next|prefix) <= 1
      assert(ppl >= 1.0 && math.abs(ppl - math.exp(nll)) < 0.01)
      assert(r.getAs[Long]("n_trigrams") > 0)
    }
    // every doc with >= 3 tokens appears, with exactly n_tok - 2 trigrams
    val expect = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.ext.TextAnalysis.tokens(col("text"))).as("nt"))
      .filter(col("nt") >= 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1) - 2L)).toMap
    assert(rows.length == expect.size)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_trigrams") == expect(r.getLong(0))))
  }

  test("weighted sample: deterministic, sorted, favors heavier docs in aggregate") {
    val df = graft.ext.Sampling.weightedSample(spark, sf)
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject")) // global top-k, never a full sort
    val a = df.collect()
    val b = graft.ext.Sampling.weightedSample(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 50)
    val keys = a.map(_.getAs[Double]("es_key"))
    assert(keys.forall(_ <= 0.0)) // ln(u) < 0, weights > 0
    assert(keys.sameElements(keys.sortBy(-_)))
    // weighting by n_chars must pull the sample's mean length above
    // the corpus mean (the point of the operator)
    val corpusMean = graft.Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    val sampleMean = a.map(_.getAs[Long]("n_chars").toDouble).sum / a.length
    assert(sampleMean > corpusMean,
      s"weighted sample not length-biased: $sampleMean <= $corpusMean")
  }

  test("quality score: counts partition the corpus, scores are probabilities") {
    val rows = TextAnalysis.qualityClassifier(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_keep") <= r.getAs[Long]("n_docs"))
      val m = r.getAs[Double]("mean_score")
      assert(m > 0.0 && m < 1.0)
    }
  }

  test("best-copy dedup: kept member is the group argmax, groups are real") {
    val rows = TextAnalysis.bestCopyDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    val perDoc = TextAnalysis.qualityScoreDocs(spark, sf).collect()
      .map(r => (r.getString(3), r.getLong(0), r.getDouble(4)))
    val groups = perDoc.groupBy(_._1)
    rows.foreach { r =>
      val (id, n, score) = (r.getLong(0), r.getAs[Long]("n_copies"),
        r.getAs[Double]("score"))
      val g = groups.values.find(_.exists(_._2 == id)).get
      assert(g.size.toLong == n && n >= 2)
      // argmax with (score desc, id) tie-break
      val best = g.minBy(t => (-t._3, t._2))
      assert(best._2 == id)
      assert(math.abs(best._3 - score) < 1e-5)
    }
  }

  test("training manifest: shards partition the budgeted curated selection") {
    val rows = graft.ext.Sampling.trainingManifest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) >= 0 && r.getInt(0) < 8))
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(total > 0 && total <= 30000L)
    // composing the stages standalone gives the same selected mass:
    // survivors -> histogram cutoff -> same docs
    val surv = TextAnalysis.curatedDocs(spark, sf)
      .select(col("doc_id"), col("n_tok"),
        round(col("n_distinct").cast("double") / col("n_tok").cast("double"), 3)
          .as("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val hist = surv.groupBy(_._3).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy(-_._1)
    val cum = hist.scanLeft(0.0 -> 0L) { case ((_, c), (s, t)) => s -> (c + t) }.drop(1)
    val cutoff = cum.filter(_._2 <= 30000L).map(_._1).lastOption
    val expected = cutoff.map(c => surv.filter(_._3 >= c).map(_._2).sum).getOrElse(0L)
    assert(total == expected)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      cutoff.map(c => surv.count(_._3 >= c).toLong).getOrElse(0L))
  }

  test("training manifest: budget below the top bucket still selects it " +
      "(coalesced cutoff, never silently empty)") {
    // budget=1: no histogram bucket fits, the strict cum<=budget cutoff
    // is NULL — the coalesce-to-max-score contract selects exactly the
    // top-score bucket instead of returning an empty manifest
    val rows = graft.ext.Sampling.trainingManifest(spark, sf, budget = 1L)
      .collect()
    assert(rows.nonEmpty)
    val surv = TextAnalysis.curatedDocs(spark, sf)
      .select(col("doc_id"), col("n_tok"),
        round(col("n_distinct").cast("double") / col("n_tok").cast("double"), 3)
          .as("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val topScore = surv.map(_._3).max
    val expectedDocs = surv.count(_._3 >= topScore).toLong
    assert(rows.map(_.getAs[Long]("n_docs")).sum == expectedDocs)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum ==
      surv.filter(_._3 >= topScore).map(_._2).sum)
  }

  test("repetition stats: fractions in range, duplicate-free docs score zero dup") {
    val rows = TextAnalysis.repetitionStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_bigram_frac")
      val top = r.getAs[Double]("top_bigram_frac")
      assert(dup >= 0.0 && dup < 1.0)
      assert(top > 0.0 && top <= 1.0)
      // top bigram's excess repeats are themselves duplicates (1e-4
      // slack: both fractions are independently rounded to 4 decimals)
      assert(top <= dup + 1.0 / r.getAs[Long]("n_bigrams") + 1e-4)
    }
    // an engineered looping doc scores high on both fractions
    import spark.implicits._
    val loop = Seq((1L, "spam ham " * 50), (2L, "all words here differ fully"))
      .toDF("doc_id", "text")
    // reuse the real operator body via a temp view swap is overkill —
    // assert on the corpus op above; the loop doc check goes through
    // the same bigram math inline
    val bi = loop.select(col("doc_id"),
      explode(org.apache.spark.sql.functions.transform(
        sequence(lit(1), greatest(size(split(col("text"), " ")) - 2, lit(1))),
        i => concat(element_at(split(col("text"), " "), i), lit(" "),
          element_at(split(col("text"), " "), i + 1)))).as("bg"))
      .groupBy(col("doc_id")).agg(
        (lit(1.0) - countDistinct(col("bg")).cast("double") /
          count(lit(1)).cast("double")).as("dup"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bi(1L) > 0.9 && bi(2L) < 0.5)
  }

  test("trigram LM: probabilities in (0,1], counts descending") {
    val rows = TextAnalysis.trigramLm(spark, sf).collect()
    assert(rows.length == 20)
    val cs = rows.map(_.getAs[Long]("c"))
    assert(cs.sameElements(cs.sorted.reverse))
    rows.foreach { r =>
      val p = r.getAs[Double]("p")
      assert(p > 0.0 && p <= 1.0)
    }
  }

  test("temperature mixture: weights sum to 1, flatter than natural proportions") {
    val rows = graft.ext.Sampling.temperatureWeights(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum.toDouble
    assert(math.abs(rows.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-3)
    // alpha < 1 lifts under-represented sources above natural share
    // and pulls over-represented ones below it
    rows.foreach { r =>
      val natural = r.getAs[Long]("n_docs") / total
      val w = r.getAs[Double]("weight")
      if (natural < 1.0 / rows.length) assert(w >= natural - 1e-9)
      else if (natural > 1.0 / rows.length) assert(w <= natural + 1e-9)
    }
  }

  test("token budget select: selected tokens fit the budget, scores above cutoff") {
    val rows = graft.ext.Sampling.tokenBudgetSelect(spark, sf, budget = 30000L)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum <= 30000L)
    // a bigger budget never selects fewer docs
    val more = graft.ext.Sampling.tokenBudgetSelect(spark, sf, budget = 60000L)
      .collect()
    assert(more.map(_.getAs[Long]("n_docs")).sum >=
      rows.map(_.getAs[Long]("n_docs")).sum)
  }

  test("scd2: versions tile each user's timeline with one open period") {
    val rows = Relational.scd2Periods(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, vs) =>
      val sorted = vs.sortBy(_.getAs[Int]("version_no"))
      // exactly one current (open) version per user, and it is the last
      assert(sorted.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      // each version closes exactly where the next opens
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("valid_to") ==
            b.getAs[java.sql.Timestamp]("valid_from"))
        case _ =>
      }
    }
  }

  test("tpch q5: dims broadcast, facts shuffle, revenue positive") {
    val df = Relational.localSupplierVolume(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("revenue") > 0))
  }

  test("tpch q18: every order exceeds the quantity threshold, sorted by price") {
    val rows = Relational.largeOrders(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("sum_qty") > 150.0))
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("tpch q19: disjunctive join stays hash-based and matches per-branch sum") {
    val df = Relational.brandDisjunction(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
    val total = df.collect().head.getAs[Long]("n_items")
    // the three branches are disjoint (brands differ), so per-branch
    // counts must add up exactly
    val li = graft.Tables.lineitem(spark, sf)
    val p = graft.Tables.part(spark, sf)
    val j = li.join(p, col("l_partkey") === col("p_partkey"))
    def branch(b: String, s1: Int, s2: Int, q1: Double, q2: Double) =
      j.filter(col("p_brand") === b && col("p_size").between(s1, s2) &&
        col("l_quantity").between(q1, q2)).count()
    assert(total == branch("Brand#13", 1, 10, 1.0, 20.0) +
      branch("Brand#20", 10, 20, 10.0, 30.0) +
      branch("Brand#23", 20, 30, 20.0, 40.0))
  }

  test("debounce: burst heads kept, every survivor pair separated by the gap") {
    val kept = Relational.debounceEvents(spark, sf, gapMin = 10).collect()
    assert(kept.nonEmpty)
    // survivors of one key are pairwise >= gap apart
    kept.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .foreach { case (_, vs) =>
        val ts = vs.map(_.getAs[java.sql.Timestamp]("ts").getTime).sorted
        ts.sliding(2).foreach {
          case Array(a, b) => assert(b - a >= 10 * 60 * 1000L)
          case _ =>
        }
      }
    // the earliest event of every key always survives
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
    val firstPerKey = all
      .groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .map { case (k, vs) => k -> vs.map(_.getAs[Long]("event_id")).min }
    val keptIds = kept.map(_.getAs[Long]("event_id")).toSet
    // min event_id per key isn't necessarily the earliest ts, so check
    // via (ts, event_id) ordering
    all.groupBy(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .foreach { case (_, vs) =>
        val head = vs.minBy(r =>
          (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id")))
        assert(keptIds.contains(head.getAs[Long]("event_id")))
      }
    assert(firstPerKey.nonEmpty)
  }

  test("pagerank: closed forms on symmetric and star graphs, ranks sum to 1") {
    import spark.implicits._
    // two-node symmetric graph: ranks must be exactly equal (0.5, 0.5)
    val pair = Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight")
    val pr2 = Dedup.pageRank(pair).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr2(1L) == 0.5 && pr2(2L) == 0.5)
    // star: center must outrank every leaf; total mass conserved
    val star = Seq((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0))
      .toDF("src", "dst", "weight")
    val prs = Dedup.pageRank(star).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prs(0L) > prs(1L))
    assert(prs(1L) == prs(2L) && prs(2L) == prs(3L))
    assert(math.abs(prs.values.sum - 1.0) < 1e-4)
    // weighted: heavier edge pulls more rank to its endpoint
    val wtd = Seq((0L, 1L, 10.0), (0L, 2L, 1.0)).toDF("src", "dst", "weight")
    val prw = Dedup.pageRank(wtd).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prw(1L) > prw(2L))
    // corpus-level: deterministic across invocations
    val a = Dedup.sourceRank(spark, sf).collect().toSeq.map(_.toString)
    val b = Dedup.sourceRank(spark, sf).collect().toSeq.map(_.toString)
    assert(a == b && a.nonEmpty)
  }

  test("hits: closed forms on fan-in graphs, weighted hub split, deterministic") {
    import spark.implicits._
    // two hubs → one authority: fixpoint is hub=(.5,.5), auth=(0,0,1)
    val fan = Seq((1L, 3L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "weight")
    val m = Dedup.hits(fan).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(1L) == ((0.5, 0.0)) && m(2L) == ((0.5, 0.0)))
    assert(m(3L) == ((0.0, 1.0)))
    // weighted: the 3× edge makes its hub carry 3× the hub mass
    val wtd = Seq((1L, 3L, 3.0), (2L, 3L, 1.0)).toDF("src", "dst", "weight")
    val mw = Dedup.hits(wtd).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(mw(1L)._1 == 0.75 && mw(2L)._1 == 0.25)
    // corpus-level: deterministic across invocations, L1-normalized
    val a = Dedup.eventHits(spark, sf).collect().toSeq.map(_.toString)
    val b = Dedup.eventHits(spark, sf).collect().toSeq.map(_.toString)
    assert(a == b && a.nonEmpty)
    val hubs = Dedup.eventHits(spark, sf).collect().map(_.getDouble(1))
    assert(math.abs(hubs.sum - 1.0) < 1e-4)
  }

  test("hits: driver altitude is bit-identical to the distributed loop") {
    import spark.implicits._
    // driverGridMax = 0 forces the distributed loop on the same edges;
    // the default takes the driver path on these bounded grids. Every
    // double must match BIT-FOR-BIT (toString comparison) — the
    // altitude switch must be invisible to the q251 hash gate.
    def both(edges: org.apache.spark.sql.DataFrame): Unit = {
      val drv = Dedup.hits(edges).collect()
        .map(r => (r.get(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1.toString)
      val dist = Dedup.hits(edges, driverGridMax = 0).collect()
        .map(r => (r.get(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1.toString)
      assert(drv.length == dist.length && drv.nonEmpty)
      drv.zip(dist).foreach { case ((na, ha, aa), (nb, hb, ab)) =>
        assert(na == nb)
        assert(ha.toString == hb.toString, s"hub mismatch at $na")
        assert(aa.toString == ab.toString, s"authority mismatch at $na")
      }
    }
    // cyclic weighted digraph with a src-only node (4) and a
    // dst-only node (5): exercises the coalesce(0.0) rows and both
    // join directions
    both(Seq((1L, 2L, 3.0), (2L, 3L, 1.0), (3L, 1L, 2.0),
      (4L, 2L, 5.0), (3L, 5L, 0.5)).toDF("src", "dst", "weight"))
    // the shipped caller's real grid (string nodes, corpus weights)
    both(graft.rel.Relational.markovTransitions(spark, sf)
      .select(col("event_type").as("src"), col("next_type").as("dst"),
        col("n").cast("double").as("weight")))
  }

  test("theil-sen: matches a driver-side median-of-slopes recompute") {
    val out = Relational.theilSen(spark, sf).collect().head
    val monthly = graft.Tables.orders(spark, sf)
      .groupBy(((year(col("o_orderdate")) - 1992) * 12 +
        month(col("o_orderdate")) - 1).cast("long").as("x"))
      .agg(sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
        .as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val slopes = (for {
      (x1, y1) <- monthly; (x2, y2) <- monthly if x1 < x2
    } yield (y2 - y1) / (x2 - x1).toDouble).sorted
    def med(v: Array[Double]) =
      (v((v.length - 1) / 2) + v(v.length / 2)) / 2.0
    val slope = med(slopes)
    val resid = monthly.map { case (x, y) => y - slope * x }.sorted
    assert(out.getAs[Long]("n_pairs") == slopes.length)
    assert(out.getAs[Long]("n_points") == monthly.length)
    assert(out.getAs[Double]("slope") ==
      BigDecimal(slope).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.getAs[Double]("intercept") ==
      BigDecimal(med(resid)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("ols by brand: closed form matches a per-brand driver recompute") {
    val rows = Relational.olsByBrand(spark, sf).collect()
    assert(rows.nonEmpty)
    val brand = rows.head.getAs[String]("p_brand")
    val xy = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.part(spark, sf),
        col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") === brand)
      .select(round(col("l_discount") * 100.0, 0).cast("long"),
        round(col("l_quantity"), 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = xy.length.toDouble
    val sx = xy.map(_._1).sum.toDouble; val sy = xy.map(_._2).sum.toDouble
    val sxy = xy.map(p => p._1 * p._2).sum.toDouble
    val sxx = xy.map(p => p._1 * p._1).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val got = rows.find(_.getAs[String]("p_brand") == brand).get
    assert(math.abs(got.getAs[Double]("slope_per_pct") - slope) < 1e-5)
    val r2 = got.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("calibration: bins bounded, rates in range, counts total the corpus") {
    val rows = TextAnalysis.calibrationAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      val bin = r.getAs[Int]("bin")
      assert(bin >= 0 && bin <= 9)
      val mp = r.getAs[Double]("mean_pred")
      assert(mp >= bin / 10.0 - 1e-9 &&
        (bin == 9 || mp < (bin + 1) / 10.0 + 1e-9))
      val fp = r.getAs[Double]("frac_pos")
      assert(fp >= 0.0 && fp <= 1.0)
      assert(r.getAs[Double]("brier") >= 0.0)
    }
  }

  test("poisson bootstrap: order-stat CI brackets the mean, deterministic") {
    val a = graft.ext.Sampling.poissonBootstrap(spark, sf).collect().head
    val b = graft.ext.Sampling.poissonBootstrap(spark, sf).collect().head
    assert(a.toString == b.toString)
    assert(a.getAs[Long]("n_replicas") == 32L)
    assert(a.getAs[Double]("boot_se") > 0.0)
    assert(a.getAs[Double]("ci_lo") <= a.getAs[Double]("boot_mean"))
    assert(a.getAs[Double]("boot_mean") <= a.getAs[Double]("ci_hi"))
    // the replica-mean distribution should sit near the true mean
    val truth = graft.Tables.documents(spark, sf)
      .select(size(TextAnalysis.tokens(col("text"))).cast("double").as("t"))
      .agg(avg(col("t"))).collect().head.getDouble(0)
    assert(a.getAs[Double]("ci_lo") < truth + 5 * a.getAs[Double]("boot_se"))
    assert(a.getAs[Double]("ci_hi") > truth - 5 * a.getAs[Double]("boot_se"))
  }

  test("snapshot diff: classification is the expected pure function of keys") {
    val got = Relational.snapshotDiff(spark, sf).collect()
      .map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n_rows"))
      .toMap
    val keys = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val expected = keys.groupBy { k =>
      if (k % 97 == 0 && k % 89 != 0) "added"
      else if (k % 89 == 0 && k % 97 != 0) "removed"
      else if (k % 97 == 0 && k % 89 == 0) "absent" // in neither side
      else if (k % 53 == 0) "changed"
      else "unchanged"
    }.view.mapValues(_.length.toLong).toMap - "absent"
    assert(got == expected)
  }

  test("neyman allocation: shares sum to 1, budget conserved, variance pulls budget") {
    val rows = graft.ext.Sampling.neymanAllocation(spark, sf).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("share_neyman"))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    val alloc = rows.map(_.getAs[Long]("n_neyman")).sum
    assert(math.abs(alloc - 10000L) <= rows.length) // per-stratum rounding
    // a stratum with above-average S_h must get more than proportional
    rows.foreach { r =>
      assert(r.getAs[Double]("s_h") >= 0.0)
      assert(r.getAs[Long]("n_neyman") >= 0L)
    }
  }

  test("clustering coefficients: bounded, transitivity is the exact global ratio") {
    val rows = TextAnalysis.clusteringCoeff(spark, sf).collect()
    assert(rows.nonEmpty)
    val tri3 = rows.map(_.getAs[Long]("n_triangles")).sum
    val wTot = rows.map(_.getAs[Long]("n_wedges")).sum
    rows.foreach { r =>
      Option(r.getAs[Double]("local_cc")).foreach { c =>
        assert(c >= 0.0 && c <= 1.0)
      }
      if (wTot > 0) {
        val want = BigDecimal(tri3.toDouble / wTot.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("transitivity") == want)
      }
      val deg = r.getAs[Long]("degree")
      assert(r.getAs[Long]("n_wedges") == deg * (deg - 1) / 2)
    }
  }

  test("source js: bounded in [0, ln2] nats, canonical pair order, deterministic") {
    val a = graft.ext.Sampling.sourceJs(spark, sf).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      val js = r.getAs[Double]("js_nats")
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9)
      val norm = r.getAs[Double]("js_norm")
      assert(norm >= 0.0 && norm <= 1.0 + 1e-9)
    }
    val b = graft.ext.Sampling.sourceJs(spark, sf).collect()
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq)
  }

  test("info value: iv nonneg, cell counts conserve, woe sign tracks lift") {
    val rows = graft.ext.Profile.infoValue(spark, sf).collect()
    assert(rows.map(_.getAs[String]("feature")).distinct.length == 2)
    rows.groupBy(_.getAs[String]("feature")).foreach { case (_, cells) =>
      // IV is constant per feature and nonnegative
      assert(cells.map(_.getAs[Double]("iv")).distinct.length == 1)
      assert(cells.head.getAs[Double]("iv") >= 0.0)
      val n = cells.map(_.getAs[Long]("n")).sum
      val pos = cells.map(_.getAs[Long]("n_pos")).sum
      // every bucket's woe sign matches its positive-rate lift
      val baseRate = pos.toDouble / n
      cells.foreach { c =>
        val rate = c.getAs[Long]("n_pos").toDouble / c.getAs[Long]("n")
        if (math.abs(c.getAs[Double]("woe")) > 0.01)
          assert((c.getAs[Double]("woe") > 0) == (rate > baseRate))
      }
    }
  }

  test("gini splits: gains bounded and ranked, best split beats any sampled cut") {
    val rows = graft.ext.Profile.giniSplits(spark, sf).collect()
    assert(rows.length == 10)
    val gains = rows.map(_.getAs[Double]("gain"))
    assert(gains.sameElements(gains.sortBy(-_)))
    assert(gains.forall(g => g >= -1e-9 && g <= 0.5 + 1e-9))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_left") > 0 && r.getAs[Long]("n_right") > 0)
    }
    // brute-force the best cut driver-side and compare
    val xy = graft.Tables.documents(spark, sf)
      .select(col("n_chars"), (col("lang") === "en").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def gini(p: Long, n: Long) = {
      val q = p.toDouble / n; 1.0 - q * q - (1 - q) * (1 - q)
    }
    val nTot = xy.length.toLong; val pTot = xy.map(_._2).sum
    val best = xy.map(_._1).distinct.sorted.dropRight(1).map { t =>
      val left = xy.filter(_._1 <= t)
      val nl = left.length.toLong; val pl = left.map(_._2).sum
      gini(pTot, nTot) - (nl.toDouble / nTot) * gini(pl, nl) -
        ((nTot - nl).toDouble / nTot) * gini(pTot - pl, nTot - nl)
    }.max
    assert(math.abs(gains.head - best) < 1e-5)
  }

  test("template score: one winner per source, share bounded, df consistent") {
    val rows = TextAnalysis.templateScore(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("source")).distinct.length == rows.length)
    rows.foreach { r =>
      val score = r.getAs[Double]("template_score")
      assert(score > 0.0 && score <= 1.0)
      assert(r.getAs[Long]("top_df") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[String]("top_prefix").split(" ").length == 4)
    }
  }

  test("ann ndcg: bounded by ideal, within [0,1], consistent with recall=1 queries") {
    val rows = Similarity.annNdcgFixed(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[Double]("dcg") <= r.getAs[Double]("idcg") + 1e-9)
      Option(r.getAs[Double]("ndcg")).foreach { n =>
        assert(n >= 0.0 && n <= 1.0 + 1e-9)
      }
    }
    // perfect set recall forces perfect graded order too: with the
    // whole exact top-10 in-bucket, rn_in = rn_exact on those rows,
    // so DCG = IDCG exactly (ndcg can be >0 at recall 0 — graded
    // gains credit OTHER positively-similar returns)
    val recall = Similarity.annRecallFixed(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    rows.foreach { r =>
      if (recall(r.getAs[Long]("query_id")) == 1.0)
        assert(r.getAs[Double]("ndcg") == 1.0)
    }
  }

  test("minhash error audit: estimates bounded, abs_err consistent, spread sane") {
    val rows = Dedup.minhashErrorAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val exact = r.getAs[Double]("exact_jaccard")
      assert(r.getAs[Long]("n_agree") >= 0L && r.getAs[Long]("n_agree") <= 32L)
      assert(est >= 0.0 && est <= 1.0 && exact >= 0.0 && exact <= 1.0)
      assert(math.abs(r.getAs[Double]("abs_err") - math.abs(est - exact))
        < 2e-6)
    }
    // banded candidates are similarity-biased: mean error stays small
    val meanErr = rows.map(_.getAs[Double]("abs_err")).sum / rows.length
    assert(meanErr < 0.25)
  }

  test("degree assortativity: bounded in [-1,1], deterministic") {
    val a = TextAnalysis.degreeAssortativity(spark, sf).collect().head
    val b = TextAnalysis.degreeAssortativity(spark, sf).collect().head
    assert(a.toString == b.toString)
    assert(a.getAs[Long]("n_edges") >= 0L)
    Option(a.getAs[Double]("assortativity")).foreach { r =>
      assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9)
    }
  }

  test("moments profiler: matches a driver-side recompute on n_chars") {
    val rows = graft.ext.Profile.momentsProfile(spark, sf).collect()
    assert(rows.length == 4)
    val got = rows.find(_.getAs[String]("col_name") == "n_chars").get
    val xs = graft.Tables.documents(spark, sf)
      .select(col("n_chars")).collect().map(_.getLong(0).toDouble)
    val n = xs.length
    val mean = xs.sum / n
    val m2 = xs.map(x => (x - mean) * (x - mean)).sum / n
    val m3 = xs.map(x => math.pow(x - mean, 3)).sum / n
    val m4 = xs.map(x => math.pow(x - mean, 4)).sum / n
    assert(got.getAs[Long]("n") == n.toLong)
    assert(math.abs(got.getAs[Double]("mean") - mean) < 1e-4)
    assert(math.abs(got.getAs[Double]("std") - math.sqrt(m2)) < 1e-4)
    assert(math.abs(got.getAs[Double]("skewness") -
      m3 / (m2 * math.sqrt(m2))) < 1e-4)
    assert(math.abs(got.getAs[Double]("ex_kurtosis") -
      (m4 / (m2 * m2) - 3.0)) < 1e-4)
  }

  test("behavioral entropy: buckets bounded, census totals users, means in range") {
    val rows = Relational.behavioralEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    val nUsers = graft.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == nUsers)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(b >= 0 && b <= 7) // entropy <= ln(5) < 2.0 => bucket <= 7
      val me = r.getAs[Double]("mean_entropy")
      assert(me >= b * 0.25 - 1e-9 && me < (b + 1) * 0.25 + 1e-9)
      val ts = r.getAs[Double]("mean_top_share")
      assert(ts >= 0.2 - 1e-9 && ts <= 1.0 + 1e-9) // >= 1/|types|
    }
  }

  test("boxplot: quartiles ordered within bounds, fences consistent") {
    val rows = graft.ext.Profile.boxplotProfile(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q1, med, q3) = (r.getAs[Double]("q1"), r.getAs[Double]("median"),
        r.getAs[Double]("q3"))
      assert(r.getAs[Long]("min_chars") <= q1 + 1e-9)
      assert(q1 <= med && med <= q3)
      assert(q3 <= r.getAs[Long]("max_chars") + 1e-9)
      assert(math.abs(r.getAs[Double]("iqr") - (q3 - q1)) < 2e-6)
      assert(r.getAs[Long]("n_low_outliers") +
        r.getAs[Long]("n_high_outliers") < r.getAs[Long]("n_docs"))
    }
    // driver recompute of the type-7 median for one source
    val src = rows.head.getAs[String]("source")
    val xs = graft.Tables.documents(spark, sf)
      .filter(col("source") === src).select(col("n_chars"))
      .collect().map(_.getLong(0)).sorted
    val p = (xs.length - 1) * 0.5 + 1.0
    val lo = xs(math.floor(p).toInt - 1).toDouble
    val hi = xs(math.ceil(p).toInt - 1).toDouble
    val want = lo + (hi - lo) * (p - math.floor(p))
    assert(math.abs(rows.head.getAs[Double]("median") - want) < 1e-6)
  }

  test("lsh calibration: analytic s-curve monotone, capture counts bounded") {
    val rows = Dedup.lshCalibration(spark, sf).collect()
      .sortBy(_.getAs[Double]("s_lo"))
    assert(rows.length == 10)
    val curve = rows.map(_.getAs[Double]("analytic_capture"))
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b })
    assert(curve.head < 0.01 && curve.last > 0.99)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_captured") <= r.getAs[Long]("n_pairs"))
      Option(r.getAs[Double]("empirical_capture")).foreach { e =>
        assert(e >= 0.0 && e <= 1.0)
      }
    }
  }

  test("sparse cosine: bounded in [0,1], symmetric-free, matches a driver dot") {
    val rows = TextAnalysis.sparseCosinePairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val c = r.getAs[Double]("cosine")
      assert(c >= 0.8 - 1e-9 && c <= 1.0 + 1e-6)
    }
    // recompute one pair's tf-idf cosine driver-side
    val (da, db) = (rows.head.getAs[Long]("doc_a"), rows.head.getAs[Long]("doc_b"))
    val tf = graft.Tables.documents(spark, sf).filter(col("doc_id") < 400)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val docs = tf.keys.map(_._1).toSet
    val n = docs.size.toDouble
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size).toMap
    def vec(d: Long) = tf.collect { case ((dd, t), c) if dd == d =>
      t -> c * math.log(n / df(t)) }.toMap
    val (va, vb) = (vec(da), vec(db))
    val dot = va.keySet.intersect(vb.keySet).toSeq.map(t => va(t) * vb(t)).sum
    val want = dot / (math.sqrt(va.values.map(x => x * x).sum) *
      math.sqrt(vb.values.map(x => x * x).sum))
    assert(math.abs(rows.head.getAs[Double]("cosine") - want) < 1e-4)
  }

  test("price index: base month is 1.0 on all three indices, fisher between") {
    val rows = Relational.priceIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    val base = rows.minBy(_.getAs[Long]("month_idx"))
    assert(base.getAs[Double]("laspeyres") == 1.0)
    assert(base.getAs[Double]("paasche") == 1.0)
    assert(base.getAs[Double]("fisher") == 1.0)
    rows.foreach { r =>
      val (l, p, f) = (r.getAs[Double]("laspeyres"), r.getAs[Double]("paasche"),
        r.getAs[Double]("fisher"))
      assert(l > 0 && p > 0)
      assert(f >= math.min(l, p) - 1e-6 && f <= math.max(l, p) + 1e-6)
      assert(r.getAs[Long]("n_parts") > 0)
    }
  }

  test("rolling backtest: fold windows partition the holdout, train grows with fold") {
    val rows = Relational.rollingOriginBacktest(spark, sf).collect()
      .sortBy(_.getAs[Int]("fold"))
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("n_days")).sum <= 28)
    val trains = rows.map(_.getAs[Long]("n_train"))
    assert(trains.zip(trains.tail).forall { case (a, b) => a < b })
    rows.foreach { r =>
      assert(r.getAs[Long]("n_scored") <= r.getAs[Long]("n_days"))
      Option(r.getAs[Double]("mape")).foreach(m => assert(m >= 0.0))
    }
  }

  test("kcore: 3-core within 2-core, members have enough degree, fixpoint reached") {
    val rows = TextAnalysis.kcore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (r.getAs[Long]("in_3core") == 1L)
        assert(r.getAs[Long]("in_2core") == 1L)
      if (r.getAs[Long]("in_2core") == 1L)
        assert(r.getAs[Long]("degree") >= 2L)
    }
    // one more peel round changes nothing => 6 rounds reached the fixpoint
    val more = TextAnalysis.kcore(spark, sf, rounds = 7).collect()
    assert(rows.map(_.toString).sorted.toSeq == more.map(_.toString).sorted.toSeq)
  }

  test("kcore and bfs: driver altitude matches the distributed loops row-for-row") {
    val kDrv = TextAnalysis.kcore(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val kDist = TextAnalysis.kcore(spark, sf, driverGridMax = 0).collect()
      .map(_.toString).sorted.toSeq
    assert(kDrv == kDist && kDrv.nonEmpty)
    val bDrv = TextAnalysis.bfsHops(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val bDist = TextAnalysis.bfsHops(spark, sf, driverGridMax = 0)
      .collect().map(_.toString).sorted.toSeq
    assert(bDrv == bDist && bDrv.nonEmpty)
    // an EMPTY pruned grid must return empty (distributed path), not
    // crash in a driver loop — and driverGridMax = 0 must stay a
    // true force-distributed hatch even at zero edges
    assert(TextAnalysis.bfsHops(spark, sf, minShared = 999999999L)
      .collect().isEmpty)
    assert(TextAnalysis.kcore(spark, sf, minShared = 999999999L)
      .collect().isEmpty)
  }

  test("hard negatives: one per anchor, cross-label, truly the max") {
    val rows = Similarity.hardNegatives(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("anchor_id")).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getAs[Int]("anchor_label") != r.getAs[Int]("neg_label"))
    }
    // brute-force the hardest negative for one anchor
    val a = rows.head.getAs[Long]("anchor_id")
    val emb = graft.Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    val (_, av, al) = emb.find(_._1 == a).get
    def cos(x: Array[Double], y: Array[Double]) = {
      val d = x.zip(y).map(p => p._1 * p._2).sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val best = emb.filter(_._3 != al)
      .map { case (id, v, _) => (id, cos(av, v)) }
      .maxBy { case (id, c) => (c, -id) }
    assert(rows.head.getAs[Long]("hard_neg_id") == best._1)
    assert(math.abs(rows.head.getAs[Double]("cos_sim") - best._2) < 1e-5)
  }

  test("label coherence: all labels present, margin consistent, intra recompute") {
    val rows = Similarity.labelCoherence(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("margin") -
        (r.getAs[Double]("mean_intra") - r.getAs[Double]("inter_best"))) < 2e-6)
      assert(r.getAs[Double]("mean_intra") >= -1.0 - 1e-6 &&
        r.getAs[Double]("mean_intra") <= 1.0 + 1e-6)
      assert(r.getAs[Int]("best_other_label") != r.getAs[Int]("label"))
    }
    // driver recompute of one label's mean pairwise normalized dot
    val lab = rows.head.getAs[Int]("label")
    val vs = graft.Tables.embeddings(spark, sf)
      .filter(col("label") === lab).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => BigDecimal(x / n).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val pairs = for {
      i <- vs.indices; j <- vs.indices if i != j
    } yield vs(i).zip(vs(j)).map(p => p._1 * p._2).sum
    val want = pairs.sum / pairs.length
    assert(math.abs(rows.head.getAs[Double]("mean_intra") - want) < 1e-4)
  }

  test("pagerank reliable-checkpoint path is byte-identical to local path") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 10.0), (0L, 2L, 1.0), (1L, 2L, 3.0),
      (2L, 3L, 2.0)).toDF("src", "dst", "weight")
    // driverGridMax = 0 keeps BOTH runs on the distributed loop —
    // checkpointDir only exists at that altitude
    val local = Dedup.pageRank(edges, driverGridMax = 0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    val reliable = Dedup.pageRank(edges, checkpointDir = Some(dir),
        driverGridMax = 0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    assert(local == reliable && local.nonEmpty)
  }

  test("pagerank: driver altitude is bit-identical to the distributed loop") {
    import spark.implicits._
    def both(edges: org.apache.spark.sql.DataFrame): Unit = {
      val drv = Dedup.pageRank(edges).collect()
        .map(r => (r.get(0), r.getDouble(1))).sortBy(_._1.toString)
      val dist = Dedup.pageRank(edges, driverGridMax = 0).collect()
        .map(r => (r.get(0), r.getDouble(1))).sortBy(_._1.toString)
      assert(drv.length == dist.length && drv.nonEmpty)
      drv.zip(dist).foreach { case ((na, ra), (nb, rb)) =>
        assert(na == nb)
        assert(ra.toString == rb.toString, s"rank mismatch at $na")
      }
    }
    // asymmetric weighted graph incl. a pendant chain
    both(Seq((0L, 1L, 10.0), (0L, 2L, 1.0), (1L, 2L, 3.0),
      (2L, 3L, 2.0), (3L, 4L, 0.25)).toDF("src", "dst", "weight"))
    // the shipped caller's real grid (q116's source-overlap edges)
    both(graft.ext.TextAnalysis.sourceOverlap(spark, sf)
      .select(col("source_a").as("src"), col("source_b").as("dst"),
        col("n_shared").cast("double").as("weight")))
  }

  test("negative pairs: deterministic, never the anchor, at most k per anchor") {
    val a = graft.ext.Sampling.negativePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = graft.ext.Sampling.negativePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sorted.toSeq == b.sorted.toSeq && a.nonEmpty)
    assert(a.forall { case (anchor, _, neg) => anchor != neg })
    a.groupBy(_._1).foreach { case (_, slots) =>
      assert(slots.length <= 4)
      assert(slots.map(_._2).distinct.length == slots.length)
    }
  }

  test("length batches: bounded size, waste consistent with batch max") {
    val rows = graft.ext.Sampling.lengthBatches(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") <= 16L)
      val waste = r.getAs[Long]("padding_waste")
      // waste < (batch width) × size: every doc in the bucket is
      // within bucketChars of the batch max
      assert(waste >= 0 && waste < 200L * r.getAs[Long]("n_docs"))
    }
  }

  test("point-in-time join resolves exactly one version per in-range fact") {
    val rows = Relational.pointInTimeJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    // one output row per qualifying fact (versions tile half-open)
    val ids = rows.map(_.getAs[Long]("event_id"))
    assert(ids.distinct.length == ids.length)
    // spot-invariant: version numbers are positive
    assert(rows.forall(_.getAs[Int]("version_no") >= 1))
  }

  test("top-k aggregator: partial-combined plan, no window sort, partitioning-invariant") {
    val df = Reduce.topKAgg(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // typed Aggregator compiles to ObjectHashAggregate with a partial
    // stage before the exchange — and never a Window over all rows
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    val a = df.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty)
    // same result under any input partitioning (merge() is exercised)
    import spark.implicits._
    val agg = new Reduce.TopKAgg(3).toColumn
    val repart = graft.Tables.orders(spark, sf)
      .repartition(13)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(agg.name("top")).toDF("o_custkey", "top")
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("o_custkey"), (col("i") + 1).as("rk"),
        col("p._1").as("o_totalprice"), col("p._2").as("o_orderkey"))
      .collect().map(_.toString).sorted.toSeq
    assert(repart == a)
  }

  test("tpch q6: all three predicates pushed to the parquet scan") {
    val df = Relational.forecastRevenue(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(1200))
    // shipdate + discount + quantity all reach the reader
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(raw"PushedFilters: \[[^\]]*$c".r.findFirstIn(plan).isDefined,
        s"$c not pushed:\n" + plan.take(1200))
    }
    assert(df.collect().head.getAs[Double]("revenue") > 0)
  }

  test("tpch q15: winners carry the max revenue, fact scanned once") {
    val df = Relational.topSupplier(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // all returned rows tie on the same (max) revenue
    assert(rows.map(_.getAs[Double]("total_revenue")).distinct.length == 1)
    // the winner's revenue really is the max of the per-supplier rollup
    val best = graft.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,6)")).cast("double").as("r"))
      .agg(max(col("r"))).head().getDouble(0)
    assert(rows.head.getAs[Double]("total_revenue") == best)
    // one scan of lineitem: the max runs as a window over the rollup,
    // it does not re-read the fact table
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .count(_.output.exists(_.name == "l_shipdate")) == 1)
  }

  test("tpch q12 adapted: line counts partition the late set, both classes present") {
    val rows = Relational.shipmodePriority(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(r => r.getAs[Long]("high_line_count") +
      r.getAs[Long]("low_line_count")).sum
    val late = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .count()
    assert(total == late && total > 0)
  }

  test("tpch q21 adapted: every waiting supplier was the sole late supplier on a multi-supplier order") {
    val rows = Relational.waitingSuppliers(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("numwait") > 0))
    // numwait totals = number of (order, supplier) single-late slots
    val perSupp = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(graft.Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max((col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("int")).as("late"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ns"), sum(col("late")).as("nl"))
      .filter(col("ns") >= 2 && col("nl") === 1)
      .count()
    assert(rows.map(_.getAs[Long]("numwait")).sum == perSupp)
  }

  test("tpch q13: zero-order cohort survives the left join, cohorts partition customers") {
    val rows = Relational.customerDistribution(spark, sf).collect()
      .map(r => r.getAs[Long]("c_count") -> r.getAs[Long]("custdist")).toMap
    assert(rows.values.sum == graft.Tables.customer(spark, sf).count())
    // total orders conserved through the double aggregation
    assert(rows.map { case (k, v) => k * v }.sum ==
      graft.Tables.orders(spark, sf).count())
  }

  test("tpch q22: churned cohort disjoint from recent orderers") {
    val churnedCount = Relational.salesOpportunity(spark, sf).collect()
      .map(_.getAs[Long]("numcust")).sum
    assert(churnedCount > 0)
    val avgBal = graft.Tables.customer(spark, sf)
      .filter(col("c_acctbal") > 0).agg(avg("c_acctbal")).head().getDouble(0)
    val recent = graft.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey").distinct().collect().map(_.getLong(0)).toSet
    val expected = graft.Tables.customer(spark, sf)
      .filter(col("c_acctbal") > avgBal)
      .select("c_custkey").collect().map(_.getLong(0))
      .count(id => !recent.contains(id))
    assert(churnedCount == expected)
  }

  test("tpch q2 adapted: winners carry their part's min region cost, one fact scan, deterministic cut") {
    val df = Relational.minCostSupplier(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 100)
    // recompute the per-part min unit cost among EUROPE suppliers
    val euroSupp = graft.Tables.supplier(spark, sf)
      .join(graft.Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
      .join(graft.Tables.region(spark, sf)
        .filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val minCost = graft.Tables.lineitem(spark, sf)
      .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("mc"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("supplycost") ==
        minCost(r.getAs[Long]("p_partkey")))
      assert(r.getAs[String]("p_type") == "SMALL")
    }
    // (p_partkey, s_name) is a unique tiebreak — the LIMIT is stable
    val keys = rows.map(r =>
      (r.getAs[Long]("p_partkey"), r.getAs[String]("s_name")))
    assert(keys.distinct.length == keys.length)
    // lineitem scanned once: the correlated MIN is a window, not a re-read
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .count(_.output.exists(_.name == "l_shipdate")) == 1)
  }

  test("tpch q11 adapted: returned parts strictly exceed the nation-share cutoff, complement stays below") {
    // sf0.001 carries only 10 suppliers and none in the sf0.01
    // default nation — pin a nation that exists here and a cutoff
    // the sparse data can clear
    val (nation, frac) = ("NATION_8", 0.0005)
    val rows = Relational.importantParts(spark, sf, nationName = nation,
      frac = frac).collect()
      .map(r => r.getAs[Long]("partkey") -> r.getAs[Double]("value")).toMap
    assert(rows.nonEmpty)
    val sv = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.supplier(spark, sf)
        .join(graft.Tables.nation(spark, sf)
          .filter(col("n_name") === nation),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double")
        .as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cutoff = frac * sv.values.map(BigDecimal(_)).sum.toDouble
    // tolerance-free membership: the operator's cutoff is decimal-exact,
    // the recomputation here double-sums, so allow 1 ulp of slack only
    // for parts AT the boundary (none in this data — assert exact)
    assert(rows.keySet == sv.filter(_._2 > cutoff).keySet)
    rows.foreach { case (k, v) => assert(v == sv(k)) }
  }

  test("tpch q16 adapted: distinct-supplier counts match a recomputation, flagged suppliers excluded") {
    val got = Relational.supplierCounts(spark, sf).collect()
      .map(r => (r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
        r.getAs[Int]("p_size")) -> r.getAs[Long]("supplier_cnt")).toMap
    assert(got.nonEmpty)
    val flagged = graft.Tables.supplier(spark, sf)
      .filter(col("s_acctbal") < 0)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val want = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(graft.Tables.part(spark, sf)
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49)),
        col("l_partkey") === col("p_partkey"))
      .collect()
      .filterNot(r => flagged.contains(r.getAs[Long]("l_suppkey")))
      .groupBy(r => (r.getAs[String]("p_brand"), r.getAs[String]("p_type"),
        r.getAs[Int]("p_size")))
      .view.mapValues(_.map(_.getAs[Long]("l_suppkey")).distinct.length.toLong)
      .toMap
    assert(got == want)
    // none of the groups may have counted a flagged supplier: verified
    // by the recomputation equality above (want excludes them by set)
  }

  test("tpch q20 adapted: every returned supplier dominated a red part's 1996 volume") {
    val rows = Relational.dominantSuppliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val redParts = graft.Tables.part(spark, sf)
      .filter(col("p_name").startsWith("red"))
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val pairs = graft.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .filter(col("l_partkey").isInCollection(redParts))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(28,6)")).cast("double").as("q"))
      .collect()
    val totals = pairs.groupBy(_.getLong(0))
      .view.mapValues(_.map(r => BigDecimal(r.getDouble(2))).sum.toDouble).toMap
    val dominantSupps = pairs
      .filter(r => r.getDouble(2) > 0.5 * totals(r.getLong(0)))
      .map(_.getLong(1)).toSet
    val nations = Set("NATION_3", "NATION_8", "NATION_12", "NATION_20")
    val inNation = graft.Tables.supplier(spark, sf)
      .join(graft.Tables.nation(spark, sf)
        .filter(col("n_name").isInCollection(nations)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = inNation.filter(kv => dominantSupps.contains(kv._1))
      .values.toSet
    assert(rows.map(_.getAs[String]("s_name")).toSet == want)
  }

  test("incremental distinct: merged day-sketches bracket exact uniques at any cut") {
    val exact = graft.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    Seq("1900-01-01", "2024-01-10", "2024-01-20").foreach { cut =>
      val est = Relational.incrementalDistinct(spark, sf, cut).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("est_users")).toMap
      assert(est.keySet == exact.keySet, s"cut $cut")
      est.foreach { case (t, e) =>
        val x = exact(t)
        // HLL default accuracy is ~2%; allow 5% + small-count floor
        assert(math.abs(e - x) <= math.max(3L, (0.05 * x).toLong),
          s"cut $cut type $t: est $e vs exact $x")
      }
      // merging must be cut-invariant: sketches are exactly mergeable,
      // so every cut gives the IDENTICAL estimate
      val est2 = Relational.incrementalDistinct(spark, sf, "1900-01-01")
        .collect().map(r => r.getString(0) -> r.getAs[Long]("est_users")).toMap
      assert(est == est2, s"cut $cut diverged from full recompute")
    }
  }

  test("stickiness: dau <= wau, ratio in (0,1], wau monotone vs dau window") {
    val df = Relational.stickiness(spark, sf)
    // the trailing window must be equi-shaped: explode-offsets +
    // hash joins, never a nested-loop over anchors × day-user pairs
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      assert(dau >= 1 && dau <= wau, s"dau $dau > wau $wau")
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
  }

  test("stickinessApprox brackets exact stickiness at sketch tolerance") {
    val exact = Relational.stickiness(spark, sf).collect()
      .map(r => r.getTimestamp(0) ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"))).toMap
    val approxDf = Relational.stickinessApprox(spark, sf)
    val plan = approxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
    val approx = approxDf.collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (dau, wau) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      val (edau, ewau) = exact(r.getTimestamp(0))
      // HLL default relative error ~1.6%; allow 5% + small absolute slack
      def close(a: Long, e: Long): Boolean =
        math.abs(a - e) <= math.max(3L, (e * 0.05).toLong)
      assert(close(dau, edau), s"dau $dau vs exact $edau")
      assert(close(wau, ewau), s"wau $wau vs exact $ewau")
    }
  }

  test("merge upsert: row count conserved, only updated keys change") {
    import spark.implicits._
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    val updates = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("id", "name", "v")
    val merged = Relational.mergeUpsert(base, updates, "id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(merged.keySet == Set(1L, 2L, 3L, 4L))
    assert(merged(2L) == ("b2", 99.0))  // updated
    assert(merged(1L) == ("a", 10.0))   // untouched
    assert(merged(4L) == ("d", 40.0))   // inserted
    // corpus-level: upsert never changes cardinality when updates ⊆ base keys
    val audit = Relational.upsertCustomers(spark, sf).collect()
    assert(audit.map(_.getAs[Long]("n_customers")).sum ==
      graft.Tables.customer(spark, sf).count())
  }

  test("integrity audit: FK checks clean; lineitem PK dupes counted exactly") {
    val rows = Relational.integrityAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_violations")).toMap
    assert(rows.keySet == Set("pk_orders_unique", "pk_lineitem_unique",
      "fk_lineitem_orders", "fk_orders_customer"))
    // the synthetic testdata genuinely violates (l_orderkey,
    // l_linenumber) uniqueness — the audit's job is to SAY so; check
    // its count against an independent duplicate computation
    val expectedDupes = graft.Tables.lineitem(spark, sf)
      .groupBy("l_orderkey", "l_linenumber").count()
      .filter(col("count") > 1)
      .agg(sum(col("count") - 1)).head().getLong(0)
    assert(rows("pk_lineitem_unique") == expectedDupes && expectedDupes > 0)
    assert(rows("pk_orders_unique") == 0L)
    assert(rows("fk_lineitem_orders") == 0L)
    assert(rows("fk_orders_customer") == 0L)
  }

  test("tpch q17: small-quantity rows all under a fifth of their part average") {
    val out = Relational.smallQuantityRevenue(spark, sf).collect().head
    assert(out.getAs[Long]("n_small") > 0)
    // recompute the qualifying set independently (agg + join, not window)
    val li = graft.Tables.lineitem(spark, sf)
    val brand = graft.Tables.part(spark, sf)
      .filter(col("p_brand") === "Brand#13").select("p_partkey")
    val avgQ = li.join(brand, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("k")).agg(avg("l_quantity").as("aq"))
    val expected = li.join(brand, col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("k"))
      .filter(col("l_quantity") < col("aq") * 0.2).count()
    assert(out.getAs[Long]("n_small") == expected)
  }

  test("tpch q9: profit rows cover every year with widget trade") {
    val rows = Relational.productProfit(spark, sf).collect()
    assert(rows.nonEmpty)
    val years = rows.map(_.getAs[Int]("o_year")).distinct
    assert(years.forall(y => y >= 1995 && y <= 2001))
    // 25 nations × observed years bounds the row count
    assert(rows.length <= 25 * years.length)
  }

  test("tpch q7: directional pair rows, plan broadcasts both nation aliases") {
    // NATION_18/19 trade at sf0.001 (q124's default pair only at sf0.01+)
    val df = Relational.volumeShipping(spark, sf, "NATION_18", "NATION_19")
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan.take(1500))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.subsetOf(Set(("NATION_18", "NATION_19"), ("NATION_19", "NATION_18"))))
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
  }

  test("tpch q8: market share bounded by one, nation rev never exceeds total") {
    val rows = Relational.marketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("mkt_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Double]("nation_rev") <= r.getAs[Double]("total_rev") + 1e-9)
    }
  }

  test("bloom semi-join reduction equals the plain semi join exactly") {
    val reduced = Reduce.bloomSemiJoin(
      graft.Tables.orders(spark, sf),
      graft.Tables.customer(spark, sf)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey")),
      "o_custkey")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val plain = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf)
        .filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(reduced == plain && reduced.nonEmpty)
  }

  test("bloom semi-join handles string and int keys, caller-supplied sizing") {
    import spark.implicits._
    // string keys
    val bigS = Seq(("alpha", 1), ("beta", 2), ("gamma", 3), ("alpha", 4))
      .toDF("k", "v")
    val smallS = Seq("alpha", "gamma", "delta").toDF("k")
    val gotS = Reduce.bloomSemiJoin(bigS, smallS, "k").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(gotS == Set(("alpha", 1), ("gamma", 3), ("alpha", 4)))
    // int (non-long) keys, expectedItems supplied → no sizing action
    val bigI = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val smallI = Seq(2, 3).toDF("k")
    val gotI = Reduce.bloomSemiJoin(bigI, smallI, "k",
      expectedItems = Some(2L)).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(gotI == Set((2, "b"), (3, "c")))
    // unsupported key type fails loudly, not with a runtime cast error
    val bigD = Seq((1.5, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Reduce.bloomSemiJoin(bigD, bigD.select("k"), "k")
    }
  }

  test("z-value: exact interleave, dominance-monotone, files own disjoint ranges") {
    import spark.implicits._
    // exact interleave against a scalar reference on a 16x16 grid
    def zRef(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) |
        (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b))
    val got = grid.toDF("a", "b")
      .select(col("a"), col("b"), Reduce.zValue(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    grid.foreach { case (a, b) => assert(got((a, b)) == zRef(a, b)) }
    // dominance monotonicity on the grid
    grid.foreach { case (a, b) =>
      if (a + 1 < 16) assert(got((a + 1, b)) > got((a, b)))
      if (b + 1 < 16) assert(got((a, b + 1)) > got((a, b)))
    }
    // wide-domain contract: keys >= 2^16 need bits sized up — at
    // bits=20 the interleave stays exact and dominance-monotone for
    // components up to 2^20
    def zRefN(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i => (((a >> i) & 1L) << (2 * i)) |
        (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val wide = Seq((65536L, 70000L), (1048575L, 65537L), (999999L, 123456L),
      (65535L, 1048575L))
    val gotWide = wide.toDF("a", "b")
      .select(col("a"), col("b"),
        Reduce.zValue(col("a"), col("b"), bits = 20).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    wide.foreach { case (a, b) => assert(gotWide((a, b)) == zRefN(a, b, 20)) }
    intercept[IllegalArgumentException] { Reduce.zValue(col("a"), col("b"), 0) }
    // z-ordered write: parquet files cover disjoint z ranges
    val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Reduce.writeZOrdered(graft.Tables.lineitem(spark, sf),
      out, "l_partkey", "l_suppkey", nFiles = 4)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(perFile.length > 1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("cms heavy hitters: one-sided error brackets the exact counts") {
    val est = graft.ext.Profile.cmsTokenCounts(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = graft.Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val total = toks.count()
    val exact = toks.filter(col("tok").isin(est.keys.toSeq: _*))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (w, e) =>
      val t = exact.getOrElse(w, 0L)
      assert(e >= t, s"$w: CMS under-counted ($e < $t)")
      assert(e <= t + (0.001 * total).toLong + 1,
        s"$w: CMS above eps bound ($e vs $t + ${(0.001 * total).toLong})")
    }
  }

  test("portable cms: one-sided error, estimates bracket exact counts of the reported hitters") {
    val est = graft.ext.Profile.cmsPortableHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_count")).toMap
    assert(est.size == 10)
    val toks = graft.Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val total = toks.count()
    val exact = toks.filter(col("tok").isin(est.keys.toSeq: _*))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (w, e) =>
      val t = exact.getOrElse(w, 0L)
      // CMS hard guarantee: never under-counts
      assert(e >= t, s"$w: portable CMS under-counted ($e < $t)")
      // collision mass: expected (total − t)/width per row, min over
      // depth rows — allow 8× the expectation as the deterministic bound
      assert(e <= t + 8 * total / 256 + 1,
        s"$w: est $e far above exact $t (total $total)")
    }
  }

  test("kmv distinct: exact below k, bracketed at k, portable hash order statistics") {
    val rows = Relational.kmvDistinct(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("est_users"))).toMap
    assert(rows.nonEmpty)
    val exact = graft.Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(rows.keySet == exact.keySet)
    rows.foreach { case (t, (kept, e)) =>
      val x = exact(t)
      if (kept < 64) {
        // below the sketch size the count is EXACT (modulo md5
        // collisions, absent at this cardinality)
        assert(e == kept.toDouble && kept == x, s"$t: $e vs exact $x")
      } else {
        // KMV σ ≈ 1/√(k−2) ≈ 12.7% at k=64 — allow 4σ
        assert(math.abs(e - x) <= 0.51 * x,
          s"$t: est $e outside bracket of exact $x")
      }
    }
  }

  test("packed sequences: offsets reconstruct the q97 bins exactly, in-bin order is monotone") {
    import graft.ext.Sampling
    val budget = 300
    val rows = Sampling.packedSequences(spark, sf, budget).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(rows.nonEmpty)
    // bins and doc counts agree with the q97 audit on the same data
    val audit = Sampling.packBins(spark, sf, budget).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows.view.mapValues(_._1).toMap == audit)
    rows.foreach { case ((src, bin), (n, ids, offs)) =>
      val idList = ids.split(",").map(_.toLong)
      val offList = offs.split(",").map(_.toLong)
      assert(idList.length == n && offList.length == n)
      // offsets live inside the bin and increase with the doc order
      assert(offList.forall(o => o >= 0 && o < budget))
      assert(offList.zip(offList.tail).forall { case (a, b) => a <= b },
        s"$src/$bin offsets not monotone")
      // ids ascend (packing is id-order within source)
      assert(idList.zip(idList.tail).forall { case (a, b) => a < b })
    }
  }

  test("curriculum order: tiers are length quartiles, pos dense per shard, epochs differ") {
    import graft.ext.Sampling
    val rows = Sampling.curriculumOrder(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rows.length == 500)
    // tiers recompute from exact quartiles of n_chars
    val chars = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qs = graft.Tables.documents(spark, sf)
      .agg(expr("percentile(n_chars, array(0.25, 0.5, 0.75))")).head()
      .getSeq[Double](0)
    rows.foreach { case (id, tier, _, _) =>
      val m = chars(id).toDouble
      val want = 1 + qs.count(m > _)
      assert(tier == want, s"doc $id tier $tier != $want")
    }
    // pos is dense 1..n within every (tier, bucket) shard
    rows.groupBy(r => (r._2, r._3)).foreach { case (k, g) =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length), s"shard $k")
    }
    // a different epoch is a genuinely different permutation
    val e2 = Sampling.curriculumOrder(spark, sf, epoch = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3))).toMap
    val e1 = rows.map(r => r._1 -> (r._3, r._4)).toMap
    assert(e1 != e2)
    // but tiers are epoch-invariant (difficulty doesn't move)
    val e2tiers = Sampling.curriculumOrder(spark, sf, epoch = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == e2tiers)
  }

  test("incremental kmv: any cut merges to the identical estimate, day sketches stay bounded") {
    val full = Relational.kmvDistinct(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("est_users"))).toMap
    // KMV mergeability: every cut reconstructs the single-pass state
    Seq("1900-01-01", "2024-01-10", "2024-01-20").foreach { cut =>
      val merged = Relational.incrementalKmv(spark, sf, cut).collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("n_kept"), r.getAs[Double]("est_users"))).toMap
      assert(merged == full, s"cut $cut diverged from single pass")
    }
    // the per-day sketch state is bounded at k rows per (type, day)
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 8),
      16, 10).cast("long")
    val dayCounts = graft.Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        h.as("h")).distinct()
      .groupBy("event_type", "day").count()
      .agg(max("count")).head().getLong(0)
    // raw distinct hashes can exceed k; the sketch keeps only k — the
    // operator's window cut enforces it, verified by merge equality
    assert(dayCounts > 0)
  }

  test("histogram quantiles: every estimate lands within one bucket width of the exact percentile") {
    val bins = 100
    val got = Relational.histogramQuantiles(spark, sf, bins = bins).collect()
      .map(r => (r.getString(0), r.getAs[Double]("p")) ->
        r.getAs[Double]("est")).toMap
    // 3 groups × 4 quantiles, one crossing bucket each
    assert(got.size == 12)
    val stats = graft.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"),
        expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))")
          .as("qs"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getSeq[Double](3))).toMap
    got.foreach { case ((g, p), est) =>
      val (lo, hi, qs) = stats(g)
      val w = (hi - lo) / bins
      val exact = qs(Seq(0.25, 0.5, 0.75, 0.95).indexOf(p))
      assert(math.abs(est - exact) <= w + 1e-9,
        s"$g p=$p: est $est vs exact $exact (bucket width $w)")
    }
  }

  test("incremental agg merge is indistinguishable from full recompute at any cut") {
    val full = Relational.incrementalDailyAgg(spark, sf, cut = "1900-01-01")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    // two different cut points must converge to the identical table
    Seq("2024-01-10", "2024-01-20").foreach { cut =>
      val merged = Relational.incrementalDailyAgg(spark, sf, cut).collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
      assert(merged == full, s"cut $cut diverged")
    }
  }

  test("source overlap: symmetric-free pairs, counts bounded by smaller side") {
    val rows = TextAnalysis.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      assert(r.getAs[Long]("n_shared") > 0)
    }
  }

  test("source overlap hot-shingle cap: shared counts exclude exactly " +
      "the shingles present in more than maxSources sources") {
    val nSources = graft.Tables.documents(spark, sf)
      .select(col("source")).distinct().count().toInt
    // cap = nSources is a no-op; cap = 2 keeps only source-pair-unique
    // shingles — recompute both from the raw shingle-source table
    val shSrc = graft.Tables.documents(spark, sf)
      .select(col("source"), TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("source"), explode(TextAnalysis.shingleStrings(4))
        .as("shingle"))
      .distinct().collect()
      .map(r => (r.getString(1), r.getString(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def expected(cap: Int): Map[(String, String), Long] =
      shSrc.valuesIterator.filter(s => s.size >= 2 && s.size <= cap)
        .flatMap(s => s.toSeq.sorted.combinations(2).map(c => (c(0), c(1))))
        .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    Seq(2, nSources).foreach { cap =>
      val got = TextAnalysis.sourceOverlap(spark, sf, maxSources = cap)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_shared"))
        .toMap
      assert(got == expected(cap), s"cap=$cap")
    }
  }

  test("source triangles: corner credits sum to 3x the triangle count") {
    val rows = TextAnalysis.sourceTriangles(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles")))
    assert(rows.nonEmpty)
    val nSources = graft.Tables.documents(spark, sf)
      .select(col("source")).distinct().count()
    rows.foreach { case (_, d, t) =>
      assert(d >= 1 && d < nSources)
      // a source in t triangles needs at least enough neighbours:
      // t <= C(degree, 2)
      assert(t <= d * (d - 1) / 2, s"t=$t impossible at degree $d")
    }
    // every triangle credits exactly three corners
    assert(rows.map(_._3).sum % 3 == 0)
  }

  test("length histogram partitions the corpus") {
    val rows = TextAnalysis.lengthHistogram(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(r.getAs[Long]("min_chars") >= b * 200L)
      assert(r.getAs[Long]("max_chars") < (b + 1) * 200L)
    }
  }

  test("semdedup: full coverage, cells from the fixed argmin, group minima survive") {
    val rows = Similarity.semDedupFixed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == graft.Tables.embeddings(spark, sf).count())
    // every cell's least-prototypical row (min cent_sim, vec_id tie)
    // is never dropped — the keep rule's invariant: no duplicate
    // group can be emptied
    rows.groupBy(_._2).foreach { case (cell, g) =>
      val keeper = g.minBy(r => (r._3, r._1))
      assert(!keeper._4, s"cell $cell dropped its minimum ${keeper._1}")
    }
    // dropped rows really have a cell-mate at-or-above tau with a
    // strictly lower (cent_sim, vec_id) — recomputed from raw vectors
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byCell = rows.groupBy(_._2)
    rows.filter(_._4).foreach { case (id, cell, sim, _) =>
      val mate = byCell(cell).exists { case (id2, _, sim2, _) =>
        id2 != id && (sim2 < sim || (sim2 == sim && id2 < id)) &&
          BigDecimal(cos(emb(id), emb(id2)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP) >= BigDecimal("0.35")
      }
      assert(mate, s"dropped $id has no qualifying cell-mate")
    }
  }

  test("dsir weights: target slice scores highest, token counts exact") {
    import graft.ext.Sampling
    val w = Sampling.importanceWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(w.size == docs.length)
    // n_tok is the exact whitespace token count
    docs.foreach { case (id, _, text) =>
      assert(w(id)._1 == text.split(" ").count(_.nonEmpty), s"doc $id")
    }
    // the en target slice averages above every other language —
    // the whole point of importance weighting
    val byLang = docs.groupBy(_._2).view
      .mapValues(g => g.map(d => w(d._1)._2).sum / g.length).toMap
    byLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(byLang("en") > m, s"en ${byLang("en")} !> $l $m")
    }
  }

  test("dup ngrams: exact per-doc recompute of df>=2 shingle fractions") {
    val got = TextAnalysis.dupNgramStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, t) => id -> shingles(t) }
    val df = sh.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    assert(got.size == docs.length)
    sh.foreach { case (id, s) =>
      val nDup = s.count(df(_) >= 2)
      assert(got(id)._1 == s.size, s"doc $id n_shingles")
      assert(got(id)._2 == nDup, s"doc $id n_dup")
      val want = if (s.isEmpty) BigDecimal(0)
        else BigDecimal(nDup.toDouble / s.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(BigDecimal(got(id)._3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP) == want, s"doc $id dup_frac")
    }
  }

  test("source kl: nonnegative (Gibbs), exact token totals, every source covered") {
    import graft.ext.Sampling
    val rows = Sampling.sourceKl(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.map(_._1).toSet == docs.map(_._1).toSet)
    val wantTok = docs.groupBy(_._1).view
      .mapValues(_.map(_._2.split(" ").count(_.nonEmpty).toLong).sum).toMap
    rows.foreach { case (s, nTok, kl) =>
      assert(nTok == wantTok(s), s"source $s token total")
      // smoothed KL over the full grid is a true divergence: >= 0,
      // up to the 6-decimal rounding of the reported value
      assert(kl >= -1e-6, s"source $s kl $kl negative")
    }
  }

  test("centroid drift: exact decimal recompute per label, halves partition the corpus") {
    val rows = Similarity.centroidDrift(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    assert(rows.map(_._1).toSet == emb.map(_._2).toSet)
    def sumVec(vs: Seq[Seq[Float]]): Seq[Double] =
      (0 until 64).map(p => vs.map(v =>
        BigDecimal(v(p).toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble)
    rows.foreach { case (label, nA, nB, drift) =>
      val g = emb.filter(_._2 == label)
      val (ev, od) = g.partition(_._1 % 2 == 0)
      assert(nA == ev.length && nB == od.length, s"label $label halves")
      val (ca, cb) = (sumVec(ev.map(_._3)), sumVec(od.map(_._3)))
      val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      val want = BigDecimal(dot /
        (math.sqrt(ca.map(x => x * x).sum) * math.sqrt(cb.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(drift - want) < 2e-6, s"label $label $drift != $want")
      assert(math.abs(drift) <= 1.0)
    }
  }

  test("dup spans: exact positional recompute of cross-doc 5-gram coverage") {
    val got = TextAnalysis.dupSpanStats(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    def grams(ws: Array[String]) =
      ws.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toArray
    val df = docs.flatMap { case (id, ws) => grams(ws).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, ws) =>
      val cov = grams(ws).zipWithIndex.collect {
        case (g, i) if df(g) >= 2 => i until (i + 5)
      }.flatten.toSet
      assert(got(id)._1 == ws.length, s"doc $id n_tok")
      assert(got(id)._2 == cov.size, s"doc $id n_cov")
      val want = if (ws.isEmpty) BigDecimal(0)
        else BigDecimal(cov.size.toDouble / ws.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(BigDecimal(got(id)._3).setScale(6,
        BigDecimal.RoundingMode.HALF_UP) == want, s"doc $id frac")
    }
    // overlap-merge really bites: coverage is below the naive
    // n-grams-times-n upper bound for at least one doc
    assert(got.values.exists(v => v._2 > 0 && v._2 < v._1))
  }

  test("knn hubness: in-degree conservation over bucket top-k lists") {
    val rows = Similarity.knnHubness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val bucketOf = Similarity.lshFixedBuckets(spark, sf, bits = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == bucketOf.size)
    rows.foreach { case (id, bucket, deg, hub) =>
      assert(bucket == bucketOf(id), s"vec $id bucket")
      assert(hub == (deg >= 10L), s"vec $id hub flag")
    }
    // every vector emits min(k, |bucket|-1) out-edges; in-degrees
    // must sum to exactly that edge total
    val sizes = bucketOf.values.groupBy(identity).view.mapValues(_.size).toMap
    val wantEdges = bucketOf.values
      .map(b => math.min(5, sizes(b) - 1).toLong).sum
    assert(rows.map(_._3).sum == wantEdges, "in-degree conservation")
  }

  test("entity resolution: exact union-find recompute, guard throws") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val recs = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[Number](2).longValue(), r.getString(3)))
    val edges = recs.groupBy(r => (r._3, r._4)).values.toSeq.flatMap {
      block =>
        block.toSeq.flatMap(a => block.toSeq.collect {
          case b if a._1 < b._1 && lev(a._2, b._2) <= 1 => (a._1, b._1)
        })
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = ids.map(id => id -> find(id)).toMap
    val sizes = want.values.groupBy(identity).view.mapValues(_.size).toMap
    val got = graft.ext.Linkage.entityResolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == ids.length)
    got.foreach { case (id, ent, n) =>
      assert(ent == want(id), s"cust $id entity")
      assert(n == sizes(want(id)).toLong, s"cust $id size")
    }
    // the blocking guard fails fast instead of running a quadratic join
    val recDf = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    intercept[IllegalArgumentException] {
      graft.ext.Linkage.blockedPairs(recDf, "c_custkey",
        Seq("c_nationkey", "c_mktsegment"), maxBlock = 1)
    }
  }

  test("inverted index: df/cf exact, postings capped sorted prefix") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val cf = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val post = docs.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = TextAnalysis.invertedIndex(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.length == cf.size)
    got.foreach { case (w, df, c, p) =>
      assert(df == post(w).length.toLong, s"term $w df")
      assert(c == cf(w).toLong, s"term $w cf")
      assert(p == post(w).take(20).mkString(","), s"term $w postings")
    }
  }

  test("gap fill: dense spine, zero-filled gaps, LOCF carries forward") {
    val rows = Relational.gapFillDaily(spark, sf).collect()
      .map(r => (r.getDate(0), r.getBoolean(1), r.getDouble(2),
        r.getLong(3), r.get(4)))
      .sortBy(_._1.getTime)
    // dense: consecutive days differ by exactly 86400 s (UTC session)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._1.getTime - a._1.getTime == 86400000L, s"gap after ${a._1}")
    case _ => ()
    }
    assert(rows.exists(_._2), "spine has at least one gap day")
    var lastSeen: Option[java.lang.Double] = None
    rows.foreach { case (day, isGap, filled, n, locf) =>
      assert(isGap == (n == 0L), s"$day gap flag")
      if (isGap) assert(filled == 0.0, s"$day zero fill")
      else lastSeen = Some(Double.box(filled))
      assert(locf == lastSeen.orNull, s"$day locf")
    }
  }

  test("ewma: exact fixed-order kernel recompute over the filled grid") {
    val filled = Relational.gapFillDaily(spark, sf).collect()
      .map(r => (r.getDate(0).getTime, r.getDouble(2)))
      .sortBy(_._1).map(_._2)
    val got = Relational.ewmaDaily(spark, sf).collect()
      .map(r => (r.getDate(0).getTime, r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.length == filled.length - 7)
    got.zipWithIndex.foreach { case ((_, x, ewma), i) =>
      val t = i + 7 // index into the filled grid
      assert(x == filled(t))
      var acc = filled(t)
      for (k <- 1 to 7) acc += filled(t - k) * math.pow(0.5, k)
      assert(ewma == acc / 1.9921875, s"row $i ewma")
    }
  }

  test("containment: exact asymmetric recompute, contained side is smaller") {
    def shingles(ws: Array[String]): Set[String] =
      if (ws.length < 3) Set(ws.mkString(" "))
      else ws.sliding(3).map(_.mkString(" ")).toSet
    val sh = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        shingles(r.getString(1).split(" ").filter(_.nonEmpty))).toMap
    val got = Dedup.containmentVerifyPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty, "no containment pairs at sf0.001")
    got.foreach { case (a, b, c, cid) =>
      val (sa, sb) = (sh(a), sh(b))
      val want = BigDecimal(
        sa.intersect(sb).size.toDouble / math.min(sa.size, sb.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(BigDecimal(c).setScale(4,
        BigDecimal.RoundingMode.HALF_UP) == want, s"pair ($a,$b)")
      assert(c >= 0.8, s"pair ($a,$b) below threshold")
      assert(cid == (if (sa.size <= sb.size) a else b), s"pair ($a,$b) side")
      // containment dominates jaccard — the reason this op exists
      val jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(c >= jac - 1e-9, s"pair ($a,$b) containment < jaccard")
    }
  }

  test("markov transitions: exact recompute, rows sum to 1 per from-type") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime, r.getLong(3)))
    val want = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      g.sortBy(e => (e._3, e._4)).map(_._2).sliding(2)
        .collect { case w if w.length == 2 => (w(0), w(1)) }
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val totals = want.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val got = Relational.markovTransitions(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(3)))
    assert(got.length == want.size)
    got.foreach { case (k, n, p) =>
      assert(n == want(k), s"$k count")
      assert(p == n.toDouble / totals(k._1).toDouble, s"$k probability")
    }
    got.groupBy(_._1._1).foreach { case (from, g) =>
      assert(math.abs(g.map(_._3).sum - 1.0) < 1e-9, s"$from rows sum to 1")
    }
  }

  test("hybrid rrf: fusion of the two leg rankings, ordered and bounded") {
    val lex = TextAnalysis.bm25(spark, sf, topN = 100).collect()
      .map(r => r.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val dense = Similarity.cosineTopK(spark, sf, k = 100).collect()
      .map(r => r.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val want = (lex.keySet ++ dense.keySet).map { id =>
      id -> (lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        dense.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(50)
    val got = Similarity.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((gid, gs), (wid, ws)) =>
      assert(gid == wid && gs == ws, s"rank mismatch: got ($gid,$gs)")
    }
    // both legs actually contribute: each leg's #1 makes the fused
    // head (an empty or broken leg cannot satisfy this)
    assert(lex.nonEmpty && dense.nonEmpty, "a retrieval leg is empty")
    val lexTop = lex.find(_._2 == 1).get._1
    val denseTop = dense.find(_._2 == 1).get._1
    assert(got.exists(_._1 == lexTop), "lexical top-1 missing from fusion")
    assert(got.exists(_._1 == denseTop), "dense top-1 missing from fusion")
  }

  test("rolling z-score: exact cent-moment recompute over the grid") {
    val filled = Relational.gapFillDaily(spark, sf).collect()
      .map(r => (r.getDate(0).getTime, r.getDouble(2)))
      .sortBy(_._1).map(_._2)
    val cents = filled.map(v =>
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
      .map(_.toLongExact)
    val got = Relational.rollingZscore(spark, sf).collect()
      .map(r => (r.getDate(0).getTime, r.getDouble(1), r.getDouble(2),
        r.getDouble(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._1)
    assert(got.length == filled.length - 27)
    got.zipWithIndex.foreach { case ((_, x, mean, sd, z), i) =>
      val t = i + 27
      assert(x == filled(t))
      val w = (t - 27 to t).map(cents)
      val s1 = w.sum.toDouble
      val s2 = w.map(c => BigDecimal(c) * BigDecimal(c)).sum.toDouble
      val meanc = s1 / 28.0
      val sdc = math.sqrt((s2 - s1 * s1 / 28.0) / 27.0)
      assert(mean == meanc / 100.0, s"row $i mean")
      assert(sd == sdc / 100.0, s"row $i sd")
      if (sdc == 0.0) assert(z.isEmpty, s"row $i z should be null")
      else assert(z.contains((cents(t).toDouble - meanc) / sdc), s"row $i z")
    }
  }

  test("k-anonymity: exact QI group sizes, flag at k=5, partition covers") {
    val custs = graft.Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getString(1),
        math.floor(r.getDouble(2) / 1000.0).toInt))
    val want = custs.groupBy(identity(_)).view.mapValues(_.length.toLong).toMap
    val got = graft.ext.Profile.kAnonymity(spark, sf).collect()
      .map(r => ((r.getAs[Number](0).longValue(), r.getString(1),
        r.getInt(2)), r.getLong(3), r.getBoolean(4)))
    assert(got.length == want.size)
    got.foreach { case (k, n, flag) =>
      assert(n == want(k), s"group $k size")
      assert(flag == (n >= 5L), s"group $k flag")
    }
    assert(got.map(_._2).sum == custs.length.toLong, "groups cover all rows")
    assert(got.exists(!_._3), "audit finds at least one risky group")
  }

  test("session paths: exact gap-split path recompute") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getString(3)))
    val paths = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      val sorted = g.sortBy(e => (e._3, e._2))
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer[String]())
      var prev = Long.MinValue
      sorted.foreach { e =>
        if (prev != Long.MinValue && e._3 - prev > 1800000L)
          sessions += scala.collection.mutable.ArrayBuffer[String]()
        sessions.last += e._4
        prev = e._3
      }
      sessions.map(_.mkString(">"))
    }
    val want = paths.groupBy(identity(_)).view
      .mapValues(_.length.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(25)
    val got = Relational.sessionPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.map { case (p, n) => (p, n) })
  }

  test("chi-square cells: exact marginals, contributions, coverage") {
    val cells = graft.Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val rowT = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val colT = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val grand = cells.values.sum.toDouble
    val got = graft.ext.Profile.chiSquareCells(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.length == cells.size)
    got.foreach { case (k, n, e, c) =>
      assert(n == cells(k), s"$k observed")
      val want = rowT(k._1).toDouble * colT(k._2).toDouble / grand
      assert(e == want, s"$k expected")
      assert(c == (n.toDouble - want) * (n.toDouble - want) / want,
        s"$k contribution")
    }
    // expected counts respect the marginals they came from
    got.groupBy(_._1._1).foreach { case (p, g) =>
      assert(math.abs(g.map(_._3).sum - rowT(p).toDouble) < 1e-6,
        s"$p expected-row total")
    }
  }

  test("zipf fit: slope matches a local least-squares on the same surrogates") {
    val freq = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity(_)).view.mapValues(_.length).toSeq
      .sortBy { case (w, n) => (-n, w) }
    val xs = freq.indices.map(i =>
      math.round(math.log((i + 1).toDouble) * 1e9))
    val ys = freq.map(f => math.round(math.log(f._2.toDouble) * 1e9))
    val r = freq.length.toDouble
    val sx = xs.sum.toDouble / 1e9
    val sy = ys.sum.toDouble / 1e9
    val sxy = xs.zip(ys).map { case (a, b) =>
      BigInt(a) * BigInt(b) }.sum.toDouble / 1e18
    val sxx = xs.map(a => BigInt(a) * BigInt(a)).sum.toDouble / 1e18
    val slope = (r * sxy - sx * sy) / (r * sxx - sx * sx)
    val row = TextAnalysis.zipfFit(spark, sf).collect().head
    assert(row.getLong(0) == freq.length.toLong)
    assert(math.abs(row.getDouble(1) - slope) < 1e-9, "slope")
    assert(math.abs(row.getDouble(2) - (sy - slope * sx) / r) < 1e-9,
      "intercept")
    // a token corpus should be Zipf-ish: decisively negative slope
    assert(row.getDouble(1) < -0.1, "slope sign")
  }

  test("json audit: exact bucket recompute, full event coverage") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("props")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val parsed = ev.map { case (u, p) =>
      val m = """"k"\s*:\s*(-?\d+)""".r.findFirstMatchIn(p)
      (u, m.map(_.group(1).toInt))
    }
    val want = parsed.groupBy {
      case (_, Some(k)) => k / 10
      case _ => -1
    }
    val got = Relational.jsonPropsAudit(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getAs[Number](3), r.getAs[Number](4)))
    assert(got.length == want.size)
    got.foreach { case (b, n, u, mn, mx) =>
      val g = want(b)
      assert(n == g.length.toLong, s"bucket $b events")
      assert(u == g.map(_._1).distinct.length.toLong, s"bucket $b users")
      if (b >= 0) {
        assert(mn.intValue() == g.flatMap(_._2).min, s"bucket $b min")
        assert(mx.intValue() == g.flatMap(_._2).max, s"bucket $b max")
      }
    }
    assert(got.map(_._2).sum == ev.length.toLong, "buckets cover all rows")
  }

  test("json audit: malformed payloads land in the NULL bucket, negatives floor") {
    import spark.implicits._
    val fx = Seq(
      (1L, """{"k": 42}"""),    // clean → bucket 4
      (2L, """not json"""),     // malformed → NULL bucket
      (3L, """{"k": "abc"}"""), // non-integer value → NULL bucket
      (4L, """{"x": 7}"""),     // key absent → NULL bucket
      (5L, """{"k": -5}""")     // negative → floor(-0.5) = bucket -1
    ).toDF("user_id", "props")
    val got = Relational.jsonPropsAuditOf(fx).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) ->
        (r.getLong(1), r.getAs[Number](3)))
      .toMap
    assert(got(Some(4))._1 == 1L, "clean row bucketed")
    assert(got(Some(4))._2.intValue() == 42)
    assert(got(Some(-1))._1 == 1L, "negative floors to its own bucket")
    assert(got(Some(-1))._2.intValue() == -5)
    assert(got(None)._1 == 3L, "malformed + absent + non-int rows counted")
    assert(got(None)._2 == null, "no min_k for unparseable rows")
  }

  test("cohort ltv: cumulative value is the running sum of week values") {
    val rows = Relational.cohortLtv(spark, sf).collect()
      .map(r => (r.getDate(0).getTime, r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cw, g) =>
      val sorted = g.sortBy(_._2)
      // offsets start at 0 (the cohort's own week is its first active
      // week by construction)
      assert(sorted.head._2 == 0, s"cohort $cw first offset")
      var cum = BigDecimal(0)
      sorted.foreach { case (_, off, n, wv, cv) =>
        assert(n > 0, s"cohort $cw offset $off users")
        cum += BigDecimal(wv)
        assert(math.abs(cv - cum.toDouble) < 1e-6,
          s"cohort $cw offset $off cumulative")
      }
    }
  }

  test("kn bigrams: exact recompute, probabilities in (0,1], mass backs off") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty))
    val bg = docs.flatMap(ws => ws.sliding(2).collect {
      case w if w.length == 2 => (w(0), w(1))
    }).groupBy(identity(_)).view.mapValues(_.length.toLong).toMap
    val c1 = bg.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val n1fw = bg.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1bw = bg.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nAll = bg.size.toDouble
    val got = TextAnalysis.knBigrams(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(3)))
    assert(got.length == math.min(50, bg.size))
    got.foreach { case (k, c, p) =>
      assert(c == bg(k), s"$k count")
      val want = math.max(c - 0.75, 0.0) / c1(k._1) +
        (0.75 * n1fw(k._1) / c1(k._1)) * (n1bw(k._2) / nAll)
      assert(math.abs(p - want) < 1e-12, s"$k p_kn")
      assert(p > 0.0 && p <= 1.0, s"$k p range")
    }
  }

  test("burstiness: exact VMR recompute; bursty beats flat") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty))
    val n = docs.length.toDouble
    val perTerm = docs.flatMap(ws =>
        ws.groupBy(identity(_)).view.mapValues(_.length.toLong).toSeq)
      .groupBy(_._1).view.mapValues { cs =>
        (cs.length.toLong, cs.map(_._2).sum, cs.map(c => c._2 * c._2).sum)
      }.toMap
    val got = TextAnalysis.burstiness(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (w, df, cf, vmr) =>
      val (wdf, wcf, ws2) = perTerm(w)
      assert(df == wdf && cf == wcf, s"$w counts")
      assert(cf >= 10L, s"$w below minCf")
      val mean = wcf.toDouble / n
      val want = (ws2.toDouble / n - mean * mean) / mean
      assert(math.abs(vmr - want) < 1e-9, s"$w vmr")
      assert(vmr > 0.0, s"$w vmr sign")
    }
    assert(perTerm.filter(_._2._2 < 10L).keySet
      .intersect(got.map(_._1).toSet).isEmpty, "minCf filter")
  }

  test("source gini: exact integer recompute, in [0,1)") {
    val xs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) ->
        r.getString(1).split(" ").count(_.nonEmpty).toLong)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (s, x) => (x, s) }.map(_._2)
    val n = xs.length.toLong
    val total = xs.sum
    val iwx = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val want = (2.0 * iwx - (n + 1).toDouble * total) / (n.toDouble * total)
    val row = TextAnalysis.sourceGini(spark, sf).collect().head
    assert(row.getLong(0) == n)
    assert(row.getLong(1) == total)
    assert(row.getDouble(2) == want)
    assert(row.getDouble(2) >= 0.0 && row.getDouble(2) < 1.0)
  }

  test("key skew: exact per-key distribution stats for every audited column") {
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_suppkey"), col("l_partkey")).collect()
    val oc = graft.Tables.orders(spark, sf)
      .select(col("o_custkey")).collect().map(_.getAs[Number](0).longValue())
    val dists = Map(
      "l_suppkey" -> li.map(_.getAs[Number](0).longValue()),
      "l_partkey" -> li.map(_.getAs[Number](1).longValue()),
      "o_custkey" -> oc)
    val got = graft.ext.Profile.joinKeySkew(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(7))).toMap
    assert(got.keySet == dists.keySet)
    dists.foreach { case (c, ks) =>
      val counts = ks.groupBy(identity(_)).map(_._2.length.toLong)
      val (nKeys, nRows, maxN, _) = got(c)
      assert(nKeys == counts.size.toLong, s"$c keys")
      assert(nRows == ks.length.toLong, s"$c rows")
      assert(maxN == counts.max, s"$c max")
    }
  }

  test("join estimate: per-bucket truth is exact, estimate is the SR formula") {
    val ok = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val lk = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    def hist(ks: Array[Long]) = ks.groupBy(k => (k % 64).toInt)
    val oh = hist(ok); val lh = hist(lk)
    val got = graft.ext.Profile.joinEstimate(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got.size == (oh.keySet ++ lh.keySet).size)
    got.foreach { case (b, (nO, nL, dO, dL, actual, est)) =>
      val os = oh.getOrElse(b, Array.empty[Long])
      val ls = lh.getOrElse(b, Array.empty[Long])
      assert(nO == os.length.toLong && nL == ls.length.toLong, s"b$b sizes")
      assert(dO == os.distinct.length.toLong &&
        dL == ls.distinct.length.toLong, s"b$b distincts")
      val lCounts = ls.groupBy(identity(_)).map(kv => kv._1 -> kv._2.length)
      val wantActual = os.groupBy(identity(_))
        .map { case (k, g) => g.length.toLong * lCounts.getOrElse(k, 0) }.sum
      assert(actual == wantActual, s"b$b actual")
      val dMax = math.max(dO, dL)
      val wantEst = if (dMax > 0) nO.toDouble * nL.toDouble / dMax else 0.0
      assert(est == wantEst, s"b$b estimate")
      // the estimator is sane where histograms exist: nonzero truth
      // implies nonzero estimate
      if (actual > 0) assert(est > 0.0, s"b$b zero estimate for real join")
    }
  }

  test("fd audit: exact violation recompute; rates bounded; coarse FD violates") {
    val got = graft.ext.Profile.fdAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    assert(got.size == 4)
    // exact recompute of one violating FD
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val per = li.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).distinct.length, g.length)).toMap
    val (nLhs, nViol, rowsViol, nRows, rate) = got("l_orderkey->l_returnflag")
    assert(nLhs == per.size.toLong)
    assert(nViol == per.values.count(_._1 > 1).toLong)
    assert(rowsViol == per.values.collect {
      case (d, n) if d > 1 => n.toLong }.sum)
    assert(nRows == li.length.toLong)
    assert(rate == BigDecimal(nViol.toDouble / nLhs.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // l_partkey appears across many orders with mixed flags: the
    // coarse FD must show violations while rates stay in [0,1]
    got.values.foreach { case (_, v, _, _, r) =>
      assert(r >= 0.0 && r <= 1.0 && (v == 0L) == (r == 0.0))
    }
    assert(got("l_partkey->l_returnflag")._2 > 0L, "coarse FD violates")
  }

  test("label medoids: the pick maximizes decimal-plane total cosine in its label") {
    val embs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): BigDecimal = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val byLabel = embs.groupBy(_._2)
    val got = graft.ext.Similarity.labelMedoids(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == byLabel.keySet)
    byLabel.foreach { case (label, members) =>
      val totals = members.map { case (id, _, v) =>
        id -> members.collect { case (oid, _, ov) if oid != id =>
          cos(v, ov) }.sum
      }
      val want = totals.minBy { case (id, t) => (-t, id) }
      val (gotId, nPeers, avgCos) = got(label)
      assert(gotId == want._1, s"label $label medoid")
      assert(nPeers == members.length.toLong - 1, s"label $label peers")
      assert(math.abs(avgCos - (want._2 / nPeers).toDouble) < 1e-9,
        s"label $label avg")
    }
  }

  test("trimmed mean: survivors inside exact fences; robust to the tails") {
    val prices = graft.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def pct(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val rank = p * (s.length - 1)
      val lo = s(rank.toInt)
      val hi = s(math.min(rank.toInt + 1, s.length - 1))
      lo + (rank - rank.toInt) * (hi - lo)
    }
    val got = Relational.trimmedMean(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == prices.keySet)
    prices.foreach { case (prio, xs) =>
      val (n, rawMean, nKept, trimmed) = got(prio)
      assert(n == xs.length.toLong, s"$prio n")
      val (p05, p95) = (pct(xs, 0.05), pct(xs, 0.95))
      val kept = xs.filter(x => x >= p05 && x <= p95)
      assert(nKept == kept.length.toLong, s"$prio kept")
      val wantTrim = (kept.map(x => BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum
        / BigDecimal(kept.length)).toDouble
      assert(math.abs(trimmed - wantTrim) < 1e-6, s"$prio trimmed")
      // trimming really moved the statistic (tails exist)
      assert(nKept < n, s"$prio nothing trimmed")
      assert(math.abs(rawMean - trimmed) > 1e-9, s"$prio identical means")
    }
  }

  test("heaps fit: exact growth-curve recompute, beta in (0,1)") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .sortBy(_._1)
    val seen = scala.collection.mutable.Set[String]()
    var cumTok = 0L
    val pts = docs.flatMap { case (_, ws) =>
      cumTok += ws.length
      seen ++= ws
      if (cumTok > 0 && seen.nonEmpty) Some((cumTok, seen.size.toLong))
      else None
    }
    val xs = pts.map(p => math.round(math.log(p._1.toDouble) * 1e9))
    val ys = pts.map(p => math.round(math.log(p._2.toDouble) * 1e9))
    val r = pts.length.toDouble
    val sx = xs.sum.toDouble / 1e9
    val sy = ys.sum.toDouble / 1e9
    val sxy = xs.zip(ys).map { case (a, b) =>
      BigInt(a) * BigInt(b) }.sum.toDouble / 1e18
    val sxx = xs.map(a => BigInt(a) * BigInt(a)).sum.toDouble / 1e18
    val beta = (r * sxy - sx * sy) / (r * sxx - sx * sx)
    val row = TextAnalysis.heapsFit(spark, sf).collect().head
    assert(row.getLong(0) == pts.length.toLong)
    assert(math.abs(row.getDouble(1) - beta) < 1e-9, "beta")
    // vocabulary grows sublinearly in tokens on a natural-ish corpus
    assert(row.getDouble(1) > 0.0 && row.getDouble(1) < 1.0, "beta range")
  }

  test("inter-arrival: exact gap histogram, bucket is the bit length") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime * 1000 +
          (r.getTimestamp(2).getNanos / 1000) % 1000, r.getLong(3)))
    val gaps = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      val s = g.sortBy(e => (e._3, e._4))
      s.sliding(2).collect { case w if w.length == 2 =>
        (w(1)._2, w(1)._3 - w(0)._3) }
    }.filter(_._2 >= 0)
    val want = gaps.map { case (t, gap) =>
      (t, 63 - java.lang.Long.numberOfLeadingZeros(gap + 1))
    }.groupBy(identity(_)).view.mapValues(_.size.toLong).toMap
    val got = Relational.interArrival(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length == want.size)
    got.foreach { case (k, n, mn, mx) =>
      assert(n == want(k), s"$k count")
      // min/max really live inside the bucket's gap range
      assert((1L << k._2) <= mn + 1 && mx + 1 < (1L << (k._2 + 1)), s"$k range")
    }
  }

  test("cluster size histogram: consistent with the cluster table") {
    val comps = Dedup.lshDedupClustersPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = comps.groupBy(_._2).values.map(_.size)
      .groupBy(identity(_)).view.mapValues(_.size.toLong).toMap
    val got = Dedup.clusterSizeHistogram(spark, sf).collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (size, (nc, nd, nr)) =>
      assert(nc == want(size), s"size $size clusters")
      assert(nd == size.toLong * nc, s"size $size docs")
      assert(nr == (size - 1).toLong * nc, s"size $size removable")
      assert(size >= 2, "components have at least two members")
    }
    assert(got.values.map(_._2).sum == comps.length.toLong, "doc coverage")
  }

  test("touch attribution: exact running first/last recompute, value conserved") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime * 1000 +
          (r.getTimestamp(3).getNanos / 1000) % 1000, r.getLong(4)))
    val rows = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      val s = g.sortBy(e => (e._4, e._5))
      var firstT: Option[String] = None
      var lastT: Option[String] = None
      s.flatMap { e =>
        if (e._2 == "view" || e._2 == "click") {
          if (firstT.isEmpty) firstT = Some(e._2)
          lastT = Some(e._2)
        }
        if (e._2 == "purchase") Some(((firstT, lastT), e._3)) else None
      }
    }
    val want = rows.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, g.map(v => BigDecimal(v._2).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum)
    }.toMap
    val got = Relational.touchAttribution(spark, sf).collect()
      .map(r => ((Option(r.getString(0)), Option(r.getString(1))),
        r.getLong(2), r.getDouble(3)))
    assert(got.length == want.size)
    got.foreach { case (k, n, v) =>
      assert(n == want(k)._1, s"$k purchases")
      assert(math.abs(v - want(k)._2.toDouble) < 1e-6, s"$k value")
    }
    // every purchase is attributed exactly once (value conservation)
    val totalPurchases = ev.count(_._2 == "purchase").toLong
    assert(got.map(_._2).sum == totalPurchases, "purchase conservation")
  }

  test("conversion latency: exact converting-user gap recompute") {
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime * 1000 +
          (r.getTimestamp(2).getNanos / 1000) % 1000))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1).view
      .mapValues(_.map(_._3).min).toMap
    val lats = ev.filter(_._2 == "purchase").groupBy(_._1).toSeq.flatMap {
      case (u, ps) => firstView.get(u).flatMap { tv =>
        val after = ps.map(_._3).filter(_ > tv)
        if (after.nonEmpty) Some(after.min - tv) else None
      }
    }.sorted
    def pct(p: Double): Double = {
      val rank = p * (lats.length - 1)
      val lo = lats(rank.toInt).toDouble
      val hi = lats(math.min(rank.toInt + 1, lats.length - 1)).toDouble
      BigDecimal(lo + (rank - rank.toInt) * (hi - lo))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val row = Relational.conversionLatency(spark, sf).collect().head
    assert(row.getLong(0) == lats.length.toLong)
    assert(math.abs(row.getDouble(1) - pct(0.5)) < 1e-4, "p50")
    assert(math.abs(row.getDouble(2) - pct(0.9)) < 1e-4, "p90")
    assert(row.getDouble(1) <= row.getDouble(2) &&
      row.getDouble(2) <= row.getDouble(3), "monotone percentiles")
  }

  test("basket lift: exact pair counts, margins, and lift formula") {
    val items = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue())).distinct
    val nOrders = graft.Tables.orders(spark, sf).count()
    val margins = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCounts = items.groupBy(_._1).values.toSeq.flatMap { basket =>
      val ps = basket.map(_._2).sorted.toSeq
      ps.flatMap(a => ps.collect { case b if a < b => (a, b) })
    }.groupBy(identity(_)).view.mapValues(_.size.toLong).toMap
    val want = pairCounts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(25)
    val got = Relational.basketLift(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((k, nAb, nA, nB, conf, lift), (wk, wn)) =>
      assert(k == wk && nAb == wn, s"pair order/count at $k")
      assert(nA == margins(k._1) && nB == margins(k._2), s"$k margins")
      assert(conf == nAb.toDouble / nA.toDouble, s"$k confidence")
      assert(lift == nAb.toDouble * nOrders.toDouble /
        (nA.toDouble * nB.toDouble), s"$k lift")
    }
  }

  test("rfm segments: census covers all customers, codes in 1..4") {
    val rows = Relational.rfmSegments(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    val nCust = graft.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._2).sum == nCust, "census coverage")
    rows.foreach { case ((r, f, m), n) =>
      assert(r >= 1 && r <= 4 && f >= 1 && f <= 4 && m >= 1 && m <= 4)
      assert(n > 0L)
    }
    // quartiles are balanced: each R code holds ~nCust/4 customers
    val byR = rows.groupBy(_._1._1).view.mapValues(_.map(_._2).sum)
    byR.values.foreach(c =>
      assert(math.abs(c - nCust / 4.0) <= 1.0, s"unbalanced quartile: $byR"))
  }

  test("label outliers: dense ranks per label, exactly ceil(5%) flagged") {
    val rows = Similarity.labelOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3),
        r.getBoolean(4)))
    assert(rows.length == graft.Tables.embeddings(spark, sf).count())
    rows.groupBy(_._2).foreach { case (label, g) =>
      // rk is dense 1..n and ordered by (cent_cos, vec_id)
      val sorted = g.sortBy(r => (r._3, r._1))
      assert(sorted.map(_._4).toSeq == (1 to g.length), s"label $label ranks")
      val wantOut = math.max(1L, math.ceil(g.length * 0.05).toLong)
      assert(g.count(_._5) == wantOut, s"label $label outlier count")
      // flagged rows are exactly the lowest-cosine prefix
      assert(sorted.takeWhile(_._5).length == wantOut, s"label $label prefix")
    }
  }

  test("ks drift: exact ECDF max-gap recompute per source") {
    import graft.ext.Sampling
    val rows = Sampling.ksDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1)
    assert(rows.map(_._1).toSet == bySrc.keySet)
    val vals = docs.map(_._2).distinct.sorted
    rows.foreach { case (s, nDocs, ks) =>
      val mine = bySrc(s).map(_._2)
      val rest = docs.filter(_._1 != s).map(_._2)
      assert(nDocs == mine.length.toLong, s"source $s doc count")
      val want = vals.map { v =>
        math.abs(mine.count(_ <= v).toDouble / mine.length
          - rest.count(_ <= v).toDouble / rest.length)
      }.max
      assert(ks == BigDecimal(want)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"source $s ks")
      assert(ks >= 0.0 && ks <= 1.0)
    }
  }

  test("seq patterns: brute-force session recompute, support exact") {
    val got = Relational.seqPatterns(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3))
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[String]]
      var prev = Long.MinValue
      sorted.foreach { e =>
        if (buf.isEmpty || e._2 - prev > 1800000000L)
          buf += scala.collection.mutable.ArrayBuffer(e._4)
        else buf.last += e._4
        prev = e._2
      }
      buf.map(_.toSeq)
    }.toSeq
    val nTotal = sessions.length
    val want = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    sessions.foreach { path =>
      val pairs = (for {
        i <- path.indices; j <- path.indices
        if i < j && path(i) != path(j)
      } yield (path(i), path(j))).distinct
      pairs.foreach(p => want(p) += 1L)
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (n, sup)) =>
      assert(n == want(k), s"pair $k sessions")
      assert(sup == BigDecimal(n.toDouble / nTotal)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"pair $k support")
    }
  }

  test("inclusion deps: known FKs are INDs, containment exact for one pair") {
    val got = graft.ext.Profile.inclusionDeps(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    Seq("orders.o_custkey" -> "customer.c_custkey",
      "lineitem.l_orderkey" -> "orders.o_orderkey",
      "nation.n_regionkey" -> "region.r_regionkey",
      "customer.c_nationkey" -> "nation.n_nationkey").foreach { p =>
      val (nl, ns, c, ind) = got(p)
      assert(ind && ns == nl && c == 1.0, s"$p should be an IND")
    }
    val custs = graft.Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val ordc = graft.Tables.orders(spark, sf)
      .select(col("o_custkey")).collect().map(_.getLong(0)).toSet
    val (nl, ns, c, _) = got(("customer.c_custkey", "orders.o_custkey"))
    assert(nl == custs.size.toLong)
    assert(ns == custs.intersect(ordc).size.toLong)
    assert(c == BigDecimal(ns.toDouble / nl.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("seasonal trend: exact decomposition recompute, 7 dow rows") {
    val got = Relational.seasonalTrend(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.length == 7 && got.map(_._1).toSet == (1 to 7).toSet)
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val daily = ords.groupBy(_._1).view
      .mapValues(g => d6(g.map(x => d6(x._2)).sum.toDouble)).toMap
    val sparkDow = (d: java.time.LocalDate) => (d.getDayOfWeek.getValue % 7) + 1
    val grandMean = daily.values.sum.toDouble / daily.size
    val byDow = daily.groupBy { case (d, _) => sparkDow(d) }
    got.foreach { case (dow, nDays, mean, idx, _) =>
      val g = byDow(dow)
      assert(nDays == g.size.toLong, s"dow $dow days")
      val m = g.values.sum.toDouble / g.size
      assert(mean == round6(m), s"dow $dow mean")
      assert(idx == round6(m / grandMean), s"dow $dow index")
    }
    // deseasonalized least-squares slope via the same surrogates
    val day0 = daily.keys.min(Ordering.by((d: java.time.LocalDate) =>
      d.toEpochDay))
    val idxByDow = byDow.view.mapValues(g =>
      (g.values.sum.toDouble / g.size) / grandMean).toMap
    val xy = daily.toSeq.map { case (d, rev) =>
      (d.toEpochDay - day0.toEpochDay,
        BigDecimal(rev.toDouble / idxByDow(sparkDow(d)) * 1000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val nP = xy.length.toDouble
    val sx = xy.map(_._1).sum.toDouble
    val sy = xy.map(_._2).sum.toDouble / 1e3
    val sxy = xy.map(t => BigInt(t._1) * BigInt(t._2)).sum.toDouble / 1e3
    val sxx = xy.map(t => BigInt(t._1) * BigInt(t._1)).sum.toDouble
    val slope = round6((nP * sxy - sx * sy) / (nP * sxx - sx * sx))
    got.foreach { case (dow, _, _, _, s) => assert(s == slope, s"dow $dow slope") }
  }

  test("mad outliers: exact interpolated-median recompute") {
    val got = Relational.madOutliers(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))).toMap
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def q50(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * 0.5
      val i = h.toInt
      if (i + 1 < s.length) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
    }
    val byPrio = ords.groupBy(_._1)
    assert(got.keySet == byPrio.keySet)
    byPrio.foreach { case (prio, g) =>
      val xs = g.map(_._2).toSeq
      val med = q50(xs)
      val ads = xs.map(x => math.abs(x - med))
      val mad = q50(ads)
      val nOut = ads.count(_ > 3.0 * 1.4826 * mad).toLong
      val (n, gm, gmad, gout) = got(prio)
      assert(n == xs.length.toLong && gm == round6(med)
        && gmad == round6(mad) && gout == nOut, s"prio $prio")
    }
  }

  test("embed dispersion: one-scan identity matches exact pair-free recompute") {
    val got = Similarity.embedDispersion(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val byLabel = emb.groupBy(_._1)
    assert(got.keySet == byLabel.keySet)
    // global per-dim decimal sums
    val gs = (0 until 64).map(p =>
      emb.map(e => d6(e._2(p).toDouble)).sum)
    val gn = emb.length
    byLabel.foreach { case (label, g) =>
      val n = g.length
      val s = (0 until 64).map(p => g.map(e => d6(e._2(p).toDouble)).sum)
      val totSq = g.flatMap(e => (0 until 64).map(p => {
        val v = d6(e._2(p).toDouble); v * v
      })).sum
      def sur(x: Double): Long =
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val mu2s = (0 until 64).map { p =>
        val mu = s(p).toDouble / n.toDouble; sur(mu * mu * 1e9)
      }.sum
      val bts = (0 until 64).map { p =>
        val mu = s(p).toDouble / n.toDouble
        val gmu = gs(p).toDouble / gn.toDouble
        sur((mu - gmu) * (mu - gmu) * 1e9)
      }.sum
      val within = 2.0 * (totSq.toDouble / n.toDouble - mu2s.toDouble / 1e9)
      val between = bts.toDouble / 1e9
      val (nv, w, b, sep) = got(label)
      assert(nv == n.toLong, s"label $label n")
      assert(w == round6(within), s"label $label within")
      assert(b == round6(between), s"label $label between")
      assert(sep == round6(between / within), s"label $label sep")
      assert(w > 0.0)
    }
  }

  test("readability: exact flesch recompute per doc") {
    val got = TextAnalysis.readability(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val ws = text.split(" ", -1).filter(_.nonEmpty)
      val nw = ws.length.toLong
      val sent = math.max(1L,
        text.split("[.!?]", -1).count(_.trim.nonEmpty).toLong)
      val syl = ws.map(w =>
        w.toLowerCase.split("[^aeiouy]+", -1).count(_.nonEmpty).toLong).sum
      val (gw, gs, gy, gf) = got(id)
      assert(gw == nw && gs == sent && gy == syl, s"doc $id counts")
      if (nw > 0) {
        val f = 206.835 - 1.015 * (nw.toDouble / sent.toDouble) -
          84.6 * (syl.toDouble / nw.toDouble)
        assert(gf == round6(f), s"doc $id flesch")
      } else assert(gf.isNaN, s"doc $id null flesch")
    }
  }

  test("distinctive terms: exact log-odds recompute, top-5 per source") {
    val got = TextAnalysis.distinctiveTerms(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    val toks = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val ySw = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val yW = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nS = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nC = toks.length.toLong
    def z(src: String, word: String): Double = {
      val y = ySw((src, word)).toDouble
      val aw = 1000.0 * (yW(word).toDouble / nC.toDouble)
      val yr = (yW(word) - ySw((src, word))).toDouble
      val ns = nS(src).toDouble
      val nr = (nC - nS(src)).toDouble
      val delta = math.log((y + aw) / (ns + 1000.0 - y - aw)) -
        math.log((yr + aw) / (nr + 1000.0 - yr - aw))
      round6(delta / math.sqrt(1.0 / (y + aw) + 1.0 / (yr + aw)))
    }
    val bySrc = got.groupBy(_._1)
    assert(bySrc.keySet == nS.keySet)
    bySrc.foreach { case (src, rows) =>
      assert(rows.map(_._5).sorted.toSeq == (1 to 5), s"$src ranks")
      val want = ySw.keys.filter(_._1 == src).map(_._2).toSeq
        .map(w => (w, z(src, w))).sortBy { case (w, zz) => (-zz, w) }
        .take(5)
      val gotSorted = rows.sortBy(_._5).map(r => (r._2, r._4)).toSeq
      assert(gotSorted == want, s"$src top terms")
      rows.foreach { case (_, w, y, _, _) =>
        assert(y == ySw((src, w)), s"$src/$w count") }
    }
  }

  test("label agreement: brute-force bucketed knn recompute") {
    val got = Similarity.labelAgreement(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val bucketOf = Similarity.lshFixedBuckets(spark, sf, bits = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byBucket = emb.groupBy(e => bucketOf(e._1))
    val perVec = emb.flatMap { case (qid, qlab, qe) =>
      val peers = byBucket(bucketOf(qid)).filter(_._1 != qid)
      if (peers.isEmpty) None
      else {
        val top = peers.map(p => (round6(cos(qe, p._3)), p._1, p._2))
          .sortBy(t => (-t._1, t._2)).take(5)
        Some((qlab, top.length.toLong,
          top.count(_._3 == qlab).toLong))
      }
    }
    val want = perVec.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong,
        g.count(v => v._3 * 2 < v._2).toLong,
        round6(g.map(_._3).sum.toDouble / g.map(_._2).sum.toDouble))
    }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (lab, v) => assert(v == want(lab), s"label $lab") }
  }

  test("item cf: exact co-purchase cosine recompute, top-5 per item") {
    val got = Relational.itemCf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4)))
    val items = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nPart = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCnt = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- ps.indices if i < j) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val directed = pairCnt.toSeq.flatMap { case ((a, b), n) =>
      Seq((a, b, n), (b, a, n)) }
    val want = directed.groupBy(_._1).flatMap { case (a, g) =>
      g.map { case (_, b, n) =>
        (a, b, n, round6(n.toDouble /
          math.sqrt(nPart(a).toDouble * nPart(b).toDouble)))
      }.sortBy(t => (-t._4, t._2)).take(5).zipWithIndex
        .map { case ((x, b, n, c), i) => (x, b, n, c, i + 1) }
    }.toSet
    assert(got.toSet == want)
  }

  test("kaplan-meier: exact survival recompute over duration grid") {
    val got = Relational.kaplanMeier(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perUser = ev.groupBy(_._1).view
      .mapValues(g => (g.map(_._2).min, g.map(_._2).max)).toMap
    val maxUs = perUser.values.map(_._2).max
    val dayUs = 86400000000L
    val durs = perUser.values.toSeq.map { case (f, l) =>
      ((l - f) / dayUs, l <= maxUs - 7L * dayUs) }
    val byT = durs.groupBy(_._1).view.mapValues(g =>
      (g.count(_._2).toLong, g.count(!_._2).toLong)).toMap
    assert(got.keySet == byT.keySet)
    val ts = byT.keys.toSeq.sorted
    var removed = 0L
    var liSum = 0L
    var zeros = 0L
    ts.foreach { t =>
      val (d, c) = byT(t)
      val atRisk = durs.length.toLong - removed
      val factor = 1.0 - d.toDouble / atRisk.toDouble
      if (factor > 0.0)
        liSum += BigDecimal(math.log(factor) * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      else zeros += 1
      val surv = if (zeros > 0) 0.0
        else round6(math.exp(liSum.toDouble / 1e9))
      assert(got(t) == ((atRisk, d, c, surv)), s"t=$t")
      removed += d + c
    }
  }

  test("ab test: exact pooled z recompute") {
    val r = Relational.abTest(spark, sf).collect().head
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    val perUser = ev.groupBy(_._1).map { case (uid, g) =>
      val first = g.map(_._2).min
      val purch = g.filter(_._3 == "purchase").map(_._2)
      (uid, purch.nonEmpty && purch.min - first <= 86400000000L)
    }
    val (ctrl, treat) = perUser.partition(_._1 % 2 == 0)
    val (n0, c0) = (ctrl.size.toLong, ctrl.count(_._2).toLong)
    val (n1, c1) = (treat.size.toLong, treat.count(_._2).toLong)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((n0, c0, n1, c1)))
    assert(r.getDouble(4) == round6(c0.toDouble / n0.toDouble))
    assert(r.getDouble(5) == round6(c1.toDouble / n1.toDouble))
    val p = (c0 + c1).toDouble / (n0 + n1).toDouble
    val se = math.sqrt(p * (1.0 - p) *
      (1.0 / n0.toDouble + 1.0 / n1.toDouble))
    assert(r.getDouble(6) ==
      round6((c1.toDouble / n1.toDouble - c0.toDouble / n0.toDouble) / se))
  }

  test("benford: exact first-digit chi recompute") {
    val got = graft.ext.Profile.benford(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    val prices = graft.Tables.orders(spark, sf)
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
      .filter(_ > 0.0)
    val digits = prices.map(p => BigDecimal(p)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.toPlainString.head.asDigit)
    val counts = digits.groupBy(identity).view.mapValues(_.length.toLong)
    assert(got.keySet == counts.keySet)
    val nTot = digits.length.toLong
    got.foreach { case (d, (n, obs, exp, chi)) =>
      assert(n == counts(d), s"digit $d count")
      assert(obs == round6(n.toDouble / nTot.toDouble))
      val e = math.log10(1.0 + 1.0 / d.toDouble)
      assert(exp == round6(e))
      assert(chi == round6((n.toDouble - nTot.toDouble * e) *
        (n.toDouble - nTot.toDouble * e) / (nTot.toDouble * e)), s"digit $d")
    }
  }

  test("pareto: exact ABC recompute, classes partition the catalog") {
    val got = Relational.paretoClasses(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .collect().map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1) * (1.0 - r.getDouble(2)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)))
    val perPart = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (k, rev) => (-rev, k) }
    val total = perPart.map(_._2).sum
    var cum = BigDecimal(0)
    val classed = perPart.map { case (_, rev) =>
      cum += rev
      val share = cum.toDouble / total.toDouble
      (if (share <= 0.80) "A" else if (share <= 0.95) "B" else "C", rev)
    }
    val want = classed.groupBy(_._1).view.mapValues { g =>
      (g.length.toLong, round6(g.map(_._2).sum.toDouble),
        round6(g.map(_._2).sum.toDouble / total.toDouble))
    }.toMap
    assert(got == want)
    assert(got.values.map(_._1).sum == perPart.length.toLong)
  }

  test("collocations: exact windowed-pmi recompute, top-25") {
    val got = TextAnalysis.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val docs = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty).toSeq)
    val pairs = docs.flatMap { ws =>
      for (i <- ws.indices; k <- 1 to 3 if i + k < ws.length) yield {
        val (a, b) = (ws(i), ws(i + k))
        if (a <= b) (a, b) else (b, a)
      }
    }
    val nAb = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nP = pairs.length.toLong
    val uni = docs.flatten.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val nT = docs.map(_.length.toLong).sum
    val want = nAb.toSeq.filter(_._2 >= 5L).map { case ((a, b), n) =>
      val pmi = round6(math.log((n.toDouble / nP.toDouble) /
        ((uni(a).toDouble / nT.toDouble) * (uni(b).toDouble / nT.toDouble))))
      (a, b, n, pmi)
    }.sortBy(t => (-t._4, t._1, t._2)).take(25)
    assert(got == want)
  }

  test("psi: exact baseline-decile recompute, baseline self-bins ~uniform") {
    val got = graft.ext.Profile.psi(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), if (r.isNullAt(5)) Double.NaN else r.getDouble(5))))
      .toMap
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1)))
    val cut = java.time.LocalDate.parse("1998-01-01")
    val base = ords.filter(_._1.isBefore(cut)).map(_._2)
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val h = (s.length - 1) * p; val i = h.toInt
      if (i + 1 < s.length) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
    }
    val bounds = (1 to 9).map(i => pct(base.toSeq, i / 10.0))
    def bin(x: Double): Int = 1 + bounds.count(x > _)
    val cells = ords.groupBy(o => bin(o._2)).view.mapValues { g =>
      (g.count(_._1.isBefore(cut)).toLong,
        g.count(!_._1.isBefore(cut)).toLong) }.toMap
    assert(got.keySet == cells.keySet)
    val bTot = cells.values.map(_._1).sum
    val cTot = cells.values.map(_._2).sum
    got.foreach { case (b, (bn, cn, bf, cf, contrib)) =>
      assert((bn, cn) == cells(b), s"bin $b counts")
      assert(bf == round6(bn.toDouble / bTot.toDouble))
      assert(cf == round6(cn.toDouble / cTot.toDouble))
      if (bn > 0 && cn > 0) {
        val bfr = bn.toDouble / bTot.toDouble
        val cfr = cn.toDouble / cTot.toDouble
        assert(contrib == round6((cfr - bfr) * math.log(cfr / bfr)), s"bin $b")
      } else assert(contrib.isNaN)
      // baseline self-binned by its own deciles: ~10% per bin
      assert(math.abs(bn.toDouble / bTot.toDouble - 0.1) < 0.02, s"bin $b")
    }
  }

  test("auc: rank formula matches brute-force pair counting") {
    val r = Relational.aucConversion(spark, sf).collect().head
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"),
        col("value")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val perUser = ev.groupBy(_._1).map { case (_, g) =>
      val first = g.map(_._2).min
      val purch = g.filter(_._3 == "purchase").map(_._2)
      (g.map(e => d6(e._4)).sum.toDouble,
        purch.nonEmpty && purch.min - first <= 86400000000L)
    }.toSeq
    val pos = perUser.filter(_._2).map(_._1)
    val neg = perUser.filterNot(_._2).map(_._1)
    assert(r.getLong(0) == pos.length.toLong)
    assert(r.getLong(1) == neg.length.toLong)
    // rank-sum replication (exact)
    val sorted = perUser.map(_._1).sorted
    val minRank = sorted.zipWithIndex.groupBy(_._1).view
      .mapValues(_.map(_._2).min + 1).toMap
    val ties = sorted.groupBy(identity).view.mapValues(_.length).toMap
    val r2sum = pos.map(s => 2L * minRank(s) + ties(s) - 1L).sum
    val np = pos.length.toDouble
    val want = round6((r2sum.toDouble / 2.0 - np * (np + 1.0) / 2.0)
      / (np * neg.length.toDouble))
    assert(r.getDouble(2) == want)
    // independent brute-force pair count (rational identity)
    val wins = (for (p <- pos; n <- neg) yield
      (if (p > n) 2L else if (p == n) 1L else 0L)).sum
    val brute = wins.toDouble / (2.0 * pos.length * neg.length)
    // reported AUC is round-6; the identity holds within that rounding
    assert(math.abs(r.getDouble(2) - brute) <= 5.1e-7)
  }

  test("expectations: exact violation recompute, some rules violate") {
    val got = graft.ext.Profile.expectations(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_discount"), col("l_tax"),
        col("l_extendedprice"), col("l_shipdate").cast("date"),
        col("l_returnflag")).collect()
    val n = li.length.toLong
    val checks: Map[String, org.apache.spark.sql.Row => Boolean] = Map(
      "quantity_positive" -> (r => r.getDouble(0) > 0.0),
      "discount_range" -> (r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 0.1),
      "tax_below_6pct" -> (r => r.getDouble(2) <= 0.06),
      "price_positive" -> (r => r.getDouble(3) > 0.0),
      "shipdate_before_2001" -> (r => r.getDate(4).toLocalDate
        .isBefore(java.time.LocalDate.parse("2001-01-01"))),
      "returnflag_enum" -> (r => Set("A", "N", "R")(r.getString(5))))
    assert(got.keySet == checks.keySet)
    checks.foreach { case (name, ok) =>
      val viol = li.count(r => !ok(r)).toLong
      assert(got(name) == ((n, viol,
        round6(viol.toDouble / n.toDouble))), s"rule $name")
    }
    assert(got.values.exists(_._2 > 0L), "at least one rule violates")
  }

  test("gains table: exact decile recompute, capture reaches 1") {
    val got = Relational.gainsTable(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"),
        col("value")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val perUser = ev.groupBy(_._1).map { case (uid, g) =>
      val first = g.map(_._2).min
      val purch = g.filter(_._3 == "purchase").map(_._2)
      (uid, g.map(e => d6(e._4)).sum.toDouble,
        purch.nonEmpty && purch.min - first <= 86400000000L)
    }.toSeq.sortBy(u => (-u._2, u._1))
    val n = perUser.length
    val base = n / 10; val rem = n % 10
    val deciled = perUser.zipWithIndex.map { case (u, i) =>
      // ntile: first `rem` tiles get base+1 rows
      val tile = if (i < rem * (base + 1)) i / (base + 1) + 1
        else rem + (i - rem * (base + 1)) / base + 1
      (tile, u._3)
    }
    val want = deciled.groupBy(_._1).view.mapValues(g =>
      (g.length.toLong, g.count(_._2).toLong)).toMap
    val allConv = want.values.map(_._2).sum
    val allUsers = want.values.map(_._1).sum
    assert(got.keySet == want.keySet)
    var cum = 0L
    (1 to 10).foreach { d =>
      val (nu, nc) = want(d)
      cum += nc
      val (gnu, gnc, rate, lift, cap) = got(d)
      assert((gnu, gnc) == ((nu, nc)), s"decile $d counts")
      assert(rate == round6(nc.toDouble / nu.toDouble))
      assert(lift == round6((nc.toDouble / nu.toDouble)
        / (allConv.toDouble / allUsers.toDouble)))
      assert(cap == round6(cum.toDouble / allConv.toDouble))
    }
    assert(got(10)._5 == 1.0, "full capture at decile 10")
  }

  test("near constant: exact mode recompute per column") {
    val got = graft.ext.Profile.nearConstant(spark, sf).collect()
      .map(r => (r.getString(0), (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderstatus"), col("o_orderpriority"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate").cast("date")).collect()
    val colVals: Map[String, Seq[String]] = Map(
      "o_orderstatus" -> ords.map(_.getString(0)).toSeq,
      "o_orderpriority" -> ords.map(_.getString(1)).toSeq,
      "o_custkey" -> ords.map(_.getLong(2).toString).toSeq,
      "o_totalprice" -> ords.map(r => BigDecimal(r.getDouble(3))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.toPlainString).toSeq,
      "o_orderdate" -> ords.map(_.getDate(4).toLocalDate.toString).toSeq)
    assert(got.keySet == colVals.keySet)
    colVals.foreach { case (name, vals) =>
      val counts = vals.groupBy(identity).view.mapValues(_.length.toLong)
      val (mv, mn) = counts.toSeq.sortBy { case (v, c) => (-c, v) }.head
      val share = mn.toDouble / vals.length.toDouble
      assert(got(name) == ((mv, mn, vals.length.toLong,
        round6(share), share >= 0.95)), s"column $name")
    }
  }

  test("lexical richness: exact per-source vocabulary recompute") {
    val got = TextAnalysis.lexicalRichness(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    val toks = graft.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val bySrc = toks.groupBy(_._1)
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, g) =>
      val counts = g.map(_._2).groupBy(identity).view.mapValues(_.length)
      val nTok = g.length.toLong
      val nTyp = counts.size.toLong
      val hapax = counts.values.count(_ == 1).toLong
      val dis = counts.values.count(_ == 2).toLong
      assert(got(src) == ((nTok, nTyp, hapax, dis,
        round6(nTyp.toDouble / nTok.toDouble),
        round6(hapax.toDouble / nTyp.toDouble))), s"source $src")
    }
  }

  test("cusum: exact sequential-fold recompute with first-peak argmax") {
    val r = Relational.cusumChangepoint(spark, sf).collect().head
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect().map(x => (x.getDate(0).toLocalDate, x.getDouble(1)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val daily = ords.groupBy(_._1).view
      .mapValues(g => g.map(o => d6(o._2)).sum.toDouble).toMap
    val lo = daily.keys.minBy(_.toEpochDay)
    val hi = daily.keys.maxBy(_.toEpochDay)
    val days = Iterator.iterate(lo)(_.plusDays(1))
      .takeWhile(!_.isAfter(hi)).toSeq
    val xs = days.map(d => daily.getOrElse(d, 0.0))
    val mu = xs.map(x => d6(x)).sum.toDouble / days.length.toDouble
    var cu = 0.0; var cd = 0.0
    var maxu = -1.0; var maxd = -1.0; var au = 0; var ad = 0
    xs.zipWithIndex.foreach { case (x, i) =>
      cu = math.max(0.0, cu + (x - mu))
      cd = math.max(0.0, cd + (mu - x))
      if (cu > maxu) { maxu = cu; au = i }
      if (cd > maxd) { maxd = cd; ad = i }
    }
    assert(r.getLong(0) == days.length.toLong)
    assert(r.getDouble(1) == round6(mu))
    assert(r.getDouble(2) == round6(maxu))
    assert(r.getDate(3).toLocalDate == days(au), "first up-peak day")
    assert(r.getDouble(4) == round6(maxd))
    assert(r.getDate(5).toLocalDate == days(ad), "first down-peak day")
  }

  private def dailyFilled(): Seq[(java.time.LocalDate, Double)] = {
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect().map(x => (x.getDate(0).toLocalDate, x.getDouble(1)))
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val daily = ords.groupBy(_._1).view
      .mapValues(g => g.map(o => d6(o._2)).sum.toDouble).toMap
    val lo = daily.keys.minBy(_.toEpochDay)
    val hi = daily.keys.maxBy(_.toEpochDay)
    Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi))
      .map(d => (d, daily.getOrElse(d, 0.0))).toSeq
  }

  test("welch t-test: exact surrogate-moment recompute") {
    val r = Relational.welchTTest(spark, sf).collect().head
    def sur(x: Double): Long = BigDecimal(x * 1000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val xs = dailyFilled().map { case (d, x) =>
      (d.getDayOfWeek == java.time.DayOfWeek.SATURDAY ||
        d.getDayOfWeek == java.time.DayOfWeek.SUNDAY, sur(x)) }
    def stats(g: Seq[Long]): (Long, Double, Double) = {
      val n = g.length.toLong
      val m = (g.sum.toDouble / 1e3) / n.toDouble
      val q = g.map(x => BigInt(x) * BigInt(x)).sum.toDouble
      val v = (q / 1e6 - n.toDouble * m * m) / (n.toDouble - 1.0)
      (n, m, v / n.toDouble)
    }
    val (n0, m0, se0) = stats(xs.filterNot(_._1).map(_._2))
    val (n1, m1, se1) = stats(xs.filter(_._1).map(_._2))
    assert((r.getLong(0), r.getLong(1)) == ((n0, n1)))
    assert(r.getDouble(2) == round6(m0) && r.getDouble(3) == round6(m1))
    assert(r.getDouble(4) == round6((m1 - m0) / math.sqrt(se1 + se0)))
    assert(r.getDouble(5) == round6((se1 + se0) * (se1 + se0) /
      (se1 * se1 / (n1.toDouble - 1.0) + se0 * se0 / (n0.toDouble - 1.0))))
  }

  test("acf: exact surrogate recompute at all 14 lags") {
    val got = Relational.acf(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(got.keySet == (1 to 14).toSet)
    val xs = dailyFilled().map(_._2)
    def d6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val mu = xs.map(d6).sum.toDouble / xs.length.toDouble
    val di = xs.map(x => BigDecimal((x - mu) * 1000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val den = di.map(d => BigInt(d) * BigInt(d)).sum.toDouble
    (1 to 14).foreach { k =>
      val num = di.drop(k).zip(di.dropRight(k))
        .map { case (a, b) => BigInt(a) * BigInt(b) }.sum.toDouble
      assert(got(k) == round6(num / den), s"lag $k")
    }
  }

  test("column entropy: exact surrogate recompute per column") {
    val got = graft.ext.Profile.columnEntropy(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    def check(name: String, vals: Seq[String]): Unit = {
      val counts = vals.groupBy(identity).view.mapValues(_.length.toLong)
      val n = vals.length.toLong
      val hsur = counts.values.map { c =>
        val p = c.toDouble / n.toDouble
        BigDecimal(p * math.log(p) * 1e12)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      val h = round6(-(hsur.toDouble / 1e12))
      val k = counts.size.toLong
      val norm = if (k > 1)
        round6(-(hsur.toDouble / 1e12) / math.log(k.toDouble)) else 0.0
      assert(got(name) == ((n, k, h, norm)), s"column $name")
    }
    check("orders.o_orderpriority", graft.Tables.orders(spark, sf)
      .select(col("o_orderpriority")).collect().map(_.getString(0)).toSeq)
    check("lineitem.l_returnflag", graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag")).collect().map(_.getString(0)).toSeq)
    check("documents.lang", graft.Tables.documents(spark, sf)
      .select(col("lang")).collect().map(_.getString(0)).toSeq)
    assert(got.size == 6)
  }

  test("corr matrix: exact surrogate recompute, all 6 pairs") {
    val got = graft.ext.Profile.corrMatrix(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax")).collect()
    def sur(x: Double): Long = BigDecimal(x * 100.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val data: Map[String, Seq[Long]] = Map(
      "l_quantity" -> li.map(r => sur(r.getDouble(0))).toSeq,
      "l_extendedprice" -> li.map(r => sur(r.getDouble(1))).toSeq,
      "l_discount" -> li.map(r => sur(r.getDouble(2))).toSeq,
      "l_tax" -> li.map(r => sur(r.getDouble(3))).toSeq)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for { a <- cols; b <- cols if a < b } yield (a, b)
    assert(got.keySet == pairs.toSet)
    val n = li.length.toDouble
    pairs.foreach { case (a, b) =>
      val (xa, xb) = (data(a), data(b))
      val sa = xa.sum.toDouble; val sb = xb.sum.toDouble
      val qa = xa.map(x => BigInt(x) * BigInt(x)).sum.toDouble
      val qb = xb.map(x => BigInt(x) * BigInt(x)).sum.toDouble
      val p = xa.zip(xb).map { case (x, y) => BigInt(x) * BigInt(y) }
        .sum.toDouble
      val r = (n * p - sa * sb) /
        (math.sqrt(n * qa - sa * sa) * math.sqrt(n * qb - sb * sb))
      assert(got((a, b)) == ((li.length.toLong, round6(r))), s"pair $a/$b")
    }
  }

  test("spearman: exact rank-surrogate recompute") {
    val r = graft.ext.Profile.spearman(spark, sf).collect().head
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_quantity"), col("l_extendedprice")).collect()
      .map(x => (x.getDouble(0), x.getDouble(1)))
    def r2(xs: Seq[Double]): Seq[Long] = {
      val sorted = xs.sorted
      val minRank = sorted.zipWithIndex.groupBy(_._1).view
        .mapValues(_.map(_._2).min + 1).toMap
      val ties = sorted.groupBy(identity).view.mapValues(_.length).toMap
      xs.map(x => 2L * minRank(x) + ties(x) - 1L)
    }
    val ra = r2(li.map(_._1).toSeq); val rb = r2(li.map(_._2).toSeq)
    val n = li.length.toDouble
    val sa = ra.sum.toDouble; val sb = rb.sum.toDouble
    val qa = ra.map(x => BigInt(x) * BigInt(x)).sum.toDouble
    val qb = rb.map(x => BigInt(x) * BigInt(x)).sum.toDouble
    val p = ra.zip(rb).map { case (x, y) => BigInt(x) * BigInt(y) }
      .sum.toDouble
    val want = round6((n * p - sa * sb) /
      (math.sqrt(n * qa - sa * sa) * math.sqrt(n * qb - sb * sb)))
    assert(r.getLong(0) == li.length.toLong)
    assert(r.getDouble(1) == want)
    // synthetic price is independent of quantity: rho ~ 0
    assert(math.abs(r.getDouble(1)) < 0.1)
  }

  test("user cf: exact capped-pair recompute with md5 rank") {
    val got = Relational.userCf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSet
    val cp = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nParts = cp.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val capped = cp.groupBy(_._2).toSeq.flatMap { case (part, g) =>
      g.map(_._1).sortBy(c => (md5hex(s"$part:$c"), c)).take(50)
        .map(c => (part, c))
    }
    val pairCnt = capped.groupBy(_._1).values.flatMap { g =>
      val cs = g.map(_._2).sorted
      for (i <- cs.indices; j <- cs.indices if i < j) yield (cs(i), cs(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = pairCnt.toSeq.flatMap { case ((a, b), n) =>
      Seq((a, b, n), (b, a, n)) }
      .groupBy(_._1).flatMap { case (a, g) =>
        g.map { case (_, b, n) => (a, b, n, round6(n.toDouble /
          math.sqrt(nParts(a).toDouble * nParts(b).toDouble))) }
          .sortBy(t => (-t._4, t._2)).take(5).zipWithIndex
          .map { case ((x, b, n, c), i) => (x, b, n, c, i + 1) }
      }.toSet
    assert(got == want)
  }

  test("seasonal-naive backtest: exact lag-7 MAPE recompute") {
    val r = Relational.seasonalNaiveBacktest(spark, sf).collect().head
    val xs = dailyFilled()
    val scored = xs.zipWithIndex.drop(7)
      .filter { case (_, i) => i >= xs.length - 28 }
      .map { case ((_, a), i) => (a, xs(i - 7)._2) }
    val nScored = scored.count(_._1 > 0.0).toLong
    val apeSur = scored.filter(_._1 > 0.0).map { case (a, p) =>
      BigDecimal(math.abs(a - p) / a * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }.sum
    assert(r.getLong(0) == scored.length.toLong)
    assert(r.getLong(1) == nScored)
    assert(r.getDouble(2) ==
      round6(apeSur.toDouble / 1e6 / nScored.toDouble))
  }

  test("threshold sweep: monotone, totals add up, agrees with verify(0.7)") {
    val rows = Dedup.thresholdSweep(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      (0 to 9).map(_ / 10.0))
    // cumulative consistency: n_kept(t) = sum of buckets >= t
    val total = rows.map(_._2).sum
    assert(rows.head._3 == total)
    rows.sliding(2).foreach { case Array((t1, n1, k1), (_, _, k2)) =>
      assert(k1 - k2 == n1, s"cum step at $t1")
    }
    // strictest cross-check: pairs kept at >= 0.7 must equal the
    // q43 verify pipeline's output count (same candidates, same math)
    val kept07 = rows.find(_._1 == 0.7).get._3
    assert(kept07 == Dedup.jaccardVerifyPortable(spark, sf).count())
    // monotone nonincreasing
    assert(rows.map(_._3).toSeq == rows.map(_._3).toSeq.sorted.reverse)
  }

  test("kmv accuracy: exact truth side, small-domain estimates are exact") {
    val got = Relational.kmvAccuracy(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exact = ev.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.length.toLong).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (t, (ex, est, err)) =>
      assert(ex == exact(t), s"type $t exact")
      assert(err == round6(math.abs(est - ex.toDouble) / ex.toDouble))
      // sf0.001 has < 64 distinct users per type: KMV is exact there
      if (ex < 64) assert(est == ex.toDouble, s"type $t small-domain")
    }
  }

  test("cms accuracy: estimates never underestimate, exact truth side") {
    val got = graft.ext.Profile.cmsAccuracy(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.length == 10)
    val toks = graft.Tables.documents(spark, sf)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
    val exact = toks.groupBy(identity).view.mapValues(_.length.toLong)
    got.foreach { case (tok, ex, est, over, rel) =>
      assert(ex == exact(tok), s"$tok exact")
      assert(est >= ex, s"$tok CMS one-sidedness")
      assert(over == est - ex)
      assert(rel == round6((est - ex).toDouble / ex.toDouble))
    }
  }

  test("mutual info: exact surrogate recompute, MI within [0, min H]") {
    val r = graft.ext.Profile.mutualInformation(spark, sf).collect().head
    val cells = graft.Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_orderstatus")).collect()
      .map(x => (x.getString(0), x.getString(1)))
    val n = cells.length.toDouble
    def sur(x: Double): Long = BigDecimal(x * 1e12)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val nxy = cells.groupBy(identity).view.mapValues(_.length).toMap
    val nx = cells.groupBy(_._1).view.mapValues(_.length).toMap
    val ny = cells.groupBy(_._2).view.mapValues(_.length).toMap
    def h(m: Map[String, Int]): Double =
      -(m.values.map(c => sur((c / n) * math.log(c / n))).sum.toDouble / 1e12)
    val mi = nxy.map { case ((a, b), c) =>
      val pxy = c / n
      sur(pxy * math.log(pxy / ((nx(a) / n) * (ny(b) / n))))
    }.sum.toDouble / 1e12
    assert(r.getLong(0) == cells.length.toLong)
    assert(r.getDouble(1) == round6(mi))
    assert(r.getDouble(2) == round6(h(nx.toMap)))
    assert(r.getDouble(3) == round6(h(ny.toMap)))
    assert(r.getDouble(4) ==
      round6(mi / math.min(h(nx.toMap), h(ny.toMap))))
    assert(r.getDouble(1) >= -1e-9 &&
      r.getDouble(1) <= math.min(r.getDouble(2), r.getDouble(3)) + 1e-9)
  }

  test("ess: exact per-source closed-form recompute, ess <= n") {
    val r = graft.ext.Sampling.effectiveSampleSize(spark, sf)
      .collect().head
    val srcs = graft.Tables.documents(spark, sf)
      .select(col("source")).collect().map(_.getString(0))
    val counts = srcs.groupBy(identity).view.mapValues(_.length).toMap
    val n = srcs.length.toDouble
    def s9(x: Double): Long = BigDecimal(x * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def s12(x: Double): Long = BigDecimal(x * 1e12)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val sa = counts.values.map(c => s9(math.sqrt(c / n))).sum
    val sb = counts.values.map { c =>
      val w = math.sqrt(c / n); s12(w * w / c.toDouble) }.sum
    val sw = sa.toDouble / 1e9; val sww = sb.toDouble / 1e12
    assert(r.getLong(0) == srcs.length.toLong)
    assert(r.getLong(1) == counts.size.toLong)
    assert(r.getDouble(2) == round6(sw * sw / sww))
    assert(r.getDouble(3) == round6(sw * sw / sww / n))
    assert(r.getDouble(2) <= n + 1e-6 &&
      r.getDouble(2) >= counts.size.toDouble - 1e-6)
  }

  test("dedup impact: conserves totals and matches the cluster table") {
    val rows = Dedup.dedupImpact(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").count(_.nonEmpty).toLong))
    assert(rows.map(_._1).toSet == docs.map(_._2).toSet)
    assert(rows.map(_._2).sum == docs.length.toLong)
    assert(rows.map(_._4).sum == docs.map(_._3).sum)
    val removedIds = Dedup.lshDedupClustersPortable(spark, sf).collect()
      .filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet
    assert(rows.map(_._3).sum == removedIds.size.toLong)
    rows.foreach { case (src, _, _, tt, tr, pct) =>
      val wantTr = docs.filter(d => d._2 == src && removedIds(d._1))
        .map(_._3).sum
      assert(tr == wantTr, s"source $src removed tokens")
      assert(pct == round6(tr.toDouble / tt.toDouble))
    }
  }
}
