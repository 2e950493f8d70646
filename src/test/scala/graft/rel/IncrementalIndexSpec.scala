package graft.rel

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.Tables
import graft.ext.{Dedup, Linkage}

/** r13 item 1: incremental maintenance for the heavy candidate-index
  * builds. Every appendable index must satisfy grown-by-appends ==
  * full-rebuild, and every incremental pipeline must land on the
  * one-shot result (the q322 one-oracle-two-disciplines recipe,
  * applied upstream of CC). */
class IncrementalIndexSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()
  val sf = TestSpark.sf

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  test("LSH band-key index: grown by appends equals the full build, row for row") {
    val docs = Tables.documents(spark, sf)
    val full = tmpDir("lsh_full") + "/idx"
    val grown = tmpDir("lsh_grown") + "/idx"
    Dedup.writeLshIndex(spark, sf, full)
    // batch 0 seeds the store; batches 1 and 2 append
    (0 until 3).foreach { b =>
      Dedup.appendToLshIndex(
        docs.filter(pmod(col("doc_id"), lit(3L)) === b), grown)
    }
    val f = spark.read.parquet(full)
      .select("doc_id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val g = spark.read.parquet(grown)
      .select("doc_id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(g == f && f.nonEmpty)
  }

  test("shingle store: grown by appends equals the full build") {
    val docs = Tables.documents(spark, sf)
    val full = tmpDir("sh_full") + "/store"
    val grown = tmpDir("sh_grown") + "/store"
    Dedup.writeShingleStore(spark, sf, full)
    (0 until 3).foreach { b =>
      Dedup.appendToShingleStore(
        docs.filter(pmod(col("doc_id"), lit(3L)) === b), grown)
    }
    def slurp(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), array_sort(col("sh")).as("sh")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1).toSeq
    val f = slurp(full)
    assert(slurp(grown) == f && f.nonEmpty)
  }

  test("deletion-key index: grown by appends equals the full build") {
    val recs = Tables.customer(spark, sf)
    val full = tmpDir("dk_full") + "/idx"
    val grown = tmpDir("dk_grown") + "/idx"
    Linkage.writeDeletionKeyIndex(spark, sf, full)
    (0 until 3).foreach { b =>
      Linkage.appendToDeletionKeyIndex(
        recs.filter(pmod(col("c_custkey"), lit(3L)) === b), grown)
    }
    def slurp(p: String) = spark.read.parquet(p)
      .select("c_custkey", "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val f = slurp(full)
    assert(slurp(grown) == f && f.nonEmpty)
  }

  test("per-batch append candidates union to the one-shot LSH candidate set") {
    val sig = Dedup.signaturesPortable(spark, sf, k = 3, perms = 32)
      .localCheckpoint(eager = true)
    val oneShot = Dedup.lshCandidatePairs(sig, bands = 8, rowsPerBand = 4,
        maxBucket = 256, compressBuckets = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var store: org.apache.spark.sql.DataFrame = null
    var union = Set.empty[(Long, Long)]
    (0 until 3).foreach { b =>
      val nk = Dedup.lshBandKeys(
        sig.filter(pmod(col("doc_id"), lit(3L)) === b),
        bands = 8, rowsPerBand = 4, compressBuckets = false)
        .localCheckpoint(eager = true)
      store = if (store == null) nk
        else store.unionByName(nk).localCheckpoint(eager = true)
      union ++= Dedup.lshAppendCandidates(nk, store, maxBucket = 256)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(union == oneShot && oneShot.nonEmpty)
  }

  test("lshAppendCandidates fails fast on an oversized touched bucket") {
    import spark.implicits._
    // 5 docs all sharing one (band, bucket): cap 4 must throw
    val keys = (1L to 5L).map(i => (i, 0, "B")).toDF("doc_id", "band", "bucket")
    val e = intercept[IllegalArgumentException] {
      Dedup.lshAppendCandidates(keys, keys, maxBucket = 4).collect()
    }
    assert(e.getMessage.contains("maxBucket"))
    // and an untouched oversized bucket elsewhere must NOT trip the
    // guard for a batch that never joins it
    val quiet = (1L to 5L).map(i => (i, 1, "OLD")).toDF("doc_id", "band", "bucket")
    val nk = Seq((9L, 0, "X")).toDF("doc_id", "band", "bucket")
    assert(Dedup.lshAppendCandidates(nk,
      quiet.unionByName(nk), maxBucket = 4).count() == 0L)
  }

  test("simhashAppendValuePairs fails fast on an oversized touched bucket") {
    import spark.implicits._
    // 5 distinct values sharing one (band, bucket): cap 4 must throw
    val vkeys = (1L to 5L).map(v => (v, 0, "B")).toDF("v", "band", "bucket")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashAppendValuePairs(vkeys, vkeys, maxBucket = 4).collect()
    }
    assert(e.getMessage.contains("maxBucket"))
    // an untouched oversized bucket must NOT trip the guard: the new
    // value pairs only with itself (same value, hamming 0)
    val quiet = (1L to 5L).map(v => (v, 1, "OLD")).toDF("v", "band", "bucket")
    val nv = Seq((9L, 0, "X")).toDF("v", "band", "bucket")
    assert(Dedup.simhashAppendValuePairs(nv, quiet.unionByName(nv),
        maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((9L, 9L, 0)))
  }

  test("incremental entity resolution equals one-shot q184") {
    val one = Linkage.entityResolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val inc = Linkage.entityResolutionIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(inc == one && one.nonEmpty)
  }

  test("simhash store: grown by appends equals the full build") {
    val docs = Tables.documents(spark, sf)
    val full = tmpDir("sim_full") + "/store"
    val grown = tmpDir("sim_grown") + "/store"
    Dedup.writeSimhashStore(spark, sf, full)
    (0 until 3).foreach { b =>
      Dedup.appendToSimhashStore(
        docs.filter(pmod(col("doc_id"), lit(3L)) === b), grown)
    }
    def slurp(p: String) = spark.read.parquet(p)
      .select("doc_id", "sh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val f = slurp(full)
    assert(slurp(grown) == f && f.nonEmpty)
  }

  test("incremental simhash near-dup equals one-shot q46 (pairs disjoint per batch)") {
    val one = Dedup.simhashNearDupPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val incRows = Dedup.simhashNearDupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // disjoint-by-construction: the union must already be duplicate-free
    assert(incRows.length == incRows.distinct.length)
    assert(incRows.sorted.toSeq == one && one.nonEmpty)
  }

  test("incremental LSH dedup clustering equals one-shot q59") {
    val one = Dedup.lshDedupClustersPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val inc = Dedup.lshDedupClustersIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(inc == one && one.nonEmpty)
  }

  // ---------------------------------------------------------------
  // r14 item 3: DELETION. ccDecrement is ccIncrement's inverse; the
  // lifecycle queries replay add/delete/add against the one-shot
  // oracle over the shrunk corpus.
  // ---------------------------------------------------------------

  test("ccDecrement: splits, pass-through, singletons, and resurrection") {
    import spark.implicits._
    // component {1,2,3} is a CHAIN 1-2-3; {10,11} a pair; {20,21} a
    // pair that stays untouched
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val prev = Dedup.connectedComponents(edges)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // removing the chain's middle node SPLITS {1,2,3} into two
    // singletons; removing 11 leaves 10 a singleton; {20,21} must
    // pass through untouched
    val afterDel = Dedup.ccDecrement(prev, edges,
      Seq(2L, 11L).toDF("id"))
    assert(m(afterDel) == Map(1L -> 1L, 3L -> 3L, 10L -> 10L,
      20L -> 20L, 21L -> 20L))
    // label invariant holds, so a later ccIncrement composes: a new
    // edge RESURRECTS the singleton 10 into a pair with 12
    val after = Dedup.ccIncrement(afterDel, Seq((12L, 10L))
      .toDF("doc_a", "doc_b"), validatePrev = true)
    assert(m(after) == Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // removing an id absent from prev is a no-op
    assert(m(Dedup.ccDecrement(prev, edges, Seq(99L).toDF("id")))
      == m(prev))
    // removing a whole component erases it
    assert(m(Dedup.ccDecrement(prev, edges, Seq(20L, 21L).toDF("id")))
      == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on an empty edge frame: one probe job under auto, the distributed loop at driverGridMax = 0") {
    // two partitions with no rows: collecting it runs a job (a frame
    // with no partitions would not)
    val empty = spark.range(0, 4, 1, 2).filter(col("id") < 0L)
      .select(col("id").as("doc_a"), col("id").as("doc_b"))
    val (auto, autoJobs) = TestSpark.countJobs(
      Dedup.connectedComponents(empty).collect())
    assert(auto.isEmpty && autoJobs == 1)
    val (loop, loopJobs) = TestSpark.countJobs(
      Dedup.connectedComponents(empty, driverGridMax = 0))
    // the eager truncation, the initial witness and one round's witness
    assert(loopJobs >= 3)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    assert(shape(Dedup.connectedComponents(empty)) == shape(loop))
  }

  test("ccDecrement with removed ids absent from prev returns prev's rows after one job") {
    import spark.implicits._
    val prev = Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"))
      .localCheckpoint(eager = true)
    // the removed ids are a local relation (no job to collect); the
    // touched-label lookup over prev finds none and stops there
    val (out, jobs) = TestSpark.countJobs(Dedup.ccDecrement(prev,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), Seq(5L, 99L).toDF("id")))
    assert(jobs == 1)
    assert(out.collect().toSeq.sortBy(_.getLong(0)) ==
      prev.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("entity resolution with deletes equals one-shot q184 over the shrunk corpus") {
    // the oracle twin: same predicate the q327 registration uses
    val removedPred = pmod(col("c_custkey"), lit(7L)) === 3L &&
      pmod(col("c_custkey"), lit(3L)) =!= 2L
    val shrunk = Tables.customer(spark, sf).filter(!removedPred)
    val full = Linkage.entityResolution(spark, sf)
    // one-shot over the shrunk corpus, via the same blocking pipeline
    // on a filtered view (deletion keys don't depend on the corpus,
    // so filtering inputs == one-shot on the shrunk table)
    val oneKeys = Linkage.deletionKeyTable(shrunk
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))).localCheckpoint(eager = true)
    val oneEdges = Linkage.erAppendEdges(oneKeys, oneKeys)
    val one = Linkage.entityOutput(Dedup.connectedComponents(oneEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val lifecycle = Linkage.entityResolutionWithDeletes(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(lifecycle == one && one.nonEmpty)
    // the deletes really removed something (non-vacuous)
    assert(lifecycle != full.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
  }

  test("LSH clusters with deletes equals one-shot q59 over the shrunk corpus") {
    val lifecycle = Dedup.lshDedupClustersWithDeletes(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // one-shot over the shrunk corpus: shingle + band + verify + CC
    // on the filtered documents (signatures are row-local, so a
    // filtered input IS the shrunk-corpus one-shot)
    val shrunkSh = Dedup.shingleRowsFor(
      Tables.documents(spark, sf).filter(
        !(pmod(col("doc_id"), lit(7L)) === 3L &&
          pmod(col("doc_id"), lit(3L)) =!= 2L)), 3)
      .localCheckpoint(eager = true)
    val keys = Dedup.lshBandKeys(
      shrunkSh.select(col("doc_id"),
        graft.functions.exprs.minhash_sig_portable(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4, compressBuckets = false)
    val edges = Dedup.verifyPairs(shrunkSh,
      Dedup.lshCandidatePairs(
        shrunkSh.select(col("doc_id"),
          graft.functions.exprs.minhash_sig_portable(col("sh"), 32)
            .as("sig")),
        bands = 8, rowsPerBand = 4, maxBucket = 256,
        compressBuckets = false), 0.7)
    val one = Dedup.connectedComponents(edges)
      .select(col("id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(lifecycle == one && one.nonEmpty)
  }

  test("entity resolution with re-adds equals one-shot q184 over the full corpus") {
    val one = Linkage.entityResolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val lifecycle = Linkage.entityResolutionWithReAdds(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(lifecycle == one && one.nonEmpty)
    // non-vacuous: some re-added record is in a cluster again
    val reAdded = lifecycle.map(_._1).filter(id => id % 7 == 3 && id % 3 != 2)
    assert(reAdded.nonEmpty)
  }

  test("LSH clusters with re-adds equals one-shot q59 over the full corpus") {
    val one = Dedup.lshDedupClustersPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val lifecycle = Dedup.lshDedupClustersWithReAdds(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(lifecycle == one && one.nonEmpty)
    val reAdded = lifecycle.map(_._1).filter(id => id % 7 == 3 && id % 3 != 2)
    assert(reAdded.nonEmpty)
  }

  test("simhash near-dup with deletes equals one-shot q46 over the shrunk corpus") {
    val lifecycle = Dedup.simhashNearDupWithDeletes(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // the per-batch pair sets stay disjoint through the delete
    assert(lifecycle.length == lifecycle.distinct.length)
    // one-shot over the shrunk corpus: signatures are row-local, so
    // q46's banding over the filtered documents IS the shrunk one-shot
    val shrunk = Tables.documents(spark, sf).filter(
      !(pmod(col("doc_id"), lit(7L)) === 3L &&
        pmod(col("doc_id"), lit(3L)) =!= 2L))
    val one = Dedup.simhashBandPairs(Dedup.simhashRowsPortable(shrunk),
        bands = 4, maxDist = 3, compressBuckets = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    assert(lifecycle.sorted.toSeq == one && one.nonEmpty)
    // the deletes really removed something (non-vacuous)
    assert(one != Dedup.simhashNearDupPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq)
  }

  // ---------------------------------------------------------------
  // r14 item 1: the standing indexes' probe reads are PB-PRUNED —
  // per-batch I/O tracks the batch's touched cells, not index
  // history. Each spec proves BOTH halves: the pruned plan carries a
  // pb PartitionFilter (I/O posture) and the pruned probe's output
  // equals the unpruned probe's (zero recall loss — pb is a function
  // of the probe key).
  // ---------------------------------------------------------------

  private def assertPbPruned(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*pb".r.findFirstIn(plan).isDefined,
      "pb predicate not in PartitionFilters:\n" + plan.take(2000))
  }

  test("LSH index probe: pb-pruned read, candidates equal the unpruned probe") {
    val docs = Tables.documents(spark, sf)
    val idx = tmpDir("lsh_pruned") + "/idx"
    Dedup.writeLshIndex(spark, sf, idx)
    // a SMALL batch (one modulo slice of 16) so the pruned read
    // provably touches a strict subset of the 64 pb cells
    val batch = docs.filter(pmod(col("doc_id"), lit(16L)) === 7L)
    val newKeys = Dedup.lshBandKeys(
      Dedup.shingleRowsFor(batch, 3).select(col("doc_id"),
        Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
    val pruned = Dedup.readLshIndexPruned(spark, idx, newKeys)
    assertPbPruned(pruned)
    // strict-pruning witness on a TINY batch (8 docs → ~64 band keys
    // can't cover all 64 pb cells): the mod-16 batch above is big
    // enough to touch every cell at this corpus size, so it proves
    // recall equality while this one proves the read actually shrinks
    val tinyKeys = Dedup.lshBandKeys(
      Dedup.shingleRowsFor(docs.filter(col("doc_id") < 8), 3)
        .select(col("doc_id"),
          Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
    assert(Dedup.readLshIndexPruned(spark, idx, tinyKeys)
      .select("pb").distinct().count() < 64)
    def cands(index: org.apache.spark.sql.DataFrame) =
      Dedup.lshAppendCandidates(newKeys, index, maxBucket = 256)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaPruned = cands(pruned)
    assert(viaPruned == cands(spark.read.parquet(idx)))
    assert(viaPruned.nonEmpty, "vacuous: batch produced no candidates")
  }

  test("deletion-key index probe: pb-pruned read, edges equal the unpruned probe") {
    val recs = Tables.customer(spark, sf)
    val idx = tmpDir("dk_pruned") + "/idx"
    Linkage.writeDeletionKeyIndex(spark, sf, idx)
    val batch = recs.filter(pmod(col("c_custkey"), lit(16L)) === 3L)
    val newKeys = Linkage.deletionKeyTable(batch)
      .localCheckpoint(eager = true)
    val pruned = Linkage.readDeletionKeyIndexPruned(spark, idx, newKeys)
    assertPbPruned(pruned)
    assert(pruned.count() < spark.read.parquet(idx).count())
    def edges(index: org.apache.spark.sql.DataFrame) =
      Linkage.erAppendEdges(newKeys, index)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaPruned = edges(pruned)
    assert(viaPruned == edges(spark.read.parquet(idx)))
    assert(viaPruned.nonEmpty, "vacuous: batch matched no edges")
  }

  test("shingle store verify: pb-pruned read equals the full-store verify") {
    val docs = Tables.documents(spark, sf)
    val store = tmpDir("sh_pruned") + "/store"
    Dedup.writeShingleStore(spark, sf, store)
    val idx = tmpDir("lsh_pruned2") + "/idx"
    Dedup.writeLshIndex(spark, sf, idx)
    val batch = docs.filter(pmod(col("doc_id"), lit(16L)) === 7L)
    val newKeys = Dedup.lshBandKeys(
      Dedup.shingleRowsFor(batch, 3).select(col("doc_id"),
        Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
    val cands = Dedup.lshAppendCandidates(newKeys,
        Dedup.readLshIndexPruned(spark, idx, newKeys), maxBucket = 256)
      .localCheckpoint(eager = true)
    val pruned = Dedup.readShingleStorePruned(spark, store, cands)
    assertPbPruned(pruned)
    def verify(sh: org.apache.spark.sql.DataFrame) =
      Dedup.verifyPairs(sh, cands, 0.7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val viaPruned = verify(pruned)
    assert(viaPruned == verify(spark.read.parquet(store)))
    assert(viaPruned.nonEmpty, "vacuous: no verified pairs in the batch")
  }

  test("compactPbStore: batch-accreted index compacts to one file per cell, probes unchanged") {
    val recs = Tables.customer(spark, sf)
    val idx = tmpDir("dk_compact") + "/idx"
    (0 until 5).foreach { b =>
      Linkage.appendToDeletionKeyIndexBatch(
        recs.filter(pmod(col("c_custkey"), lit(5L)) === b), idx, b)
    }
    val compacted = tmpDir("dk_compacted") + "/idx"
    val n = graft.sources.Bucketed.compactPbStore(spark, idx, compacted)
    assert(n == spark.read.parquet(idx).count())
    def files(p: String) = {
      val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
        spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      var c = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) c += 1
      }
      c
    }
    // 5 batch dirs × 64 cells × ≥1 file vs ≤ 64 files compacted
    assert(files(compacted) < files(idx))
    assert(files(compacted) <= 64)
    // probes through the compacted layout: same edges, still pruned
    val batch = recs.filter(pmod(col("c_custkey"), lit(16L)) === 3L)
    val newKeys = Linkage.deletionKeyTable(batch)
      .localCheckpoint(eager = true)
    def edges(p: String) = Linkage.erAppendEdges(newKeys,
        Linkage.readDeletionKeyIndexPruned(spark, p, newKeys))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(edges(compacted) == edges(idx) && edges(idx).nonEmpty)
  }

  test("batch-deterministic deletion-key append: a replay overwrites, never duplicates") {
    val recs = Tables.customer(spark, sf)
    val idx = tmpDir("dk_replay") + "/idx"
    (0 until 3).foreach { b =>
      Linkage.appendToDeletionKeyIndexBatch(
        recs.filter(pmod(col("c_custkey"), lit(3L)) === b), idx, b)
    }
    val before = spark.read.parquet(idx).count()
    // the retried-batch case: batch 1 runs again (crash between the
    // index write and the checkpoint commit) — same ingest_batch id,
    // so the write lands on the same directory with overwrite
    Linkage.appendToDeletionKeyIndexBatch(
      recs.filter(pmod(col("c_custkey"), lit(3L)) === 1L), idx, 1L)
    assert(spark.read.parquet(idx).count() == before)
    // and the grown index still equals a full build, key for key
    val full = tmpDir("dk_replay_full") + "/idx"
    Linkage.writeDeletionKeyIndex(spark, sf, full)
    def slurp(p: String) = spark.read.parquet(p)
      .select("c_custkey", "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(slurp(idx) == slurp(full))
  }

  // ---------------------------------------------------------------
  // r15: the standing bucket-count guard, the numPb re-layout
  // migration, and the tombstone-aware compactPbStore contract.
  // ---------------------------------------------------------------

  test("fused rank guard: one-pass erAppendEdges equals the two-pass reference, still fail-fasts") {
    val recs = Tables.customer(spark, sf)
    val nBatches = 3
    var keyPieces = Seq.empty[org.apache.spark.sql.DataFrame]
    for (b <- 0 until nBatches) {
      val newKeys = Linkage.deletionKeyTable(
        recs.filter(pmod(col("c_custkey"), lit(nBatches.toLong)) === b))
        .localCheckpoint(eager = true)
      keyPieces :+= newKeys
      val index = keyPieces.reduce(_ unionByName _)
      // the fused pass (rank + truncate-at-cap+1 + join off the same
      // partitioning) must emit EXACTLY the edges of the plain
      // reference join — the truncation is invisible below the cap
      val fused = Linkage.erAppendEdges(newKeys, index)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val a = newKeys.select(col("c_nationkey"), col("c_mktsegment"),
        col("k"), col("c_custkey").as("ca"), col("c_name").as("na"))
      val bb = index.select(col("c_nationkey"), col("c_mktsegment"),
        col("k"), col("c_custkey").as("cb"), col("c_name").as("nb"))
      val reference = a.join(bb, Seq("c_nationkey", "c_mktsegment", "k"))
        .filter(col("ca") =!= col("cb"))
        .filter(levenshtein(col("na"), col("nb")) <= 1)
        .select(least(col("ca"), col("cb")).as("doc_a"),
          greatest(col("ca"), col("cb")).as("doc_b"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(fused == reference)
      if (b == nBatches - 1) assert(fused.nonEmpty)
    }
    // fail-fast preserved: cap of 1 must throw on the gate corpus
    // (whose buckets exceed 1) BEFORE any quadratic join runs — and
    // the guard pass itself stays bounded (it materializes at most
    // cap+1 rows per bucket, so even a degenerate everyone-same-name
    // bucket costs O(buckets), not O(bucket²))
    val all = Linkage.deletionKeyTable(recs).localCheckpoint(eager = true)
    intercept[IllegalArgumentException] {
      Linkage.erAppendEdges(all, all, maxBucket = 1)
    }
    // same discipline on the LSH twin
    val docs = Tables.documents(spark, sf)
    val keys = Dedup.lshBandKeys(
      Dedup.shingleRowsFor(docs, 3).select(col("doc_id"),
        Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
    intercept[IllegalArgumentException] {
      Dedup.lshAppendCandidates(keys, keys, maxBucket = 1)
    }
  }

  // ---------------------------------------------------------------
  // Guards.witnessed, the one guard core of the three append paths:
  // its probe materializes the result's checkpoint, and a tripped
  // guard releases what the probe cached.
  // ---------------------------------------------------------------

  /** Each append core on a healthy input, and on one whose touched
    * bucket is over a cap of 1. */
  private def appendCores: Seq[(String, () => org.apache.spark.sql.DataFrame,
      () => org.apache.spark.sql.DataFrame)] = {
    val recKeys = Linkage.deletionKeyTable(Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))).localCheckpoint(eager = true)
    val bandKeys = Dedup.lshBandKeys(
      Dedup.shingleRowsFor(Tables.documents(spark, sf), 3).select(
        col("doc_id"), Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
    val valueKeys = Dedup.simhashValueKeys(
      Dedup.simhashRowsPortable(Tables.documents(spark, sf)))
      .localCheckpoint(eager = true)
    Seq(
      ("erAppendEdges", () => Linkage.erAppendEdges(recKeys, recKeys),
        () => Linkage.erAppendEdges(recKeys, recKeys, maxBucket = 1)),
      ("lshAppendCandidates",
        () => Dedup.lshAppendCandidates(bandKeys, bandKeys, maxBucket = 256),
        () => Dedup.lshAppendCandidates(bandKeys, bandKeys, maxBucket = 1)),
      ("simhashAppendValuePairs",
        () => Dedup.simhashAppendValuePairs(valueKeys, valueKeys),
        () => Dedup.simhashAppendValuePairs(valueKeys, valueKeys,
          maxBucket = 1)))
  }

  private def checkpointOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(fail("no checkpoint under the guarded frame"))

  test("Guards.witnessed: the probe materializes every partition of the result's checkpoint") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    appendCores.foreach { case (name, healthy, _) =>
      val out = healthy()
      val rdd = checkpointOf(out)
      // block updates reach the status store through the listener bus
      eventually(timeout(30.seconds)) {
        val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
        assert(info.exists(_.numCachedPartitions == rdd.getNumPartitions),
          s"$name: cached ${info.map(_.numCachedPartitions)} of " +
            s"${rdd.getNumPartitions} partitions")
      }
      // the blocks serve the read: a count runs only its own stages
      // (the partial count's exchange and the final one), exactly as
      // over an eagerly checkpointed copy — none of the bounded join's
      val (n, jobs) = TestSpark.countJobs(out.count())
      val copy = out.localCheckpoint(eager = true)
      val (_, copyJobs) = TestSpark.countJobs(copy.count())
      assert(jobs == copyJobs && jobs <= 2,
        s"$name: count ran $jobs jobs, $copyJobs over a materialized copy")
      assert(n > 0, s"$name: empty healthy result")
    }
  }

  test("Guards.witnessed: tripped guards leave no cached blocks behind") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    def cached() = {
      val infos = sc.getRDDStorageInfo
      (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
    }
    val cores = appendCores
    eventually(timeout(30.seconds)) {
      val before = cached()
      Thread.sleep(200)
      assert(cached() == before) // the status store has settled
    }
    val (rddsBefore, bytesBefore) = cached()
    cores.foreach { case (name, _, tripped) =>
      (1 to 3).foreach { _ =>
        val e = intercept[IllegalArgumentException](tripped())
        assert(e.getMessage.contains("maxBucket"), name)
      }
    }
    eventually(timeout(30.seconds)) {
      val (rdds, bytes) = cached()
      assert(rdds <= rddsBefore && bytes <= bytesBefore,
        s"cached RDDs $rddsBefore -> $rdds, bytes $bytesBefore -> $bytes")
    }
  }

  test("pruneTouched prefilter: probe-path edges equal the default path, fail-fast preserved") {
    // r15 opt: the trickle-probe opt-in restricts the rank pass to
    // buckets the batch touches. Untouched buckets cannot contribute
    // candidates or witness rows, so output must be IDENTICAL to the
    // default (full-rank) pass — on a partial batch, where untouched
    // buckets actually exist.
    val recs = Tables.customer(spark, sf)
    val newKeys = Linkage.deletionKeyTable(
      recs.filter(pmod(col("c_custkey"), lit(5L)) === 0))
      .localCheckpoint(eager = true)
    val index = Linkage.deletionKeyTable(recs).localCheckpoint(eager = true)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(Linkage.erAppendEdges(newKeys, index, pruneTouched = true))
      == pairs(Linkage.erAppendEdges(newKeys, index)))
    val docs = Tables.documents(spark, sf)
    def bandKeys(d: org.apache.spark.sql.DataFrame) = Dedup.lshBandKeys(
      Dedup.shingleRowsFor(d, 3).select(col("doc_id"),
        Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
      bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
    val newBand = bandKeys(docs.filter(pmod(col("doc_id"), lit(5L)) === 0))
    val bandIdx = bandKeys(docs)
    assert(pairs(Dedup.lshAppendCandidates(newBand, bandIdx,
        maxBucket = 256, pruneTouched = true))
      == pairs(Dedup.lshAppendCandidates(newBand, bandIdx, maxBucket = 256)))
    // fail-fast must survive the prefilter: the batch touches the
    // oversized bucket, so the witness row is retained either way
    intercept[IllegalArgumentException] {
      Linkage.erAppendEdges(index, index, maxBucket = 1, pruneTouched = true)
    }
    intercept[IllegalArgumentException] {
      Dedup.lshAppendCandidates(bandIdx, bandIdx, maxBucket = 1,
        pruneTouched = true)
    }
  }

  test("numPb re-layout migration: probes unchanged, new layout pruned, sizing rule") {
    val recs = Tables.customer(spark, sf)
    val idx16 = tmpDir("dk_mig16") + "/idx"
    Linkage.writeDeletionKeyIndex(spark, sf, idx16, numPb = 16)
    val idx64 = tmpDir("dk_mig64") + "/idx"
    val migrated = Linkage.migrateDeletionKeyIndexLayout(
      spark, idx16, idx64, newNumPb = 64)
    assert(migrated == spark.read.parquet(idx16).count())
    // the migrated store IS a 64-cell layout: pruned probes carry
    // the pb PartitionFilter and return the same edges as the old
    // layout's probes
    val batch = recs.filter(pmod(col("c_custkey"), lit(16L)) === 3L)
    val newKeys = Linkage.deletionKeyTable(batch)
      .localCheckpoint(eager = true)
    val pruned = Linkage.readDeletionKeyIndexPruned(spark, idx64,
      newKeys, numPb = 64)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*pb".r.findFirstIn(plan).isDefined)
    def edges(p: String, n: Int) = Linkage.erAppendEdges(newKeys,
        Linkage.readDeletionKeyIndexPruned(spark, p, newKeys, numPb = n))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(edges(idx64, 64) == edges(idx16, 16))
    assert(edges(idx64, 64).nonEmpty, "vacuous: batch matched no edges")
    // appends at the NEW count land in the migrated layout's cells
    // (the write/read contract after the swap)
    val pbs = spark.read.parquet(idx64).select("pb").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(pbs.max > 15, "migration never used the new cell range")
    // sizing rule: next power of two of bytes/cell, floored at the
    // default — executable, not prose
    import graft.sources.Bucketed.{storeBytes, suggestNumPb, defaultProbeParts}
    assert(storeBytes(spark, idx64) > 0L)
    assert(suggestNumPb(0L) == defaultProbeParts)
    assert(suggestNumPb(3L * (2L << 30)) == defaultProbeParts)
    assert(suggestNumPb(100L * (2L << 30)) == 128)
    assert(suggestNumPb(500L * (2L << 30)) == 512)
    // the audit applies the rule from live store stats: a gate-scale
    // store fits the default layout (no migration advised), and the
    // advice flips exactly when suggested exceeds current
    val audit = graft.sources.Bucketed.auditPbLayout(spark, idx64, 64)
    assert(audit.storeBytes > 0L && audit.suggestedNumPb == 64 &&
      !audit.migrationAdvised)
    assert(graft.sources.Bucketed
      .auditPbLayout(spark, idx64, 16).migrationAdvised)
  }

  test("compactPbStore: refuses pb-less stores, folds a removed-ids frame") {
    val recs = Tables.customer(spark, sf)
    val idx = tmpDir("dk_cmp_minus") + "/idx"
    Linkage.writeDeletionKeyIndex(spark, sf, idx)
    // pb-less store → loud error, not an AnalysisException mid-write
    val plain = tmpDir("plain_store") + "/s"
    recs.select(col("c_custkey")).write.parquet(plain)
    intercept[IllegalArgumentException] {
      graft.sources.Bucketed.compactPbStore(spark, plain,
        plain + "_out")
    }
    // minus: the removed ids are genuinely gone from the compacted
    // store (the r14 ADVICE resurrection hazard, closed)
    val removed = recs.filter(pmod(col("c_custkey"), lit(7L)) === 3L)
      .select(col("c_custkey"))
    val out = tmpDir("dk_cmp_out") + "/idx"
    val n = graft.sources.Bucketed.compactPbStore(spark, idx, out,
      minus = Some(removed))
    val live = spark.read.parquet(out)
    assert(n == live.count())
    assert(live.join(removed, Seq("c_custkey"), "left_semi").count() == 0)
    assert(live.count() ==
      spark.read.parquet(idx)
        .join(removed, Seq("c_custkey"), "left_anti").count())
  }
}
