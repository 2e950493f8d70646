package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only marginal-batch pricing for the incremental index
  * pipelines (VERDICT r12 item 1's cost row, extended for r14 items
  * 1-2): the catalog queries q323/q324 REPLAY the whole corpus
  * (their total ≈ a cold rebuild — that is what makes them
  * oracle-comparable); the number a 100 TB operator actually cares
  * about is the MARGINAL cost of folding one new batch into a
  * standing index. This harness maintains the MATERIALIZED parquet
  * stores (appendToDeletionKeyIndex / appendToShingleStore /
  * appendToLshIndex — row-local O(batch) writes, the production
  * shape), probes them through the PB-PRUNED reads
  * (readDeletionKeyIndexPruned / readLshIndexPruned — the r14 fix
  * for the r13 `weak`: per-batch probe I/O tracks the batch's
  * touched cells, not index history), and emits:
  *   - per-batch TOTAL seconds for every batch (the flatness
  *     evidence: marginal cost must not creep with index size);
  *   - the LAST batch decomposed by STAGE (append / signature /
  *     candidates / verify / fold — r14 item 2's q324 cost
  *     breakdown);
  *   - the cold one-shot rebuild for the marginal/cold ratio.
  *
  * Usage: runMain graft.DevIncr <sfDir> [nBatches] [numPb]
  * Emits one JSON line per measurement.
  */
object DevIncr {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def emit(op: String, kv: (String, String)*): Unit =
      println((kv :+ ("load_1m" -> f"${Bench.loadAvg1m()}%.2f"))
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(s"""{"tool":"incr","op":"$op","sf":"$sfDir",""", ",", "}"))
    def tmp(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"graft_incr_$tag").toString + "/store"
    // scale-appropriate pb layout (arg 3): the cell count must track
    // index size — 512 keeps a sf10 point probe's touched-cell
    // fraction small, but 512 dirs per append is pure overhead on a
    // sf0.1 batch (measured: the LSH append stage went 2.5 -> 12.9 s
    // when a 500-doc batch paid 512 directory writes). Default to
    // the gate-scale layout; sf10 runs pass 512.
    val numPb = if (args.length > 2) args(2).toInt
      else graft.sources.Bucketed.defaultProbeParts
    def arr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.2f").mkString("[", ",", "]")

    // ---- entity resolution (q184 cold vs the marginal batch) ------
    {
      val recs = Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_mktsegment"))
      val (_, coldSec) = time {
        graft.ext.Linkage.entityResolution(spark, sfDir).count()
      }
      val idxPath = tmp("dk")
      var labels = recs
        .select(col("c_custkey").as("id"), col("c_custkey").as("label"))
        .limit(0)
      var entRows = 0L
      val stages = scala.collection.mutable.Map.empty[String, Double]
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      def erBatch(b: Int): Double = {
        loads += Bench.loadAvg1m()
        val last = b == nBatches - 1
        val batch = recs
          .filter(pmod(col("c_custkey"), lit(nBatches.toLong)) === b)
        val (_, tAppend) = time {
          // O(batch) row-local append into the standing parquet index
          graft.ext.Linkage.appendToDeletionKeyIndex(batch, idxPath,
            numPb)
        }
        val (newKeys, tKeys) = time {
          graft.ext.Linkage.deletionKeyTable(batch)
            .localCheckpoint(eager = true)
        }
        // PRUNED probe: only the pb cells this batch's keys hash into
        // (the maxBucket guard is fused into this pass — r15)
        val (edges, tCands) = time {
          graft.ext.Linkage.erAppendEdges(newKeys,
              graft.ext.Linkage.readDeletionKeyIndexPruned(spark,
                idxPath, newKeys, numPb))
            .localCheckpoint(eager = true)
        }
        val (_, tFold) = time {
          labels = graft.ext.Dedup.ccIncrement(labels, edges)
            .localCheckpoint(eager = true)
          entRows = labels.count()
        }
        if (last) stages ++= Map("append" -> tAppend, "keys" -> tKeys,
          "candidates" -> tCands, "fold" -> tFold)
        tAppend + tKeys + tCands + tFold
      }
      val perBatch = (0 until nBatches).map(erBatch)
      // TRICKLE probe: one ~0.1% batch against the full standing
      // index — the case the pb-pruned read exists for (a replay
      // batch of 1/nBatches corpus touches every cell, so pruning
      // can only show on a batch much smaller than the layout)
      val trickleKeys = graft.ext.Linkage.deletionKeyTable(
        recs.orderBy(col("c_custkey")).limit(3))
        .localCheckpoint(eager = true)
      val (_, tPruned) = time {
        graft.ext.Linkage.erAppendEdges(trickleKeys,
          graft.ext.Linkage.readDeletionKeyIndexPruned(spark, idxPath,
            trickleKeys, numPb), pruneTouched = true).count()
      }
      val (_, tFull) = time {
        graft.ext.Linkage.erAppendEdges(trickleKeys,
          spark.read.parquet(idxPath)).count()
      }
      emit("entity_res",
        "cold_oneshot_sec" -> f"$coldSec%.2f",
        "marginal_batch_sec" -> f"${perBatch.last}%.2f",
        "per_batch_sec" -> arr(perBatch),
        "per_batch_load" -> arr(loads.toSeq),
        "trickle_pruned_sec" -> f"$tPruned%.2f",
        "trickle_full_sec" -> f"$tFull%.2f",
        "last_batch_stages" -> stages.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }
          .mkString("{", ",", "}"),
        "n_batches" -> nBatches.toString,
        "standing_rows" -> entRows.toString)
    }

    // ---- LSH near-dup clustering (q59-shape cold vs marginal) -----
    // production path: xxhash64 signatures, compressed band keys,
    // both stores materialized parquet, probes pb-pruned
    {
      val docs = Tables.documents(spark, sfDir)
      val (_, coldSec) = time {
        graft.ext.Dedup.lshDedupClusters(spark, sfDir).count()
      }
      val shPath = tmp("sh")
      val idxPath = tmp("lsh")
      var labels = docs
        .select(col("doc_id").as("id"), col("doc_id").as("label")).limit(0)
      var lshRows = 0L
      val stages = scala.collection.mutable.Map.empty[String, Double]
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      def lshBatch(b: Int): Double = {
        loads += Bench.loadAvg1m()
        val last = b == nBatches - 1
        val batch = docs
          .filter(pmod(col("doc_id"), lit(nBatches.toLong)) === b)
        val (_, tAppend) = time {
          // O(batch) row-local appends into both standing stores
          graft.ext.Dedup.appendToShingleStore(batch, shPath,
            numPb = numPb)
          graft.ext.Dedup.appendToLshIndex(batch, idxPath, numPb = numPb)
        }
        val (newKeys, tSig) = time {
          graft.ext.Dedup.lshBandKeys(
            graft.ext.Dedup.shingleRowsFor(batch, 3).select(col("doc_id"),
              graft.ext.Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
            bands = 8, rowsPerBand = 4)
            .localCheckpoint(eager = true)
        }
        // PRUNED probe against the standing band-key index (the
        // maxBucket guard is fused into this pass — r15)
        val (cands, tCands) = time {
          graft.ext.Dedup.lshAppendCandidates(newKeys,
              graft.ext.Dedup.readLshIndexPruned(spark, idxPath, newKeys,
                numPb),
              256)
            .localCheckpoint(eager = true)
        }
        // PRUNED verify: only the shingle cells the candidate
        // endpoints hash into are read
        val (edges, tVerify) = time {
          graft.ext.Dedup.verifyPairs(
              graft.ext.Dedup.readShingleStorePruned(spark, shPath,
                cands, numPb),
              cands, 0.7)
            .localCheckpoint(eager = true)
        }
        val (_, tFold) = time {
          labels = graft.ext.Dedup.ccIncrement(labels, edges)
            .localCheckpoint(eager = true)
          lshRows = labels.count()
        }
        if (last) stages ++= Map("append" -> tAppend, "signature" -> tSig,
          "candidates" -> tCands, "verify" -> tVerify, "fold" -> tFold)
        tAppend + tSig + tCands + tVerify + tFold
      }
      val perBatch = (0 until nBatches).map(lshBatch)
      // TRICKLE probe (see the entity_res note)
      val trickleKeys = graft.ext.Dedup.lshBandKeys(
        graft.ext.Dedup.shingleRowsFor(
          docs.orderBy(col("doc_id")).limit(3), 3)
          .select(col("doc_id"),
            graft.ext.Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
        bands = 8, rowsPerBand = 4).localCheckpoint(eager = true)
      val (_, tPruned) = time {
        graft.ext.Dedup.lshAppendCandidates(trickleKeys,
          graft.ext.Dedup.readLshIndexPruned(spark, idxPath, trickleKeys,
            numPb),
          256, pruneTouched = true).count()
      }
      val (_, tFull) = time {
        graft.ext.Dedup.lshAppendCandidates(trickleKeys,
          spark.read.parquet(idxPath), 256).count()
      }
      emit("lsh_clusters",
        "cold_oneshot_sec" -> f"$coldSec%.2f",
        "marginal_batch_sec" -> f"${perBatch.last}%.2f",
        "per_batch_sec" -> arr(perBatch),
        "per_batch_load" -> arr(loads.toSeq),
        "trickle_pruned_sec" -> f"$tPruned%.2f",
        "trickle_full_sec" -> f"$tFull%.2f",
        "last_batch_stages" -> stages.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }
          .mkString("{", ",", "}"),
        "n_batches" -> nBatches.toString,
        "standing_rows" -> lshRows.toString)
    }
    spark.stop()
  }
}
