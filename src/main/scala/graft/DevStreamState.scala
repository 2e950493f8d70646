package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Dev-only streaming-state pricing harness (VERDICT r12 item 5):
  * stream the corpus through [[graft.streaming.StreamOps
  * .prefixCandidateStream]] at a FIXED arrival rate and record the
  * state store's rows/bytes after every micro-batch, then fold the
  * corpus's near-dup edges through [[graft.streaming.StreamOps
  * .ccMaintainStream]] and record the standing-table growth. The
  * bounded-state claim under test: prefix-candidate state tracks the
  * TTL horizon (arrival rate × pairTtl), NOT corpus size — the same
  * corpus at 100× must show ~the same peak state rows once the
  * horizon saturates. CC's standing table is the OUTPUT (id→label
  * for every doc in an edge), so it is linear in corpus by design —
  * its recorded quantity is per-batch merge time vs batch size.
  *
  * Usage: runMain graft.DevStreamState <sfDir> [nBatches] [ttlSec]
  *        [docsPerSec]
  * Emits one JSON line per micro-batch.
  */
object DevStreamState {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val ttlSec = if (args.length > 2) args(2).toLong else 600L
    val rate = if (args.length > 3) args(3).toLong else 10L
    val spark = GraftSession.builder("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the q321 frozen fit: bounded top-N shingle document frequencies
    val st = graft.ext.Dedup.shingleTable(spark, sfDir, 3)
      .localCheckpoint(eager = true)
    val freq = st.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(10000)
      // collect-ok: bounded by the limit(10000) — the frozen top-N fit
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // arrival schedule: docs stream in doc_id order at `rate` docs/s,
    // so the TTL horizon holds ~rate·ttl docs REGARDLESS of corpus
    // size — the quantity whose constancy across sf0.1/sf10 proves
    // bounded state. (ids only — ~8 B/doc driver-side; texts are
    // fetched per batch below.)
    val ids = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).orderBy(col("doc_id"))
      // collect-ok: dev measurement harness, ids only (8 B/doc —
      // 4 MB at the sf10 replica), never part of the engine surface
      .collect().map(_.getLong(0))
    val base = 1700000000000L
    val tsIdx = ids.iterator.zipWithIndex
      .map { case (id, i) => id -> (base + (i / rate) * 1000L) }.toMap
    val chunks = ids.grouped(math.max(1, ids.length / nBatches)).toSeq

    val src = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.StreamOps.prefixCandidateStream(
        src.toDS().toDF("doc_id", "text", "ts"), freq, threshold = 0.7,
        pairTtl = java.time.Duration.ofSeconds(ttlSec))
      .toDF("doc_a", "doc_b")
      .writeStream.format("noop").outputMode(OutputMode.Append()).start()
    var streamed = 0L
    var pairs = 0L
    chunks.zipWithIndex.foreach { case (chunk, b) =>
      val texts = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id").between(chunk.head, chunk.last))
        .select(col("doc_id"), col("text"))
        // collect-ok: dev harness MemoryStream feed — one
        // corpus/nBatches slice at a time, never the whole corpus
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          new Timestamp(tsIdx(r.getLong(0)))))
        .sortBy(_._1)
      src.addData(texts.toSeq: _*)
      q.processAllAvailable()
      streamed += texts.length
      val p = q.lastProgress
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val stateMem = p.stateOperators.map(_.memoryUsedBytes).sum
      pairs += p.sink.numOutputRows
      println(s"""{"tool":"stream_state","op":"prefixCandidateStream",""" +
        s""""sf":"$sfDir","batch":$b,"docs_streamed":$streamed,""" +
        s""""state_rows":$stateRows,"state_bytes":$stateMem,""" +
        s""""ttl_sec":$ttlSec,"rate":$rate}""")
    }
    q.stop()

    // ccMaintainStream: fold the corpus's verified near-dup edges in
    // micro-batches; record standing-table rows + per-batch wall time
    val edges = graft.ext.Dedup
      .jaccardVerifyPortable(spark, sfDir, k = 3, threshold = 0.7)
      // collect-ok: dev harness MemoryStream feed — the verified edge
      // set (2 longs/edge; ~48 k edges at the sf10 replica)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val esrc = MemoryStream[(Long, Long)]
    val (writer, current) = graft.streaming.StreamOps.ccMaintainStream(
      esrc.toDS().toDF("doc_a", "doc_b"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-devcc").toString
    edges.grouped(math.max(1, edges.length / nBatches)).zipWithIndex
      .foreach { case (batch, b) =>
        esrc.addData(batch.toSeq: _*)
        val t0 = System.nanoTime()
        val cq = writer.option("checkpointLocation", ckpt).start()
        cq.awaitTermination()
        val dt = (System.nanoTime() - t0) / 1e9
        val rows = current().count()
        println(s"""{"tool":"stream_state","op":"ccMaintainStream",""" +
          s""""sf":"$sfDir","batch":$b,"edges_batch":${batch.length},""" +
          s""""standing_rows":$rows,"merge_sec":${"%.2f".format(dt)}}""")
      }

    // ------------------------------------------------------------------
    // CDC maintenance pricing (r14 verdict item 5): per-batch cost of
    // the add+delete streams with a realistic delete mix, tombstone-
    // store growth, and the periodic fold's cost — the numbers a
    // 100 TB operator budgets before turning the stream on. Each batch
    // ADDS one custkey/doc_id-ordered corpus slice and DELETES a ~3%
    // slice of what was previously added (takedown mix); a fold fires
    // mid-run (compactEvery = nBatches/2) so its batch prices the
    // compaction itself.
    // ------------------------------------------------------------------
    val numPb = if (args.length > 4) args(4).toInt
      else graft.sources.Bucketed.defaultProbeParts
    val compactEvery = math.max(2, nBatches / 2)
    def storeRows(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp))
        spark.read.parquet(p).count()
      else 0L
    }
    def batchDirCount(p: String): Int = {
      val d = new java.io.File(p)
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isDirectory &&
        f.getName.startsWith("ingest_batch="))
    }

    // ---- erMaintainCdcStream ----
    {
      val custIds = graft.Tables.customer(spark, sfDir)
        .select(col("c_custkey")).orderBy(col("c_custkey"))
        // collect-ok: dev measurement harness, ids only (8 B/rec)
        .collect().map(_.getLong(0))
      val chunks = custIds.grouped(
        math.max(1, custIds.length / nBatches)).toSeq
      val base = java.nio.file.Files
        .createTempDirectory("graft-devcdc-er").toString
      val csrc = MemoryStream[(Long, String, Int, String, String)]
      val (cwriter, ccur) = graft.streaming.StreamOps.erMaintainCdcStream(
        csrc.toDS().toDF("c_custkey", "c_name", "c_nationkey",
          "c_mktsegment", "op"),
        base + "/idx", base + "/edges", base + "/tombs",
        numPb = numPb, compactEvery = compactEvery)
      val cckpt = base + "/ckpt"
      var prevChunk: Array[Long] = Array.empty
      chunks.zipWithIndex.foreach { case (chunk, b) =>
        val load = Bench.loadAvg1m()
        val adds = graft.Tables.customer(spark, sfDir)
          .filter(col("c_custkey").between(chunk.head, chunk.last))
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"))
          // collect-ok: dev harness MemoryStream feed — one
          // corpus/nBatches slice at a time
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
            r.getString(3), "add"))
        val dels = prevChunk.filter(_ % 37 == 3)
          .map(k => (k, "", 0, "", "delete"))
        csrc.addData((adds ++ dels).toSeq: _*)
        val t0 = System.nanoTime()
        val q2 = cwriter.option("checkpointLocation", cckpt).start()
        q2.awaitTermination()
        val dt = (System.nanoTime() - t0) / 1e9
        val folded = b > 0 && b % compactEvery == 0
        println(s"""{"tool":"stream_state","op":"erMaintainCdcStream",""" +
          s""""sf":"$sfDir","batch":$b,"adds":${adds.length},""" +
          s""""deletes":${dels.length},"sec":${"%.2f".format(dt)},""" +
          s""""fold":$folded,"standing_rows":${ccur().count()},""" +
          s""""tomb_rows":${storeRows(base + "/tombs")},""" +
          s""""index_batch_dirs":${batchDirCount(base + "/idx")},""" +
          s""""numPb":$numPb,"load_1m":${"%.2f".format(load)}}""")
        prevChunk = chunk.toArray
      }
    }

    // ---- lshMaintainCdcStream ----
    {
      val docIds = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id")).orderBy(col("doc_id"))
        // collect-ok: dev measurement harness, ids only (8 B/doc)
        .collect().map(_.getLong(0))
      val chunks = docIds.grouped(
        math.max(1, docIds.length / nBatches)).toSeq
      val base = java.nio.file.Files
        .createTempDirectory("graft-devcdc-lsh").toString
      val dsrc = MemoryStream[(Long, String, String)]
      val (dwriter, dcur) = graft.streaming.StreamOps.lshMaintainCdcStream(
        dsrc.toDS().toDF("doc_id", "text", "op"),
        base + "/idx", base + "/sh", base + "/edges", base + "/tombs",
        numPb = numPb, compactEvery = compactEvery)
      val dckpt = base + "/ckpt"
      var prevChunk: Array[Long] = Array.empty
      chunks.zipWithIndex.foreach { case (chunk, b) =>
        val load = Bench.loadAvg1m()
        val adds = graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id").between(chunk.head, chunk.last))
          .select(col("doc_id"), col("text"))
          // collect-ok: dev harness MemoryStream feed — one
          // corpus/nBatches slice at a time
          .collect()
          .map(r => (r.getLong(0), r.getString(1), "add"))
        val dels = prevChunk.filter(_ % 37 == 3)
          .map(k => (k, "", "delete"))
        dsrc.addData((adds ++ dels).toSeq: _*)
        val t0 = System.nanoTime()
        val q2 = dwriter.option("checkpointLocation", dckpt).start()
        q2.awaitTermination()
        val dt = (System.nanoTime() - t0) / 1e9
        val folded = b > 0 && b % compactEvery == 0
        println(s"""{"tool":"stream_state","op":"lshMaintainCdcStream",""" +
          s""""sf":"$sfDir","batch":$b,"adds":${adds.length},""" +
          s""""deletes":${dels.length},"sec":${"%.2f".format(dt)},""" +
          s""""fold":$folded,"standing_rows":${dcur().count()},""" +
          s""""tomb_rows":${storeRows(base + "/tombs")},""" +
          s""""index_batch_dirs":${batchDirCount(base + "/idx")},""" +
          s""""numPb":$numPb,"load_1m":${"%.2f".format(load)}}""")
        prevChunk = chunk.toArray
      }
    }
    spark.stop()
  }
}
