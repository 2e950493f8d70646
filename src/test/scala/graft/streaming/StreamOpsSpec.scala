package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat_ws, count, decode, lit}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.exec.PipeDoc
import graft.llm.StubLlm
import graft.model.Configs

case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamOpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()

  test("windowed aggregation with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    src.addData(
      Ev(Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      Ev(Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      Ev(Timestamp.valueOf("2024-01-01 11:05:00"), "view", 3.0))
    val q = StreamOps.eventsHourlyStream(src.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    val rows = spark.table("hourly").collect()
      .map(r => (r.getAs[Timestamp]("hour").toString, r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).sorted
    q.stop()
    assert(rows.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 3.0)))
  }

  test("instructions pipeline runs on an unbounded document stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conf = Configs.parse(
      """{"pipe": [[{"name": "summary", "content": "Summarize.", "scope": ["text"]}]]}""")
    val src = MemoryStream[PipeDoc]
    src.addData(PipeDoc(1, Map("text" -> "hello stream")),
      PipeDoc(2, Map("text" -> "second doc")))
    val out = StreamOps.pipelineStream(src.toDS(), conf, StubLlm)
    val q = out.writeStream.format("memory").queryName("pipe_stream")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    val rows = spark.table("pipe_stream").as[PipeDoc].collect().sortBy(_.id)
    q.stop()
    assert(rows.length == 2)
    assert(rows.forall(_.fields.keys.toSeq == Seq("summary")))
    // streaming result == batch result for the same input (purity)
    val batch = new graft.exec.InstructionsPipeline(conf, StubLlm)
      .run(Seq(PipeDoc(1, Map("text" -> "hello stream"))).toDS()).collect().head
    assert(rows.head.fields == batch.fields)
  }

  test("stateful streaming dedup: first doc per hash survives across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[HashedDoc]
    val q = StreamOps.dedupStream(src.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    // batch 1: h1 twice (min doc_id 7 must win), h2 once
    src.addData(HashedDoc("h1", 10L), HashedDoc("h1", 7L), HashedDoc("h2", 1L))
    q.processAllAvailable()
    // batch 2: h1 again (dropped via state), h3 new
    src.addData(HashedDoc("h1", 99L), HashedDoc("h3", 5L))
    q.processAllAvailable()
    val rows = spark.table("dedup_stream").as[HashedDoc].collect()
      .map(d => d.contentHash -> d.docId).sorted.toSeq
    q.stop()
    assert(rows == Seq("h1" -> 7L, "h2" -> 1L, "h3" -> 5L))
  }

  // NOTE on both TTL tests: with ProcessingTimeTimeout the micro-batch
  // engine always schedules another batch (timers may fire), so
  // `noNewData` is never latched and processAllAvailable() BLOCKS
  // FOREVER — sync on the sink's row count instead. Each test races
  // the wall clock in ONE direction only, with a margin wide enough
  // for this host's documented noise bursts.
  private def awaitRows(table: String, n: Long, timeoutMs: Long = 120000): Unit = {
    val t0 = System.currentTimeMillis()
    while (spark.table(table).count() < n &&
      System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(50)
    assert(spark.table(table).count() >= n, s"sink never reached $n rows")
  }

  test("TTL dedup: duplicate inside a long TTL is dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[HashedDoc]
    // TTL of an hour: nothing can evict within the test, so the
    // duplicate MUST be dropped — no lower-bound race
    val q = StreamOps.dedupStream(src.toDS(),
      ttl = Some(java.time.Duration.ofHours(1)))
      .writeStream.format("memory").queryName("dedup_ttl_drop")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(HashedDoc("h1", 7L))
      awaitRows("dedup_ttl_drop", 1)
      src.addData(HashedDoc("h1", 50L)) // inside TTL → dropped
      src.addData(HashedDoc("h2", 1L))
      awaitRows("dedup_ttl_drop", 2)
      Thread.sleep(1000) // settle: let any straggler batch commit
      val rows = spark.table("dedup_ttl_drop").as[HashedDoc].collect()
        .map(d => d.contentHash -> d.docId).toSeq.sorted
      assert(rows == Seq("h1" -> 7L, "h2" -> 1L))
    } finally q.stop()
  }

  test("TTL dedup: key re-admitted after state eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[HashedDoc]
    // short TTL + long sleep: eviction is CERTAIN by the time the
    // key returns — no upper-bound race
    val q = StreamOps.dedupStream(src.toDS(),
      ttl = Some(java.time.Duration.ofMillis(2000)))
      .writeStream.format("memory").queryName("dedup_ttl_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(HashedDoc("h1", 7L))
      awaitRows("dedup_ttl_evict", 1)
      Thread.sleep(15000) // ≫ TTL; timer batches evict on their own
      src.addData(HashedDoc("h1", 99L)) // after eviction → re-admitted
      awaitRows("dedup_ttl_evict", 2)
      val rows = spark.table("dedup_ttl_evict").as[HashedDoc].collect()
        .map(d => d.contentHash -> d.docId).toSeq.sorted
      assert(rows == Seq("h1" -> 7L, "h1" -> 99L))
    } finally q.stop()
  }

  test("built-in dropDuplicatesWithinWatermark dedups across batches inside the delay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedHashedDoc]
    def ts(s: String) = Timestamp.valueOf(s)
    val q = StreamOps.dedupStreamBuiltin(src.toDS().toDF())
      .writeStream.format("memory").queryName("dedup_builtin")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(TimedHashedDoc("h1", 7L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // same key arrives again within the watermark delay → dropped
      src.addData(TimedHashedDoc("h1", 99L, ts("2024-01-01 10:05:00")),
        TimedHashedDoc("h2", 1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val rows = spark.table("dedup_builtin").collect()
        .map(r => (r.getAs[String]("contentHash"), r.getAs[Long]("docId")))
        .sorted.toSeq
      assert(rows == Seq("h1" -> 7L, "h2" -> 1L))
    } finally q.stop()
  }

  test("event-time TTL dedup: drops inside TTL, evicts by watermark, re-admits after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedHashedDoc]
    def ts(s: String) = Timestamp.valueOf(s)
    // TTL 60 s of EVENT time — the whole test is driven by data
    // timestamps, no wall-clock sleeps or races anywhere
    val q = StreamOps.dedupStreamEventTime(src.toDS(),
      java.time.Duration.ofSeconds(60))
      .writeStream.format("memory").queryName("dedup_evtime")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(TimedHashedDoc("h1", 7L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // duplicate 5 s of event time later: inside TTL → dropped
      src.addData(TimedHashedDoc("h1", 50L, ts("2024-01-01 10:00:05")))
      q.processAllAvailable()
      // a later key pushes the watermark far past h1's deadline
      // (10:01:05); the watermark computed at batch N gates timers at
      // batch N+1, so the next batch is where h1's state evicts
      src.addData(TimedHashedDoc("adv", 1L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      src.addData(TimedHashedDoc("adv2", 2L, ts("2024-01-01 12:00:01")))
      q.processAllAvailable()
      // h1 returns after eviction → new original
      src.addData(TimedHashedDoc("h1", 99L, ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val rows = spark.table("dedup_evtime").as[HashedDoc].collect()
        .map(d => d.contentHash -> d.docId).toSeq.sorted
      assert(rows == Seq("adv" -> 1L, "adv2" -> 2L, "h1" -> 7L, "h1" -> 99L))
    } finally q.stop()
  }

  test("event-time TTL dedup: a late older duplicate never contracts the deadline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedHashedDoc]
    def ts(s: String) = Timestamp.valueOf(s)
    // TTL 60 s, watermark delay 10 s. The original arrives at 10:10:00
    // (deadline 10:11:00); an out-of-order duplicate then arrives with
    // an OLDER event time 10:09:55 — a deadline armed from the batch
    // max alone would contract to 10:10:55. Advance the watermark to
    // 10:10:58: past the contracted deadline, before the true one. The
    // key must still be in state, so its next duplicate is dropped.
    val q = StreamOps.dedupStreamEventTime(src.toDS(),
      java.time.Duration.ofSeconds(60), watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("dedup_evtime_noshrink")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(TimedHashedDoc("h1", 1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // late duplicate, above the watermark (10:09:50) so it reaches
      // the stateful operator
      src.addData(TimedHashedDoc("h1", 2L, ts("2024-01-01 10:09:55")))
      q.processAllAvailable()
      // watermark → 10:10:58 (> contracted 10:10:55, < correct 10:11:00)
      src.addData(TimedHashedDoc("adv", 3L, ts("2024-01-01 10:11:08")))
      q.processAllAvailable()
      // timers evaluate against wm 10:10:58 this batch: h1 must survive
      src.addData(TimedHashedDoc("adv2", 4L, ts("2024-01-01 10:11:09")))
      q.processAllAvailable()
      // still inside the true deadline's state window → dropped
      src.addData(TimedHashedDoc("h1", 99L, ts("2024-01-01 10:11:30")))
      q.processAllAvailable()
      val rows = spark.table("dedup_evtime_noshrink").as[HashedDoc].collect()
        .map(d => d.contentHash -> d.docId).toSeq.sorted
      assert(rows == Seq("adv" -> 3L, "adv2" -> 4L, "h1" -> 1L),
        s"late duplicate contracted the TTL deadline: $rows")
    } finally q.stop()
  }

  test("sliding windows: each event lands in exactly four 15-min-hop hour windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    src.addData(
      Ev(Timestamp.valueOf("2024-01-01 10:31:00"), "click", 1.0),
      Ev(Timestamp.valueOf("2024-01-01 10:32:00"), "view", 1.0))
    val q = StreamOps.eventsSlidingStream(src.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sliding").collect()
        .map(r => r.getAs[Timestamp]("win_start").toString -> r.getAs[Long]("n_events"))
        .sortBy(_._1).toSeq
      // events at 10:31/10:32 belong to hour windows starting 09:45,
      // 10:00, 10:15, 10:30 — four overlapping windows, both events in each
      assert(rows == Seq(
        "2024-01-01 09:45:00.0" -> 2L, "2024-01-01 10:00:00.0" -> 2L,
        "2024-01-01 10:15:00.0" -> 2L, "2024-01-01 10:30:00.0" -> 2L), rows.toString)
    } finally q.stop()
  }

  test("curation stream: gates + cross-batch exact dedup, digests not text downstream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String, Timestamp)]
    def ts(s: String) = Timestamp.valueOf(s)
    val good1 = (0 until 25).map(i => s"word$i").mkString(" ")   // 25 distinct tokens, >100 chars
    val good2 = (0 until 25).map(i => s"term$i").mkString(" ")
    val lowTtr = Seq.fill(30)("aaaa").mkString(" ")              // 149 chars, ttr 1/30
    val out = StreamOps.curationStream(
      src.toDS().toDF("doc_id", "text", "ts"))
    assert(!out.schema.fieldNames.contains("text")) // digests-only downstream
    val q = out.writeStream.format("memory").queryName("curation_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData((1L, good1, ts("2024-01-01 10:00:00")),
        (2L, "too short", ts("2024-01-01 10:00:01")),
        (3L, good1, ts("2024-01-01 10:00:02")))      // in-batch duplicate of 1
      q.processAllAvailable()
      src.addData((4L, good1, ts("2024-01-01 10:01:00")), // cross-batch duplicate
        (5L, good2, ts("2024-01-01 10:01:01")),
        (6L, lowTtr, ts("2024-01-01 10:01:02")))
      q.processAllAvailable()
      val rows = spark.table("curation_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"))).sorted.toSeq
      assert(rows == Seq((1L, 25L), (5L, 25L)),
        s"curation stream let the wrong docs through: $rows")
    } finally q.stop()
  }

  test("media dedup stream: near-identical payloads collapse by phash " +
      "across batches, bytes dropped before the stateful operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Array[Byte], Timestamp)]
    def ts(s: String) = Timestamp.valueOf(s)
    def bytes(s: String) = s.getBytes("UTF-8")
    // a "media" with strong block structure; edit inside ONE block
    // keeps the same phash (near-identical re-encode), a different
    // layout hashes apart
    val a = (("dense" * 20 + " ") * 8 + ("  x " * 30)) * 2
    val aEdit = a.updated(3, 'X').toString
    val other = ("  y " * 60) + ("packed" * 40)
    val out = StreamOps.mediaDedupStream(
      src.toDS().toDF("media_id", "payload", "ts"))
    assert(!out.schema.fieldNames.contains("payload")) // hash-only state
    val q = out.writeStream.format("memory").queryName("media_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData((1L, bytes(a), ts("2024-01-01 10:00:00")),
        (2L, bytes(other), ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      src.addData((3L, bytes(aEdit), ts("2024-01-01 10:01:00"))) // near-dup of 1
      q.processAllAvailable()
      val ids = spark.table("media_dedup").collect()
        .map(_.getAs[Long]("media_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L), s"media dedup kept: $ids")
      // sanity: the batch expression agrees the pair collides
      val ph = Seq((1L, bytes(a)), (3L, bytes(aEdit)))
        .toDF("media_id", "payload")
        .select(graft.functions.exprs.phash(
          decode(col("payload"), "UTF-8"), 32)).collect().map(_.getLong(0))
      assert(ph(0) == ph(1))
    } finally q.stop()
  }

  test("banded phash chains into the candidate stream: near-dup media " +
      "pair against the bucket anchor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Array[Byte])]
    def bytes(s: String) = s.getBytes("UTF-8")
    val a = (("dense" * 20 + " ") * 8 + ("  x " * 30)) * 2
    val aEdit = a.updated(3, 'X').toString
    val banded = StreamOps.bandedPhash(
      src.toDS().toDF("media_id", "payload"))
      .as[(Long, String)].map { case (id, b) => (b, id) }
    val out = StreamOps.lshCandidateStream(banded)
    val q = out.writeStream.format("memory").queryName("media_cands")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData((1L, bytes(a)))
      q.processAllAvailable()
      src.addData((2L, bytes(aEdit)))
      q.processAllAvailable()
      val pairs = spark.table("media_cands").collect()
        .map(r => (r.getLong(1), r.getLong(2))).distinct.toSeq
      assert(pairs.contains((1L, 2L)), s"candidates: $pairs")
    } finally q.stop()
  }

  test("cc maintain stream: micro-batched edge folds land on the one-shot fixpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val edges = graft.ext.Dedup.jaccardPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.length >= 3)
    val batches = edges.grouped(math.max(1, edges.length / 3)).toSeq
    val src = MemoryStream[(Long, Long)]
    val (writer, current) = StreamOps.ccMaintainStream(
      src.toDS().toDF("doc_a", "doc_b"))
    // shared checkpoint = the periodic-maintenance-job pattern: each
    // drain folds ONLY its new batch into the standing table
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ck").toString
    def drain(ck: String): Unit = {
      val q = writer.option("checkpointLocation", ck).start()
      q.awaitTermination()
    }
    batches.foreach { b => src.addData(b); drain(ckpt) }
    val oneShot = graft.ext.Dedup
      .connectedComponents(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def cur() = current().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(cur() == oneShot && oneShot.nonEmpty)
    // replay idempotence (the scaladoc's retry-safety claim): a fresh
    // checkpoint re-folds the WHOLE history into the standing table —
    // the fixpoint must not move
    drain(java.nio.file.Files.createTempDirectory("graft-cc-ck2").toString)
    assert(cur() == oneShot)
  }

  test("cc maintain stream: parquet component store survives a JVM restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val edges = graft.ext.Dedup.jaccardPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (early, late) = edges.splitAt(2 * edges.length / 3)
    val store = java.nio.file.Files
      .createTempDirectory("graft-cc-store").toString + "/components"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-sck").toString
    // "process 1": folds the early batches and persists each
    // post-merge snapshot to the store
    val src1 = MemoryStream[(Long, Long)]
    val (w1, _) = StreamOps.ccMaintainStream(
      src1.toDS().toDF("doc_a", "doc_b"), storePath = Some(store))
    src1.addData(early)
    val q1 = w1.option("checkpointLocation", ckpt).start()
    q1.awaitTermination()
    // the store ALONE (no in-JVM state, no checkpoint replay) must
    // reproduce the standing fixpoint over the early edges
    val fromStore = StreamOps.readComponentStore(spark, store).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val earlyFix = graft.ext.Dedup
      .connectedComponents(early.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fromStore == earlyFix && earlyFix.nonEmpty)
    // "process 2" (the restarted JVM): a FRESH ccMaintainStream at
    // the same store path seeds from the latest snapshot and resumes
    // the SAME durable checkpoint — committed batches are skipped,
    // only the late edges fold in, and the result is the one-shot
    // fixpoint over everything
    val src2 = MemoryStream[(Long, Long)]
    val (w2, cur2) = StreamOps.ccMaintainStream(
      src2.toDS().toDF("doc_a", "doc_b"), storePath = Some(store))
    // the seed itself proves no-replay recovery
    assert(cur2().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == earlyFix)
    src2.addData(early) // same offsets range as the committed batch
    src2.addData(late)
    val q2 = w2.option("checkpointLocation", ckpt).start()
    q2.awaitTermination()
    val oneShot = graft.ext.Dedup
      .connectedComponents(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(cur2().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == oneShot)
    assert(StreamOps.readComponentStore(spark, store).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == oneShot)
  }

  test("component store: fresh-checkpoint restart cannot mix runs or serve a stale snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("graft-cc-runs").toString + "/components"
    // run 1: TWO committed batches (max batch_id = 1)
    val src1 = MemoryStream[(Long, Long)]
    val (w1, _) = StreamOps.ccMaintainStream(
      src1.toDS().toDF("doc_a", "doc_b"), storePath = Some(store))
    val ck1 = java.nio.file.Files.createTempDirectory("graft-run1").toString
    src1.addData(Seq((1L, 2L)))
    w1.option("checkpointLocation", ck1).start().awaitTermination()
    src1.addData(Seq((3L, 4L)))
    w1.option("checkpointLocation", ck1).start().awaitTermination()
    // run 2: FRESH checkpoint at the SAME store path, batch ids
    // restart at 0 — the r13 ADVICE hazard. It seeds from run 1's
    // latest snapshot and folds one new edge as ITS batch 0.
    val src2 = MemoryStream[(Long, Long)]
    val (w2, cur2) = StreamOps.ccMaintainStream(
      src2.toDS().toDF("doc_a", "doc_b"), storePath = Some(store))
    val ck2 = java.nio.file.Files.createTempDirectory("graft-run2").toString
    src2.addData(Seq((5L, 6L)))
    w2.option("checkpointLocation", ck2).start().awaitTermination()
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L)
    assert(cur2().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == want)
    // the store serves run 2's snapshot — NOT run 1's batch_id=1
    // (the old max(batch_id) selection returned exactly that stale
    // snapshot, and a shared batch_id=0 partition mixed both runs'
    // rows), and a third process seeding from it sees the fixpoint
    assert(StreamOps.readComponentStore(spark, store).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("component store: keep-last-N vacuum bounds the store and still seeds a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("graft-cc-vac").toString + "/components"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vac-ck").toString
    val src = MemoryStream[(Long, Long)]
    val (writer, _) = StreamOps.ccMaintainStream(
      src.toDS().toDF("doc_a", "doc_b"), storePath = Some(store),
      keepSnapshots = 2)
    // 5 batches; without vacuum the store would hold 5 full-table
    // snapshots — retention must cap it at 2 (files bounded too)
    (0 until 5).foreach { i =>
      src.addData(Seq((10L * i, 10L * i + 1)))
      writer.option("checkpointLocation", ckpt).start().awaitTermination()
    }
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sessionState.newHadoopConf())
    val snapshots = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("run_id="))
      .flatMap(st => fs.listStatus(st.getPath)).map(_.getPath.toString)
    assert(snapshots.length == 2, snapshots.mkString(", "))
    // restart after vacuum: the store ALONE still seeds the fixpoint
    val seeded = StreamOps.readComponentStore(spark, store).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0 until 5).flatMap(i =>
      Seq(10L * i -> 10L * i, 10L * i + 1 -> 10L * i)).toMap
    assert(seeded == want)
  }

  test("er maintain stream: streamed record batches land on the one-shot q184 output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val recs = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val idx = java.nio.file.Files
      .createTempDirectory("graft-er-idx").toString + "/idx"
    val store = java.nio.file.Files
      .createTempDirectory("graft-er-store").toString + "/components"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-er-ck").toString
    val src = MemoryStream[(Long, String, Int, String)]
    val (writer, current) = StreamOps.erMaintainStream(
      src.toDS().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
      idx, storePath = Some(store))
    recs.grouped(math.max(1, recs.length / 3)).foreach { b =>
      src.addData(b)
      val q = writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    val streamed = graft.ext.Linkage.entityOutput(current()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val oneShot = graft.ext.Linkage.entityResolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(streamed == oneShot && oneShot.nonEmpty)
    // the grown index equals a full build, and the component store's
    // latest snapshot serves the same standing table
    val full = java.nio.file.Files
      .createTempDirectory("graft-er-full").toString + "/idx"
    graft.ext.Linkage.writeDeletionKeyIndex(spark, sf, full)
    def keys(p: String) = spark.read.parquet(p).select("c_custkey", "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(keys(idx) == keys(full))
    assert(StreamOps.readComponentStore(spark, store).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      current().collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("er CDC stream: adds, deletes and RE-ADDS land on the one-shot output over the final corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val recs = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1).toSeq
    // CDC sequence: two add batches, then a batch deleting the
    // custkey ≡ 3 (mod 7) slice of what arrived so far, then a batch
    // RE-ADDING half of that slice (versioned tombstones — the r14
    // sequencing gap), then the final add batch
    val (early, lateAdds) = recs.splitAt(2 * recs.length / 3)
    val removedAll = early.map(_._1).filter(_ % 7 == 3).toSet
    val reAdded = removedAll.filter(_ % 2 == 0)
    val deleted = removedAll -- reAdded
    val base = java.nio.file.Files
      .createTempDirectory("graft-er-cdc").toString
    val src = MemoryStream[(Long, String, Int, String, String)]
    val (writer, current) = StreamOps.erMaintainCdcStream(
      src.toDS().toDF("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment", "op"),
      base + "/idx", base + "/edges", base + "/tombs",
      storePath = Some(base + "/components"))
    val ckpt = base + "/ckpt"
    def drain(): Unit = {
      val q = writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    early.grouped(math.max(1, early.length / 2)).foreach { b =>
      src.addData(b.map(r => (r._1, r._2, r._3, r._4, "add")))
      drain()
    }
    src.addData(removedAll.toSeq.sorted.map(k => (k, "", 0, "", "delete")))
    drain()
    // RE-ADD half the deleted slice in a LATER batch: their fresh
    // index rows out-version the tombstone, so they must be
    // matchable again — severed edges re-form
    val reAddRecs = early.filter(r => reAdded.contains(r._1))
    src.addData(reAddRecs.map(r => (r._1, r._2, r._3, r._4, "add")))
    drain()
    // the final adds arrive AFTER the deletes
    src.addData(lateAdds.map(r => (r._1, r._2, r._3, r._4, "add")))
    drain()
    // one-shot over the FINAL corpus (everything minus the
    // still-deleted slice — re-added and late members stay)
    val finalRecs = recs.filterNot(r => deleted.contains(r._1))
    val oneKeys = graft.ext.Linkage.deletionKeyTable(
      finalRecs.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
      .localCheckpoint(eager = true)
    val one = graft.ext.Linkage.entityOutput(
        graft.ext.Dedup.connectedComponents(
          graft.ext.Linkage.erAppendEdges(oneKeys, oneKeys)))
      .filter(col("n_members") > 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val streamed = graft.ext.Linkage.entityOutput(current())
      .filter(col("n_members") > 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == one && one.nonEmpty)
    // no deleted id survives anywhere in the standing table
    assert(current().collect().map(_.getLong(0)).toSet
      .intersect(deleted).isEmpty)
    // and the deletes really removed members the adds had matched
    // (non-vacuous: at least one deleted id was in a pre-delete entity)
    val preDelete = graft.ext.Linkage.entityOutput(
        graft.ext.Dedup.connectedComponents(
          graft.ext.Linkage.erAppendEdges(
            graft.ext.Linkage.deletionKeyTable(
              early.toDF("c_custkey", "c_name", "c_nationkey",
                "c_mktsegment")).localCheckpoint(eager = true),
            graft.ext.Linkage.deletionKeyTable(
              early.toDF("c_custkey", "c_name", "c_nationkey",
                "c_mktsegment")).localCheckpoint(eager = true))))
      .collect().map(_.getLong(0)).toSet
    assert(preDelete.intersect(removedAll).nonEmpty)
    // non-vacuous re-add: at least one re-added id is back in a
    // multi-member entity (it matched again after its tombstone)
    assert(streamed.map(_._1).toSet.intersect(reAdded).nonEmpty)
    // malformed CDC ops fail the batch instead of vanishing (r14
    // ADVICE): an unknown verb must surface as a stream error
    src.addData(Seq((999999L, "x", 0, "seg", "upsert")))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(err.getMessage.contains("neither 'add' nor 'delete'") ||
      Option(err.getCause).exists(_.getMessage
        .contains("neither 'add' nor 'delete'")))
  }

  test("lsh CDC stream: adds, deletes and RE-ADDS land on the one-shot clustering of the final corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val (early, lateAdds) = docs.splitAt(2 * docs.length / 3)
    val removedAll = early.map(_._1).filter(_ % 7 == 3).toSet
    // re-add exactly the removed docs that are CLUSTERED in the full
    // corpus (so the re-add non-vacuity check cannot depend on the
    // luck of an id split); the rest stay deleted
    val fullSh = graft.ext.Dedup.shingleRowsFor(
      graft.Tables.documents(spark, sf).select(col("doc_id"), col("text")),
      3).localCheckpoint(eager = true)
    val clusteredFull = graft.ext.Dedup.connectedComponents(
        graft.ext.Dedup.verifyPairs(fullSh,
          graft.ext.Dedup.lshCandidatePairs(
            fullSh.select(col("doc_id"),
              graft.ext.Dedup.minhashFromShingles(col("sh"), 32).as("sig")),
            bands = 8, rowsPerBand = 4, maxBucket = 256), 0.7))
      .collect().map(_.getLong(0)).toSet
    val reAdded = removedAll.intersect(clusteredFull)
    assert(reAdded.nonEmpty, "fixture: no removed doc is clustered")
    val deleted = removedAll -- reAdded
    val base = java.nio.file.Files
      .createTempDirectory("graft-lsh-cdc").toString
    val src = MemoryStream[(Long, String, String)]
    val (writer, current) = StreamOps.lshMaintainCdcStream(
      src.toDS().toDF("doc_id", "text", "op"),
      base + "/idx", base + "/sh", base + "/edges", base + "/tombs",
      storePath = Some(base + "/components"))
    val ckpt = base + "/ckpt"
    def drain(): Unit = {
      val q = writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    early.grouped(math.max(1, early.length / 2)).foreach { b =>
      src.addData(b.map(r => (r._1, r._2, "add"))); drain()
    }
    src.addData(removedAll.toSeq.sorted.map(k => (k, "", "delete"))); drain()
    // re-add half the deleted docs in a later batch (versioned
    // tombstones: their fresh shingle/index rows must be live)
    src.addData(early.filter(r => reAdded.contains(r._1))
      .map(r => (r._1, r._2, "add"))); drain()
    src.addData(lateAdds.map(r => (r._1, r._2, "add"))); drain()
    // one-shot over the final corpus (filtered input == shrunk-corpus
    // one-shot because signatures are row-local — the q328 argument);
    // the stream uses the production xxhash64 signature family, so
    // the one-shot twin does too
    val shrunkSh = graft.ext.Dedup.shingleRowsFor(
      graft.Tables.documents(spark, sf)
        .filter(!col("doc_id").isin(deleted.toSeq: _*))
        .select(col("doc_id"), col("text")), 3)
      .localCheckpoint(eager = true)
    val sigs = shrunkSh.select(col("doc_id"),
      graft.ext.Dedup.minhashFromShingles(col("sh"), 32).as("sig"))
    val one = graft.ext.Dedup.connectedComponents(
        graft.ext.Dedup.verifyPairs(shrunkSh,
          graft.ext.Dedup.lshCandidatePairs(sigs, bands = 8,
            rowsPerBand = 4, maxBucket = 256), 0.7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the standing table keeps singleton survivors; the one-shot has
    // no singletons — compare on multi-member components (the q327
    // output contract) and separately assert no deleted id survives
    val cur = current().localCheckpoint(eager = true)
    val sizes = cur.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val streamed = cur.join(sizes, "label").filter(col("n") > 1)
      .select(col("id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == one && one.nonEmpty)
    assert(cur.collect().map(_.getLong(0)).toSet
      .intersect(deleted).isEmpty)
    // non-vacuous re-add: a re-added doc is clustered again
    assert(streamed.map(_._1).toSet.intersect(reAdded).nonEmpty)
  }

  // Spark jobs one micro-batch runs. An add-only batch on fresh stores:
  // the append paths' results are filters over checkpoints their
  // witness probe already materialized (an eager checkpoint of them on
  // top was one more job), and the CC fold collects the new edges and
  // checkpoints the labels (the distributed quotient fold made the
  // batch 20 and 29 jobs). A delete batch removes one id in a
  // component and one in none, so the driver fold takes every step
  // (the distributed fold made it 38 and 26 jobs).
  private def batchJobs(
      writer: org.apache.spark.sql.streaming.DataStreamWriter[_],
      base: String): Int =
    TestSpark.countJobs(writer.option("checkpointLocation", base + "/ckpt")
      .start().awaitTermination())._2

  private def erStream(tag: String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val recs = graft.Tables.customer(spark, TestSpark.sf)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3), "add"))
      .toSeq
    val base = java.nio.file.Files.createTempDirectory(tag).toString
    val src = MemoryStream[(Long, String, Int, String, String)]
    val (writer, current) = StreamOps.erMaintainCdcStream(
      src.toDS().toDF("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment", "op"),
      base + "/idx", base + "/edges", base + "/tombs")
    src.addData(recs)
    (writer, current, base, recs.map(_._1),
      (ids: Seq[Long]) => src.addData(ids.map(id => (id, "", 0, "", "delete"))))
  }

  private def lshStream(tag: String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), "add")).toSeq
    val base = java.nio.file.Files.createTempDirectory(tag).toString
    val src = MemoryStream[(Long, String, String)]
    val (writer, current) = StreamOps.lshMaintainCdcStream(
      src.toDS().toDF("doc_id", "text", "op"),
      base + "/idx", base + "/sh", base + "/edges", base + "/tombs")
    src.addData(docs)
    (writer, current, base, docs.map(_._1),
      (ids: Seq[Long]) => src.addData(ids.map(id => (id, "", "delete"))))
  }

  // after the add batch: the least id in a multi-member component and
  // the least id in none
  private def oneInOneOut(current: () => org.apache.spark.sql.DataFrame,
      ids: Seq[Long]): Seq[Long] = {
    val labels = current().collect().map(r => r.getLong(0) -> r.getLong(1))
    val inComponent = labels.filter(l => l._1 != l._2).map(_._1)
    assert(inComponent.nonEmpty, "fixture: the add batch clustered nothing")
    Seq(inComponent.min, ids.filterNot(labels.map(_._1).toSet).min)
  }

  test("er CDC stream: one add batch runs 18 Spark jobs (erAppendEdges' result is not checkpointed again; the CC fold runs on the driver)") {
    val (writer, _, base, _, _) = erStream("graft-er-jobs")
    assert(batchJobs(writer, base) == 18)
  }

  test("lsh CDC stream: one add batch runs 27 Spark jobs (lshAppendCandidates' result is not checkpointed again; the CC fold runs on the driver)") {
    val (writer, _, base, _, _) = lshStream("graft-lsh-jobs")
    assert(batchJobs(writer, base) == 27)
  }

  test("er CDC stream: one delete batch runs 15 Spark jobs (the CC fold collects only the touched component)") {
    val (writer, current, base, ids, delete) = erStream("graft-er-del-jobs")
    batchJobs(writer, base)
    delete(oneInOneOut(current, ids))
    assert(batchJobs(writer, base) == 15)
  }

  test("lsh CDC stream: one delete batch runs 15 Spark jobs (the CC fold collects only the touched component)") {
    val (writer, current, base, ids, delete) = lshStream("graft-lsh-del-jobs")
    batchJobs(writer, base)
    delete(oneInOneOut(current, ids))
    assert(batchJobs(writer, base) == 15)
  }

  test("er CDC stream: periodic fold bounds stores, keeps parity, and re-admits after compaction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val recs = graft.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1).toSeq
    val base = java.nio.file.Files
      .createTempDirectory("graft-er-fold").toString
    val src = MemoryStream[(Long, String, Int, String, String)]
    val compactEvery = 2
    val (writer, current) = StreamOps.erMaintainCdcStream(
      src.toDS().toDF("c_custkey", "c_name", "c_nationkey",
        "c_mktsegment", "op"),
      base + "/idx", base + "/edges", base + "/tombs",
      storePath = Some(base + "/components"),
      compactEvery = compactEvery)
    val ckpt = base + "/ckpt"
    def drain(): Unit = {
      val q = writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // 3 add batches (folds fire at batch 2) — then delete a slice,
    // then one more add (fold at batch 4 applies + CLEARS the
    // tombstones), then RE-ADD the deleted slice post-compaction
    val adds = recs.grouped(math.max(1, recs.length / 3)).toSeq
    adds.zipWithIndex.foreach { case (b, _) =>
      src.addData(b.map(r => (r._1, r._2, r._3, r._4, "add"))); drain()
    }
    val nAddBatches = adds.length
    val removed = recs.map(_._1).filter(_ % 7 == 3).toSet
    src.addData(removed.toSeq.sorted.map(k => (k, "", 0, "", "delete")))
    drain() // batch nAddBatches
    src.addData(Seq(recs.find(r => !removed.contains(r._1)).get)
      .map(r => (r._1, r._2, r._3, r._4, "add")))
    drain() // batch nAddBatches+1 — with compactEvery=2 a fold runs
            // at or after the delete batch, folding the tombstones in
    // post-compaction RE-ADD: the fold dropped the dead rows AND the
    // tombstone store, so the re-add must be matchable again
    src.addData(recs.filter(r => removed.contains(r._1))
      .map(r => (r._1, r._2, r._3, r._4, "add")))
    drain()
    // parity: final corpus = the full table (everything re-added)
    val oneKeys = graft.ext.Linkage.deletionKeyTable(
      recs.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
      .localCheckpoint(eager = true)
    val one = graft.ext.Linkage.entityOutput(
        graft.ext.Dedup.connectedComponents(
          graft.ext.Linkage.erAppendEdges(oneKeys, oneKeys)))
      .filter(col("n_members") > 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val streamed = graft.ext.Linkage.entityOutput(current())
      .filter(col("n_members") > 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == one && one.nonEmpty)
    assert(streamed.map(_._1).toSet.intersect(removed).nonEmpty)
    // bounded stores: at most compactEvery un-folded batch dirs on
    // top of the single compacted base survive any fold cycle
    def batchDirs(p: String): Seq[String] = {
      val d = new java.io.File(p)
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("ingest_batch=")).toSeq
    }
    assert(batchDirs(base + "/idx").length <= compactEvery + 1,
      s"index accreted ${batchDirs(base + "/idx")}")
    assert(batchDirs(base + "/edges").length <= compactEvery + 1)
    // the tombstone store was cleared by the last fold and no delete
    // arrived after it
    assert(batchDirs(base + "/tombs").length <= compactEvery)
    // and exactly one compacted base exists (negative batch id)
    assert(batchDirs(base + "/idx")
      .count(_.stripPrefix("ingest_batch=").startsWith("-")) == 1)
  }

  test("simhash maintain stream: streamed doc batches land on the one-shot q46 clustering") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val base = java.nio.file.Files
      .createTempDirectory("graft-sim-stream").toString
    val src = MemoryStream[(Long, String)]
    val (writer, current) = StreamOps.simhashMaintainStream(
      src.toDS().toDF("doc_id", "text"),
      base + "/sigs", base + "/vkeys",
      storePath = Some(base + "/components"))
    val ckpt = base + "/ckpt"
    docs.grouped(math.max(1, docs.length / 3)).foreach { b =>
      src.addData(b)
      val q = writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // one-shot: CC over q46's pair set — the same clustering contract
    // the batch twin q326 is hash-gated on
    val oneShot = graft.ext.Dedup.connectedComponents(
        graft.ext.Dedup.simhashNearDupPortable(spark, sf)
          .select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val streamed = current().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == oneShot && oneShot.nonEmpty)
    // the grown signature store equals a row-local full build, and
    // the durable component store serves the standing table
    val full = graft.ext.Dedup.simhashRowsPortable(
        graft.Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(spark.read.parquet(base + "/sigs").select("doc_id", "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == full)
    assert(StreamOps.readComponentStore(spark, base + "/components").get
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == oneShot)
  }

  test("index ingest stream: streamed appends probe like a one-shot full build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft-ing").toString + "/idx"
    // base index from even ids; odd ids arrive as TWO stream batches
    graft.sources.Io.writeParquet(
      graft.ext.Similarity.ivfPqIndex(spark, sf).join(
        emb.filter(col("vec_id") % 2 === 0).select(col("vec_id")),
        Seq("vec_id"), "left_semi"),
      base, Seq("cell"))
    val odd = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val (b1, b2) = odd.splitAt(odd.length / 2)
    val src = MemoryStream[(Long, Int, Array[Float])]
    // AvailableNow drains what exists at start then stops — run the
    // ingest twice with a shared checkpoint (the periodic-ingest-job
    // pattern; the checkpoint makes run 2 resume at b1's end instead
    // of re-appending it)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ing-ck").toString
    def drain(): Unit = {
      val q = StreamOps.indexIngestStream(spark, sf,
        src.toDS().toDF("vec_id", "label", "embedding"), base)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    src.addData(b1.toSeq); drain()
    src.addData(b2.toSeq); drain()
    val full = java.nio.file.Files.createTempDirectory("graft-ing-full").toString + "/idx"
    graft.ext.Similarity.writeIvfPqIndex(spark, sf, full)
    val a = graft.ext.Similarity.ivfPqProbeMaterialized(spark, sf, base).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val b = graft.ext.Similarity.ivfPqProbeMaterialized(spark, sf, full).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("ann serve stream: streamed queries score exactly like the batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val qrows = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batch = StreamOps.annServeStream(spark, sf,
      qrows.toSeq.toDF("query_id", "q_emb"), minSim = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(batch.nonEmpty)
    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.annServeStream(spark, sf,
      src.toDS().toDF("query_id", "q_emb"), minSim = 0.5)
      .writeStream.format("memory").queryName("ann_serve")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(qrows(0))
      q.processAllAvailable()
      src.addData(qrows(1)) // second query in a later micro-batch
      q.processAllAvailable()
      val got = spark.table("ann_serve").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got == batch, s"stream/batch divergence: ${got.diff(batch)} ${batch.diff(got)}")
    } finally q.stop()
  }

  test("ann serve stream over the materialized index: deletes stop being served") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ann-serve-idx").toString + "/idx"
    graft.ext.Similarity.writeIvfPqIndex(spark, sf, idx)
    val qrows = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    // the materialized path serves exactly what the in-memory rebuild
    // serves before any delete (same frozen encode)
    val preDelete = rows(StreamOps.annServeStream(spark, sf,
      qrows.toSeq.toDF("query_id", "q_emb"), minSim = 0.2,
      indexPath = Some(idx)))
    assert(preDelete == rows(StreamOps.annServeStream(spark, sf,
      qrows.toSeq.toDF("query_id", "q_emb"), minSim = 0.2)))
    // delete a vector that WAS being served
    val victim = preDelete.map(_._2).filterNot(Set(0L, 7L)).head
    graft.ext.Similarity.deleteFromIvfPqIndex(
      Seq(victim).toDF("vec_id"), idx)
    val expected = preDelete.filterNot(_._2 == victim)
    assert(preDelete.exists(_._2 == victim) && expected.nonEmpty)
    // STREAMING radius search over the materialized index excludes it
    val src = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.annServeStream(spark, sf,
      src.toDS().toDF("query_id", "q_emb"), minSim = 0.2,
      indexPath = Some(idx))
      .writeStream.format("memory").queryName("ann_serve_mat")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(qrows(0)); q.processAllAvailable()
      src.addData(qrows(1)); q.processAllAvailable()
      val got = rows(spark.table("ann_serve_mat"))
      assert(got == expected,
        s"stream/batch divergence: ${got.diff(expected)} ${expected.diff(got)}")
      assert(!got.exists(_._2 == victim))
    } finally q.stop()
    // and the stream agrees with the batch MATERIALIZED probe: every
    // top-k row the batch probe returns for query 0 is served with the
    // same ADC score (radius covers the top-k at this minSim)
    val probe = graft.ext.Similarity
      .ivfPqProbeMaterialized(spark, sf, idx, queryId = 0L)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
      .filter(_._2 >= 0.2).toSet
    assert(probe.nonEmpty && !probe.exists(_._1 == victim))
    val served0 = expected.filter(_._1 == 0L).map(t => (t._2, t._3))
    assert(probe.subsetOf(served0))
  }

  test("streaming debounce: burst suppression across batches by data clock") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedHashedDoc]
    def ts(s: String) = Timestamp.valueOf(s)
    val q = StreamOps.debounceStream(src.toDS(),
      java.time.Duration.ofMinutes(10))
      .writeStream.format("memory").queryName("debounce_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // burst: head emits, follower 5 min later suppressed
      src.addData(TimedHashedDoc("k1", 1L, ts("2024-01-01 10:00:00")),
        TimedHashedDoc("k1", 2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // next batch: 9:55 after the previous RAW event → still inside
      src.addData(TimedHashedDoc("k1", 3L, ts("2024-01-01 10:14:55")))
      q.processAllAvailable()
      // 15 min later → new burst head
      src.addData(TimedHashedDoc("k1", 4L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val rows = spark.table("debounce_stream").as[HashedDoc].collect()
        .map(_.docId).sorted.toSeq
      assert(rows == Seq(1L, 4L))
    } finally q.stop()
  }

  test("streaming debounce matches the batch operator on the events table") {
    import spark.implicits._
    val dir = graft.TestSpark.sf
    val batch = graft.rel.Relational.debounceEvents(spark, dir, gapMin = 10)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val streamed = StreamOps.debounceStream(
      StreamOps.readEventsStream(spark, dir)
        .select(concat_ws("|", col("user_id"), col("event_type")).as("contentHash"),
          col("event_id").as("docId"), col("ts"))
        .as[TimedHashedDoc],
      java.time.Duration.ofMinutes(10))
    val out = java.nio.file.Files.createTempDirectory("graft-debounce-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-debounce-ck").toString
    val q = streamed.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val ids = spark.read.parquet(out).select("docId").collect()
      .map(_.getLong(0)).toSet
    assert(ids == batch, s"stream/batch diverged: ${ids.size} vs ${batch.size}")
  }

  test("session windows merge within gap, split across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.sessionizeStream(src.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    src.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:20:00")),  // within gap → same session
      (1L, Timestamp.valueOf("2024-01-01 12:00:00")),  // > 30 min later → new session
      (2L, Timestamp.valueOf("2024-01-01 10:05:00")))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).sorted.toSeq
    q.stop()
    assert(rows == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("stream-stream interval join pairs events within tolerance only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lSrc = MemoryStream[(String, Timestamp)]
    val rSrc = MemoryStream[(String, Timestamp)]
    val left = lSrc.toDF().toDF("key", "ts")
    val right = rSrc.toDF().toDF("key", "ts")
    val q = StreamOps.intervalJoinStream(left, right, "10 minutes")
      .writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append()).start()
    lSrc.addData(("a", Timestamp.valueOf("2024-01-01 10:00:00")),
      ("b", Timestamp.valueOf("2024-01-01 10:00:00")))
    rSrc.addData(
      ("a", Timestamp.valueOf("2024-01-01 10:05:00")),  // within 10 min → joins
      ("a", Timestamp.valueOf("2024-01-01 11:00:00")),  // outside → dropped
      ("c", Timestamp.valueOf("2024-01-01 10:00:00")))  // wrong key → dropped
    q.processAllAvailable()
    val rows = spark.table("ij").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Timestamp]("r_ts").toString))
    q.stop()
    assert(rows.toSeq == Seq(("a", "2024-01-01 10:05:00.0")))
  }

  test("left-outer interval join emits unmatched lefts with nulls after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lSrc = MemoryStream[(String, Timestamp)]
    val rSrc = MemoryStream[(String, Timestamp)]
    val q = StreamOps.intervalJoinStreamOuter(
      lSrc.toDF().toDF("key", "ts"), rSrc.toDF().toDF("key", "ts"), "10 minutes")
      .writeStream.format("memory").queryName("ij_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      lSrc.addData(("a", Timestamp.valueOf("2024-01-01 10:00:00")),
        ("b", Timestamp.valueOf("2024-01-01 10:00:00")))
      rSrc.addData(("a", Timestamp.valueOf("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // push BOTH watermarks far past b's join window so the engine
      // can prove no partner for b will ever arrive; two nudges since
      // the watermark computed at batch N gates emission at batch N+1
      for (t <- Seq("2024-01-01 12:00:00", "2024-01-01 12:10:00")) {
        lSrc.addData(("z", Timestamp.valueOf(t)))
        rSrc.addData(("z", Timestamp.valueOf(t)))
        q.processAllAvailable()
      }
      val rows = spark.table("ij_outer").collect()
        .map(r => (r.getAs[String]("key"), Option(r.getAs[Timestamp]("r_ts"))))
        .filter(x => x._1 == "a" || x._1 == "b").sorted.toSeq
      assert(rows == Seq(
        ("a", Some(Timestamp.valueOf("2024-01-01 10:05:00"))),
        ("b", None)))
    } finally q.stop()
  }

  test("stream-static join enriches events with dim attributes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = StreamOps.enrichStream(src.toDF().toDF("user_id", "value"), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    src.addData((1L, 10.0), (3L, 7.0))
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getAs[Long]("user_id"), Option(r.getAs[String]("tier")))).sorted.toSeq
    q.stop()
    assert(rows == Seq((1L, Some("gold")), (3L, None)))
  }

  test("json audit stream: per-hour malformed rate, bad payloads don't kill the query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Timestamp, String)]
    val q = StreamOps.jsonAuditStream(src.toDF().toDF("ts", "props"))
      .writeStream.format("memory").queryName("json_audit")
      .outputMode(OutputMode.Append()).start()
    src.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), """{"k": 7}"""),
      (Timestamp.valueOf("2024-01-01 10:15:00"), """not json"""),
      (Timestamp.valueOf("2024-01-01 10:25:00"), """{"k": "abc"}"""),
      (Timestamp.valueOf("2024-01-01 10:35:00"), """{"k": 42}"""))
    q.processAllAvailable()
    // push the watermark past the window end (two nudges: watermark
    // from batch N gates emission at batch N+1)
    src.addData((Timestamp.valueOf("2024-01-01 14:30:00"), """{"k": 1}"""))
    q.processAllAvailable()
    src.addData((Timestamp.valueOf("2024-01-01 14:40:00"), """{"k": 1}"""))
    q.processAllAvailable()
    val rows = spark.table("json_audit").collect()
      .map(r => (r.getAs[Timestamp]("hour").toString,
        r.getAs[Long]("n_events"), r.getAs[Long]("n_malformed"),
        r.getAs[Double]("malformed_rate"))).toSeq
    q.stop()
    assert(rows == Seq(("2024-01-01 10:00:00.0", 4L, 2L, 0.5)))
  }

  test("anomaly stream flags only deviant closed windows against the static baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Timestamp, String)]
    val baseline = Seq(("click", 2.0, 1.0)).toDF("event_type", "mu", "sd")
    val q = StreamOps.anomalyStream(
      src.toDF().toDF("ts", "event_type"), baseline)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append()).start()
    // window [10:00,11:00): 10 clicks → z = 8 (anomalous)
    src.addData((0 until 10).map(i =>
      (Timestamp.valueOf(f"2024-01-01 10:${i * 3}%02d:00"), "click")): _*)
    q.processAllAvailable()
    // window [12:00,13:00): 2 clicks → z = 0 (normal, must NOT emit)
    src.addData((Timestamp.valueOf("2024-01-01 12:10:00"), "click"),
      (Timestamp.valueOf("2024-01-01 12:20:00"), "click"))
    q.processAllAvailable()
    // nudge the watermark (max ts − 2 h) past BOTH window ends so the
    // append-mode sink flushes them; two nudges because the watermark
    // computed at batch N gates emission at batch N+1
    src.addData((Timestamp.valueOf("2024-01-01 15:30:00"), "other"))
    q.processAllAvailable()
    src.addData((Timestamp.valueOf("2024-01-01 15:40:00"), "other"))
    q.processAllAvailable()
    val rows = spark.table("anomalies").collect()
      .map(r => (r.getAs[Timestamp]("hour").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("z"))).toSeq
    q.stop()
    assert(rows == Seq(("2024-01-01 10:00:00.0", "click", 10L, 8.0)))
  }

  test("type baseline: positive sd, one row per active type") {
    import spark.implicits._
    val hist = Seq(
      (Timestamp.valueOf("2024-01-01 09:05:00"), "click"),
      (Timestamp.valueOf("2024-01-01 09:10:00"), "click"),
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click"),
      (Timestamp.valueOf("2024-01-01 09:30:00"), "view"),
      (Timestamp.valueOf("2024-01-01 10:30:00"), "view"))
      .toDF("ts", "event_type")
    val rows = StreamOps.typeBaseline(hist).collect()
    // click: hourly counts (2,1) → mu 1.5, sd > 0; view: (1,1) → sd 0 filtered
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("event_type") == "click")
    assert(rows.head.getAs[Double]("mu") == 1.5)
  }

  test("banded simhash: identical texts share every bucket, disjoint texts none") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words about spark engines and parquet"))
      .toDF("doc_id", "text")
    val b = StreamOps.bandedSimhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket"))
    val by = b.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(by(1L) == by(2L) && by(1L).size == 4)
    assert((by(1L) intersect by(3L)).isEmpty)
  }

  test("LSH candidate stream: anchor pairing within buckets across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, Long)]
    val q = StreamOps.lshCandidateStream(src.toDS())
      .toDF("bucket", "anchor", "doc_id")
      .writeStream.format("memory").queryName("lsh_cands")
      .outputMode(OutputMode.Append()).start()
    src.addData(("b1", 5L), ("b1", 9L), ("b2", 3L))
    q.processAllAvailable()
    src.addData(("b1", 12L), ("b2", 3L)) // same doc again: not a pair
    q.processAllAvailable()
    val rows = spark.table("lsh_cands").collect()
      .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("anchor"),
        r.getAs[Long]("doc_id"))).sorted.toSeq
    q.stop()
    assert(rows == Seq(("b1", 5L, 9L), ("b1", 5L, 12L)))
  }

  test("deduped LSH candidate stream: re-delivered (bucket, doc) emits one pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, Long, Timestamp)]
    def ts(s: String) = Timestamp.valueOf(s)
    val q = StreamOps.lshCandidateStreamDeduped(src.toDS(),
      dedupTtl = java.time.Duration.ofMinutes(10))
      .toDF("bucket", "anchor", "doc_id")
      .writeStream.format("memory").queryName("lsh_cands_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(("b1", 5L, ts("2024-01-01 10:00:00")),
        ("b1", 9L, ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      // the SAME (bucket, doc) re-delivered on a later micro-batch —
      // the at-least-once case the plain operator double-emits on
      src.addData(("b1", 9L, ts("2024-01-01 10:00:05")))
      q.processAllAvailable()
      src.addData(("b1", 9L, ts("2024-01-01 10:00:09")),
        ("b1", 12L, ts("2024-01-01 10:00:10")))
      q.processAllAvailable()
      val rows = spark.table("lsh_cands_dedup").collect()
        .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("anchor"),
          r.getAs[Long]("doc_id"))).sorted.toSeq
      assert(rows == Seq(("b1", 5L, 9L), ("b1", 5L, 12L)),
        s"re-delivery produced duplicate candidate pairs: $rows")
    } finally q.stop()
  }

  test("deduped LSH candidates: doc entries evict past the horizon, pair re-emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, Long, Timestamp)]
    def ts(s: String) = Timestamp.valueOf(s)
    // 60 s horizon: a re-delivery AFTER eviction re-emits its pair —
    // the documented bounded-state trade
    val q = StreamOps.lshCandidateStreamDeduped(src.toDS(),
      dedupTtl = java.time.Duration.ofSeconds(60))
      .toDF("bucket", "anchor", "doc_id")
      .writeStream.format("memory").queryName("lsh_cands_dedup_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(("b1", 5L, ts("2024-01-01 10:00:00")),
        ("b1", 9L, ts("2024-01-01 10:00:01")))
      q.processAllAvailable()
      // fresh traffic keeps the BUCKET alive (anchor intact) while the
      // watermark (→ 10:01:50) passes doc 9's horizon (10:01:01)
      src.addData(("b1", 13L, ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      // doc 9 re-delivered after its entry evicted → pair re-emits,
      // still against the ORIGINAL anchor
      src.addData(("b1", 9L, ts("2024-01-01 10:02:05")))
      q.processAllAvailable()
      val rows = spark.table("lsh_cands_dedup_evict").collect()
        .map(r => (r.getAs[String]("bucket"), r.getAs[Long]("anchor"),
          r.getAs[Long]("doc_id"))).toSeq
        .sortBy(r => (r._1, r._3))
      assert(rows.count(_ == ("b1", 5L, 9L)) == 2,
        s"expected post-eviction re-emit, got: $rows")
      assert(rows.contains(("b1", 5L, 13L)))
    } finally q.stop()
  }

  test("LSH candidate stream state is one row per distinct bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, Long)]
    val q = StreamOps.lshCandidateStream(src.toDS())
      .toDF("bucket", "anchor", "doc_id")
      .writeStream.format("memory").queryName("lsh_state")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(("b1", 5L), ("b1", 9L), ("b2", 3L))
      q.processAllAvailable()
      // more arrivals in existing buckets + one new bucket: state must
      // grow only with DISTINCT buckets (1 anchor long per bucket),
      // never with arrivals or emitted pairs
      src.addData(("b1", 12L), ("b1", 13L), ("b2", 4L), ("b3", 7L))
      q.processAllAvailable()
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
      assert(stateRows == 3L, s"state rows $stateRows != distinct buckets 3")
    } finally q.stop()
  }

  test("dedup state survives a query restart via checkpoint (file source)") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-ckpt-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // file source → stateful dedup → file sink with a checkpoint: the
    // production recovery shape (memory sink can't recover)
    def start() = {
      val src = spark.readStream
        .schema("contentHash STRING, docId LONG")
        .parquet(in).as[HashedDoc]
      StreamOps.dedupStream(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
    }
    // run 1: h1 admitted, then stop — state is in the checkpoint
    Seq(HashedDoc("h1", 7L)).toDS().write.mode("append").parquet(in)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() == 1)
    // run 2 (fresh query object, same checkpoint): the h1 duplicate
    // MUST be dropped by state restored from the checkpoint; h2 is new
    Seq(HashedDoc("h1", 99L), HashedDoc("h2", 1L)).toDS()
      .write.mode("append").parquet(in)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(out).as[HashedDoc].collect()
      .map(d => d.contentHash -> d.docId).toSeq.sorted
    assert(rows == Seq("h1" -> 7L, "h2" -> 1L),
      s"state did not survive restart: $rows")
  }

  test("streaming psi monitor finalizes to the batch psi rows after draining the current period") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = TestSpark.sf
    val cutoff = "1998-01-01"
    // frozen artifacts, fit batch-side exactly like production would
    val bounds = graft.ext.Profile.psiBounds(spark, sf, cutoff)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bounds.count()
    val baseBins = graft.ext.Profile.psiBaseBins(spark, sf, cutoff)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    baseBins.count()
    // the REAL current-period rows, streamed in two micro-batches
    val cur = graft.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= org.apache.spark.sql.functions
        .lit(cutoff).cast("timestamp"))
      .select(col("o_totalprice")).collect().map(_.getDouble(0))
    assert(cur.nonEmpty)
    val (b1, b2) = cur.splitAt(cur.length / 2)
    val src = MemoryStream[Double]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamOps.psiMonitorStream(
      src.toDF().withColumnRenamed("value", "o_totalprice"),
      bounds, baseBins) { (psi, _) => last = psi.collect() }
      .start()
    src.addData(b1.toSeq: _*); q.processAllAvailable()
    src.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    def key(r: org.apache.spark.sql.Row) = r.getInt(0)
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        Option(r.get(5)))
    val streamed = last.map(r => key(r) -> tup(r)).toMap
    val batch = graft.ext.Profile.psi(spark, sf, cutoff).collect()
      .map(r => key(r) -> tup(r)).toMap
    assert(streamed == batch,
      s"stream/batch psi diverged:\nstream=$streamed\nbatch=$batch")
    bounds.unpersist(); baseBins.unpersist()
  }

  test("streaming sprt monitor walks to the batch q311 decisions after draining the cohorts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = TestSpark.sf
    // the REAL per-user cohort rows, streamed in two micro-batches
    val rows = graft.rel.Relational.sprtUserCohorts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val src = MemoryStream[(Long, Long)]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamOps.sprtMonitorStream(
      src.toDF().toDF("day_us", "conv")) { (sprt, _) => last = sprt.collect() }
      .start()
    src.addData(b1.toSeq: _*); q.processAllAvailable()
    src.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    def m(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getTimestamp(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4))).toMap
    val batch = m(graft.rel.Relational.sprtMonitor(spark, sf).collect())
    val streamed = m(last)
    assert(streamed == batch,
      s"stream/batch sprt diverged:\nstream=$streamed\nbatch=$batch")
  }

  test("streaming ks monitor finalizes to the batch q213 rows after draining the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = TestSpark.sf
    // the REAL (source, n_chars) document rows, streamed in two
    // micro-batches — the Complete-mode grid must finalize to exactly
    // the batch operator's D statistics (shared ksFinalize tail)
    val rows = graft.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val src = MemoryStream[(String, Long)]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamOps.ksMonitorStream(
      src.toDF().toDF("source", "n_chars")) { (ks, _) => last = ks.collect() }
      .start()
    src.addData(b1.toSeq: _*); q.processAllAvailable()
    src.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    def m(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = m(graft.ext.Sampling.ksDrift(spark, sf).collect())
    val streamed = m(last)
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream/batch ks diverged:\nstream=$streamed\nbatch=$batch")
  }

  test("streaming kmv state equals the batch sketch over the same rows (merge across batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // feed the REAL events table in two micro-batches — the state
    // fold must land on exactly the batch operator's estimates
    val rows = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val src = MemoryStream[(String, Long)]
    val q = StreamOps.kmvDistinctStream(src.toDS())
      .toDF("event_type", "n_kept", "est_users")
      .writeStream.format("memory").queryName("kmv")
      .outputMode(OutputMode.Update()).start()
    src.addData(b1.toSeq: _*); q.processAllAvailable()
    src.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()
    // last update per key is the final state
    val streamed = spark.table("kmv").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.last._2).toMap
    val batch = graft.rel.Relational.kmvDistinct(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("est_users"))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (t, (kept, est)) =>
      assert((kept, est) == batch(t), s"$t: stream $kept/$est vs batch ${batch(t)}")
    }
  }

  test("foreachBatch writer drains a stream through a batch transform") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    src.addData(Ev(Timestamp.valueOf("2024-01-01 09:00:00"), "click", 5.0))
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val q = StreamOps.foreachBatchWriter(src.toDS()) { (batch, _) =>
      seen.addAndGet(batch.count())
    }.start()
    q.awaitTermination(30000)
    assert(seen.get() == 1L)
  }

  test("dsir score stream: micro-batch splits score bit-identically to the batch model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = TestSpark.sf
    val ratios = graft.ext.Sampling.importanceRatios(spark, sf)
    assert(ratios.size <= 64 && ratios.nonEmpty)
    val batch = graft.ext.Sampling.importanceWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Timestamp.valueOf("2024-01-01 10:00:00")))
    val src = MemoryStream[(Long, String, Timestamp)]
    val out = StreamOps.dsirScoreStream(
      src.toDS().toDF("doc_id", "text", "ts"), ratios)
    val q = out.writeStream.format("memory").queryName("dsir_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // an arbitrary split must not change a single score: the op is
      // stateless, every doc's weight is a pure function of (text, model)
      val (h1, h2) = docs.splitAt(docs.length / 3)
      src.addData(h1.toSeq: _*)
      q.processAllAvailable()
      src.addData(h2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tok"), r.getAs[Double]("dsir_weight"))).toMap
      assert(got.size == docs.length)
      assert(got == batch, "stream scores diverge from the batch scorer")
    } finally q.stop()
  }

  test("prefix candidate stream: candidate set EQUALS the batch PPJoin's under corpus frequencies") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{explode, count, lit}
    val sf = "/root/testdata/sf0.001"
    val st = graft.ext.Dedup.shingleTable(spark, sf, 3)
    val batchCands = graft.ext.Dedup.prefixCandidatesOn(st, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchCands.nonEmpty, "gate corpus must produce candidates")
    // the frozen artifact = the SAME document frequencies the batch
    // join computes internally → candidate sets must be identical
    val freq = st.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // stronger than set equality downstream: the row-local frozen
    // projection reproduces the batch prefix TABLE row for row
    // (t, doc_id, sz, pos) — an offsetting-error pair in the join
    // could mask a projection bug; this cannot
    val batchPrefix = graft.ext.Dedup.prefixTableOn(st, 0.7)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    val frozenPrefix = graft.ext.Dedup.prefixProjectFrozen(
      graft.Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")), freq, 0.7)
      .select(col("t"), col("doc_id"), col("sz"), col("pos"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(frozenPrefix == batchPrefix,
      s"prefix tables diverge: only-frozen=" +
        s"${(frozenPrefix -- batchPrefix).take(3)} only-batch=" +
        s"${(batchPrefix -- frozenPrefix).take(3)}")
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Timestamp.valueOf("2024-01-01 10:00:00")))
    val src = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.prefixCandidateStream(
      src.toDS().toDF("doc_id", "text", "ts"), freq, threshold = 0.7,
      pairTtl = java.time.Duration.ofHours(1))
      .toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("prefix_cands")
      .outputMode(OutputMode.Append()).start()
    try {
      // an arbitrary micro-batch split must not change the pair set:
      // pairs emit when their second member arrives
      val (h1, h2) = docs.splitAt(docs.length / 2)
      src.addData(h1.toSeq: _*)
      q.processAllAvailable()
      src.addData(h2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("prefix_cands").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got == batchCands,
        s"stream candidates diverge from batch: only-stream=" +
          s"${(got -- batchCands).take(5)} only-batch=" +
          s"${(batchCands -- got).take(5)}")
    } finally q.stop()
  }

  test("prefix candidate stream: recall stays exact under a deliberately EMPTY frozen map") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // the soundness claim: the pruning bounds need only a CONSISTENT
    // token order, so a stale/empty map costs pruning efficiency,
    // never recall — every batch-VERIFIED pair must still be emitted
    val truePairs = graft.ext.Dedup.jaccardJoinPrefix(spark, sf)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Timestamp.valueOf("2024-01-01 10:00:00")))
    val src = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.prefixCandidateStream(
      src.toDS().toDF("doc_id", "text", "ts"), Map.empty,
      threshold = 0.7, pairTtl = java.time.Duration.ofHours(1))
      .toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("prefix_cands_empty")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(docs.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("prefix_cands_empty").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(truePairs.subsetOf(got),
        s"empty-map prefilter LOST true pairs: ${(truePairs -- got).take(5)}")
    } finally q.stop()
  }

  test("prefix join stream: verified pairs EQUAL batch q150's rows on the gate corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{explode, count, lit}
    val sf = "/root/testdata/sf0.001"
    val st = graft.ext.Dedup.shingleTable(spark, sf, 3)
    val batch = graft.ext.Dedup.jaccardJoinPrefix(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(batch.nonEmpty)
    val freq = st.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Timestamp.valueOf("2024-01-01 10:00:00")))
    val src = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.prefixJoinStream(
      src.toDS().toDF("doc_id", "text", "ts"), st, freq,
      pairTtl = java.time.Duration.ofHours(1))
      .writeStream.format("memory").queryName("prefix_join_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(docs.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("prefix_join_stream").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      assert(got == batch,
        s"streamed verified pairs diverge from batch q150: only-stream=" +
          s"${(got -- batch).take(3)} only-batch=${(batch -- got).take(3)}")
    } finally q.stop()
  }

  test("prefix cluster stream: streamed end-to-end clusters equal the batch fixpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{explode, count, lit}
    val sf = "/root/testdata/sf0.001"
    val st = graft.ext.Dedup.shingleTable(spark, sf, 3)
    val freq = st.select(explode(col("sh")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Timestamp.valueOf("2024-01-01 10:00:00")))
    val (b1, b2) = docs.splitAt(docs.length / 2)
    val src = MemoryStream[(Long, String, Timestamp)]
    val (writer, current) = StreamOps.prefixClusterStream(
      src.toDS().toDF("doc_id", "text", "ts"), st, freq,
      pairTtl = java.time.Duration.ofHours(1))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pcs-ck").toString
    def drain(): Unit = {
      val q = writer.option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    src.addData(b1.toSeq); drain()
    src.addData(b2.toSeq); drain()
    val batch = graft.ext.Dedup.connectedComponents(
        graft.ext.Dedup.jaccardJoinPrefix(spark, sf)
          .select(col("doc_a"), col("doc_b"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val streamed = current().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("prefix candidate stream: entries evict past the TTL horizon — no cross-horizon pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val src = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.prefixCandidateStream(
      src.toDS().toDF("doc_id", "text", "ts"), Map.empty,
      threshold = 0.7, pairTtl = java.time.Duration.ofSeconds(60))
      .toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("prefix_cands_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData((1L, dup, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // advance the watermark past doc 1's horizon (10:01:00) with
      // unrelated traffic (no shared shingles → no pair)
      src.addData((2L, "completely different words entirely elsewhere",
        ts("2024-01-01 10:04:30")))
      q.processAllAvailable()
      // the identical doc arrives AFTER doc 1 evicted: no pair — the
      // documented sliding-corpus contract
      src.addData((3L, dup, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val got = spark.table("prefix_cands_evict").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got.isEmpty, s"cross-horizon pair leaked: $got")
      // and a doc INSIDE doc 3's horizon pairs normally
      src.addData((4L, dup, ts("2024-01-01 10:05:30")))
      q.processAllAvailable()
      val got2 = spark.table("prefix_cands_evict").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got2 == Set((3L, 4L)), s"expected the in-horizon pair: $got2")
    } finally q.stop()
  }

  test("prefix candidate stream: TTL holds WITHIN one micro-batch, and changed content re-pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val dup = "kappa lambda mu nu xi omicron pi rho"
    val src = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.prefixCandidateStream(
      src.toDS().toDF("doc_id", "text", "ts"), Map.empty,
      threshold = 0.7, pairTtl = java.time.Duration.ofSeconds(60))
      .toDF("doc_a", "doc_b")
      .writeStream.format("memory").queryName("prefix_cands_ttl_batch")
      .outputMode(OutputMode.Append()).start()
    try {
      // two identical docs 30 MINUTES apart land in the SAME
      // micro-batch: the per-row horizon check must refuse the pair —
      // output must not depend on batching boundaries (the watermark
      // filter alone cannot see this case); a third doc INSIDE the
      // second's horizon pairs normally
      src.addData(
        (1L, dup, ts("2024-01-01 10:00:00")),
        (2L, dup, ts("2024-01-01 10:30:00")),
        (3L, dup, ts("2024-01-01 10:30:20")))
      q.processAllAvailable()
      val got = spark.table("prefix_cands_ttl_batch").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got == Set((2L, 3L)), s"TTL leaked within a batch: $got")
      // doc 1 re-arrives with DIFFERENT content matching doc 4: the
      // stale (sz, pos) entry must be replaced and the new version
      // must pair — latest wins
      val dup2 = "sigma tau upsilon phi chi psi"
      src.addData((4L, dup2, ts("2024-01-01 10:30:30")))
      q.processAllAvailable()
      src.addData((1L, dup2, ts("2024-01-01 10:30:40")))
      q.processAllAvailable()
      val got2 = spark.table("prefix_cands_ttl_batch").collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      assert(got2 == Set((2L, 3L), (1L, 4L)),
        s"changed-content re-arrival did not re-pair: $got2")
    } finally q.stop()
  }
}
