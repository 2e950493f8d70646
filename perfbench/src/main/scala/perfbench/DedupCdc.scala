package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ext.{Dedup, Linkage}
import graft.streaming.StreamOps

/** dedup_cdc: a seeded CDC op stream drives the maintained near-dup
  * (`StreamOps.lshMaintainCdcStream`) and entity-resolution
  * (`StreamOps.erMaintainCdcStream`) indexes. Each maintainer is a
  * running streaming query over a memory source, fed one micro-batch
  * at a time (closed loop: the next batch is added only after the
  * previous one is processed), alternating between the two. Batches 0
  * and 1 run untimed, then a fixed number of batches is timed; every batch after batch 0 folds the stores, then
  * applies its adds and deletes. No LLM is involved. */
final class DedupCdc(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import DedupCdc._

  private var docs: Gen.Cdc[Gen.Doc] = _
  private var custs: Gen.Cdc[Gen.Cust] = _

  def generate(): Unit = {
    docs = Gen.docStream(seed, batches, docsPerBatch)
    custs = Gen.custStream(seed, batches, custsPerBatch)
  }

  private var pass: Pass = _

  /** The run's own first [[DedupCdc.warmBatches]] batches, untimed: they
    * start both queries, fill the empty stores, and pay first-run code
    * generation for every path a timed batch takes (batch 0 only adds;
    * batch 1 is the first to fold and delete). */
  def warmUp(): Unit = {
    pass = new Pass(docs, custs)
    (0 until warmBatches).foreach { b => pass.lsh(b); pass.er(b) }
  }

  /** One pass of the op stream through both maintainers, on fresh
    * stores under `cdc/`. */
  private final class Pass(val docs: Gen.Cdc[Gen.Doc], val custs: Gen.Cdc[Gen.Cust]) {
    val base: Path = work.resolve("cdc")
    private def p(s: String) = base.resolve(s).toString
    private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val lshSrc = MemoryStream[(Long, String, String)]
    private val erSrc = MemoryStream[(Long, String, Int, String, String)]
    private val (lshW, lshLabels) = StreamOps.lshMaintainCdcStream(
      lshSrc.toDS().toDF("doc_id", "text", "op"),
      p("lsh/idx"), p("lsh/sh"), p("lsh/edges"), p("lsh/tombs"),
      numPb = numPb, compactEvery = compactEvery)
    private val (erW, erLabels) = StreamOps.erMaintainCdcStream(
      erSrc.toDS().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "op"),
      p("er/idx"), p("er/edges"), p("er/tombs"), numPb = numPb,
      compactEvery = compactEvery)
    private val lshQ = lshW.trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", p("ckpt/lsh")).start()
    private val erQ = erW.trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", p("ckpt/er")).start()
    private val docById = docs.records.map(d => d.docId -> d).toMap
    private val custById = custs.records.map(c => c.custKey -> c).toMap

    /** Feed batch `b` and wait until it is processed; seconds taken. */
    def lsh(b: Int): Double = Stats.timed {
      lshSrc.addData(docs.batches(b).map { o =>
        if (o.op == "add") (o.key, docById(o.key).text, "add") else (o.key, "", "delete")
      })
      lshQ.processAllAvailable()
    }._2
    def er(b: Int): Double = Stats.timed {
      erSrc.addData(custs.batches(b).map { o =>
        val c = custById(o.key)
        if (o.op == "add") (c.custKey, c.name, c.nationKey, c.segment, "add")
        else (c.custKey, "", 0, "", "delete")
      })
      erQ.processAllAvailable()
    }._2
    def stop(): Unit = { lshQ.stop(); erQ.stop() }

    /** Final labels after the first `applied` batches equal the
      * one-shot `Dedup.lshDedupClusters` / `Linkage.entityResolution`
      * over the corpus those batches leave (multi-member components;
      * the maintained tables also keep singletons). */
    def check(applied: Int): Seq[String] = {
      val liveDocs = docs.copy(batches = docs.batches.take(applied)).finalKeys
      val liveCusts = custs.copy(batches = custs.batches.take(applied)).finalKeys
      val dir = p("final")
      docs.records.filter(d => liveDocs(d.docId))
        .map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      custs.records.filter(c => liveCusts(c.custKey))
        .map(c => (c.custKey, c.name, c.nationKey, c.acctbal, c.segment))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.parquet(s"$dir/customer.parquet")
      def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val lshStream = lshLabels()
      val sizes = lshStream.groupBy("label").agg(count(lit(1)).as("n"))
      val lshMaintained = pairs(lshStream.join(sizes, "label").filter(col("n") > 1)
        .select("id", "label"))
      val lshOneShot = pairs(Dedup.lshDedupClusters(spark, dir).select("doc_id", "rep_id"))
      val erMaintained = pairs(Linkage.entityOutput(erLabels())
        .filter(col("n_members") > 1).select("c_custkey", "entity_id"))
      val erOneShot = pairs(Linkage.entityResolution(spark, dir)
        .filter(col("n_members") > 1).select("c_custkey", "entity_id"))
      val ghosts = lshStream.select("id").collect().map(_.getLong(0)).filterNot(liveDocs) ++
        erLabels().select("id").collect().map(_.getLong(0)).filterNot(liveCusts)
      Seq(
        (lshOneShot.isEmpty || erOneShot.isEmpty) -> "dedup_cdc: the final corpus has no planted duplicates",
        (lshMaintained != lshOneShot) -> "dedup_cdc: maintained LSH labels differ from the one-shot clustering",
        (erMaintained != erOneShot) -> "dedup_cdc: maintained ER labels differ from the one-shot resolution",
        ghosts.nonEmpty -> s"dedup_cdc: ${ghosts.length} deleted ids survive in the maintained labels")
        .collect { case (true, msg) => msg }
    }
  }

  def run(seconds: Int, tracer: Tracer, traced: Boolean): Outcome = {
    val pairs = math.min(batches - warmBatches,
      Stats.units(seconds, pairS, if (traced) tracedMinBatches else minBatches))
    val lat, tracedLat, lshLat, erLat = ArrayBuffer.empty[Double]
    val roots = ArrayBuffer.empty[Span]
    val problems = ArrayBuffer.empty[String]
    var attempted, failed, ops = 0L
    var b = warmBatches
    try {
      while (problems.isEmpty && b < warmBatches + pairs) {
        val traceThis = traced && b % 2 == 1
        for ((kind, feed) <- Seq[(String, Int => Double)](("lsh", pass.lsh), ("er", pass.er))) {
          attempted += 1
          tracer.on = traceThis
          try {
            val dt = tracer.span("streaming", s"${kind}_batch")(feed(b))
            Stats.log(f"$kind batch $b: $dt%.3f s")
            ops += (if (kind == "lsh") docs.batches(b).size else custs.batches(b).size)
            (if (traceThis) tracedLat else lat) += dt
            (if (kind == "lsh") lshLat else erLat) += dt
            if (traceThis) roots += tracer.named(s"${kind}_batch").last
          } catch { case scala.util.control.NonFatal(e) =>
            failed += 1
            problems += s"$kind batch $b failed: $e"
          } finally tracer.on = false
        }
        b += 1
      }
      val retainedMb = Stats.retainedMb(spark)
      val storeMb = Seq("lsh", "er").map(k => Stats.treeSize(pass.base.resolve(k)))
      if (problems.isEmpty) {
        val (found, checkS) = Stats.timed(pass.check(b))
        Stats.log(f"one-shot parity check: $checkS%.1f s")
        problems ++= found
      }
      val all = lat ++ tracedLat
      Stats.log(s"timed batches: ${lshLat.size} lsh + ${erLat.size} er; checked after $b batches")
      val metrics =
        if (!traced) Seq(
          Metric("items_per_s", ops / all.sum, "1/s"),
          Metric("job_p50_s", Stats.median(all.toSeq), "s"))
        else {
          tracer.listener.foreach(_.settle())
          Seq(
            Metric("streaming.lsh_batch_s", Stats.median(lshLat.toSeq), "s"),
            Metric("streaming.er_batch_s", Stats.median(erLat.toSeq), "s"),
            Metric("streaming.store_files", storeMb.map(_._1).sum.toDouble, "count"),
            Metric("streaming.store_mb", storeMb.map(_._2).sum, "MB"),
            Metric("spark.retained_mb", retainedMb, "MB"),
            Metric("trace.jobs", attempted.toDouble, "count")) ++
            decompose(tracer) ++
            PerLayer.sparkPerJob(tracer, roots.toSeq, byWindow = true) ++
            Stats.overhead(tracedLat.toSeq, lat.toSeq)
        }
      Outcome(attempted, failed, problems.toSeq, metrics)
    } finally pass.stop()
  }

  /** The traced per-stage split of the LSH add/delete path, following
    * DevIncr's decomposition: the same public functions the maintainer
    * calls (append, signature, candidates, verify, CC fold), each
    * forced and timed on its own, over the first
    * [[DedupCdc.decomposedBatches]] batches of the op stream. */
  private def decompose(tracer: Tracer): Seq[Metric] = {
    import spark.implicits._
    val base = work.resolve("cdc/decomposed")
    val (idx, sh) = (base.resolve("idx").toString, base.resolve("sh").toString)
    val byId = docs.records.map(d => d.docId -> d.text).toMap
    var labels = Seq.empty[(Long, Long)].toDF("id", "label")
    var edgeStore = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    var candidates, verified = 0L
    val roots = ArrayBuffer.empty[Span]
    tracer.on = true
    try for (b <- 0 until decomposedBatches) {
      val ops = docs.batches(b)
      val adds = ops.filter(_.op == "add").map(o => (o.key, byId(o.key))).toDF("doc_id", "text")
      val dels = ops.filter(_.op == "delete").map(_.key).toDF("id")
      tracer.span("ext", "lsh_decomposed") {
        tracer.span("ext", "append") {
          Dedup.appendToLshIndexBatch(adds, idx, b, numPb = numPb)
          Dedup.appendToShingleStoreBatch(adds, sh, b, numPb = numPb)
        }
        val newKeys = tracer.span("ext", "signature")(Dedup.lshBandKeys(
          Dedup.shingleRowsFor(adds, 3).select(col("doc_id"),
            Dedup.minhashFromShingles(col("sh"), 32).as("sig")), 8, 4)
          .localCheckpoint(eager = true))
        val cands = tracer.span("ext", "candidates")(Dedup.lshAppendCandidates(newKeys,
          Dedup.readLshIndexPruned(spark, idx, newKeys, numPb), 256).localCheckpoint(eager = true))
        val edges = tracer.span("ext", "verify")(Dedup.verifyPairs(
          Dedup.readShingleStorePruned(spark, sh, cands, numPb), cands, 0.7)
          .localCheckpoint(eager = true))
        tracer.span("ext", "fold") {
          edgeStore = edgeStore.unionByName(edges.select("doc_a", "doc_b"))
          labels = Dedup.ccIncrement(labels, edges).localCheckpoint(eager = true)
          if (ops.exists(_.op == "delete"))
            labels = Dedup.ccDecrement(labels, edgeStore, dels).localCheckpoint(eager = true)
        }
        candidates += cands.count()
        verified += edges.count()
      }
      roots += tracer.named("lsh_decomposed").last
    } finally tracer.on = false
    def med(name: String) = Stats.median(roots.toSeq.flatMap(r =>
      tracer.all.filter(s => s.parent == r.id && s.name == name)).map(_.seconds))
    Seq(
      Metric("ext.append_s", med("append"), "s"),
      Metric("ext.signature_s", med("signature"), "s"),
      Metric("ext.candidates_s", med("candidates"), "s"),
      Metric("ext.verify_s", med("verify"), "s"),
      Metric("ext.fold_s", med("fold"), "s"),
      Metric("ext.candidate_pairs", candidates.toDouble / decomposedBatches, "count"),
      Metric("ext.verified_pairs", verified.toDouble / decomposedBatches, "count"),
      Metric("ext.verify_yield", verified.toDouble / math.max(candidates, 1L), "ratio")) ++
      PerLayer.selfTimes(tracer, roots.toSeq)
  }
}

object DedupCdc {
  /** Batches per maintainer in the op stream. A run feeds the first
    * [[warmBatches]] untimed, then `--seconds` / [[pairS]] timed ones
    * (at least [[minBatches]]) of each maintainer. */
  val batches = 10
  val warmBatches = 2
  /** Probe-partition cells of the stores (the engine's default is 64). */
  val numPb = 8
  val pairS = 10.0
  val minBatches = 1
  /** Traced runs alternate traced and untraced batches. */
  val tracedMinBatches = 2
  /** Store fold interval: every batch after batch 0 folds the stores
    * (with the previous batches' deletes in them), so every timed batch
    * does the same kinds of work: fold, adds, deletes. */
  val compactEvery = 1
  val docsPerBatch = 30
  val custsPerBatch = 50
  val decomposedBatches = 3
}
