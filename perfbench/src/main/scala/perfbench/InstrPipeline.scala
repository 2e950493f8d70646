package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{CachedStage, InstructionsPipeline, PipeDoc}
import graft.llm.StubLlm
import graft.model.{Configs, Stage}
import graft.ops.DocOps
import graft.sources.Jsonl

/** instr_pipeline: the paper's workload. A seeded EHR corpus goes
  * through a 12-map + 6-reduce instruction pipeline whose evaluator is
  * `HttpLlm` behind [[LlmDouble]].
  *
  *  - Phase A (timed; the end-to-end metrics): the reference CLI loop,
  *    `Jsonl.enrich` into a JSONL sink, one corpus per closed-loop job.
  *    Bound by LLM wait and call concurrency.
  *  - Phase B (the cache layer): `CachedStage.runStage` on the map
  *    stage into an empty cache, then rerun with one instruction
  *    edited, then replayed unchanged. Bound by Spark overhead. Only
  *    traced runs run it, after each traced enrich job, and check its
  *    outputs: untraced runs do not time it, and it took a quarter of
  *    their wall time. */
final class InstrPipeline(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import InstrPipeline._

  private val conf = Configs.parse(new String(
    getClass.getResourceAsStream("/ehr_pipe.json").readAllBytes(), UTF_8))
  private val llm = new LlmDouble
  private val corpus = work.resolve("ehr")
  private val mapStage = conf.pipe.head
  private val editedStage = mapStage.copy(instructions = mapStage.instructions.map(i =>
    if (i.name == editedInstruction)
      i.copy(content = i.content.map(_ + " Use the reporting lab's reference range."))
    else i))
  private var jobNo = 0

  private def writeCorpus(dir: Path, s: Long, n: Int): Unit = {
    Stats.rmTree(dir)
    Files.createDirectories(dir)
    Gen.ehrCorpus(s, n).grouped(math.ceil(n.toDouble / files).toInt).zipWithIndex
      .foreach { case (ls, i) =>
        Files.writeString(dir.resolve(f"part-$i%05d.json"), ls.mkString("", "\n", "\n"))
      }
  }

  /** A fresh copy of a corpus per job: `Jsonl.enrich` persists its
    * input, and Spark would serve a second enrich of the same path
    * from that cache instead of reading it. */
  private def nextJob(src: Path): (Path, Path) = {
    jobNo += 1
    val in = work.resolve(s"jobs/$jobNo/in")
    Files.createDirectories(in)
    Files.list(src).sorted().forEach(f => Files.copy(f, in.resolve(f.getFileName)))
    (in, work.resolve(s"jobs/$jobNo/out"))
  }

  private def docsOf(in: Path): Dataset[PipeDoc] =
    InstructionsPipeline.toDocs(
      Jsonl.read(spark, in.toString).withColumn("__id", monotonically_increasing_id()),
      "__id", pretty = true)

  def generate(): Unit = writeCorpus(corpus, seed, docsPerJob)

  def warmUp(): Unit = {
    val warm = work.resolve("ehr-warm")
    writeCorpus(warm, seed + 1000003L, 8)
    val (in, out) = nextJob(warm)
    Jsonl.enrich(spark, conf, llm, in.toString, Some(out.toString))
    LlmDouble.stats.take()
  }

  def run(seconds: Int, tracer: Tracer, traced: Boolean): Outcome = {
    val jobs = Stats.units(seconds, jobS, minJobs)
    val problems = ArrayBuffer.empty[String]
    val lat, tracedLat = ArrayBuffer.empty[Double]
    val roots, decomposed = ArrayBuffer.empty[Span]
    val trios = ArrayBuffer.empty[Trio]
    var llmA = LlmDouble.Snapshot.zero
    var last: (Path, Path) = null
    var attempted, failed = 0L
    var n = 0
    while (problems.isEmpty && n < jobs) {
      val (in, out) = nextJob(corpus)
      val traceThis = traced && n % 2 == 1
      LlmDouble.newJob()
      LlmDouble.stats.take()
      tracer.on = traceThis
      attempted += docsPerJob
      try {
        val (_, dt) = Stats.timed(tracer.span("exec", "enrich") {
          Jsonl.enrich(spark, conf, llm, in.toString, Some(out.toString))
        })
        (if (traceThis) tracedLat else lat) += dt
        last = (in, out)
      } catch { case scala.util.control.NonFatal(e) =>
        failed += docsPerJob
        problems += s"enrich failed: $e"
      } finally tracer.on = false
      llmA = llmA + LlmDouble.stats.take()
      if (traceThis && problems.isEmpty) {
        roots ++= tracer.named("enrich").lastOption
        decomposed += decompose(in, tracer)
        trios += trio(docsOf(in).localCheckpoint(eager = true))
      }
      n += 1
    }
    val retainedMb = Stats.retainedMb(spark)
    if (last != null) problems ++= checkEnriched(last._1, last._2)
    problems ++= trios.flatMap(_.problems).distinct

    val done = lat.size + tracedLat.size
    Stats.log(s"phase A: $done enrich jobs of $docsPerJob docs ($n attempted); " +
      s"phase B: ${trios.size} cold/rerun/replay runs")
    val metrics =
      if (!traced) Seq(
        Metric("items_per_s", docsPerJob * lat.size / lat.sum, "1/s"),
        Metric("job_p50_s", Stats.median(lat.toSeq), "s"))
      else {
        tracer.listener.foreach(_.settle())
        val req = math.max(llmA.requests, 1L).toDouble
        def med(name: String) = Stats.median(decomposed.flatMap(d =>
          tracer.all.filter(s => s.parent == d.id && s.name == name)).map(_.seconds).toSeq)
        val b = trios.last
        Seq(
          Metric("llm.requests", llmA.requests.toDouble / done, "count"),
          Metric("llm.calls_per_doc", llmA.requests.toDouble / (done * docsPerJob), "calls/doc"),
          Metric("llm.unique_frac", llmA.uniqueBodies / req, "ratio"),
          Metric("llm.batch_size_mean", llmA.batchItems.toDouble / math.max(llmA.batches, 1L), "count"),
          Metric("llm.inflight_mean", llmA.inflightS / math.max(llmA.busyS, 1e-9), "count"),
          Metric("llm.inflight_peak", llmA.peak.toDouble, "count"),
          Metric("llm.retries", llmA.retries.toDouble / done, "count"),
          Metric("llm.wait_s", llmA.inflightS / done, "s"),
          Metric("llm.busy_frac", llmA.busyS / (lat.sum + tracedLat.sum), "ratio"),
          Metric("exec.map_stage_s", med("map_stage"), "s"),
          Metric("exec.reduce_stage_s", med("reduce_stage"), "s"),
          Metric("exec.report_s", med("report"), "s"),
          Metric("exec.cold_s", Stats.median(trios.map(_.coldS).toSeq), "s"),
          Metric("exec.rerun_s", Stats.median(trios.map(_.rerunS).toSeq), "s"),
          Metric("exec.rerun_calls_per_doc", b.rerunCalls.toDouble / docsPerJob, "calls/doc"),
          Metric("exec.cache_hit_frac", 1.0 - b.rerunCalls.toDouble / math.max(b.coldCalls, 1L), "ratio"),
          Metric("exec.cache_files", b.cacheFiles.toDouble, "count"),
          Metric("exec.cache_mb", b.cacheMb, "MB"),
          Metric("sources.read_s", med("read"), "s"),
          Metric("sources.write_s", med("write"), "s"),
          Metric("sources.output_mb", Stats.treeSize(last._2)._2, "MB"),
          Metric("spark.retained_mb", retainedMb, "MB"),
          Metric("trace.jobs", done.toDouble, "count")) ++
          PerLayer.sparkPerJob(tracer, roots.toSeq, byWindow = false) ++
          PerLayer.selfTimes(tracer, decomposed.toSeq) ++
          Stats.overhead(tracedLat.toSeq, lat.toSeq)
      }
    Outcome(attempted, failed, problems.toSeq, metrics)
  }

  /** The traced split of one enrich job, through the same public
    * functions: JSON read (schema inference), each stage forced on its
    * own, the report plan with an instant evaluator (its Spark cost
    * without LLM wait), and the JSONL write. */
  private def decompose(in: Path, tracer: Tracer): Span = {
    tracer.on = true
    try {
      tracer.span("exec", "decomposed") {
        val src = tracer.span("sources", "read")(Jsonl.read(spark, in.toString))
        val docs = InstructionsPipeline.toDocs(
          src.withColumn("__id", monotonically_increasing_id()), "__id", pretty = true)
        val pipe = new InstructionsPipeline(conf, llm)
        val mapped = tracer.span("exec", "map_stage")(
          pipe.runStage(docs, conf.pipe(0)).localCheckpoint(eager = true))
        tracer.span("exec", "reduce_stage")(
          pipe.runStage(mapped, conf.pipe(1)).localCheckpoint(eager = true))
        val report = tracer.span("exec", "report")(
          new InstructionsPipeline(conf, StubLlm).runWithReport(docs)
            .localCheckpoint(eager = true))
        tracer.span("sources", "write")(
          Jsonl.write(report, in.resolveSibling("decomposed").toString))
      }
      tracer.named("decomposed").last
    } finally tracer.on = false
  }

  /** Phase B on one document set: cold into an empty cache, rerun with
    * one instruction edited, replay unchanged. */
  private def trio(docs: Dataset[PipeDoc]): Trio = {
    jobNo += 1
    val cache = work.resolve(s"jobs/$jobNo/cache")
    def once(s: Stage): (Map[Long, Map[String, String]], Double, Long) = {
      LlmDouble.newJob()
      LlmDouble.stats.take()
      val (rows, dt) = Stats.timed(
        CachedStage.runStage(docs, s, conf.llm, llm, cache.toString).collect())
      (rows.map(d => d.id -> d.fields).toMap, dt, LlmDouble.stats.take().requests)
    }
    val (cold, coldS, coldCalls) = once(mapStage)
    val (rerun, rerunS, rerunCalls) = once(editedStage)
    val (replay, _, replayCalls) = once(mapStage)
    val (cacheFiles, cacheMb) = Stats.treeSize(cache)
    def without(m: Map[Long, Map[String, String]]) =
      m.map { case (k, v) => k -> Option(v).map(_ - editedInstruction) }
    def edited(m: Map[Long, Map[String, String]], k: Long) =
      m.get(k).flatMap(Option(_)).flatMap(_.get(editedInstruction))
    val problems = Seq(
      (cold.size != docs.count() || cold.values.exists(_ == null)) ->
        "phase B: a document is missing or failed in the cold run",
      (replayCalls != 0) -> s"phase B: replay made $replayCalls LLM calls, expected 0",
      (replay != cold) -> "phase B: replay output differs from the cold output",
      (without(rerun) != without(cold)) ->
        "phase B: the rerun changed results of instructions that were not edited",
      !rerun.keys.exists(k => edited(rerun, k) != edited(cold, k)) ->
        "phase B: the edited instruction's results did not change").collect { case (true, p) => p }
    Trio(coldS, rerunS, coldCalls, rerunCalls, cacheFiles, cacheMb, problems)
  }

  /** Every input record appears once in the sink with map and reduce
    * results, and a seeded sample equals a single-threaded reference
    * computed on the driver from the same documents. */
  private def checkEnriched(in: Path, out: Path): Seq[String] = {
    val inputIds = spark.read.json(in.toString).select("record_id").collect().map(_.getString(0))
    val rows = spark.read.json(out.toString)
      .select(col("record_id"), col("results.map_results").as("m"),
        col("results.reduce_results").as("r")).collect()
    val counts = rows.groupMapReduce(_.getString(0))(_ => 1)(_ + _)
    val structural = Seq(
      (counts.keySet != inputIds.toSet) -> "phase A: output records differ from the input records",
      counts.values.exists(_ != 1) -> "phase A: a record appears more than once in the output",
      rows.exists(r => r.isNullAt(1) || r.isNullAt(2)) -> "phase A: a record has null results")
      .collect { case (true, p) => p }
    val rng = new Gen.Rng(seed ^ 0x5a5a5a5aL)
    val sample = Seq.fill(sampleDocs)(inputIds(rng.int(inputIds.length))).toSet
    val docs = docsOf(in).collect().filter(d => sample(d.fields("record_id")))
    val byId = rows.map(r => r.getString(0) -> r).toMap
    val mismatched = docs.filter { d =>
      val mapRef = reference(mapStage, d.fields)
      val reduceRef = reference(conf.pipe(1), mapRef)
      val r = byId.get(d.fields("record_id"))
      !r.exists(r => asMap(r.getStruct(1)) == mapRef.toMap && asMap(r.getStruct(2)) == reduceRef.toMap)
    }
    structural ++ mismatched.map(d =>
      s"phase A: results of ${d.fields("record_id")} differ from the driver-side reference")
  }

  /** One stage for one document, one call at a time, on the driver. */
  private def reference(stage: Stage, fields: Map[String, String]): ListMap[String, String] =
    ListMap(stage.resolved.map { ins =>
      ins.name -> LlmDouble.answer(DocOps.initChatml(DocOps.buildSysMsg(ins),
        DocOps.buildUserMsg(DocOps.scopeProject(fields, ins.scope))), conf.llm)
    }: _*)

  private def asMap(r: Row): Map[String, String] =
    if (r == null) Map.empty
    else r.schema.fieldNames.zipWithIndex.collect {
      case (k, i) if !r.isNullAt(i) => k -> r.getString(i)
    }.toMap
}

object InstrPipeline {
  val docsPerJob = 16
  /** Input part files per job: the read's partition count. */
  val files = 4
  /** Enrich jobs per run: `--seconds` / [[jobS]], at least [[minJobs]]. */
  val jobS = 3.0
  val minJobs = 3
  val sampleDocs = 4
  val editedInstruction = "abnormal_labs"

  final case class Trio(coldS: Double, rerunS: Double, coldCalls: Long,
      rerunCalls: Long, cacheFiles: Long, cacheMb: Double, problems: Seq[String])
}
