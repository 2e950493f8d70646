package graft.exec

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.llm.{ChatMsg, FailingStubLlm, LlmClient, StubLlm}
import graft.model.{Configs, LlmParams, Stage}

/** Calls made by [[PipelineCountingLlm]]; static so local-mode task
  * closures share the counter with the spec. */
object PipelineCalls {
  val calls = new java.util.concurrent.atomic.AtomicLong()
}
class PipelineCountingLlm extends LlmClient {
  override def complete(msgs: Seq[ChatMsg], params: LlmParams): String = {
    PipelineCalls.calls.incrementAndGet()
    StubLlm.complete(msgs, params)
  }
}

class PipelineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()

  def docs(n: Int): org.apache.spark.sql.Dataset[PipeDoc] = {
    import spark.implicits._
    (0 until n).map(i => PipeDoc(i.toLong,
      scala.collection.immutable.ListMap(
        "text" -> s"document number $i body",
        "lang" -> "en", "n_chars" -> "42"))).toDS()
  }

  val confJson: String =
    """{"pipe": [
      |  [{"name": "summary", "content": "Summarize.", "scope": ["text"]},
      |   {"name": "meta", "content": "Describe metadata.", "scope": ["lang", "n_chars"]}],
      |  [{"name": "merged", "content": "Merge.", "scope": ["summary", "meta"]}]
      |]}""".stripMargin

  test("stage output schema == declared instruction names; chaining works") {
    val conf = Configs.parse(confJson)
    val pipe = new InstructionsPipeline(conf, StubLlm)
    val afterMap = pipe.runStage(docs(4), conf.pipe.head).collect()
    assert(afterMap.forall(_.fields.keys.toSeq == Seq("summary", "meta")))
    val fin = pipe.run(docs(4)).collect()
    assert(fin.length == 4)
    assert(fin.forall(_.fields.keys.toSeq == Seq("merged")))
  }

  test("determinism: two runs produce identical results") {
    val conf = Configs.parse(confJson)
    val pipe = new InstructionsPipeline(conf, StubLlm)
    val a = pipe.run(docs(8)).collect().sortBy(_.id).toSeq
    val b = pipe.run(docs(8)).collect().sortBy(_.id).toSeq
    assert(a == b)
  }

  test("all-or-nothing: one failing instruction nulls the doc result") {
    val conf = Configs.parse(confJson)
    val pipe = new InstructionsPipeline(conf, new FailingStubLlm("Describe metadata"))
    val out = pipe.run(docs(3)).collect()
    assert(out.forall(_.fields == null)) // map stage failed → propagated
  }

  test("scope of a missing field projects empty, does not fail (lenient)") {
    val conf = Configs.parse(
      """{"pipe": [[{"name": "ghost", "content": "x", "scope": ["nope"]}]]}""")
    val out = new InstructionsPipeline(conf, StubLlm).run(docs(2)).collect()
    assert(out.forall(d => d.fields.keys.toSeq == Seq("ghost")))
  }

  test("runWithReport embeds map/reduce results + markdown") {
    val conf = Configs.parse(confJson)
    val df = new InstructionsPipeline(conf, StubLlm).runWithReport(docs(2))
    val row = df.orderBy("id").collect().head
    val res = row.getStruct(1)
    assert(res.getAs[Map[String, String]]("map_results").keySet == Set("summary", "meta"))
    assert(res.getAs[Map[String, String]]("reduce_results").keySet == Set("merged"))
    assert(res.getAs[String]("result").startsWith("# merged\n"))
  }

  /** runWithReport rows as (id, map_results, reduce_results, result), by id. */
  def report(pipe: InstructionsPipeline, ds: org.apache.spark.sql.Dataset[PipeDoc])
      : Seq[(Long, Map[String, String], Map[String, String], String)] =
    pipe.runWithReport(ds).collect().toSeq.map { r =>
      val res = r.getStruct(1)
      (r.getLong(0), res.getAs[Map[String, String]]("map_results"),
        res.getAs[Map[String, String]]("reduce_results"), res.getAs[String]("result"))
    }.sortBy(_._1)

  test("runWithReport makes docs x sum(instructions) LLM calls: the map stage runs once") {
    val conf = Configs.parse(confJson)
    PipelineCalls.calls.set(0)
    val rows = report(new InstructionsPipeline(conf, new PipelineCountingLlm), docs(4))
    assert(rows.size == 4)
    assert(PipelineCalls.calls.get() == 4 * (2 + 1))
  }

  test("runWithReport: a failed map stage nulls both results") {
    val conf = Configs.parse(confJson)
    val rows = report(new InstructionsPipeline(conf, new FailingStubLlm("Describe metadata")), docs(3))
    assert(rows.size == 3)
    assert(rows.forall { case (_, m, r, _) => m == null && r == null })
  }

  test("runWithReport: a failed reduce stage keeps map_results, nulls reduce_results") {
    val conf = Configs.parse(confJson)
    val rows = report(new InstructionsPipeline(conf, new FailingStubLlm("Merge.")), docs(3))
    val plain = report(new InstructionsPipeline(conf, StubLlm), docs(3))
    assert(rows.size == 3)
    assert(rows.map(_._2) == plain.map(_._2))
    assert(rows.forall { case (_, m, r, _) => m.keySet == Set("summary", "meta") && r == null })
  }

  test("chunking cannot change results: 1 vs 8 partitions, and stage-by-stage composition") {
    val conf = Configs.parse(confJson)
    val pipe = new InstructionsPipeline(conf, StubLlm)
    val one = docs(70).coalesce(1) // crosses the chunk boundary twice
    assert(70 > 2 * InstructionsPipeline.chunkDocs)
    val single = report(pipe, one)
    assert(single == report(pipe, docs(70).repartition(8)))
    val mapped = pipe.runStage(docs(70), conf.pipe(0))
    val composed = pipe.runStage(mapped, conf.pipe(1)).collect().map(d => d.id -> d.fields).toMap
    val mapOnly = mapped.collect().map(d => d.id -> d.fields).toMap
    assert(single.forall { case (id, m, r, _) => m == mapOnly(id) && r == composed(id) })
    // rows keep input order within a partition
    assert(pipe.run(one).collect().map(_.id).toSeq == (0L until 70L))
  }

  test("runKeepingRows: every input row once, in order, with runWithReport's results") {
    import spark.implicits._
    val conf = Configs.parse(confJson)
    val pipe = new InstructionsPipeline(conf, StubLlm)
    // one partition crosses the chunk boundary twice
    val df = (0 until 70).map(i => (i.toLong, s"document number $i body", "en", 42))
      .toDF("k", "text", "lang", "n_chars").coalesce(1)
    val kept = pipe.runKeepingRows(df)
    assert(kept.columns.toSeq == Seq("k", "text", "lang", "n_chars", "results"))
    val rows = kept.collect().toSeq
    assert(rows.map(_.getLong(0)) == (0L until 70L))
    assert(rows.forall(r => r.getString(1) == s"document number ${r.getLong(0)} body"))
    // `k` is out of every scope, so the prompts match toDocs without it
    val want = report(pipe, InstructionsPipeline.toDocs(df, "k"))
    assert(rows.map { r =>
      val res = r.getStruct(4)
      (r.getLong(0), res.getAs[Map[String, String]]("map_results"),
        res.getAs[Map[String, String]]("reduce_results"), res.getAs[String]("result"))
    } == want)
    val failed = new InstructionsPipeline(conf, new FailingStubLlm("Describe metadata"))
      .runKeepingRows(df).collect()
    assert(failed.length == 70)
    assert(failed.forall(r => r.getStruct(4).isNullAt(0) && r.getStruct(4).isNullAt(1)))
  }

  test("a stage with zero instructions yields an empty map") {
    val conf = Configs.parse(confJson)
    val pipe = new InstructionsPipeline(conf, StubLlm)
    val out = pipe.runStage(docs(40).coalesce(1), Stage(Nil)).collect()
    assert(out.length == 40 && out.forall(_.fields == Map.empty))
  }

  test("one-stage pipe: map_results == reduce_results") {
    val conf = Configs.parse(
      """{"pipe": [[{"name": "summary", "content": "Summarize.", "scope": ["text"]}]]}""")
    val rows = report(new InstructionsPipeline(conf, StubLlm), docs(5))
    assert(rows.size == 5)
    assert(rows.forall { case (_, m, r, _) => m != null && m.keySet == Set("summary") && m == r })
  }

  test("toDocs stringifies non-string columns (json2str_kv boundary)") {
    import spark.implicits._
    val df = Seq((1L, "t", 5, Seq("a", "b"))).toDF("id", "txt", "num", "arr")
    val d = InstructionsPipeline.toDocs(df, "id").collect().head
    assert(d.fields("txt") == "t")
    assert(d.fields("num") == "5")
    assert(d.fields("arr") == "[\"a\",\"b\"]")
  }
}
