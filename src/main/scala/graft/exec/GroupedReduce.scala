package graft.exec

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.llm.LlmClient
import graft.model.{Instruction, LlmParams}
import graft.ops.DocOps

/** Grouped semantic reduce — the row-grouping analog of the
  * reference's llm-reduce (SURVEY.md §2B "Aggregations": the
  * reference reduces *fields within one document*; a corpus engine
  * also needs to reduce *many documents into one summary per group*).
  *
  * Shape: a typed `Aggregator[GroupedReduce.Block, ..., String]`
  * packs each group's scoped documents into the XML-ish prompt body
  * (partial+final merge, so packing is distributed and map-side
  * combined like any Spark agg), then ONE LLM call per group runs in
  * a `mapPartitions` over the aggregated rows — #LLM calls = #groups,
  * never #rows.
  *
  * Determinism under arbitrary partitioning: merge order depends on
  * the shuffle, so `finish` sorts blocks (ids are embedded in the
  * block text, making the sort total) and truncation to `maxDocs`
  * keeps the lexicographically-first blocks. Result: repartition(1) and
  * repartition(32) produce byte-identical prompts and therefore
  * byte-identical (deterministic-LLM) outputs.
  */
object GroupedReduce {

  final case class Block(key: String, text: String)

  /** Packs up to maxDocs blocks per group, in sorted block order. */
  final class PackAggregator(maxDocs: Int)
      extends Aggregator[Block, List[String], String] with Serializable {
    override def zero: List[String] = Nil
    override def reduce(b: List[String], a: Block): List[String] = a.text :: b
    override def merge(x: List[String], y: List[String]): List[String] = x ++ y
    override def finish(r: List[String]): String =
      r.sorted.take(maxDocs).mkString("\n\n")
    override def bufferEncoder: Encoder[List[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[String]]()
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Per `keyCol` group: XML-pack each document's scoped fields (with
    * the doc id as the outer tag) and ask the LLM once per group. */
  def run(spark: SparkSession, docs: Dataset[PipeDoc], keyOf: PipeDoc => String,
      instruction: Instruction, params: LlmParams, llm: LlmClient,
      maxDocs: Int = 32): DataFrame = {
    import spark.implicits._
    val scope = instruction.scope
    val blocks = docs.filter((d: PipeDoc) => d.fields != null).map { d =>
      val projected = DocOps.scopeProject(d.fields, scope)
      Block(keyOf(d), s"<doc_${d.id}>\n${DocOps.buildUserMsg(projected)}\n</doc_${d.id}>")
    }
    val packed = blocks.groupByKey(_.key)
      .agg(new PackAggregator(maxDocs).toColumn.name("packed"))
    val sys = DocOps.buildSysMsg(instruction)
    val client = llm
    val p = params
    // STREAM the partition in bounded chunks instead of buffering it
    // whole (`it.toSeq` held every packed group prompt — bounded in
    // groups, unbounded in prompt BYTES). A chunk of groups keeps an
    // HTTP client's in-flight window full while capping resident
    // prompt bytes at chunk × maxDocs documents.
    packed.mapPartitions { it =>
      it.grouped(InstructionsPipeline.chunkDocs).flatMap { batch =>
        val out = client.completeBatch(
          batch.map { case (_, body) => DocOps.initChatml(sys, body) }, p)
        batch.zip(out).map { case ((key, _), resp) => (key, resp) }
      }
    }.toDF("group_key", "response")
  }

  /** Driver-visible demo: one summary per documents.source (stub). */
  def bySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = InstructionsPipeline.toDocs(
      graft.Tables.documents(spark, dir), "doc_id")
    run(spark, docs,
      d => d.fields.getOrElse("source", "unknown"),
      Instruction(name = "group_summary",
        content = Some("Summarize this group of documents."),
        scope = Some(Seq("text"))),
      LlmParams(), graft.llm.StubLlm)
  }
}
