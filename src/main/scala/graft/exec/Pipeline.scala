package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType, StructField, StructType}

import scala.collection.immutable.ListMap

import graft.llm.LlmClient
import graft.model.{Instruction, LlmParams, PipelineConf, Stage}
import graft.ops.DocOps

/** One pipeline document: stable id + the canonical field map
  * (everything stringified at stage boundaries — SURVEY.md §1.2). */
final case class PipeDoc(id: Long, fields: Map[String, String])

/** The instructions-MapReduce runner, Spark-native (SURVEY.md §3.4).
  *
  * Where the reference loops documents sequentially in one process
  * (bin/text_mr_pipe.py:51-58), here the document axis is the
  * Dataset's partition axis and ALL stages run in ONE `mapPartitions`
  * pass. The pass reads its partition in chunks of
  * [[InstructionsPipeline.chunkDocs]] documents; per stage, every
  * instruction prompt of every live document in the chunk goes out as
  * one batch (LlmClient.completeBatch = the asyncio.gather analog), so
  * an HTTP client's in-flight window stays full across document
  * boundaries, and the answers are pivoted back into each document's
  * next field map (instructions.py:39-59). Parallelism = partitions ×
  * maxInFlight.
  *
  * Stage semantics preserved from the reference:
  *  - scope projection with silent missing-key drop (op 4);
  *  - all-or-nothing pivot: any empty/failed instruction response
  *    nulls the whole document's stage result (instructions.py:43-45,
  *    surfaced here as fields=null), and a null document skips every
  *    later stage;
  *  - stage k+1 consumes ONLY stage k's result map (v0.py:45-50);
  *  - result maps keep instruction order; rows keep input order
  *    within a partition.
  *
  * Scale posture: no driver-side state; the LLM client is shipped
  * with the closure (HttpLlm shares one HTTP client per executor
  * JVM); resident prompts are bounded by
  * one chunk; deterministic params make the pass idempotent and
  * therefore retry/cache-safe (SURVEY.md §4).
  */
final class InstructionsPipeline(conf: PipelineConf, llm: LlmClient)
    extends Serializable {

  /** Run one stage over documents. */
  def runStage(ds: Dataset[PipeDoc], stage: Stage): Dataset[PipeDoc] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(evaluate[PipeDoc](Seq(stage), d => d).andThen(_.map(_._2.last)))
  }

  /** Run all stages; returns the final field map per document. */
  def run(ds: Dataset[PipeDoc]): Dataset[PipeDoc] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(evaluate[PipeDoc](conf.pipe, d => d).andThen(_.map(_._2.last)))
  }

  /** Full reference contract (v0.py:26-56): map results, reduce
    * results, and the markdown report, embedded next to the input
    * fields under `conf.outputCol` (bin/text_mr_pipe.py:55). Both
    * results come from the same pass, so the map stage runs once. */
  def runWithReport(ds: Dataset[PipeDoc]): DataFrame = {
    require(conf.pipe.nonEmpty, "runWithReport needs at least one stage")
    import ds.sparkSession.implicits._
    ds.mapPartitions(evaluate[PipeDoc](conf.pipe, d => d).andThen(_.map { case (d, s) =>
        (d.id, s(1).fields, s.last.fields) }))
      .toDF("id", "map_results", "reduce_results")
      .select(col("id"), report(col("map_results"), col("reduce_results")).as(conf.outputCol))
  }

  /** [[runWithReport]] keeping each input row whole: `df`'s columns,
    * then `conf.outputCol`. The pass carries every row next to its
    * document and emits it with that document's results, so `df` is
    * scanned once and no key has to pair results with records. */
  def runKeepingRows(df: DataFrame, pretty: Boolean = false): DataFrame = {
    require(conf.pipe.nonEmpty, "runKeepingRows needs at least one stage")
    val width = df.schema.size
    val results = MapType(StringType, StringType)
    val out = df.schema.add("__graft_map", results).add("__graft_reduce", results)
    // the id is unused: the row itself goes along
    val pass = evaluate[Row](conf.pipe, r => PipeDoc(0L, r.getMap[String, String](width).toMap))
    df.select(col("*"), InstructionsPipeline.fieldsCol(df.schema.fields.toSeq, pretty))
      .mapPartitions(pass.andThen(_.map { case (r, s) =>
        Row.fromSeq(r.toSeq.take(width) :+ s(1).fields :+ s.last.fields) }))(Encoders.row(out))
      .withColumn(conf.outputCol, report(col("__graft_map"), col("__graft_reduce")))
      .drop("__graft_map", "__graft_reduce")
  }

  private def report(mapResults: Column, reduceResults: Column): Column =
    struct(mapResults.as("map_results"), reduceResults.as("reduce_results"),
      DocOps.mdRenderCol(reduceResults).as("result"))

  /** The per-partition evaluator: for each input item, in input order,
    * the item and its document after 0, 1, …, `stages.size` stages. */
  private def evaluate[T](stages: Seq[Stage],
      doc: T => PipeDoc): Iterator[T] => Iterator[(T, Seq[PipeDoc])] = {
    val instrs = stages.map(_.resolved)
    val params = conf.llm
    val client = llm
    _.grouped(InstructionsPipeline.chunkDocs).flatMap { chunk =>
      chunk.zip(instrs.scanLeft(chunk.map(doc))(
        InstructionsPipeline.stageChunk(_, _, client, params)).transpose)
    }
  }
}

object InstructionsPipeline {

  /** Documents (or groups) per `completeBatch` call: enough to keep an
    * HTTP client's in-flight window full, few enough to bound the
    * resident prompt bytes of a partition. */
  private[exec] val chunkDocs = 32

  /** One stage over one chunk: a single batch of every live document's
    * prompts, pivoted back per document, all-or-nothing. */
  private def stageChunk(docs: Seq[PipeDoc], instrs: Seq[Instruction],
      client: LlmClient, params: LlmParams): Seq[PipeDoc] = {
    val live = docs.filter(_.fields != null)
    val answers = client.completeBatch(live.flatMap { doc =>
      instrs.map { ins =>
        val projected = DocOps.scopeProject(doc.fields, ins.scope)
        DocOps.initChatml(DocOps.buildSysMsg(ins), DocOps.buildUserMsg(projected))
      }
    }, params).iterator
    docs.map { doc =>
      if (doc.fields == null) doc // propagate failed stage
      else {
        val responses = instrs.map(_ => answers.next())
        // all-or-nothing pivot (instructions.py:43-45)
        if (responses.exists(r => r == null || r.isEmpty)) PipeDoc(doc.id, null)
        else PipeDoc(doc.id, ListMap(instrs.map(_.name).zip(responses): _*))
      }
    }
  }

  /** Python-json.dumps(indent=2)-compatible re-render of a compact
    * JSON string (the reference's stringify formatting). */
  private val prettyJson = udf { s: String =>
    if (s == null) null else graft.model.JsonUtil.pretty(graft.model.JsonUtil.parse(s))
  }

  /** Lift a DataFrame into the canonical Dataset[PipeDoc]: every
    * column stringified via the reference's json2str_kv rules
    * (strings as-is, everything else JSON — utils.py:10-17).
    * `pretty = true` matches the reference's indent=2 formatting
    * byte-for-byte (JsonUtil); false keeps `to_json`'s compact form
    * (cheaper; fine when prompts need not be byte-faithful). */
  def toDocs(df: DataFrame, idCol: String, pretty: Boolean = false): Dataset[PipeDoc] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("id"),
        fieldsCol(df.schema.fields.toSeq.filter(_.name != idCol), pretty))
      .as[PipeDoc]
  }

  /** The `fields` map of [[toDocs]] over `columns`. */
  private def fieldsCol(columns: Seq[StructField], pretty: Boolean): Column =
    map(columns.flatMap { f =>
      val stringified = f.dataType match {
        case StringType => col(f.name)
        case _: StructType | _: ArrayType | _: MapType =>
          if (pretty) prettyJson(to_json(col(f.name))) else to_json(col(f.name))
        case _ => col(f.name).cast("string")
      }
      Seq(lit(f.name), coalesce(stringified, lit("null")))
    }: _*).as("fields")

  /** Run a JSON pipeline config against a table, reference-style. */
  def runConfig(spark: SparkSession, confJson: String, df: DataFrame,
      idCol: String, llm: LlmClient): DataFrame = {
    val conf = graft.model.Configs.parse(confJson)
    new InstructionsPipeline(conf, llm).runWithReport(toDocs(df, idCol))
  }
}
