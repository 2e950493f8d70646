package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.InstructionsPipeline
import graft.llm.LlmClient
import graft.model.PipelineConf

/** The reference's I/O surface (SURVEY.md §2A ops 1-3), Spark-native:
  * JSONL scan (`spark.read.json` handles one-object-per-line with
  * blank-line tolerance natively — bin/text_mr_pipe.py:46-49), the
  * enriched-record embed (`results` struct next to the original
  * fields — bin/text_mr_pipe.py:55), and JSONL sink
  * (bin/text_mr_pipe.py:50-58).
  *
  * Unlike the reference's append-per-record file handle, the sink is
  * a partitioned distributed write — at 100 TB the output is a
  * directory of part files, the only shape that scales.
  */
object Jsonl {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Full reference driver loop (bin/text_mr_pipe.py main): JSONL in
    * → per-document map/reduce → original record + `results` → JSONL
    * out. Each record travels through the pipeline pass with its
    * document ([[InstructionsPipeline.runKeepingRows]]), so the input
    * is scanned once, nothing is cached, and no id has to agree across
    * two scans. The returned frame is lazy: every action on it calls
    * the LLM again. */
  def enrich(spark: SparkSession, conf: PipelineConf, llm: LlmClient,
      inPath: String, outPath: Option[String] = None): DataFrame = {
    val enriched = new InstructionsPipeline(conf, llm)
      .runKeepingRows(read(spark, inPath), pretty = true)
    outPath.orElse(conf.outDataPath).foreach(p => write(enriched, p))
    enriched
  }
}
