package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.{HttpLlm, LlmClient, StubLlm}
import graft.model.{Configs, PipelineConf}
import graft.sources.Jsonl

/** The reference's primary UX, Spark-native:
  * `python text_mr_pipe.py config.json` → `graft.Main config.json`
  * (/root/reference/bin/text_mr_pipe.py:29-58). Loads the JSON
  * config, health-checks the LLM (the reference's "Hi" roundtrip,
  * text_mr_pipe.py:38-44), then runs JSONL scan → map/reduce →
  * enriched-JSONL sink via [[Jsonl.enrich]].
  *
  * Evaluator selection: `model="stub"` or an empty `api_url` runs the
  * deterministic offline stub (tests, dry runs); anything else goes
  * over HTTP with the configured dialect (openai/azure).
  */
object Main {

  private[graft] def pickLlm(apiUrl: String, model: String): LlmClient =
    if (apiUrl.isEmpty || model == "stub") StubLlm else new HttpLlm()

  /** Testable core: parse config, health-check, scan→MR→sink.
    * Returns the enriched DataFrame (also written to the config's
    * out_data_path when set). */
  def run(spark: SparkSession, configPath: String): DataFrame = {
    val conf = loadConf(configPath)
    val inPath = conf.inDataPath.getOrElse(
      throw new IllegalArgumentException("config needs 'in_data_path'"))
    val llm = pickLlm(conf.llm.apiUrl, conf.llm.model)
    // conn-check before touching data — fail fast like the reference
    if (!llm.healthCheck(conf.llm))
      throw new IllegalStateException(
        s"LLM health check failed for ${conf.llm.apiType} @ ${conf.llm.apiUrl}")
    Jsonl.enrich(spark, conf, llm, inPath)
  }

  private def loadConf(configPath: String): PipelineConf =
    Configs.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(configPath)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Records enriched by [[run]]: counted from the written sink (one
    * JSON line per record), since an action on the lazy `out` would
    * call the LLM for every record again. Only a sink-less run counts
    * `out` itself. */
  private[graft] def enrichedCount(spark: SparkSession, conf: PipelineConf,
      out: DataFrame): Long =
    conf.outDataPath.fold(out.count())(p => spark.read.text(p).count())

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: graft.Main <config.json>")
    // spark-submit injects spark.master as a system property and
    // wins; a bare `java -cp`/sbt invocation falls back to local
    val spark = GraftSession
      .builder(sys.props.getOrElse("spark.master", "local[*]"))
      .appName("graft-mr-pipe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = run(spark, args(0))
      println(s"[graft.Main] enriched ${enrichedCount(spark, loadConf(args(0)), out)} records")
    } finally spark.stop()
  }
}
