package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{HttpLlm, StubLlm}

/** E2e spec for the CLI driver (`graft.Main <config.json>` — the
  * reference's `python text_mr_pipe.py config.json`): config file +
  * JSONL in → health check → map/reduce → enriched JSONL at the
  * config's out_data_path, golden-checked against the deterministic
  * stub. */
class MainSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()

  test("config-file driver: scan → MR → sink end to end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-main").toString
    val inPath = getClass.getResource("/ehr/sample_0.jsonl").getPath
    val outPath = s"$tmp/out"
    val configPath = s"$tmp/config.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(configPath),
      s"""{
         |  "in_data_path": "$inPath",
         |  "out_data_path": "$outPath",
         |  "output_col": "results",
         |  "llm": {"model": "stub", "temperature": 0.0, "seed": 2},
         |  "pipe": [
         |    [ {"name": "summary", "role": "You are a clinician.",
         |        "content": "Summarize.", "scope": ["patient", "notes"]} ],
         |    [ {"name": "report", "content": "Write the report.",
         |        "scope": ["summary"]} ]
         |  ]
         |}""".stripMargin.getBytes("UTF-8"))

    val enriched = Main.run(spark, configPath)
    assert(enriched.count() == 2)
    assert(enriched.columns.contains("patient"))

    // the sink wrote JSONL the engine (and the reference) can read back
    val back = spark.read.json(outPath)
    assert(back.count() == 2)
    val results = back.select("results.reduce_results.report")
      .collect().map(_.getString(0)).sorted
    assert(results.forall(_.startsWith("[stub:"))) // deterministic stub golden shape
    // a second run writes byte-identical results (restart = replay)
    val again = Main.run(spark, configPath)
      .select("results.reduce_results.report")
      .collect().map(_.getString(0)).sorted
    assert(again.sameElements(results))

    // the CLI's record count reads the sink: the lazy frame (whose
    // every action calls the LLM again) is left alone
    import org.apache.spark.sql.functions.{lit, raise_error}
    val conf = graft.model.Configs.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(configPath)), "UTF-8"))
    val poisoned = spark.range(1).select(raise_error(lit("the enriched frame was re-run")))
    assert(Main.enrichedCount(spark, conf, poisoned) == 2)
    assert(Main.enrichedCount(spark, conf.copy(outDataPath = None), enriched) == 2)
  }

  test("missing in_data_path is a config error, not a silent no-op") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-main2").toString
    val configPath = s"$tmp/config.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(configPath),
      """{"llm": {"model": "stub"}, "pipe": []}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Main.run(spark, configPath))
    assert(e.getMessage.contains("in_data_path"))
  }

  test("evaluator selection: stub for offline configs, HTTP otherwise") {
    assert(Main.pickLlm("", "gpt") eq StubLlm)
    assert(Main.pickLlm("http://x/v1", "stub") eq StubLlm)
    assert(Main.pickLlm("http://x/v1", "gpt").isInstanceOf[HttpLlm])
  }
}
