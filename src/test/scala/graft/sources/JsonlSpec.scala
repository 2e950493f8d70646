package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.llm.StubLlm
import graft.model.Configs

/** End-to-end reference-path test: EHR-shaped JSONL in → 2-stage
  * map/reduce with the deterministic stub → enriched JSONL out
  * (the bin/text_mr_pipe.py driver loop, Spark-native). The fixture
  * is synthesized to the FIXTURES.md §1 schema. */
class JsonlSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()

  val ehrConf: String =
    """{
      |  "output_col": "results",
      |  "llm": {"model": "stub", "temperature": 0.0, "seed": 2},
      |  "pipe": [
      |    [
      |      {"name": "chief_complaint", "role": "You are a clinician.",
      |       "content": "Extract the chief complaint.", "scope": ["encounters", "notes"]},
      |      {"name": "medication_history", "content": "Summarize medications.",
      |       "scope": ["medications", "allergies"]},
      |      {"name": "lab_summary", "content": "Summarize lab results.",
      |       "scope": ["labs"]},
      |      {"name": "demographics", "content": "Summarize the patient.",
      |       "scope": ["patient"]}
      |    ],
      |    [
      |      {"name": "clinical_overview", "content": "Write the overview.",
      |       "input_desc": "Extracted sections.",
      |       "scope": ["chief_complaint", "lab_summary", "demographics"]},
      |      {"name": "medication_plan", "content": "Write the medication plan.",
      |       "scope": ["medication_history"]}
      |    ]
      |  ]
      |}""".stripMargin

  val fixture = getClass.getResource("/ehr/sample_0.jsonl").getPath

  test("EHR jsonl → map/reduce → enriched jsonl round-trip") {
    val conf = Configs.parse(ehrConf)
    val outDir = java.nio.file.Files.createTempDirectory("graft-ehr").toString + "/out"
    val enriched = Jsonl.enrich(spark, conf, StubLlm, fixture, Some(outDir))
    val rows = enriched.collect()
    assert(rows.length == 2)
    // original fields preserved...
    assert(enriched.columns.contains("patient") && enriched.columns.contains("results"))
    // ...results embedded with both stage outputs + markdown
    val res = enriched.select("results.*")
    assert(res.columns.toSet == Set("map_results", "reduce_results", "result"))
    val r0 = res.collect().head
    assert(r0.getAs[Map[String, String]]("map_results").keySet ==
      Set("chief_complaint", "medication_history", "lab_summary", "demographics"))
    assert(r0.getAs[Map[String, String]]("reduce_results").keySet ==
      Set("clinical_overview", "medication_plan"))
    assert(r0.getAs[String]("result").contains("# clinical_overview"))
    // sink wrote valid JSONL that reads back identically
    val back = spark.read.json(outDir)
    assert(back.count() == 2)
    assert(back.select("results.result").collect().map(_.getString(0)).sorted.sameElements(
      enriched.select("results.result").collect().map(_.getString(0)).sorted))
  }

  test("enrichment is deterministic (stub + pinned params)") {
    val conf = Configs.parse(ehrConf)
    val a = Jsonl.enrich(spark, conf, StubLlm, fixture)
      .select("results.result").collect().map(_.getString(0)).sorted.toSeq
    val b = Jsonl.enrich(spark, conf, StubLlm, fixture)
      .select("results.result").collect().map(_.getString(0)).sorted.toSeq
    assert(a == b)
  }

  test("csv and partitioned-parquet round-trips preserve data") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-io").toString
    Io.writeCsv(docs, s"$tmp/csv")
    val backCsv = Io.readCsv(spark, s"$tmp/csv")
    assert(backCsv.count() == 500)
    assert(backCsv.columns.toSet == Set("doc_id", "lang", "n_chars"))
    Io.writeParquet(docs, s"$tmp/pq", partitionBy = Seq("lang"))
    val backPq = Io.readParquet(spark, s"$tmp/pq")
    assert(backPq.count() == 500)
    // partition pruning: a lang filter reads only that partition dir
    assert(backPq.filter(col("lang") === "en").count() ==
      docs.filter(col("lang") === "en").count())
    Io.writeOrc(docs, s"$tmp/orc", partitionBy = Seq("lang"))
    val backOrc = Io.readOrc(spark, s"$tmp/orc")
    assert(backOrc.count() == 500)
    assert(backOrc.filter(col("lang") === "en").count() ==
      docs.filter(col("lang") === "en").count())
  }

  test("compaction collapses a many-small-files table, preserving rows") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    docs.repartition(40).write.parquet(s"$tmp/small")
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$tmp/small") == 40)
    // target sized to land at a couple of files for this tiny table
    val total = new java.io.File(s"$tmp/small").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val n = Io.compactParquet(spark, s"$tmp/small", s"$tmp/big",
      targetBytes = total / 2 + 1)
    assert(n == 2 && parquetFiles(s"$tmp/big") == 2)
    val back = Io.readParquet(spark, s"$tmp/big")
    assert(back.count() == 500)
    assert(back.exceptAll(docs).isEmpty)
  }

  test("corrupt JSONL records quarantine instead of failing the scan") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-badjson")
    val f = dir.resolve("data.jsonl")
    java.nio.file.Files.writeString(f,
      """{"doc_id": 1, "text": "good"}
        |this is not json at all
        |{"doc_id": 2, "text": "also good"}
        |{"doc_id": 3, "text": "truncated
        |""".stripMargin)
    // PERMISSIVE (default): bad lines land in _corrupt_record, good
    // rows survive — the only acceptable behavior at 100 TB where a
    // handful of mangled records must never kill a day-long job
    val df = spark.read
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
    val good = df.filter(col("_corrupt_record").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(good == Set(1L, 2L))
    // corrupt rows are COUNTABLE for the ingest audit (cache first:
    // Spark refuses referencing only _corrupt_record on a raw scan)
    val cached = df.cache()
    try {
      val bad = cached.filter(col("_corrupt_record").isNotNull).count()
      assert(bad == 2L)
    } finally cached.unpersist()
    // FAILFAST: the strict mode refuses the same file
    intercept[org.apache.spark.SparkException] {
      spark.read.option("mode", "FAILFAST")
        .schema("doc_id LONG, text STRING")
        .json(dir.toString).collect()
    }
  }

  test("parquet schema evolution: mergeSchema unions columns across files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$dir/batch=1")
    Seq((2L, "b", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/batch=2")
    val merged = Io.readParquetEvolved(spark, dir)
    assert(merged.columns.toSet == Set("doc_id", "text", "lang", "batch"))
    val rows = merged.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // old files surface the new column as null — reads never break
    assert(rows(1L).isEmpty && rows(2L).contains("en"))
  }

  test("resilient read skips a corrupt parquet part instead of failing the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // plant a truncated/garbage part file next to the good one
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.snappy.parquet"),
      "not a parquet file".getBytes)
    // default reader fails fast (footer read throws)
    intercept[Exception] {
      spark.read.parquet(dir).collect()
    }
    val rows = Io.readParquetResilient(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L), s"good rows lost: $rows")
  }

  test("dynamic partition overwrite backfills one partition, leaves the rest intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-backfill").toString + "/t"
    val full = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "fr", "c"))
      .toDF("doc_id", "lang", "text")
    Io.writeParquet(full, dir, partitionBy = Seq("lang"))
    // backfill ONLY lang=en with corrected rows
    val fix = Seq((1L, "en", "a2"), (9L, "en", "z")).toDF("doc_id", "lang", "text")
    Io.overwritePartitions(fix, dir, Seq("lang"))
    val got = spark.read.parquet(dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
    // en replaced wholesale, fr untouched
    assert(got == Seq((1L, "en", "a2"), (3L, "fr", "c"), (9L, "en", "z")))
    // session default restored (fail-safe static)
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .contains("dynamic"))
    // idempotent: re-running the same backfill changes nothing
    Io.overwritePartitions(fix, dir, Seq("lang"))
    val again = spark.read.parquet(dir).count()
    assert(again == 3L)
  }

  test("pretty stringify boundary reaches the prompts (indent=2)") {
    val src = Jsonl.read(spark, fixture)
      .withColumn("__graft_id", org.apache.spark.sql.functions.monotonically_increasing_id())
    val docs = graft.exec.InstructionsPipeline.toDocs(src, "__graft_id", pretty = true)
      .collect()
    val patient = docs.map(_.fields("patient")).find(_.contains("Alex Roe")).get
    // python-style: 2-space indent, ": " separator, multi-line
    assert(patient.startsWith("{\n  \""))
    assert(patient.contains("\"name\": \"Alex Roe\""))
  }

  test("enrich retains no cached RDD across calls") {
    val conf = Configs.parse(ehrConf)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = java.nio.file.Files.createTempDirectory("graft-ehr-nocache")
    // a path no earlier test read, so no cached plan of it predates `before`
    val in = out.resolve("in.jsonl")
    java.nio.file.Files.copy(java.nio.file.Path.of(fixture), in)
    Jsonl.enrich(spark, conf, StubLlm, in.toString, Some(s"$out/a"))
    Jsonl.enrich(spark, conf, StubLlm, in.toString, Some(s"$out/b"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("enrich over a 3-file input: every record gets its own results") {
    // the driver-side reference catches any record paired with
    // another record's results
    import org.apache.spark.sql.functions.{col, lit}
    import graft.exec.InstructionsPipeline
    import graft.ops.DocOps
    val conf = Configs.parse(ehrConf)
    val dir = java.nio.file.Files.createTempDirectory("graft-ehr-3files")
    for (f <- 0 until 3)
      java.nio.file.Files.writeString(dir.resolve(s"part-$f.jsonl"), (0 until 3).map { r =>
        s"""{"rid": "r$f$r", "patient": {"name": "P$f$r", "age": ${40 + 3 * f + r}}, """ +
          s""""notes": "note $f $r", "labs": [{"test_name": "panel $r", "value": ${10 * f + r}}]}"""
      }.mkString("", "\n", "\n"))
    val got = Jsonl.enrich(spark, conf, StubLlm, dir.toString)
      .select(col("rid"), col("results.map_results"), col("results.reduce_results"))
      .collect().map(r => r.getString(0) ->
        (r.getMap[String, String](1).toMap, r.getMap[String, String](2).toMap)).toMap
    val docs = InstructionsPipeline.toDocs(
      Jsonl.read(spark, dir.toString).withColumn("__k", lit(0L)), "__k", pretty = true).collect()
    val want = docs.map { d =>
      val maps = conf.pipe.scanLeft(d.fields) { (fields, stage) =>
        stage.resolved.map { ins =>
          ins.name -> StubLlm.complete(DocOps.initChatml(DocOps.buildSysMsg(ins),
            DocOps.buildUserMsg(DocOps.scopeProject(fields, ins.scope))), conf.llm)
        }.toMap
      }
      d.fields("rid") -> (maps(1), maps(2))
    }.toMap
    assert(got.size == 9)
    assert(got == want)
  }

  test("enrich scans its input once and joins nothing back") {
    // each record rides through the pipeline pass with its document,
    // so no id has to agree between two scans of the input
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val enriched = Jsonl.enrich(spark, Configs.parse(ehrConf), StubLlm, fixture)
    val plan = enriched.queryExecution.executedPlan
    val nodes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p: SparkPlan => p }
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), plan)
    assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) == 1, plan)
    assert(enriched.columns.toSeq == spark.read.json(fixture).columns.toSeq :+ "results")
  }
}
