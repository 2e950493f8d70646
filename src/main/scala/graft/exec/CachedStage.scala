package graft.exec

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{ChatMsg, LlmClient}
import graft.model.{LlmParams, Stage}
import graft.ops.DocOps

/** LLM-stage idempotence via a content-hash response cache
  * (SURVEY.md §4 "physical-execution notes for 100 TB"): the LLM call
  * is the only non-restartable cost in the engine, so it must be
  * cacheable and replayable. Deterministic params (temperature 0,
  * pinned seed — the reference's own pinning, llm_cli.py:26-30) make
  * (model, prompt) → response a pure function; this stage persists
  * that function's graph to a parquet cache and only calls out for
  * misses.
  *
  * Spark-first shape (vs the in-partition pass of InstructionsPipeline):
  *   1. EXPLODE: one row per (doc × instruction) with the built
  *      prompt and its sha256 — the fan-out is data, not control
  *      flow, so Catalyst plans it;
  *   2. LEFT JOIN the cache on prompt_hash (broadcast when small,
  *      shuffled when the cache is 100 TB-scale — Catalyst's call);
  *   3. mapPartitions ONLY over misses, batched per partition;
  *   4. APPEND misses to the cache (the stage is now replayable:
  *      a retry or a second identical run does zero LLM calls);
  *   5. REGROUP by doc id, pivot name→response, all-or-nothing.
  *
  * A re-run after a mid-job failure re-uses every completed call —
  * exactly the restartability story a 1000-executor pipeline needs.
  */
object CachedStage {

  /** One exploded LLM request. */
  private[exec] case class LlmReq(
      id: Long, name: String, sys: String, user: String, promptHash: String)

  private def buildReqs(ds: Dataset[PipeDoc], stage: Stage,
      params: LlmParams): Dataset[LlmReq] = {
    val instrs = stage.resolved
    val model = params.model
    import ds.sparkSession.implicits._
    ds.filter((d: PipeDoc) => d.fields != null).flatMap { doc =>
      instrs.map { ins =>
        val projected = DocOps.scopeProject(doc.fields, ins.scope)
        val sys = DocOps.buildSysMsg(ins)
        val user = DocOps.buildUserMsg(projected)
        val hash = java.security.MessageDigest.getInstance("SHA-256")
          .digest(s"$model $sys $user".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        LlmReq(doc.id, ins.name, sys, user, hash)
      }
    }
  }

  /** Run one stage with a parquet response cache at `cachePath`. */
  def runStage(ds: Dataset[PipeDoc], stage: Stage, params: LlmParams,
      llm: LlmClient, cachePath: String): Dataset[PipeDoc] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val nInstr = stage.resolved.size
    val reqs = buildReqs(ds, stage, params)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // probe through the Hadoop FileSystem resolved from the path's URI —
    // a driver-local java.io.File check is always false on HDFS/S3,
    // which is where a 100 TB pipeline's cache actually lives
    val hPath = new org.apache.hadoop.fs.Path(cachePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cache: DataFrame =
      if (fs.exists(hPath))
        spark.read.parquet(cachePath).select(col("prompt_hash"), col("response"))
          .dropDuplicates("prompt_hash") // concurrent appends may race; any copy is valid (pure function)
      else
        Seq.empty[(String, String)].toDF("prompt_hash", "response")

    val joined = reqs.toDF()
      .join(cache, col("promptHash") === cache("prompt_hash"), "left_outer")
      .select(col("id"), col("name"), col("sys"), col("user"),
        col("promptHash"), col("response"))

    val hits = joined.filter(col("response").isNotNull)
      .select(col("id"), col("name"), col("response"))

    val missReqs = joined.filter(col("response").isNull)
      .select(col("id"), col("name"), col("sys"), col("user"), col("promptHash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // identical prompts (across documents!) collapse to ONE call —
    // the determinism contract makes responses shareable
    val uniqMisses = missReqs.dropDuplicates("promptHash").as[LlmReq]
    val client = llm
    val p = params
    val missResp = uniqMisses.mapPartitions { it =>
      val batch = it.toSeq
      val out = client.completeBatch(
        batch.map(r => DocOps.initChatml(r.sys, r.user)), p)
      batch.zip(out).map { case (r, resp) => (r.promptHash, resp) }.iterator
    }.toDF("prompt_hash", "response")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // append new entries so the next run (or a retry) hits
    missResp.filter(length(col("response")) > 0)
      .write.mode(SaveMode.Append).parquet(cachePath)

    val responses = hits.unionByName(
      missReqs.join(missResp, col("promptHash") === missResp("prompt_hash"))
        .select(col("id"), col("name"), col("response")))

    // regroup + all-or-nothing pivot (instructions.py:43-45 semantics)
    val pivoted = responses
      .groupBy(col("id"))
      // scale-ok: group = one doc's instruction results — bounded by
      // the stage's config-sized instruction count (nInstr)
      .agg(map_from_entries(collect_list(struct(col("name"), col("response"))))
          .as("fields"),
        count(lit(1)).as("n"),
        sum(when(length(col("response")) > 0, 0).otherwise(1)).as("n_failed"))
      .select(col("id"),
        when(col("n") === nInstr && col("n_failed") === 0, col("fields"))
          .otherwise(lit(null)).as("fields"))
      .as[PipeDoc]

    // docs whose previous stage already failed propagate as null
    val failed = ds.filter((d: PipeDoc) => d.fields == null)
    pivoted.unionByName(failed)
  }
}
