package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural regression net over the WHOLE catalog: no query may scan
  * the same base table four or more times (the multi-consumer
  * re-expansion bug class — a derived frame feeding N branches without
  * a persist re-runs its subtree N times; stickiness/funnel/
  * curated-bloom all had it before round 7's sweep). Counts PARQUET
  * leaves per location in the optimized plan — cached subtrees
  * (InMemoryRelation) are the fix, so they don't count against their
  * source. Adjudicated exceptions are allowlisted with the reason. */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()
  val sf = "/root/testdata/sf0.001"

  // query -> max same-table parquet scans permitted (with why)
  private val allow: Map[String, Int] = Map(
    "q12_setops" -> 4 // union/intersect/except legs over one dimension table by design
  )

  test("no query scans the same base table 4+ times (re-expansion guard)") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        val perPath = plan.collectLeaves()
          .flatMap {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr.relation match {
                case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  hfs.location.rootPaths.headOption.map(_.toString)
                case _ => None
              }
            case _ => None
          }
          .groupBy(identity).view.mapValues(_.size)
        val cap = allow.getOrElse(name, 3)
        perPath.foreach { case (path, n) =>
          if (n > cap)
            offenders += s"$name scans ${path.split('/').last} $n times (cap $cap)"
        }
      } catch {
        case e: Throwable => offenders += s"$name failed to plan: ${e.getMessage}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q316 gram stage: every explode sits above an aggregate (the n·d² row-level explode must not come back)") {
    // The r11 rewrite replaced an interpreted explode of n·d² outer-
    // product structs with the one-scan GramMomentAgg; the only
    // generator left unpacks the (d²+d)-cell buffer. Structural pin
    // on the exposed gramCells stage (the query's final frame is a
    // driver-built LocalTableScan, so the audit targets the stage):
    // each Generate's subtree must contain an Aggregate, so its input
    // is grid-sized — a Generate feeding straight off the scan is the
    // regression this guards against.
    val plan = graft.ext.Similarity
      .gramCells(graft.Tables.embeddings(spark, sf), 64)
      .queryExecution.optimizedPlan
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.nonEmpty, "expected the buffer-unpacking generator")
    gens.foreach { g =>
      val aggBelow = g.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined
      assert(aggBelow, s"row-level Generate over:\n${g.child.treeString.take(800)}")
    }
    assert(plan.toString.toLowerCase.contains("grammomentagg"),
      s"the typed Gram aggregator is gone from the plan:\n${plan.treeString.take(800)}")
  }

  test("q150: the candidate join stays equi-keyed despite the PPJoin range predicates") {
    // The length/positional filters are extra join-condition
    // predicates on the prefix-token equi-join; if a refactor ever
    // drops the equality key, Spark falls back to a cartesian /
    // nested-loop pair join — the exact blow-up prefix filtering
    // exists to avoid.
    val phys = SparkEntry.queries("q150_prefix_join")(spark, sf)
      .queryExecution.sparkPlan
    val bad = phys.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c.nodeName
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b.nodeName
    }
    assert(bad.isEmpty, s"non-equi pair join in q150: $bad")
  }

  test("q321: the frozen-path pair join stays equi-keyed too") {
    // q321 reaches the shared prefixPairJoin through the row-local
    // frozen projection — same cartesian-fallback hazard, separately
    // pinned because its plan shape (UDF projection, no freq join /
    // rank window) differs from q150's
    val phys = SparkEntry.queries("q321_prefix_join_frozen")(spark, sf)
      .queryExecution.sparkPlan
    val bad = phys.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c.nodeName
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b.nodeName
    }
    assert(bad.isEmpty, s"non-equi pair join in q321: $bad")
  }

  test("altitude switches ENGAGE at gate scale: driver results are local relations, the 0-cap forces real plans") {
    // If a refactor silently broke a switch (a count moved, a
    // condition inverted), the bit-identity parity specs would
    // compare distributed-vs-distributed and pass VACUOUSLY while
    // the perf win quietly died. Pin the plan shape instead: the
    // DEFAULT call on a bounded grid must bottom out in a
    // LocalTableScan (the collected driver result); the
    // driverGridMax = 0 call must not.
    import org.apache.spark.sql.execution.LocalTableScanExec
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
      val phys = df.queryExecution.sparkPlan
      // the whole result is driver-built iff every leaf is a local
      // (or empty-relation) scan — no parquet scan survives
      val leaves = phys.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case _: LocalTableScanExec => true
        case l => l.nodeName.contains("EmptyRelation")
      }
    }
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0))
      .toDF("src", "dst", "weight")
    val cc = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    assert(isLocal(graft.ext.Dedup.hits(edges)), "hits switch broken")
    assert(!isLocal(graft.ext.Dedup.hits(edges, driverGridMax = 0)))
    assert(isLocal(graft.ext.Dedup.pageRank(edges)), "pageRank switch broken")
    assert(!isLocal(graft.ext.Dedup.pageRank(edges, driverGridMax = 0)))
    assert(isLocal(graft.ext.Dedup.connectedComponents(cc)), "cc switch broken")
    assert(!isLocal(graft.ext.Dedup.connectedComponents(cc, driverGridMax = 0)))
    assert(isLocal(graft.ext.TextAnalysis.kcore(spark, sf)), "kcore switch broken")
    assert(isLocal(graft.ext.TextAnalysis.bfsHops(spark, sf)), "bfs switch broken")
    assert(isLocal(graft.ext.TextAnalysis.textRank(spark, sf)), "textRank switch broken")
    assert(!isLocal(graft.ext.TextAnalysis.textRank(spark, sf, driverGridMax = 0)))
  }

  test("instruction pipeline: runWithReport is one pass, with no Join and no Exchange") {
    // Map and reduce results come from the same in-partition pass; a
    // join of two stage outputs would run the map stage twice.
    import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    val conf = graft.model.Configs.parse(graft.exec.Demo.pipelineJson)
    val docs = (0 until 8).map(i =>
      graft.exec.PipeDoc(i.toLong, Map("text" -> s"document $i", "lang" -> "en"))).toDS()
    val df = new graft.exec.InstructionsPipeline(conf, graft.llm.StubLlm).runWithReport(docs)
    assert(df.collect().length == 8)
    val plan = df.queryExecution.executedPlan
    val nodes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p: SparkPlan => p }
    val offenders = nodes.collect {
      case p @ (_: BaseJoinExec | _: Exchange) => p.nodeName
    }
    assert(offenders.isEmpty, s"join/exchange in the pipeline plan:\n$plan")
    assert(nodes.count(_.isInstanceOf[MapPartitionsExec]) == 1,
      s"expected exactly one mapPartitions pass:\n$plan")
  }

  test("q126_tpch_q6: a second build runs no Spark job and plans as the first") {
    // Tables keeps each table's inferred schema, so only a table's first
    // read pays the footer job; the plan must not notice the difference.
    val build = SparkEntry.queries("q126_tpch_q6")
    val (first, _) = TestSpark.countJobs(build(spark, sf))
    val (second, jobs) = TestSpark.countJobs(build(spark, sf))
    assert(jobs == 0, s"second build ran $jobs Spark jobs")
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    assert(plan(second) == plan(first))
    assert(plan(second).contains("PushedFilters"), plan(second))
  }
}
