package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables, TestSpark}

/** Spark jobs of one `.collect()` of each maintained-replay catalog
  * query at sf0.001: building the frame runs the witness probes and
  * the CC folds, the collect runs the rest. Counts do not move with
  * host load, so a change to the replay schedule or the append cores
  * that adds or drops a job shows here. */
class ReplayJobsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.init()

  private val pins = Seq(
    "q322_cc_incremental" -> 9,
    "q323_entity_res_incremental" -> 19,
    "q324_lsh_clusters_incremental" -> 22,
    "q326_simhash_incremental" -> 24,
    "q327_entity_res_with_deletes" -> 24,
    "q328_lsh_clusters_with_deletes" -> 33,
    "q329_entity_res_with_readds" -> 30,
    "q330_lsh_clusters_with_readds" -> 41,
    "q331_simhash_with_deletes" -> 27)

  pins.foreach { case (q, pinned) =>
    test(s"$q: the Spark jobs of one collect at sf0.001 are pinned") {
      // a table's first read in the session infers its schema in one
      // job; read both inputs first so the pin does not depend on
      // which spec ran before
      Tables.documents(spark, TestSpark.sf)
      Tables.customer(spark, TestSpark.sf)
      val build = SparkEntry.queries(q)
      val (rows, jobs) = TestSpark.countJobs(build(spark, TestSpark.sf).collect())
      assert(rows.nonEmpty)
      assert(jobs == pinned, s"$q ran $jobs Spark jobs (pinned $pinned)")
    }
  }
}
