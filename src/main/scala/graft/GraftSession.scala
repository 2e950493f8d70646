package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory: every entrypoint (Bench,
  * Verify, Main, the dev harnesses) and the specs' shared session
  * start from it, adding only their own app name and UI setting. It
  * is also the config a deployment should START from, with the
  * reasoning attached. Every knob is overridable afterwards;
  * `GraftExtensions` is registered so the native expressions are
  * SQL-callable.
  *
  * Scale rationale per knob:
  *  - `shuffle.partitions` = the session width ([[width]]): N for
  *    `local[N]`, the core count for `local`/`local[*]`. A cluster
  *    master keeps Spark's own setting — the driver's core count says
  *    nothing about the executors'; set it to the total executor
  *    cores there (AQE coalesces down from it, so err high).
  *  - AQE on + skew-join split on: runtime re-planning is the first
  *    line of defense for skewed keys (salting — Skew.saltedJoin — is
  *    the manual fallback beyond AQE's split factor).
  *  - `files.maxPartitionBytes` 256m: scan tasks sized so a row-group
  *    decompresses comfortably inside executor memory while keeping
  *    task count bounded on 100 TB inputs.
  *  - nanos-as-long + no TIMESTAMP_NTZ inference: either testdata
  *    vintage (TIMESTAMP(NANOS), which Spark 4 otherwise refuses, or
  *    µs `isAdjustedToUTC=false`) reads as a plain TIMESTAMP.
  *  - UTC session timezone: event-time math must not depend on the
  *    driver host's zone.
  */
object GraftSession {

  private val LocalN = """local\[(\d+)\]""".r

  /** Session width for `master`: N for `local[N]`, the core count for
    * `local` and `local[*]`, None for any other master (a cluster, or
    * `local[N,F]`/`local-cluster[…]`), which keeps Spark's defaults. */
  def width(master: String): Option[Int] = master match {
    case LocalN(n) => Some(n.toInt)
    case "local" | "local[*]" => Some(Runtime.getRuntime.availableProcessors())
    case _ => None
  }

  def builder(master: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      // many-query workloads thrash the default 100-entry codegen
      // class cache; 10k entries costs tens of MB on the driver (a
      // static conf: it must be set before the session exists)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${256L << 20}")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    width(master).fold(b) { n =>
      b.config("spark.sql.shuffle.partitions", n.toString)
        // guard probes (witness limits, boundedGrid caps) scan every
        // partition anyway; starting executeTake at the session width
        // avoids the 1→4→16 ramp's sequential driver jobs per probe.
        // Top-k queries plan TakeOrderedAndProject and are unaffected.
        .config("spark.sql.limit.initialNumPartitions", n.toString)
    }
  }
}
