package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Fail-fast guards for the two driver-altitude patterns used across
  * the repo.
  *
  * Driver-side loops over a COLLECTED grid (the q315/q316/Lloyd-fit
  * altitude) are only safe when the grid is bounded by a vocabulary
  * or a schema constant, never by data volume. Where that bound is
  * structural (a literal `limit`, a scan-pruned `vec_id < n` filter,
  * a `groupBy` over k∈{0,1,2}) nothing extra is needed; where it is
  * an ASSUMPTION about the data ("event types are a small vocabulary",
  * "embeddings are 64-dim"), [[boundedGrid]] turns a silent driver
  * OOM into an immediate, named error — the
  * [[graft.ext.Linkage]] `maxBucket` fail-fast philosophy applied to
  * collects. A 100 TB events table whose `event_type` carries URLs
  * must ERROR, not take down the driver.
  *
  * [[coalesceTiny]] is the complementary rule for the grids we keep
  * DISTRIBUTED but iterate over: a bounded node grid does not deserve
  * `spark.sql.shuffle.partitions` tasks per power-iteration job
  * (measured 16.8 s of pure scheduler overhead at q251's 5-node
  * graph), but a large pruned graph must KEEP its parallelism — the
  * adaptive rule from `Dedup.hits`, shared so every iterative caller
  * picks the same threshold.
  */
object Guards {

  /** Default cap for the driver-altitude grids (the `driverGridMax`
    * parameter shared by pageRank/HITS/CC/TextRank/k-means…), derived
    * from what the driver can actually hold instead of a bare
    * constant:
    *
    *   - `graft.driverGridMax` system property, then the
    *     `SPARK_GRAFT_DRIVER_GRID_MAX` env var, override everything
    *     (0 = force-distributed everywhere — the escape hatch the
    *     parity specs rely on stays honored because every altitude
    *     switch gates on `driverGridMax > 0` before it probes: the
    *     graph loops take the driver on `0 < count <= driverGridMax`,
    *     and the CC paths on any probe collect of at most
    *     `driverGridMax` rows, an empty one included);
    *   - otherwise the sizing rule: a collected grid row costs
    *     ~512 heap bytes (Row object + boxed fields + the loop's map
    *     entries), and a loop may hold ~3 grid-sized structures, so
    *     cap at heap/100/512 — 1% of the driver heap even with
    *     several concurrent altitude loops — floored at 1024 and
    *     CEILINGED at the 65536 convention every parity spec and
    *     bench anchor was measured under (more heap never silently
    *     raises the collect bound; less heap lowers it).
    *
    * Unit: rows the caller's altitude probe collects. For
    * [[graft.ext.Dedup.connectedComponents]] (and so every dedup
    * composition) that is RAW input edge rows — a duplicate row and
    * each direction of an edge count once each — not distinct
    * undirected edges; ccIncrement and ccDecrement apply the cap to
    * each of their driver collects (new edges, touched labels,
    * touched members, survivor edges); the graph loops
    * (pageRank, HITS, k-core, BFS, TextRank) collect the edge grid
    * they have already built.
    */
  def defaultDriverGridMax: Int =
    sys.props.get("graft.driverGridMax")
      .orElse(sys.env.get("SPARK_GRAFT_DRIVER_GRID_MAX"))
      .map(_.trim)
      // set-but-blank (the `VAR=` shell accident) reads as unset; a
      // genuinely malformed value fails fast NAMING THE KNOB — the
      // bare .toInt threw a context-free NumberFormatException from
      // every default-parameter evaluation, breaking pageRank/HITS/
      // CC/textRank calls with an unrelated-looking error (r13 ADVICE)
      .filter(_.nonEmpty)
      .map { v =>
        scala.util.Try(v.toInt).getOrElse(throw new IllegalArgumentException(
          s"driverGridMax knob (graft.driverGridMax property / " +
            s"SPARK_GRAFT_DRIVER_GRID_MAX env) is set but not an " +
            s"integer: '$v' — unset it or pass a row count (0 = " +
            "force-distributed)"))
      }
      .getOrElse {
        val byMem = Runtime.getRuntime.maxMemory() / 100L / 512L
        math.min(65536L, math.max(1024L, byMem)).toInt
      }

  /** Collect a grid that is SUPPOSED to be vocabulary-bounded, and
    * THROW if the data says otherwise. One job, no pre-count: the
    * plan fetches at most `maxRows + 1` rows, so the failure path
    * costs one truncated collect rather than an OOM. Row order is
    * whatever the limit returns — callers must be order-insensitive
    * (every current caller re-aggregates the rows driver-side).
    */
  def boundedGrid(df: DataFrame, maxRows: Int, what: String): Array[Row] = {
    require(maxRows > 0, s"boundedGrid($what): maxRows must be positive")
    // collect-ok: this IS the guard — the plan fetches ≤ maxRows+1
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"$what: driver-side grid exceeds maxRows=$maxRows. The " +
          "bounded-vocabulary assumption this driver-altitude loop " +
          "relies on does not hold on this data — keep the " +
          "computation distributed, pre-prune the vocabulary, or " +
          "raise the cap deliberately.")
    rows
  }

  /** The fail-fast guard of the append cores
    * ([[graft.ext.Linkage.erAppendEdges]],
    * [[graft.ext.Dedup.lshAppendCandidates]],
    * [[graft.ext.Dedup.simhashAppendValuePairs]]), run as ONE action
    * that also materializes the result.
    *
    * `frame` carries a boolean MARKER column `w`. A core ranks each
    * touched bucket, truncates it at cap+1 (so even a degenerate
    * bucket keeps the join bounded), and lets the rank-(cap+1) row
    * bypass its pair filter as a marker row (`w = true`): that row
    * exists iff a bucket the batch touches is over the cap. The
    * witness is data, not a metric: a `Dataset.observe` guard
    * measured WRONG here (under AQE the CollectMetrics accumulator
    * lands on a plan copy whose updates are dropped, so max(rank)
    * read 0 while rows flowed).
    *
    * The frame is checkpointed LAZILY and the `limit(1)` probe over
    * the markers is the materializing action: on a healthy frame no
    * marker exists, so the take scans every partition, and block
    * unroll consumes each partition's full iterator, so every
    * partition lands in the checkpoint as a side effect. A dedicated
    * checkpoint job would be pure overhead. On a violation, or on
    * any exception the probe throws, the checkpoint's blocks are
    * released before the error propagates (a retrying stream would
    * otherwise keep one pairs-sized block set per attempt); a
    * violation throws `IllegalArgumentException` with `what`.
    *
    * Returns the unmarked rows without `w`, a filter over the
    * materialized checkpoint: callers need not checkpoint it again. */
  def witnessed(frame: DataFrame, what: String): DataFrame = {
    val cp = frame.localCheckpoint(eager = false)
    try {
      // collect-ok: bounded by limit(1) — the witness probe, which
      // also materializes the checkpoint
      val violated = cp.filter(col("w")).limit(1).collect()
      require(violated.isEmpty, what)
    } catch {
      case e: Throwable =>
        cp.queryExecution.logical.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.unpersist(blocking = true)
          case _ =>
        }
        throw e
    }
    cp.filter(!col("w")).drop("w")
  }

  /** Adaptive single-partition collapse for bounded iterative grids:
    * collapse to 1 partition only when the grid is genuinely tiny
    * (n < cap nodes/edges), so power loops over vocabulary graphs run
    * one task per job while a large pruned graph keeps its
    * parallelism. The `Dedup.hits` n < 10000 rule as the shared
    * helper (VERDICT r9 item 3). */
  def coalesceTiny(df: DataFrame, n: Long, cap: Long = 10000L): DataFrame =
    if (n < cap) df.coalesce(1) else df

  /** Spark's binary string collation as a JVM ordering — unsigned
    * UTF-8 byte comparison. Driver-altitude loops that replicate a
    * distributed `min`/`orderBy` over a string column must use THIS,
    * not String.compareTo (UTF-16 code units order non-ASCII and
    * supplementary characters differently). */
  val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }
}
