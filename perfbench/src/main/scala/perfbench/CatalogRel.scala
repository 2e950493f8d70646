package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** catalog_rel: a pass over a pinned list of catalog queries whose
  * entry points are in `graft.rel`, on a TPC-H-shaped star schema at
  * scale factor [[CatalogRel.sf]]: the TPC-H 22, two queries that reach
  * unpartitioned `Window.orderBy` sites, and `q240_user_cf`.
  *
  * The tables are one fixed data set and the order is fixed, so the seed
  * changes nothing here: with a seeded order, the first queries of a run
  * pay the JVM's warm-up and the figures move with the order.
  *
  * Each query is built, planned and executed (`collect`) in turn,
  * closed loop, in whole passes over the list. Spark's cache is cleared before each query, outside
  * the timing, so a query never reads tables an earlier one memoized
  * and every sample measures the same work.
  *
  * Output check: the digest of each query's first result must equal the
  * one pinned in `catalog_pins.json`. `run.py --pin` makes those pins:
  * it writes every result out, compares each with DuckDB running the
  * query's `SparkEntry.oracleSql` on the same tables, and pins the
  * digests only when all of them match. */
final class CatalogRel(spark: SparkSession, work: Path, pin: Boolean) extends Workload {
  import CatalogRel._

  private val dir = work.resolve("tpch").toString

  def generate(): Unit = writeTables(spark, dir, sf)

  /** Loads and compiles the engine's common paths (aggregation, joins,
    * windows) on tables a tenth the size. Each query's own first-run
    * planning and code generation stays in its timed sample: a catalog
    * pass runs every query once per session. */
  def warmUp(): Unit = {
    val warm = work.resolve("tpch-warm").toString
    writeTables(spark, warm, sf / 10)
    warmQueries.foreach(q => SparkEntry.queries(q)(spark, warm).collect())
    spark.catalog.clearCache()
  }

  def run(seconds: Int, tracer: Tracer, traced: Boolean): Outcome = {
    val passes = Stats.units(seconds, passS, 1) * (if (traced) 2 else 1)
    val lat = ArrayBuffer.empty[Double]
    val perQuery = ArrayBuffer.empty[String]
    val byMode = scala.collection.mutable.Map.empty[(String, Boolean), Double]
    val roots = ArrayBuffer.empty[Span]
    val problems = ArrayBuffer.empty[String]
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    var attempted, failed = 0L
    var i = 0
    while (i < passes * queries.size) {
      val name = queries(i % queries.size)
      // alternate traced and untraced queries, flipping every pass, so
      // each query has a traced and an untraced sample
      val traceThis = traced && (i % queries.size + i / queries.size) % 2 == 1
      spark.catalog.clearCache()
      attempted += 1
      tracer.on = traceThis
      try {
        val (rows, dt) = Stats.timed(tracer.span("rel", name) {
          val df = tracer.span("rel", "build")(SparkEntry.queries(name)(spark, dir))
          tracer.span("rel", "plan")(df.queryExecution.executedPlan)
          (df.schema, tracer.span("rel", "exec")(df.collect()))
        })
        lat += dt
        perQuery += f"$name $dt%.3f"
        byMode((name, traceThis)) = dt
        if (traceThis) roots += tracer.named(name).last
        if (!results.contains(name)) results(name) = rows
      } catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        problems += s"$name failed: $e"
      } finally tracer.on = false
      i += 1
    }
    val retainedMb = Stats.retainedMb(spark)
    val digests = results.map { case (q, (schema, rows)) => q -> digest(schema, rows) }.toMap
    if (pin) writeResults(results.toMap, digests)
    else problems ++= checkPinned(digests)
    Stats.log(perQuery.mkString("query seconds: ", ", ", ""))
    Stats.log(f"queries: ${lat.size} samples, ${lat.size.toDouble / queries.size}%.2f passes over ${queries.size}")

    val metrics =
      if (!traced) Seq(
        Metric("items_per_s", lat.size / lat.sum, "1/s"),
        Metric("job_p50_s", Stats.median(lat.toSeq), "s"))
      else {
        tracer.listener.foreach(_.settle())
        val n = math.max(roots.size, 1)
        def mean(name: String) = roots.toSeq.flatMap(r =>
          tracer.all.filter(s => s.parent == r.id && s.name == name)).map(_.seconds).sum / n
        val eager = roots.toSeq.flatMap(r => tracer.all.filter(s => s.parent == r.id &&
          s.name == "build")).map(tracer.counts(_, byWindow = false).jobs).sum
        Seq(
          Metric("rel.build_s", mean("build"), "s"),
          Metric("rel.plan_s", mean("plan"), "s"),
          Metric("rel.exec_s", mean("exec"), "s"),
          Metric("rel.eager_jobs", eager.toDouble / n, "count"),
          Metric("spark.retained_mb", retainedMb, "MB"),
          Metric("trace.jobs", lat.size.toDouble, "count")) ++
          PerLayer.sparkPerJob(tracer, roots.toSeq, byWindow = false) ++
          PerLayer.selfTimes(tracer, roots.toSeq) ++
          overhead(byMode.toMap)
      }
    Outcome(attempted, failed, problems.toSeq, metrics)
  }

  /** Tracing overhead: each query runs traced in one pass and untraced
    * in the other. The second pass runs warmer, so (traced - untraced)
    * is the overhead plus that gain for queries traced first, and minus
    * it for the others: the mean of the two groups' medians cancels it. */
  private def overhead(byMode: Map[(String, Boolean), Double]): Seq[Metric] = {
    val paired = queries.zipWithIndex.flatMap { case (q, qi) =>
      for (t <- byMode.get((q, true)); u <- byMode.get((q, false)))
        yield (qi % 2 == 1, t - u, u)
    }
    val (first, second) = paired.partition(_._1)
    val d = (Stats.median(first.map(_._2)) + Stats.median(second.map(_._2))) / 2
    Seq(Metric("trace.overhead_s", d, "s"),
      Metric("trace.overhead_frac", d / Stats.median(paired.map(_._3)), "ratio"))
  }

  private def checkPinned(digests: Map[String, String]): Seq[String] = {
    import org.json4s._
    val pinned = org.json4s.jackson.JsonMethods.parse(new String(
      getClass.getResourceAsStream("/catalog_pins.json").readAllBytes(), "UTF-8"))
    queries.filterNot(q => digests.get(q).exists(d => pinned \ q == JString(d)))
      .map(q => s"$q: result differs from its pinned, oracle-checked digest")
  }

  /** For `--pin`: each query's first result as parquet under
    * `catalog_out/<name>/`, the oracle SQL in `oracle_sql.json` and the
    * digests in `digests.json`, for the DuckDB comparison in `run.py`. */
  private def writeResults(results: Map[String, (StructType, Array[Row])],
      digests: Map[String, String]): Unit = {
    val out = work.resolve("catalog_out")
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, pretty, render}
    Files.writeString(out.resolve("oracle_sql.json"), compact(render(JObject(
      queries.toList.map(q => q -> JString(SparkEntry.oracleSql.getOrElse(q, "")))))))
    Files.writeString(out.resolve("digests.json"), pretty(render(JObject(
      queries.toList.flatMap(q => digests.get(q).map(d => q -> JString(d)))))) + "\n")
  }
}

object CatalogRel {
  val sf = 0.01
  /** Whole passes per run: `--seconds` / [[passS]], at least one;
    * traced runs make twice as many. */
  val passS = 20.0

  /** SHA-256 of a result with its columns sorted by name and its rows
    * sorted: the same rows in any order give the same digest. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => cols.map { case (_, i) =>
      if (r.isNullAt(i)) "\\N" else String.valueOf(r.get(i))
    }.mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.map(_._1).mkString("\t").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  val queries: Seq[String] = Seq(
    // TPC-H Q1-Q22
    "q01_pricing_summary", "q161_tpch_q2", "q84_shipping_priority",
    "q91_order_priority", "q109_tpch_q5", "q126_tpch_q6", "q124_tpch_q7",
    "q125_tpch_q8", "q130_tpch_q9", "q110_tpch_q10", "q163_tpch_q11",
    "q139_tpch_q12", "q127_tpch_q13", "q111_tpch_q14", "q138_tpch_q15",
    "q164_tpch_q16", "q129_tpch_q17", "q112_tpch_q18", "q113_tpch_q19",
    "q165_tpch_q20", "q140_tpch_q21", "q128_tpch_q22",
    // unpartitioned Window.orderBy sites in Relational (part, lineitem)
    "q293_skyline", "q226_pareto",
    // collaborative filtering
    "q240_user_cf")

  private val warmQueries = Seq("q01_pricing_summary", "q109_tpch_q5",
    "q140_tpch_q21", "q293_skyline")
  private val dataSeed = 42L
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  /** Uniform integer in [0, m) from the row id and a per-column tag. */
  private def u(tag: String, m: Long): Column =
    pmod(xxhash64(lit(dataSeed), lit(tag), col("id")), lit(m))
  private def pick(tag: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(tag, xs.size) + 1).cast("int"))
  private def cents(tag: String, lo: Long, hi: Long): Column =
    ((u(tag, hi - lo + 1) + lo) / 100.0).cast("double")
  /** A day in [start, start + days) as a naive (NTZ) timestamp, the
    * parquet shape of the catalog's reference tables. */
  private def day(tag: String, start: String, days: Long): Column =
    date_add(lit(start).cast("date"), u(tag, days).cast("int")).cast("timestamp_ntz")

  /** The TPC-H-shaped tables (region, nation, customer, supplier,
    * part, orders, lineitem), one parquet directory each under `dir`,
    * with the column types and value domains of the catalog's
    * reference data. Deterministic: Spark expressions of the row id. */
  def writeTables(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Long) = math.max(1L, (base * sf).round)
    val (nCust, nSupp, nPart, nOrd, nLine) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000))
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    import spark.implicits._
    write("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name").coalesce(1))
    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")).coalesce(1))
    write("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u("c_nation", 25).cast("int").as("c_nationkey"),
      cents("c_bal", -99999, 999999).as("c_acctbal"),
      pick("c_seg", segments).as("c_mktsegment")))
    write("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u("s_nation", 25).cast("int").as("s_nationkey"),
      cents("s_bal", -99999, 999999).as("s_acctbal")))
    write("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick("p_adj", adjectives), pick("p_noun", nouns)).as("p_name"),
      concat(lit("Brand#"), u("p_brand", 25) + 1).as("p_brand"),
      pick("p_type", types).as("p_type"),
      (u("p_size", 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")))
    write("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      u("o_cust", nCust).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      cents("o_price", 100000, 50000000).as("o_totalprice"),
      day("o_date", "1995-01-01", 2404).as("o_orderdate"),
      pick("o_prio", priorities).as("o_orderpriority")))
    write("lineitem", spark.range(nLine).select(u("l_order", nOrd).as("l_orderkey"),
      u("l_part", nPart).as("l_partkey"), u("l_supp", nSupp).as("l_suppkey"),
      (u("l_line", 7) + 1).cast("int").as("l_linenumber"),
      (u("l_qty", 50) + 1).cast("double").as("l_quantity"),
      cents("l_price", 100000, 10000000).as("l_extendedprice"),
      (u("l_disc", 11) / 100.0).as("l_discount"),
      (u("l_tax", 9) / 100.0).as("l_tax"),
      pick("l_flag", Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_status", Seq("F", "O")).as("l_linestatus"),
      day("l_ship", "1995-01-02", 2499).as("l_shipdate")))
  }
}
