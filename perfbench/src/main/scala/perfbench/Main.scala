package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload's timed phase reports: `problems` lists every
  * failed output check (empty means correct). */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    metrics: Seq[Metric])

trait Workload {
  /** (Re)generate this run's inputs from the seed. */
  def generate(): Unit
  /** Untimed warm-up (JIT, code generation, first reads), so the timed
    * phase measures steady-state work. */
  def warmUp(): Unit
  /** Closed loop over a fixed number of like jobs. `seconds` sets that
    * number (see [[Stats.units]]); the program's speed never does, so a
    * change and its parent time the same jobs. Untraced runs return the
    * end-to-end metrics; traced runs the per-layer ones. */
  def run(seconds: Int, tracer: Tracer, traced: Boolean): Outcome
}

/** One run of one workload:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file> [--pin 1]`.
  * Writes the run's result as JSON to `--out`; `run.py` turns it into
  * the benchmark's result line. */
object Main {
  import Stats.log

  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))

    val (spark, sessionS) = Stats.timed {
      graft.GraftSession.builder(s"local[${Runtime.getRuntime.availableProcessors()}]")
        .appName(s"perfbench-$workload")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (traced) Some(new JobCounts) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, s"$workload-$seed", listener)

    val wl: Workload = workload match {
      case "instr_pipeline" => new InstrPipeline(spark, work, seed)
      case "dedup_cdc"      => new DedupCdc(spark, work, seed)
      case "catalog_rel"    => new CatalogRel(spark, work, opts.get("pin").contains("1"))
      case other => sys.error(s"unknown workload '$other'")
    }
    val genS = Stats.median((1 to setupReps).map(_ => Stats.timed(wl.generate())._2))
    val (_, warmS) = Stats.timed(wl.warmUp())
    log(f"setup: session $sessionS%.2f s, warm-up $warmS%.2f s, inputs $genS%.2f s (median of $setupReps)")
    val o = wl.run(seconds, tracer, traced)
    log(s"attempted ${o.attempted}, failed ${o.failed}, problems ${o.problems.size}")

    val metrics =
      if (traced) PerLayer.complete(o.metrics ++ Seq(
        Metric("setup.session_s", sessionS, "s"),
        Metric("setup.warmup_s", warmS, "s"),
        Metric("setup.inputs_s", genS, "s")))
      else Metric("setup_s", sessionS + warmS + genS, "s") +: o.metrics
    if (traced) tracer.write(work.resolve("trace").resolve(s"$workload-$seed.jsonl"))
    Files.writeString(out, Stats.resultJson(o, metrics))
    spark.stop()
  }
}

object Stats {
  /** Progress lines for the run's log; `run.py` echoes them to stderr. */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Jobs in a run: `seconds` divided by the seconds one job took at
    * the baseline on a 4-core host, rounded, and at least `least`. */
  def units(seconds: Int, jobS: Double, least: Int): Int =
    math.max(least, math.round(seconds / jobS).toInt)

  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def resultJson(o: Outcome, metrics: Seq[Metric]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    compact(render(JObject(
      "attempted" -> JInt(o.attempted), "failed" -> JInt(o.failed),
      "problems" -> JArray(o.problems.toList.map(JString(_))),
      "metrics" -> JObject(metrics.toList.map(m =>
        m.name -> JObject("value" -> JDouble(m.value), "unit" -> JString(m.unit)))))))
  }

  /** Memory and disk still held by persisted or checkpointed blocks. */
  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** Delete a directory tree if present. */
  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = mutable.ArrayBuffer.empty[Path]
      Files.walk(p).forEach(x => paths += x)
      paths.reverseIterator.foreach(Files.delete)
    }

  /** (files, MB) of the non-hidden files under a directory tree. */
  def treeSize(p: Path): (Long, Double) =
    if (!Files.exists(p)) (0L, 0.0) else {
      var n = 0L; var bytes = 0L
      Files.walk(p).forEach { x =>
        val name = x.getFileName.toString
        if (Files.isRegularFile(x) && !name.startsWith(".") && !name.startsWith("_")) {
          n += 1; bytes += Files.size(x)
        }
      }
      (n, bytes / (1024.0 * 1024.0))
    }

  /** Mean traced-minus-untraced latency of the same job kind: the
    * tracing overhead of a traced run. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Seq[Metric] = {
    val d = median(traced) - median(untraced)
    Seq(Metric("trace.overhead_s", d, "s"),
      Metric("trace.overhead_frac", if (untraced.isEmpty) 0.0 else d / median(untraced), "ratio"))
  }
}
