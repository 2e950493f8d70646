package graft
object Bench {
  /** Per-pass sample summary. Samples are seconds; a NEGATIVE sample
    * is the failure sentinel a throwing query records (strictly
    * negative — see [[failureSentinel]]). Returns (min over
    * successful samples, or -1.0 if every pass failed; failure
    * count). Pure — spec'd without Spark — because a bench harness
    * that swallows exceptions silently records ~0 s for a broken
    * query and IMPROVES the total: failures must be counted,
    * surfaced in the artifact, and excluded from timing stats. */
  def summarize(samples: Seq[Double]): (Double, Int) = {
    val ok = samples.filter(_ >= 0.0)
    (if (ok.nonEmpty) ok.min else -1.0, samples.length - ok.length)
  }

  /** Failure sentinel for a query that threw after `dt` seconds:
    * sign-encoded so the per-pass artifact arrays stay valid JSON and
    * still show HOW LONG the failing attempt ran — but clamped
    * strictly negative, because a hypothetical dt of exactly 0.0
    * would sign-encode as -0.0, pass [[summarize]]'s `>= 0.0` filter,
    * and count a failed pass as a 0-second success. */
  def failureSentinel(dt: Double): Double = -math.max(dt, 1e-9)

  /** 1-minute load average right now, or -1.0 where /proc/loadavg
    * is unreadable (non-Linux dev box) — sampled at the start of
    * every pass so the artifact itself classifies host-noise phases
    * instead of burning bench windows on hand annotation (r12 burned
    * ~6 windows writing the load story into BASELINE.md prose). */
  def loadAvg1m(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Shared-subset comparison of this window's per-query minima
    * against a prior anchor artifact's: the median/mean per-query
    * ratio plus the p10–p90 spread — the exact "uniform inflation?"
    * test BASELINE.md prose has been applying by hand. Pure (spec'd
    * without Spark). Returns None when fewer than 5 queries are
    * shared (a ratio over a tiny subset classifies nothing). A
    * spread (p90/p10) near 1 with median ≈ mean reads as a uniform
    * host-noise phase; a fat spread or a few extreme ratios reads as
    * real per-query regressions. */
  def vsAnchor(cur: Map[String, Double],
      anchor: Map[String, Double]): Option[Map[String, Double]] = {
    val shared = cur.keySet.intersect(anchor.keySet).toSeq
      .filter(n => cur(n) >= 0.0 && anchor(n) > 0.0)
    if (shared.size < 5) return None
    val ratios = shared.map(n => cur(n) / anchor(n)).sorted
    // nearest-rank percentile: index ceil(p·n)−1 clamped to [0, n−1].
    // The old (p·n).toInt sat one rank HIGH (p10 of 20 returned the
    // 3rd-smallest; the even-n median returned the upper-middle), so
    // the emitted quantiles didn't match the labels the window-
    // classification prose assumes (r13 ADVICE).
    def pct(p: Double): Double =
      ratios(math.max(0, math.min(ratios.size - 1,
        math.ceil(p * ratios.size).toInt - 1)))
    Some(Map(
      "n_shared" -> shared.size.toDouble,
      "median_ratio" -> pct(0.5),
      "mean_ratio" -> ratios.sum / ratios.size,
      "p10_ratio" -> pct(0.10),
      "p90_ratio" -> pct(0.90)))
  }

  /** Every BASELINE.md anchor is SPARK_GRAFT_CPUS=32 (the brief's
    * local[32] contract); a window at another width is not comparable
    * — the r11 methodology note cost a session to a silent local[4]
    * default (211 s vs 168.9 s at 32, NON-uniformly per query). */
  val anchorCpus = 32

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default = the anchor convention; the artifact records the
    // effective width either way so no window can be mis-read
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", anchorCpus.toString)
    if (cpus != anchorCpus.toString)
      System.err.println(s"[bench] WARNING: running at local[$cpus] — " +
        s"BASELINE.md anchors are CPUS=$anchorCpus; totals are NOT " +
        "comparable to the anchor rows (r11 methodology note)")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup (untimed): touch every table once — pulls parquet footers
    // into the page cache, primes Tables' schema cache (so timed
    // queries run no footer-inference job) and warms codegen/JIT so
    // per-query timings measure the queries, not first-touch I/O and
    // compiler startup.
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    // Deterministic execution order (sorted); each query timed in
    // SPARK_GRAFT_PASSES (default 3) INTERLEAVED passes over the whole
    // catalog. The host has documented noise bursts that spike queries
    // ~50× for minutes at a time, and back-to-back reps let one burst
    // contaminate every sample of the same query — full-catalog
    // interleaving separates a query's reps by a whole pass. Three
    // passes instead of two so a burst spanning one entire pass still
    // leaves two clean samples. Pass 1 also materializes the engine's
    // compute-once persisted indexes, so later passes measure the
    // steady state those tables exist to provide.
    //
    // Trustworthiness: the artifact records the per-pass ARRAY for
    // every query (not just the min) plus a `noisy` list — queries
    // whose median/min ratio exceeds 3× — so a reader can tell a real
    // regression from a noise-contaminated window instead of taking
    // the min on faith.
    // SPARK_GRAFT_ONLY=<substring[,substring…]> narrows the run for
    // targeted iteration; unset = the full catalog (driver mode).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val nPasses = math.max(2, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.contains))
    }
    // A throwing query records the NEGATIVE sentinel, never a fake
    // near-zero time: [[summarize]] counts it as a failure and drops
    // it from timing stats, and the artifact carries the failure map
    // so a broken query can't read as a fast run.
    def pass(): Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      name -> (if (ok) dt else failureSentinel(dt))
    }.toMap
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = (1 to nPasses).map { _ => loads += loadAvg1m(); pass() }
    loads += loadAvg1m() // closing sample: a burst that started mid-run
    val names = selected.map(_._1)
    def f(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val summaries = names.map(n => n -> summarize(passes.map(_(n)))).toMap
    val mins = names.map(n => n -> summaries(n)._1)
    val failed = names.map(n => n -> summaries(n)._2).filter(_._2 > 0)
    val medians = names.map { n =>
      val s = passes.map(_(n)).filter(_ >= 0.0).sorted
      n -> (if (s.nonEmpty) s(s.size / 2) else -1.0)
    }.toMap
    val noisy = names.filter { n =>
      val mn = summaries(n)._1
      mn > 0.05 && medians(n) / mn > 3.0
    }
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val passJson = names.map { n =>
      "\"" + n + "\":[" + passes.map(p => f(p(n))).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map { case (n, c) => "\"" + n + "\":" + c }
      .mkString("{", ",", "}")
    val total = mins.collect { case (_, v) if v >= 0.0 => v }.sum
    val loadJson = loads.map(f).mkString("[", ",", "]")
    // SPARK_GRAFT_ANCHOR=<path to a prior BENCH_LOCAL*.json>: emit the
    // shared-subset ratio block so window classification is executable
    val anchorJson = sys.env.get("SPARK_GRAFT_ANCHOR").flatMap { p =>
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(
            java.nio.file.Paths.get(p)))
        val qn = node.get("queries")
        val m = scala.collection.mutable.Map.empty[String, Double]
        val it = qn.fieldNames()
        while (it.hasNext) {
          val k = it.next(); m(k) = qn.get(k).asDouble()
        }
        vsAnchor(mins.toMap, m.toMap)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] anchor read failed ($p): $e"); None
      }
    }.map(m => "," + "\"vs_anchor\":" + m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")).getOrElse("")
    val line = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"passes":$passJson,"noisy":$noisyJson,"failed":$failedJson,"n_failed":${failed.map(_._2).sum},"n_passes":$nPasses,"cpus":"$cpus","load":$loadJson$anchorJson,"sf":"$sfDir"}"""
    println(line)
    // stdout goes through sbt, which appends its own postlude — also
    // drop the line as a file so the artifact survives log framing
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
    catch {
      case e: java.io.IOException =>
        // warn rather than swallow: a silent failure leaves a STALE
        // artifact from a previous run that reads as current
        System.err.println(s"[bench] BENCH_LOCAL.json write failed: $e")
    }
    spark.stop()
  }
}
