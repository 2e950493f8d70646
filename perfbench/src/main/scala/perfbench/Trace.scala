package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work summed over a set of jobs. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, shuffleWriteB: Long = 0,
    shuffleReadB: Long = 0, inputB: Long = 0, spillB: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
    inputB + o.inputB, spillB + o.spillB)

  /** The `spark.*` per-layer metrics, as means over `n` closed-loop jobs. */
  def perJob(n: Int): Seq[(String, Double, String)] = {
    val d = math.max(n, 1).toDouble
    val mb = 1024.0 * 1024.0
    Seq(("spark.jobs", jobs / d, "count"), ("spark.stages", stages / d, "count"),
      ("spark.tasks", tasks / d, "count"),
      ("spark.executor_run_s", runMs / 1e3 / d, "s"),
      ("spark.executor_cpu_s", cpuNs / 1e9 / d, "s"),
      ("spark.shuffle_write_mb", shuffleWriteB / mb / d, "MB"),
      ("spark.shuffle_read_mb", shuffleReadB / mb / d, "MB"),
      ("spark.input_mb", inputB / mb / d, "MB"),
      ("spark.spill_mb", spillB / mb / d, "MB"))
  }
}

object JobCounts { val GroupKey = "spark.jobGroup.id" }

/** Per-job Spark counts, keyed by job id and tagged with the job group
  * and submission time, so a span can claim its jobs either by group
  * (driver-thread work) or by time window (work a streaming query runs
  * on its own thread while the closed-loop driver waits). */
final class JobCounts extends SparkListener {
  private final class Job(val group: String, val timeMs: Long) {
    var c = Counts(jobs = 1)
    var open = true
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobCounts.GroupKey))).getOrElse("")
    jobs(e.jobId) = new Job(g, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.open = false)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    for (j <- stageJob.get(e.stageInfo.stageId); job <- jobs.get(j))
      job.c = job.c.copy(stages = job.c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
      val m = e.taskMetrics
      job.c = job.c + (if (m == null) Counts(tasks = 1) else Counts(tasks = 1,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        inputB = m.inputMetrics.bytesRead,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Wait until the listener bus has delivered every event of the
    * finished work: no open job and no new event for 200 ms. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline &&
        (synchronized(jobs.values.exists(_.open)) || events != last)) {
      last = events
      Thread.sleep(200)
    }
  }

  def byGroup(group: String): Counts = synchronized {
    jobs.values.filter(_.group == group).map(_.c).foldLeft(Counts())(_ + _)
  }
  def byWindow(startMs: Long, endMs: Long): Counts = synchronized {
    jobs.values.filter(j => j.timeMs >= startMs && j.timeMs <= endMs)
      .map(_.c).foldLeft(Counts())(_ + _)
  }
}

/** One span: a call into a layer, timed from the benchmark. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. While `on`, each span runs its calls under
  * its own Spark job group; spans nest by call order on the driver
  * thread. Nothing is recorded while off, so the same loop body runs
  * traced and untraced. */
final class Tracer(sc: SparkContext, val runId: String, val listener: Option[JobCounts]) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var started = 0
  var on = false

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f else {
      val id = started
      started += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val outer = sc.getLocalProperty(JobCounts.GroupKey)
      sc.setJobGroup(group(id), name)
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try f finally {
        spans += Span(id, parent, layer, name, t0, System.nanoTime(), m0,
          System.currentTimeMillis())
        stack = stack.tail
        if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, "")
      }
    }

  private def group(id: Int): String = s"$runId/$id"

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  private def children(id: Int): Seq[Span] = all.filter(_.parent == id)
  private def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** Spark work of the span and its descendants: by job group, or by
    * the span's time window. */
  def counts(s: Span, byWindow: Boolean): Counts = listener.fold(Counts()) { l =>
    if (byWindow) l.byWindow(s.startMs, s.endMs)
    else subtree(s).map(d => l.byGroup(group(d.id))).foldLeft(Counts())(_ + _)
  }

  /** Self time per layer over the given root spans: each span's time
    * minus the part its children cover (children run sequentially on
    * the driver thread). */
  def selfSeconds(roots: Seq[Span]): Map[String, Double] =
    roots.flatMap(subtree).groupMapReduce(_.layer) { s =>
      s.seconds - children(s.id).map(_.seconds).sum
    }(_ + _)

  /** Write every span as one JSON line, with its own (group-attributed)
    * Spark counts. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = listener.fold(Counts())(_.byGroup(group(s.id)))
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        f""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }
}
