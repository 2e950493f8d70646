package perfbench

import java.net.http.{HttpHeaders, HttpRequest, HttpResponse}
import java.nio.ByteBuffer
import java.util.concurrent.{CompletableFuture, Flow, TimeUnit}

import graft.llm.{ChatMsg, HttpLlm, StubLlm}
import graft.model.LlmParams

/** Transport double for the production evaluator: `HttpLlm` with its
  * defaults (maxInFlight, retries, backoff) and only the `sendAsync`
  * seam replaced, so request building, the sliding window and the
  * retry path are the engine's own.
  *
  *  - The answer is a pure function of the request body (its model
  *    and messages, answered by the engine's `StubLlm`), so a
  *    driver-side reference can recompute any result.
  *  - Latency is a pure function of the body hash, in
  *    [[LlmDouble.minLatencyMs]]..[[LlmDouble.maxLatencyMs]], served
  *    by a delayed completion: no thread waits on it.
  *  - A hash-selected [[LlmDouble.throttleShare]] of bodies gets 429
  *    on its first attempt in each job, exercising the retry path.
  *
  * Counters live in the companion: every task runs in this JVM
  * (local mode), so they see every request. */
class LlmDouble extends HttpLlm() {

  override protected def sendAsync(req: HttpRequest): CompletableFuture[HttpResponse[String]] = {
    val body = LlmDouble.bodyOf(req)
    val h = LlmDouble.hash(body)
    val throttled = LlmDouble.throttled(h, body)
    val latency =
      if (throttled) LlmDouble.throttleLatencyMs
      else LlmDouble.minLatencyMs +
        java.lang.Long.remainderUnsigned(h, LlmDouble.maxLatencyMs - LlmDouble.minLatencyMs + 1)
    LlmDouble.stats.started(body)
    val resp =
      if (throttled) LlmDouble.response(req, 429, """{"error":"rate limited"}""")
      else LlmDouble.response(req, 200, LlmDouble.answerBody(body))
    CompletableFuture.supplyAsync(() => resp,
      CompletableFuture.delayedExecutor(latency, TimeUnit.MILLISECONDS))
      .whenComplete((_, _) => LlmDouble.stats.finished(throttled))
  }

  override def completeBatch(batch: Seq[Seq[ChatMsg]], params: LlmParams): Seq[String] = {
    LlmDouble.stats.batch(batch.size)
    super.completeBatch(batch, params)
  }
}

object LlmDouble {
  /** Per-request latency bounds. Unverified assumptions, not taken
    * from a measured endpoint: a hosted chat-completion endpoint
    * usually answers more slowly, which would make the enrich loop
    * more LLM-bound than it is here (see `llm.busy_frac`). */
  val minLatencyMs = 60L
  val maxLatencyMs = 120L
  val throttleLatencyMs = 2L
  /** Share of distinct bodies answered 429 on first attempt, per job.
    * Also an unverified assumption: it only keeps the retry path in
    * use. */
  val throttleShare = 0.01

  private val throttledBodies =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def throttled(h: Long, body: String): Boolean =
    java.lang.Long.remainderUnsigned(h >>> 17, 10000L) < (throttleShare * 10000).toLong &&
      throttledBodies.add(body)

  /** Start of a closed-loop job: each job sees the same first-attempt
    * throttling for the same bodies. */
  def newJob(): Unit = throttledBodies.clear()

  def hash(body: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(body.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** The answer for a conversation, as the double computes it from a
    * request body; drivers use it as the single-threaded reference. */
  def answer(msgs: Seq[ChatMsg], params: LlmParams): String =
    StubLlm.complete(msgs, params)

  private def answerBody(body: String): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val jv = parse(body)
    val JString(model) = jv \ "model": @unchecked
    val msgs = (jv \ "messages").children.map { m =>
      val JString(role) = m \ "role": @unchecked
      val JString(content) = m \ "content": @unchecked
      ChatMsg(role, content)
    }
    val content = answer(msgs, LlmParams(model = model))
    compact(render(JObject("choices" -> JArray(List(
      JObject("message" -> JObject("role" -> JString("assistant"),
        "content" -> JString(content))))))))
  }

  /** Drain the request's body publisher (in-memory for
    * `BodyPublishers.ofString`, so this completes synchronously). */
  private def bodyOf(req: HttpRequest): String = {
    val out = new java.io.ByteArrayOutputStream()
    val done = new CompletableFuture[Unit]()
    req.bodyPublisher().get().subscribe(new Flow.Subscriber[ByteBuffer] {
      override def onSubscribe(s: Flow.Subscription): Unit = s.request(Long.MaxValue)
      override def onNext(b: ByteBuffer): Unit = {
        val a = new Array[Byte](b.remaining()); b.get(a); out.write(a)
      }
      override def onError(t: Throwable): Unit = done.completeExceptionally(t)
      override def onComplete(): Unit = done.complete(())
    })
    done.get(10, TimeUnit.SECONDS)
    out.toString("UTF-8")
  }

  private def response(req: HttpRequest, status: Int, payload: String): HttpResponse[String] =
    new HttpResponse[String] {
      override def statusCode(): Int = status
      override def body(): String = payload
      override def request(): HttpRequest = req
      override def previousResponse(): java.util.Optional[HttpResponse[String]] =
        java.util.Optional.empty()
      override def headers(): HttpHeaders =
        HttpHeaders.of(java.util.Map.of(), (_, _) => true)
      override def sslSession(): java.util.Optional[javax.net.ssl.SSLSession] =
        java.util.Optional.empty()
      override def uri(): java.net.URI = req.uri()
      override def version(): java.net.http.HttpClient.Version =
        java.net.http.HttpClient.Version.HTTP_1_1
    }

  /** Request counters, read as deltas around a measured job. */
  final class Stats {
    private var requests, retries, batches, batchItems = 0L
    private val bodies = new java.util.HashSet[String]()
    private var inflight, peak = 0
    private var lastChange = 0L
    private var inflightNs, busyNs = 0.0

    private def advance(now: Long): Unit = {
      val dt = (now - lastChange).toDouble
      if (inflight > 0) { inflightNs += inflight * dt; busyNs += dt }
      lastChange = now
    }
    def started(body: String): Unit = synchronized {
      advance(System.nanoTime())
      requests += 1; bodies.add(body)
      inflight += 1; peak = math.max(peak, inflight)
    }
    def finished(throttled: Boolean): Unit = synchronized {
      advance(System.nanoTime())
      inflight -= 1
      if (throttled) retries += 1
    }
    def batch(n: Int): Unit = synchronized { batches += 1; batchItems += n }

    /** Counters since the last reset, then reset. Request counts
      * exclude the 429 answers (those are `retries`). */
    def take(): Snapshot = synchronized {
      advance(System.nanoTime())
      val s = Snapshot(requests - retries, bodies.size.toLong, retries,
        batches, batchItems, inflightNs / 1e9, busyNs / 1e9, peak)
      requests = 0; retries = 0; batches = 0; batchItems = 0
      bodies.clear(); peak = inflight; inflightNs = 0; busyNs = 0
      s
    }
  }

  /** `inflightS` is the time integral of requests in flight (so it is
    * also the summed wait of all requests); `busyS` the wall time with
    * at least one request in flight. */
  final case class Snapshot(requests: Long, uniqueBodies: Long, retries: Long,
      batches: Long, batchItems: Long, inflightS: Double, busyS: Double,
      peak: Int) {
    def +(o: Snapshot): Snapshot = Snapshot(requests + o.requests,
      uniqueBodies + o.uniqueBodies, retries + o.retries, batches + o.batches,
      batchItems + o.batchItems, inflightS + o.inflightS, busyS + o.busyS,
      math.max(peak, o.peak))
  }
  object Snapshot { val zero: Snapshot = Snapshot(0, 0, 0, 0, 0, 0, 0, 0) }

  val stats = new Stats
}
