package graft.llm

import graft.model.LlmParams

/** One ChatML message (role ∈ system|user|assistant). */
final case class ChatMsg(role: String, content: String)

/** The engine's single effectful evaluator — the analog of the
  * reference's chat-completions call
  * (/root/reference/src/python/instructionspipe/llm_cli.py:60-82).
  *
  * Implementations must be Serializable: instances are closed over by
  * `mapPartitions` and shipped to executors; heavy shared state (the
  * HTTP client) lives in a companion object, built once per JVM.
  */
trait LlmClient extends Serializable {

  def complete(msgs: Seq[ChatMsg], params: LlmParams): String

  /** One stage's instruction fan-out for one document: N independent
    * requests, answered in order. Default is sequential; HTTP impls
    * override with bounded-concurrency async I/O (the Spark analog of
    * the reference's asyncio.gather, instructions_runners.py:118-122:
    * parallelism = partitions × maxInFlight). */
  def completeBatch(batch: Seq[Seq[ChatMsg]], params: LlmParams): Seq[String] =
    batch.map(complete(_, params))

  /** Startup probe (reference: "Hi" roundtrip, bin/text_mr_pipe.py:38-44). */
  def healthCheck(params: LlmParams): Boolean =
    try { complete(Seq(ChatMsg("user", "Hi")), params); true }
    catch { case scala.util.control.NonFatal(_) => false }
}

/** Deterministic offline stub: a pure function of (model, msgs).
  * Replaces the LLM for tests and the driver's correctness runs —
  * same (model, conversation) always yields the same byte-identical
  * response, mirroring the reference's determinism pinning (seed=2,
  * temperature=0, llm_cli.py:26-30) taken to its logical limit.
  *
  * Response shape: a short "summary" built from the last user message
  * — stable, human-readable, and sensitive to every input byte via a
  * suffix hash, so tests catch prompt-construction regressions.
  */
object StubLlm extends LlmClient {
  override def complete(msgs: Seq[ChatMsg], params: LlmParams): String = {
    val lastUser = msgs.reverseIterator.find(_.role == "user").map(_.content).getOrElse("")
    val digest = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        params.model + " " + msgs.map(m => m.role + ":" + m.content).mkString(""))
        .toLong & 0xffffffffL)
    val head = lastUser.linesIterator.toSeq.lastOption.getOrElse("").take(48)
    s"[${params.model}:$digest] $head"
  }
}

/** A stub that fails on configured instruction content — for testing
  * the all-or-nothing stage contract (instructions.py:43-45). */
final class FailingStubLlm(failIfContains: String) extends LlmClient {
  override def complete(msgs: Seq[ChatMsg], params: LlmParams): String = {
    val joined = msgs.map(_.content).mkString("\n")
    if (joined.contains(failIfContains)) "" else StubLlm.complete(msgs, params)
  }
}

/** OpenAI-compatible chat-completions over java.net.http — the
  * production evaluator (never exercised in the offline CI). Bounded
  * in-flight concurrency per partition; deterministic params carried
  * from [[LlmParams]]. Mistral-family dialect rewrite mirrors
  * instructions_runners.py:84-90: demote system→user and splice an
  * assistant "Ok.".
  *
  * Endpoint dialects (llm_cli.py:32-41):
  *  - `api_type=openai` — POST to `api_url` with `Authorization:
  *    Bearer <key>`;
  *  - `api_type=azure`  — POST to `<endpoint>/openai/deployments/
  *    <model>/chat/completions?api-version=<v>` with an `api-key`
  *    header (the AsyncAzureOpenAI wire shape).
  */
class HttpLlm(maxInFlight: Int = 8, maxRetries: Int = 2,
    backoffMs: Long = 200) extends LlmClient {

  /** The JVM's one client ([[HttpLlm.client]]): every task an executor
    * runs shares its selector thread and connection pool. */
  private[llm] def http: java.net.http.HttpClient = HttpLlm.client

  /** Transport seams — overridden by specs with a fake; production
    * goes through java.net.http. */
  protected def sendSync(req: java.net.http.HttpRequest): java.net.http.HttpResponse[String] =
    http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
  protected def sendAsync(req: java.net.http.HttpRequest): java.util.concurrent.CompletableFuture[java.net.http.HttpResponse[String]] =
    http.sendAsync(req, java.net.http.HttpResponse.BodyHandlers.ofString())

  /** Retry transient failures only: throttle + server-side errors.
    * 4xx besides 429 are caller bugs (bad key, bad schema) — retrying
    * those just burns quota. */
  private[llm] def retryableStatus(status: Int): Boolean =
    status == 429 || status >= 500

  /** Async send with up to `maxRetries` retries on IO errors and
    * retryable statuses, exponential backoff (backoffMs · 2^attempt)
    * scheduled on a delayed executor — no thread parks inside the
    * sliding window, so retries don't shrink effective concurrency. */
  private def sendWithRetry(req: java.net.http.HttpRequest, attempt: Int = 0): java.util.concurrent.CompletableFuture[java.net.http.HttpResponse[String]] =
    sendAsync(req).handle[java.util.concurrent.CompletableFuture[java.net.http.HttpResponse[String]]] { (resp, err) =>
      val transient = (err != null) || retryableStatus(resp.statusCode())
      if (!transient) java.util.concurrent.CompletableFuture.completedFuture(resp)
      else if (attempt >= maxRetries) {
        if (err != null) java.util.concurrent.CompletableFuture.failedFuture(err)
        else java.util.concurrent.CompletableFuture.completedFuture(resp)
      } else {
        val delayed = java.util.concurrent.CompletableFuture.supplyAsync(
          () => (),
          java.util.concurrent.CompletableFuture.delayedExecutor(
            backoffMs << attempt, java.util.concurrent.TimeUnit.MILLISECONDS))
        delayed.thenCompose(_ => sendWithRetry(req, attempt + 1))
      }
    }.thenCompose(f => f)

  private def dialect(msgs: Seq[ChatMsg], params: LlmParams): Seq[ChatMsg] =
    if (params.model.toLowerCase.contains("mistral") && msgs.headOption.exists(_.role == "system"))
      Seq(ChatMsg("user", msgs.head.content), ChatMsg("assistant", "Ok.")) ++ msgs.tail
    else msgs

  private[llm] def requestBody(msgs: Seq[ChatMsg], params: LlmParams): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val base =
      ("model" -> params.model) ~
      ("messages" -> dialect(msgs, params).map(m =>
        ("role" -> m.role) ~ ("content" -> m.content))) ~
      ("temperature" -> params.temperature) ~
      ("top_p" -> params.topP) ~
      ("seed" -> params.seed) ~
      ("max_tokens" -> params.maxTokens)
    // response_format rides along verbatim (llm_cli.py:66,80) —
    // json_schema-constrained decoding is the structured-output
    // guarantee the reference relies on for extraction turns
    val body = params.responseFormat match {
      case Some(rf) => base ~ ("response_format" -> JsonMethods.parse(rf))
      case None     => base
    }
    JsonMethods.compact(JsonMethods.render(body))
  }

  /** Endpoint + auth per api_type — split out so request construction
    * is spec-testable without a live server. */
  private[llm] def endpointUri(params: LlmParams): java.net.URI =
    if (params.apiType.equalsIgnoreCase("azure")) {
      val base = params.apiUrl.stripSuffix("/")
      val ver = java.net.URLEncoder.encode(
        params.apiVersion.getOrElse(""), "UTF-8")
      java.net.URI.create(
        s"$base/openai/deployments/${params.model}/chat/completions?api-version=$ver")
    } else java.net.URI.create(params.apiUrl)

  private[llm] def authHeader(params: LlmParams): (String, String) =
    if (params.apiType.equalsIgnoreCase("azure")) ("api-key", params.apiKey)
    else ("Authorization", s"Bearer ${params.apiKey}")

  private[llm] def buildRequest(msgs: Seq[ChatMsg], params: LlmParams): java.net.http.HttpRequest = {
    val (hName, hValue) = authHeader(params)
    java.net.http.HttpRequest.newBuilder()
      .uri(endpointUri(params))
      .header("Content-Type", "application/json")
      .header(hName, hValue)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(requestBody(msgs, params)))
      .build()
  }

  override def complete(msgs: Seq[ChatMsg], params: LlmParams): String =
    extractContent(sendWithRetry(buildRequest(msgs, params)).join().body())

  override def completeBatch(batch: Seq[Seq[ChatMsg]], params: LlmParams): Seq[String] = {
    // true sliding window: request i+maxInFlight launches the moment
    // ANY in-flight request completes. (A grouped-wave gather — the
    // reference's asyncio.gather shape — barriers each wave on its
    // slowest response, idling up to maxInFlight-1 slots behind one
    // slow decode.) Output order stays the input order. A slot is
    // held across that request's retries — retrying work must not
    // widen the window past maxInFlight.
    val sem = new java.util.concurrent.Semaphore(maxInFlight)
    val futures = batch.map { msgs =>
      sem.acquire()
      try
        sendWithRetry(buildRequest(msgs, params))
          .whenComplete((_, _) => sem.release())
      catch { case e: Throwable => sem.release(); throw e }
    }
    futures.map(f => extractContent(f.join().body()))
  }

  private def extractContent(body: String): String = {
    val jv = org.json4s.jackson.JsonMethods.parse(body)
    (jv \ "choices") match {
      case org.json4s.JArray(c :: _) =>
        (c \ "message" \ "content") match {
          case org.json4s.JString(s) => s
          case _ => ""
        }
      case _ => ""
    }
  }
}

object HttpLlm {
  /** Built on first use in each JVM. An instance field would not do:
    * Spark deserializes a task's closure once per task, so every task
    * would build its own client, threads and pool. The executor's
    * concurrent tasks (each up to `maxInFlight` requests) now share
    * this client's connections; against an HTTP/2 endpoint that can be
    * one multiplexed connection, capped by the server's concurrent
    * stream limit. The effect on a real endpoint's throughput and
    * error rate has not been measured. */
  private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .build()
}
