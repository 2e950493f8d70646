package graft.llm

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Configs, LlmParams}

/** Request-construction specs for the production HTTP evaluator —
  * both endpoint dialects (llm_cli.py:32-41) and the response_format
  * passthrough (llm_cli.py:66,80) — no live server needed. */
class HttpLlmSpec extends AnyFunSuite {

  val http = new HttpLlm()
  val msgs = Seq(ChatMsg("system", "You are terse."), ChatMsg("user", "Hi"))

  test("openai dialect: url verbatim, Bearer auth") {
    val p = LlmParams(apiType = "openai",
      apiUrl = "http://localhost:8000/v1/chat/completions", apiKey = "sk-x")
    val req = http.buildRequest(msgs, p)
    assert(req.uri().toString == "http://localhost:8000/v1/chat/completions")
    assert(req.headers().firstValue("Authorization").get() == "Bearer sk-x")
    assert(req.headers().firstValue("api-key").isEmpty)
  }

  test("azure dialect: deployments url + api-version query + api-key header") {
    val p = LlmParams(apiType = "azure",
      apiUrl = "https://myres.openai.azure.example/",
      apiKey = "az-key", apiVersion = Some("2024-02-01"), model = "gpt-4o")
    val req = http.buildRequest(msgs, p)
    assert(req.uri().toString ==
      "https://myres.openai.azure.example/openai/deployments/gpt-4o/chat/completions?api-version=2024-02-01")
    assert(req.headers().firstValue("api-key").get() == "az-key")
    assert(req.headers().firstValue("Authorization").isEmpty)
  }

  test("request body carries deterministic params; response_format only when set") {
    val plain = JsonMethods.parse(http.requestBody(msgs, LlmParams(model = "m")))
    assert((plain \ "model") == JString("m"))
    assert((plain \ "seed") == JInt(2))
    assert((plain \ "response_format") == JNothing)

    val rf = """{"type":"json_schema","json_schema":{"name":"s","schema":{"type":"object"},"strict":true}}"""
    val schemad = JsonMethods.parse(
      http.requestBody(msgs, LlmParams(model = "m", responseFormat = Some(rf))))
    assert((schemad \ "response_format" \ "type") == JString("json_schema"))
    assert((schemad \ "response_format" \ "json_schema" \ "strict") == JBool(true))
    // messages unchanged by the response_format rider
    assert((schemad \ "messages") == (plain \ "messages"))
  }

  test("config parse surfaces response_format as compact JSON") {
    val conf = Configs.parse(
      """{"llm": {"model": "m", "api_type": "azure", "api_version": "2024-02-01",
        |  "response_format": {"type": "json_schema",
        |    "json_schema": {"name": "s", "schema": {"type": "object"}}}},
        | "pipe": []}""".stripMargin)
    assert(conf.llm.apiType == "azure")
    assert(conf.llm.apiVersion.contains("2024-02-01"))
    val rf = JsonMethods.parse(conf.llm.responseFormat.get)
    assert((rf \ "type") == JString("json_schema"))
    // round-trips into the request body
    val body = JsonMethods.parse(http.requestBody(msgs, conf.llm))
    assert((body \ "response_format" \ "json_schema" \ "name") == JString("s"))
  }

  test("withOverrides: per-call knobs replace stage values, None keeps them") {
    val p = LlmParams(temperature = 0.0, maxTokens = 4096)
    val o = p.withOverrides(temperature = Some(0.7), maxTokens = Some(320))
    assert(o.temperature == 0.7 && o.maxTokens == 320)
    assert(o.seed == p.seed && o.model == p.model)
    val keep = p.withOverrides()
    assert(keep == p)
  }

  /** Scripted fake transport: statuses served in order, then 200. */
  private class ScriptedLlm(script: Seq[Int], var failFirst: Int = 0)
      extends HttpLlm(maxInFlight = 2, maxRetries = 2, backoffMs = 1) {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    private val remaining = new java.util.concurrent.ConcurrentLinkedQueue[Integer](
      scala.jdk.CollectionConverters.SeqHasAsJava(script.map(Integer.valueOf)).asJava)
    private def fakeResponse(status: Int): java.net.http.HttpResponse[String] =
      new java.net.http.HttpResponse[String] {
        override def statusCode(): Int = status
        override def body(): String =
          """{"choices":[{"message":{"content":"ok-after-""" + calls.get() + """"}}]}"""
        override def request(): java.net.http.HttpRequest = null
        override def previousResponse(): java.util.Optional[java.net.http.HttpResponse[String]] =
          java.util.Optional.empty()
        override def headers(): java.net.http.HttpHeaders =
          java.net.http.HttpHeaders.of(java.util.Map.of(), (_, _) => true)
        override def sslSession(): java.util.Optional[javax.net.ssl.SSLSession] =
          java.util.Optional.empty()
        override def uri(): java.net.URI = null
        override def version(): java.net.http.HttpClient.Version =
          java.net.http.HttpClient.Version.HTTP_1_1
      }
    override protected def sendAsync(req: java.net.http.HttpRequest): java.util.concurrent.CompletableFuture[java.net.http.HttpResponse[String]] = {
      calls.incrementAndGet()
      if (failFirst > 0) {
        failFirst -= 1
        java.util.concurrent.CompletableFuture.failedFuture(
          new java.io.IOException("connection reset"))
      } else {
        val st = Option(remaining.poll()).map(_.intValue).getOrElse(200)
        java.util.concurrent.CompletableFuture.completedFuture(fakeResponse(st))
      }
    }
  }

  test("retry: transient 429/5xx and IO errors retried with bounded attempts") {
    val p = LlmParams(model = "m", apiUrl = "http://localhost:9/v1/chat/completions")
    // 429 then 503 then success: 3 sends, content extracted
    val a = new ScriptedLlm(Seq(429, 503))
    assert(a.complete(msgs, p).startsWith("ok-after-"))
    assert(a.calls.get() == 3)
    // IO error once, then success
    val b = new ScriptedLlm(Seq.empty, failFirst = 1)
    assert(b.complete(msgs, p).startsWith("ok-after-"))
    assert(b.calls.get() == 2)
    // non-retryable 401: exactly one send, empty content (no choices parse)
    val c = new ScriptedLlm(Seq(401, 200))
    c.complete(msgs, p)
    assert(c.calls.get() == 1)
    // exhaustion: maxRetries=2 means at most 3 sends, last body returned
    val d = new ScriptedLlm(Seq(500, 500, 500, 500))
    d.complete(msgs, p)
    assert(d.calls.get() == 3)
    // batch path retries too, window preserved
    val e = new ScriptedLlm(Seq(429))
    val outs = e.completeBatch(Seq(msgs, msgs, msgs), p)
    assert(outs.length == 3 && e.calls.get() == 4)
  }

  test("deserialized copies share the JVM's one HTTP client") {
    // Spark deserializes a task's closure once per task; each copy
    // must reuse the client (threads, connection pool), not build one
    def roundTrip(x: HttpLlm): HttpLlm = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(x) finally out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[HttpLlm]
    }
    val a = roundTrip(http)
    val b = roundTrip(http)
    assert((a ne b) && (a.http eq b.http) && (a.http eq http.http))
  }
}
