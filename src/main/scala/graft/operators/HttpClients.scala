package graft.operators

import java.io.{InputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Production HTTP implementations behind the X1/X2 client traits
  * (`Enrich.MetricsClient` / `Enrich.LlmClient`) — the reference's single
  * biggest code mass is its real clients (`llm_api.py:105-670` request/
  * retry/timeout loop, `journal_metrics.py:16-202` throttled GET). The
  * oracle queries keep the pure stubs; these are what a user wires a real
  * endpoint to.
  *
  * Design:
  *   - Config-driven base URL + auth; no vendor assumptions. The LLM
  *     client speaks the de-facto-standard chat-completions JSON shape
  *     (`{"model","messages",...}` → `choices[0].message.content`), the
  *     metrics client a generic key/value GET.
  *   - Transport is a separate trait so specs can fake it; the default is
  *     JDK `HttpURLConnection` — zero extra dependencies, and connection
  *     keep-alive pooling is handled by the JVM per (host, port).
  *   - Throttle + retry reuse External.TokenBucket / retryWithBackoff
  *     (reference: 2 req/s min-interval, sleep 2^attempt between tries).
  *     Everything transient-lazy, so each deserialized task copy inside
  *     `mapPartitions` owns its own transport and bucket — per-partition
  *     client lifecycle, cluster-wide rate = partitions × ratePerSec.
  *   - JSON via Jackson databind (already on the Spark classpath) — both
  *     payload escaping and response navigation.
  */
object HttpClients {

  /** Endpoint configuration shared by both clients. `ratePerSec` is the
    * reference's metrics-style min-interval throttle; `rpm`/`tpm` are
    * the per-minute request/token budgets its SiliconFlow client
    * declares (`llm_api.py:279`) — enforced here client-side via
    * [[External.DualBudget]] (the reference only stores them and lets
    * the server's RateLimitError + backoff do the limiting). All three
    * compose; <= 0 disables each independently. */
  case class HttpConfig(baseUrl: String,
                        apiKey: Option[String] = None,
                        timeoutMillis: Int = 120000,
                        maxRetries: Int = 3,
                        retryBaseMillis: Long = 1000,
                        ratePerSec: Double = 0.0, // <= 0 disables throttling
                        rpm: Int = 0,
                        tpm: Int = 0)

  final class HttpStatusException(val code: Int, body: String)
      extends RuntimeException(s"HTTP $code: ${body.take(500)}")

  /** Minimal HTTP transport: (status, body). Pulled out as a trait so
    * specs can fake failures without sockets; the integration spec drives
    * the real one against an in-process server. */
  trait HttpTransport extends Serializable {
    def send(method: String, url: String, headers: Map[String, String],
             body: Option[String], timeoutMillis: Int): (Int, String)
  }

  object UrlConnectionTransport extends HttpTransport {
    private def drain(in: InputStream): String =
      if (in == null) ""
      else try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()

    def send(method: String, url: String, headers: Map[String, String],
             body: Option[String], timeoutMillis: Int): (Int, String) = {
      val conn = new URI(url).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      try {
        conn.setRequestMethod(method)
        conn.setConnectTimeout(timeoutMillis)
        conn.setReadTimeout(timeoutMillis)
        headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        body.foreach { b =>
          conn.setDoOutput(true)
          val out: OutputStream = conn.getOutputStream
          try out.write(b.getBytes(StandardCharsets.UTF_8))
          finally out.close()
        }
        val code = conn.getResponseCode
        val text =
          if (code >= 400) drain(conn.getErrorStream)
          else drain(conn.getInputStream)
        // no disconnect(): fully-drained-and-closed streams return the
        // socket to the JDK's per-(host, port) keep-alive cache;
        // disconnect() would close it and force a fresh TCP(+TLS)
        // handshake per call
        (code, text)
      } catch { case e: Throwable => conn.disconnect(); throw e }
    }
  }

  private val mapper = new ObjectMapper()

  /** The one throttle + retry envelope of both clients (a retry is a
    * fresh request against the service budget, so `acquire` runs INSIDE
    * the retried thunk). Only transient failures retry: 5xx, 408
    * (timeout), 429 (throttled — the reference's RateLimitError path,
    * exponential 2^attempt sleeps, `llm_api.py:348-357`), and transport
    * errors. Other 4xx (bad key,
    * bad request, not found) can never succeed on retry and fail fast
    * instead of burning the exponential-backoff budget per row. */
  private def request(transport: HttpTransport, acquire: () => Unit,
                      cfg: HttpConfig, clock: External.Clock)
                     (method: String, url: String,
                      headers: Map[String, String],
                      body: Option[String]): String =
    External.retryWithBackoff(cfg.maxRetries, cfg.retryBaseMillis, clock,
      retryIf = {
        case h: HttpStatusException =>
          h.code >= 500 || h.code == 408 || h.code == 429
        // a budget/config violation (e.g. a token draw above the tpm
        // burst) is deterministic — re-attempting burns the whole
        // exponential-backoff schedule re-throwing instantly
        case _: IllegalArgumentException => false
        case _ => true
      }) {
      acquire()
      val (code, text) =
        transport.send(method, url, headers, body, cfg.timeoutMillis)
      if (code >= 400) throw new HttpStatusException(code, text)
      text
    }

  /** X1 — generic GET metrics endpoint:
    * `GET {baseUrl}?key={apiKey}&publication={journal}` returning
    * `{"impact_factor": <number>, "quartile": <string>}`. The reference's
    * nested rank-payload navigation (select-over-all coalesce) is a
    * relational concern handled downstream (see q_json_nested) — the
    * client stays shape-generic. Throws after the retry budget: X1 runs
    * once per DISTINCT key, so a dead endpoint should fail the job, not
    * silently null-enrich every row. */
  class HttpMetricsClient(cfg: HttpConfig,
                          transport: HttpTransport = UrlConnectionTransport,
                          clock: External.Clock = External.SystemClock)
      extends Enrich.MetricsClient {
    @transient private lazy val bucket =
      if (cfg.ratePerSec > 0) new External.TokenBucket(cfg.ratePerSec, 1, clock)
      else null

    def fetch(journal: String): (Double, String) = {
      val enc = URLEncoder.encode(journal, "UTF-8")
      val key = cfg.apiKey.map(k =>
        s"key=${URLEncoder.encode(k, "UTF-8")}&").getOrElse("")
      val url = s"${cfg.baseUrl}?${key}publication=$enc"
      val text = request(transport,
        () => if (bucket != null) bucket.acquire(), cfg, clock)(
        "GET", url, Map("Accept" -> "application/json"), None)
      val node: JsonNode = mapper.readTree(text)
      (node.path("impact_factor").asDouble(Double.NaN),
        node.path("quartile").asText(""))
    }
  }

  /** X2 — chat-completions LLM endpoint: POST the standard
    * `{"model","messages":[{"role","content"}],...}` payload, return
    * `choices[0].message.content`. Mirrors the reference's error policy
    * (`llm_api.py:196-201`): after the retry budget is spent the client
    * FAILS OPEN with "" — the JSON-repair ladder downstream then yields
    * the per-field defaults, so one flaky row degrades to defaults
    * instead of killing a million-row extraction job. `failOpen = false`
    * rethrows instead. */
  class HttpLlmClient(cfg: HttpConfig,
                      model: String,
                      systemPrompt: Option[String] = None,
                      temperature: Double = 0.7,
                      topP: Double = 0.9,
                      maxTokens: Int = 4096,
                      failOpen: Boolean = true,
                      transport: HttpTransport = UrlConnectionTransport,
                      clock: External.Clock = External.SystemClock)
      extends Enrich.LlmClient {
    // surface the config error BEFORE the job runs: every call charges
    // at least maxTokens against the tpm burst (= tpm), so a cap above
    // the budget could never complete a single request
    require(cfg.tpm <= 0 || maxTokens <= cfg.tpm,
      s"HttpLlmClient: maxTokens=$maxTokens exceeds the tpm budget " +
        s"${cfg.tpm} — every call reserves at least the completion " +
        "cap, so no request could ever be admitted; raise tpm or " +
        "lower maxTokens")
    @transient private lazy val bucket =
      if (cfg.ratePerSec > 0) new External.TokenBucket(cfg.ratePerSec, 1, clock)
      else null
    @transient private lazy val budget =
      if (cfg.rpm > 0 || cfg.tpm > 0)
        new External.DualBudget(cfg.rpm, cfg.tpm, clock)
      else null

    /** Client-side tpm charge for one call: the worst case the server
      * could meter — estimated prompt tokens (the ~4-chars/token
      * heuristic every budget planner uses; deliberately simple and
      * deterministic) plus the full completion cap. Over-reserving is
      * the safe direction for a throttle: the job paces below the
      * declared budget instead of tripping 429s. */
    private[graft] def tokenCharge(userContent: String): Long =
      (userContent.length + 3L) / 4L + maxTokens

    private def payload(userContent: String): String = {
      val root = mapper.createObjectNode()
      root.put("model", model)
      val msgs = root.putArray("messages")
      systemPrompt.foreach { sp =>
        val m = msgs.addObject(); m.put("role", "system"); m.put("content", sp)
      }
      val u = msgs.addObject()
      u.put("role", "user"); u.put("content", userContent)
      root.put("temperature", temperature)
      root.put("top_p", topP)
      root.put("max_tokens", maxTokens)
      root.putNull("stop")
      mapper.writeValueAsString(root)
    }

    def complete(abstractText: String): String =
      try {
        val headers = Map("Content-Type" -> "application/json") ++
          cfg.apiKey.map(k => "Authorization" -> s"Bearer $k")
        val charge = tokenCharge(abstractText)
        val text = request(transport, () => {
            if (bucket != null) bucket.acquire()
            if (budget != null) budget.acquire(charge)
          }, cfg, clock)(
          "POST", cfg.baseUrl, headers, Some(payload(abstractText)))
        val root = mapper.readTree(text)
        // reconcile the worst-case reserve against the server's metered
        // actuals — the reference's budget is metered on usage, and
        // without this a long job under-utilizes tpm by the unused
        // completion headroom. No/odd usage → keep the safe reserve.
        if (budget != null) {
          val used = root.path("usage").path("total_tokens")
          if (used.isNumber) budget.reconcile(charge, used.asLong())
        }
        root.path("choices").path(0).path("message").path("content")
          .asText("")
      } catch {
        // fail-open covers FLAKY rows (transport, 5xx, throttling); a
        // budget/config violation is deterministic and must fail the
        // job, not silently empty-enrich every row
        case e: IllegalArgumentException => throw e
        case scala.util.control.NonFatal(e) if failOpen => ""
      }
  }
}
