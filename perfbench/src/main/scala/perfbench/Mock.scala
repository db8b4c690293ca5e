package perfbench

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.Enrich

/** Loopback stand-in for the two remote services of the export job: the
  * journal-metrics GET and the chat-completions POST. Responses follow the
  * `Enrich.StubMetricsClient` and `Enrich.StubLlmClient` contracts, so the
  * expected enrichment is known exactly.
  *
  * Every request is held for a fixed service time. The first attempt for
  * one key in `faultEvery` is refused with a transient 429; the retry of
  * that key succeeds. Which keys fault is a pure function of the key, so
  * request and retry counts are exact for a given input. */
final class MockServer(threads: Int, val serviceNanos: Long, val faultEvery: Int)
    extends AutoCloseable {
  private val mapper = new ObjectMapper()
  // without TCP_NODELAY a response written as headers then body waits out
  // the peer's delayed ACK (about 40 ms) on every request; the JDK server
  // reads this property once, when its first server is created
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  private val faulted = ConcurrentHashMap.newKeySet[String]()

  val requests = new AtomicLong
  val metricsRequests = new AtomicLong
  val llmRequests = new AtomicLong
  val refused = new AtomicLong
  val handlerNanos = new AtomicLong

  server.setExecutor(pool)
  server.createContext("/metrics", ex => handle(ex, metricsRequests) { _ =>
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val key = q.split("&").collectFirst {
      case kv if kv.startsWith("publication=") =>
        URLDecoder.decode(kv.drop("publication=".length), UTF_8)
    }.getOrElse("")
    val (ifact, quartile) = Enrich.StubMetricsClient.fetch(key)
    val body = mapper.createObjectNode()
    body.put("impact_factor", ifact); body.put("quartile", quartile)
    ("m:" + key, mapper.writeValueAsString(body))
  })
  server.createContext("/v1/chat/completions", ex => handle(ex, llmRequests) { in =>
    val msgs = mapper.readTree(in).path("messages")
    val user = (0 until msgs.size).map(msgs.get)
      .filter(_.path("role").asText == "user").lastOption
      .map(_.path("content").asText).getOrElse("")
    val content = Enrich.StubLlmClient.complete(user)
    val root = mapper.createObjectNode()
    val msg = root.putArray("choices").addObject().putObject("message")
    msg.put("role", "assistant"); msg.put("content", content)
    ("c:" + user, mapper.writeValueAsString(root))
  })
  server.start()

  def url(path: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}$path"

  /** Forget which keys have faulted and zero the counters: the next pass
    * sees the same faults again. */
  def reset(): Unit = {
    faulted.clear()
    Seq(requests, metricsRequests, llmRequests, refused, handlerNanos).foreach(_.set(0))
  }

  private def handle(ex: HttpExchange, kind: AtomicLong)
                    (respond: String => (String, String)): Unit = {
    val t0 = System.nanoTime()
    try {
      val in = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val (key, body) = respond(in)
      requests.incrementAndGet(); kind.incrementAndGet()
      val refuse = MockServer.faults(key, faultEvery) && faulted.add(key)
      if (refuse) refused.incrementAndGet()
      val (code, out) =
        if (refuse) (429, """{"error":"rate limited"}""") else (200, body)
      val deadline = t0 + serviceNanos
      var left = deadline - System.nanoTime()
      while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
      val bytes = out.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      handlerNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object MockServer {
  /** Whether the first attempt for `key` is refused. */
  def faults(key: String, every: Int): Boolean =
    every > 0 && Math.floorMod(key.hashCode * 0x9E3779B1, every) == 0
}
