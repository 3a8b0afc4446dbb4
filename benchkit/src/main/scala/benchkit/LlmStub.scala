package benchkit

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.extract.MockLlmClient

/** Loopback completions endpoint for `graft.extract.HttpLlmClient`: a
  * JDK `HttpServer` on 127.0.0.1 (ephemeral port) that answers each
  * OpenAI-shaped request with `MockLlmClient`'s deterministic
  * completion after a fixed service time. The handler pool is larger
  * than any number of concurrent requests the profiler issues, so
  * requests never queue; `queueNs` measures it anyway.
  */
final class LlmStub {
  import LlmStub.{Handlers, ServiceMs}
  private val mock   = MockLlmClient()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  private val pool   = Executors.newFixedThreadPool(Handlers)
  val requests    = new LongAdder
  val queueNs     = new LongAdder
  private val conns  = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  server.setExecutor((r: Runnable) => {
    val queued = System.nanoTime()
    pool.execute(() => { queueNs.add(System.nanoTime() - queued); r.run() })
  })
  server.createContext("/v1/completions", (ex: HttpExchange) => handle(ex))
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/completions"

  /** Distinct client-side TCP connections seen (by remote address). */
  def connections: Long = conns.size.toLong

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      conns.add(ex.getRemoteAddress.toString)
      val body   = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val prompt = LlmStub.promptOf(body)
      val answer = mock.complete(Iterator.single(prompt)).next()
      val sleep  = ServiceMs - (System.nanoTime() - t0) / 1000000L
      if (sleep > 0) Thread.sleep(sleep)
      val out = LlmStub.json.writeValueAsBytes(
        java.util.Map.of("choices", java.util.List.of(java.util.Map.of("text", answer))))
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, out.length.toLong)
      ex.getResponseBody.write(out)
    } catch {
      case e: Throwable =>
        val msg = String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg)
    } finally {
      ex.close()
      requests.increment()
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object LlmStub {
  /** Model service time per request (tens of ms, like a small hosted model). */
  val ServiceMs = 25L
  /** More handler threads than requests the profiler ever has in flight. */
  val Handlers = 64
  private[benchkit] val json = new com.fasterxml.jackson.databind.ObjectMapper()
  def promptOf(body: String): String = json.readTree(body).get("prompt").asText()
}
