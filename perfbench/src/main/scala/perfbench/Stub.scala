package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.llm.{ChatMessage, FakeBehavior, LMRequest, Tokens}

/** One model served by the stub: an answer function (graft's own
  * [[FakeBehavior]]s, picked by prompt shape) and a service time of
  * `baseMs + perPromptTokenMs × prompt tokens`.
  */
final case class StubModel(name: String, baseMs: Double, perPromptTokenMs: Double,
    route: LMRequest => FakeBehavior)

/** In-process OpenAI-compatible chat-completions endpoint on
  * `127.0.0.1:<ephemeral>/v1/chat/completions`.
  *
  * Request handling runs on at most `threads` handler threads; each
  * response is then held for its service time on a timer (one scheduler
  * thread), never on a sleeping handler thread, so the stub's capacity is
  * not what limits the client's concurrency. Answers are deterministic:
  * the same prompt always gets the same answer after the same delay.
  *
  * Counters are cumulative; callers read deltas through [[snapshot]].
  */
final class LlmStub(models: Seq[StubModel], threads: Int) {
  // Without TCP_NODELAY the JDK server's small responses can wait on
  // Nagle + delayed ACK (tens of ms), which would swamp the service times.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  // Clients that went away leave idle connections; close them within 2 s.
  System.setProperty("sun.net.httpserver.idleInterval", "2")
  // With its default cap of 200 idle connections the JDK server closes a
  // connection right after its response once the cap is reached; a client
  // that reuses it at once gets an I/O error, and OpenAICompatLM waits 1 s
  // before it retries. An LLM server keeps such connections open, so the
  // stub lifts the cap and leaves idle connections to the timer above.
  System.setProperty("sun.net.httpserver.maxIdleConnections", "1000000")
  private val byName = models.map(m => m.name -> m).toMap
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  private val handlers = Executors.newFixedThreadPool(threads)
  private val timer: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor()

  private val requests = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val promptTokens = new AtomicLong()
  private val outputTokens = new AtomicLong()
  private val serviceMicros = new AtomicLong()
  private val errors = new AtomicLong()
  // Time-weighted in-flight accounting, guarded by `this`.
  private var inflight = 0
  private var peak = 0
  private var lastChangeNs = System.nanoTime()
  private var busyNs = 0L
  private var inflightNs = 0L

  private def moveInflight(delta: Int): Unit = synchronized {
    val now = System.nanoTime()
    if (inflight > 0) {
      busyNs += now - lastChangeNs
      inflightNs += (now - lastChangeNs) * inflight
    }
    lastChangeNs = now
    inflight += delta
    if (inflight > peak) peak = inflight
  }

  server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
  server.setExecutor(handlers)
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  private def count(key: String): Unit =
    requests.computeIfAbsent(key, _ => new AtomicLong()).incrementAndGet()

  private def handle(ex: HttpExchange): Unit = {
    moveInflight(1)
    try {
      val node = mapper.readTree(ex.getRequestBody.readAllBytes())
      val model = byName.getOrElse(node.path("model").asText(""),
        throw new IllegalArgumentException(s"unknown model '${node.path("model").asText("")}'"))
      val msgs = node.path("messages")
      val req = LMRequest((0 until msgs.size()).map { i =>
        ChatMessage(msgs.get(i).path("role").asText(), msgs.get(i).path("content").asText())
      })
      val behavior = model.route(req)
      val answer = behavior.answer(req)
      val pTok = req.messages.map(m => Tokens.estimate(m.content)).sum
      val oTok = Tokens.estimate(answer)
      promptTokens.addAndGet(pTok.toLong)
      outputTokens.addAndGet(oTok.toLong)
      count(s"${model.name}/${LlmStub.shape(req)}")
      val body = mapper.createObjectNode()
      val choice = body.putArray("choices").addObject()
      choice.putObject("message").put("role", "assistant").put("content", answer)
      behavior match {
        case p: FakeBehavior.ProbBehavior if node.path("logprobs").asBoolean(false) =>
          val pos = p.positiveProb(req)
          val tok = choice.putObject("logprobs").putArray("content").addObject()
          tok.put("token", if (answer.contains("True")) "True" else "False")
          val top = tok.putArray("top_logprobs")
          top.addObject().put("token", "True").put("logprob", math.log(pos))
          top.addObject().put("token", "False").put("logprob", math.log(1.0 - pos))
        case _ =>
      }
      body.putObject("usage").put("prompt_tokens", pTok).put("completion_tokens", oTok)
      val bytes = mapper.writeValueAsBytes(body)
      val serviceMs = model.baseMs + model.perPromptTokenMs * pTok
      serviceMicros.addAndGet((serviceMs * 1000).toLong)
      timer.schedule(new Runnable {
        def run(): Unit = respond(ex, 200, bytes)
      }, (serviceMs * 1000).toLong, TimeUnit.MICROSECONDS)
    } catch {
      case e: Exception =>
        errors.incrementAndGet()
        respond(ex, 400, String.valueOf(e.getMessage).getBytes("UTF-8"))
    }
  }

  private def respond(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit =
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      os.write(bytes)
      os.close()
    } catch { case _: java.io.IOException => errors.incrementAndGet() }
    finally { ex.close(); moveInflight(-1) }

  /** Cumulative counters. `requests` is keyed `model/shape`. */
  def snapshot(): StubCounters = {
    import scala.jdk.CollectionConverters._
    val (busy, inflightInt, pk) = synchronized {
      moveInflight(0)
      (busyNs, inflightNs, peak)
    }
    StubCounters(requests.asScala.map { case (k, v) => k -> v.get }.toMap,
      promptTokens.get, outputTokens.get, serviceMicros.get / 1000.0, errors.get,
      busy, inflightInt, pk)
  }

  /** Restart the peak tracker (the peak is not a summable counter). */
  def resetPeak(): Unit = synchronized { peak = inflight }

  def stop(): Unit = {
    server.stop(0)
    handlers.shutdownNow()
    timer.shutdownNow()
    handlers.awaitTermination(10, TimeUnit.SECONDS)
    timer.awaitTermination(10, TimeUnit.SECONDS)
  }
}

final case class StubCounters(requests: Map[String, Long], promptTokens: Long,
    outputTokens: Long, serviceMs: Double, errors: Long, busyNs: Long,
    inflightNs: Long, peak: Int) {
  def total: Long = requests.values.sum
  def matching(p: String => Boolean): Long = requests.collect { case (k, v) if p(k) => v }.sum
  def minus(o: StubCounters): StubCounters = StubCounters(
    (requests.keySet ++ o.requests.keySet).map(k =>
      k -> (requests.getOrElse(k, 0L) - o.requests.getOrElse(k, 0L))).toMap,
    promptTokens - o.promptTokens, outputTokens - o.outputTokens,
    serviceMs - o.serviceMs, errors - o.errors, busyNs - o.busyNs,
    inflightNs - o.inflightNs, peak)
}

object LlmStub {
  /** Prompt shape, from the system prompts graft's formatters emit. */
  def shape(req: LMRequest): String = {
    val sys = req.messages.find(_.role == "system").map(_.content).getOrElse("")
    if (sys.contains("most relevant document")) "compare"
    else if (sys.contains("columns that need to be extracted")) "extract"
    else if (sys.contains("from multiple")) "agg"
    else if (req.lastUser.contains("\n\nClaim:")) "filter"
    else if (req.lastUser.contains("\n\nInstruction:")) "map"
    else "other"
  }
}
