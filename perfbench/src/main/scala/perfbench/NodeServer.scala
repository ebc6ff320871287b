package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Node call counts at one instant. */
final case class NodeCounts(height: Long, block: Long, txn: Long, busyNanos: Long) {
  def -(o: NodeCounts): NodeCounts =
    NodeCounts(height - o.height, block - o.block, txn - o.txn, busyNanos - o.busyNanos)
  def +(o: NodeCounts): NodeCounts =
    NodeCounts(height + o.height, block + o.block, txn + o.txn, busyNanos + o.busyNanos)
}

/** The benchmark's in-process blockchain node: JSON-RPC 2.0 over HTTP with
  * the three methods the follower calls (`block_height`, `block_get`,
  * `transaction_get`), served from a [[Chain]]. Only heights up to the
  * visible `tip` exist; an unknown height or hash answers -32602, the
  * node's not-found code. Counts calls per method and handler busy time;
  * with `spans` set, records one span per request. */
final class NodeServer(chain: Chain, threads: Int, spans: Option[Spans]) {
  val tip = new AtomicLong(chain.shape.blocks)
  private val heightCalls = new AtomicLong
  private val blockCalls = new AtomicLong
  private val txnCalls = new AtomicLong
  private val busy = new AtomicLong
  private val mapper = new ObjectMapper()
  // without TCP_NODELAY, Nagle's algorithm against the client's delayed
  // ACKs stalls every small response ~40 ms: a cost no real node adds
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 256)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def counts: NodeCounts =
    NodeCounts(heightCalls.get, blockCalls.get, txnCalls.get, busy.get)

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    var method = ""
    try {
      val req = mapper.readTree(ex.getRequestBody)
      val id = Option(req.get("id")).map(_.toString).getOrElse("null")
      method = Option(req.get("method")).map(_.asText()).getOrElse("")
      val params = req.get("params")
      val visible = tip.get
      val result: Either[Int, String] = method match {
        case "block_height" =>
          heightCalls.incrementAndGet()
          Right(s"""{"height":$visible}""")
        case "block_get" =>
          blockCalls.incrementAndGet()
          val h = params.get("height").asLong()
          if (h >= 1 && h <= visible) Right(chain.blockJson(h.toInt)) else Left(-32602)
        case "transaction_get" =>
          txnCalls.incrementAndGet()
          val h = chain.txnHeight.get(params.get("hash").asText())
          if (h != null && h <= visible)
            Right(chain.txnJson.get(params.get("hash").asText()))
          else Left(-32602)
        case _ => Left(-32601)
      }
      val body = result match {
        case Right(r) => s"""{"jsonrpc":"2.0","id":$id,"result":$r}"""
        case Left(code) =>
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":$code,"message":"not found"}}"""
      }
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    } finally {
      ex.close()
      val t1 = System.nanoTime()
      busy.addAndGet(t1 - t0)
      spans.foreach(_.record(s"node.$method", "helium.NodeClient", "", t0, t1))
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
