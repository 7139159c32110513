package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Loopback execution-layer node: serves `eth_getTransactionReceipt` and
  * `eth_getBlockByHash` (hashes-only) for the generated days, single and
  * JSON-RPC 2.0 batch requests alike, on at most `threads` handler threads.
  * Every POST sleeps `latencyNs` before answering, standing in for a real
  * node's per-request cost. Counts what the `rpc.*` metrics report: posts,
  * lookups by method, handler service time, and queue + service time. */
final class RpcNode(threads: Int, latencyNs: Long) extends AutoCloseable {
  private val receipts = new ConcurrentHashMap[String, String]()
  private val blocks = new ConcurrentHashMap[String, String]()

  val posts = new AtomicLong
  val receiptLookups = new AtomicLong
  val blockLookups = new AtomicLong
  val failed = new AtomicLong
  val serviceNs = new AtomicLong
  val waitNs = new AtomicLong

  private val pool = new ThreadPoolExecutor(threads, threads, 0L,
    TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable]()) {
    override def execute(r: Runnable): Unit = {
      val queued = System.nanoTime()
      super.execute(() => {
        try r.run() finally waitNs.addAndGet(System.nanoTime() - queued)
      })
    }
  }
  private val server = HttpServer.create(
    new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 256)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val uri: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  /** Serve the day's receipts and blocks. */
  def load(d: Gen.Day): Unit = {
    d.blocks.foreach { b =>
      val txs = b.txs.map(h => "\"" + h + "\"").mkString("[", ",", "]")
      blocks.put(b.hash,
        s"""{"hash":"${b.hash}","number":"0x${b.number.toHexString}",""" +
          s""""timestamp":"0x${b.tsSec.toHexString}","transactions":$txs}""")
      b.txs.foreach(h => receipts.put(h, b.hash))
    }
  }

  def snap(): RpcNode.Snap = RpcNode.Snap(posts.get, receiptLookups.get, blockLookups.get,
    failed.get, serviceNs.get, waitNs.get)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def answer(req: com.fasterxml.jackson.databind.JsonNode): String = {
    val id = Option(req.get("id")).map(_.toString).getOrElse("null")
    val method = Option(req.get("method")).map(_.asText).getOrElse("")
    val arg = Option(req.get("params")).filter(_.size > 0).map(_.get(0).asText.toLowerCase)
    val result = method match {
      case "eth_getTransactionReceipt" =>
        receiptLookups.incrementAndGet()
        arg.flatMap(h => Option(receipts.get(h)))
          .map(bh => s"""{"transactionHash":"${arg.get}","blockHash":"$bh","status":"0x1"}""")
          .getOrElse("null")
      case "eth_getBlockByHash" =>
        blockLookups.incrementAndGet()
        arg.flatMap(h => Option(blocks.get(h))).getOrElse("null")
      case _ => null
    }
    if (result == null)
      s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"method not found"}}"""
    else s"""{"jsonrpc":"2.0","id":$id,"result":$result}"""
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    posts.incrementAndGet()
    try {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      val body =
        if (req.isArray) {
          val sb = new StringBuilder("[")
          val it = req.elements()
          var first = true
          while (it.hasNext) {
            if (!first) sb.append(',')
            sb.append(answer(it.next())); first = false
          }
          sb.append(']').toString
        } else answer(req)
      java.util.concurrent.locks.LockSupport.parkNanos(latencyNs)
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    } catch {
      case e: Exception =>
        failed.incrementAndGet()
        try { ex.sendResponseHeaders(500, -1); ex.close() } catch { case _: Exception => () }
    } finally serviceNs.addAndGet(System.nanoTime() - t0)
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object RpcNode {
  final case class Snap(posts: Long, receipts: Long, blocks: Long,
      failed: Long, serviceNs: Long, waitNs: Long) {
    def +(o: Snap): Snap = Snap(posts + o.posts, receipts + o.receipts,
      blocks + o.blocks, failed + o.failed, serviceNs + o.serviceNs, waitNs + o.waitNs)
    def -(o: Snap): Snap = this + Snap(-o.posts, -o.receipts, -o.blocks, -o.failed,
      -o.serviceNs, -o.waitNs)
  }
}
