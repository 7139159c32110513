package graft

import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** In-process JSON-RPC node for specs: eth_getTransactionReceipt +
  * eth_getBlockByHash over a fixture, single and batch requests, with
  * per-element request counters. `blocks`: block hash → (number, ts
  * seconds, tx hashes); `txBlock`: tx hash → block hash. */
object LoopbackRpc {
  def serve[T](txBlock: Map[String, String], blocks: Map[String, (Long, Long, Seq[String])])(
      body: (String, AtomicLong, AtomicLong) => T): T = {
    val receiptReqs = new AtomicLong
    val blockReqs = new AtomicLong
    val mapper = new ObjectMapper()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val req = mapper.readTree(ex.getRequestBody)
        def one(node: com.fasterxml.jackson.databind.JsonNode): String = {
          val id = if (node.has("id")) node.get("id").asInt(1) else 1
          val result = node.get("method").asText() match {
            case "eth_getTransactionReceipt" =>
              receiptReqs.incrementAndGet()
              val h = node.get("params").get(0).asText()
              txBlock.get(h) match {
                case Some(bh) =>
                  val (num, _, _) = blocks(bh)
                  s"""{"blockHash":"$bh","blockNumber":"0x${num.toHexString}"}"""
                case None => "null"
              }
            case "eth_getBlockByHash" =>
              blockReqs.incrementAndGet()
              val bh = node.get("params").get(0).asText()
              blocks.get(bh) match {
                case Some((num, tsSec, txs)) =>
                  s"""{"number":"0x${num.toHexString}","timestamp":"0x${tsSec.toHexString}","transactions":[${txs.map(t => s""""$t"""").mkString(",")}]}"""
                case None => "null"
              }
            case m => throw new IllegalArgumentException(s"unexpected method $m")
          }
          s"""{"jsonrpc":"2.0","id":$id,"result":$result}"""
        }
        // JSON-RPC 2.0 batch: array in, array out (per-element counters)
        val resp =
          if (req.isArray) {
            val it = req.elements()
            val parts = Seq.newBuilder[String]
            while (it.hasNext) parts += one(it.next())
            parts.result().mkString("[", ",", "]")
          } else one(req)
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/", receiptReqs, blockReqs)
    finally server.stop(0)
  }
}
