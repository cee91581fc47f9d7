package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Shopify-style orders endpoint on 127.0.0.1: pages mode
  * (`page`, `limit`), `updated_at_min` honoured, records wrapped as
  * `{"orders":[...]}`. The arrival sequence is replaced between syncs with
  * [[serve]]; within a sync it is fixed, so page slices are consistent.
  * Counters are kept at the server and read with [[snapshot]]. */
final class MockShop(threads: Int) {
  private val seq = new AtomicReference[Vector[Orders.Order]](Vector.empty)
  private val requests = new AtomicLong
  private val empties = new AtomicLong
  private val bytes = new AtomicLong
  private val records = new AtomicLong
  private val recordBytes = new AtomicLong
  private val busyNanos = new AtomicLong
  private val lastMin = new AtomicReference[Option[Long]](None)

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/admin/orders.json", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/admin/orders.json"

  def serve(arrivals: Vector[Orders.Order]): Unit = { seq.set(arrivals); lastMin.set(None) }

  /** `updated_at_min` of the most recent request, as epoch seconds. */
  def lastUpdatedMin: Option[Long] = lastMin.get()

  case class Counters(requests: Long, emptyPages: Long, bytes: Long,
                      records: Long, recordBytes: Long, busyS: Double)
  def snapshot: Counters = Counters(requests.get, empties.get, bytes.get,
    records.get, recordBytes.get, busyNanos.get / 1e9)

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
        .filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      val min = params.get("updated_at_min").map(s => Instant.parse(s).getEpochSecond)
      lastMin.set(min)
      val page = params.getOrElse("page", "1").toInt
      val limit = params.getOrElse("limit", "250").toInt
      val eligible = min.fold(seq.get())(m => seq.get().filter(_.updated >= m))
      val slice = eligible.slice((page - 1) * limit, page * limit)
      val sb = new java.lang.StringBuilder(slice.size * 700 + 16)
      sb.append("{\"orders\":[")
      var rb = 0L
      slice.iterator.zipWithIndex.foreach { case (o, i) =>
        if (i > 0) sb.append(',')
        sb.append(o.json); rb += o.json.length + 1
      }
      val body = sb.append("]}").toString.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      requests.incrementAndGet()
      if (slice.isEmpty) empties.incrementAndGet()
      bytes.addAndGet(body.length)
      records.addAndGet(slice.size)
      recordBytes.addAndGet(rb)
    } catch {
      case e: Exception =>
        val msg = String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(400, msg.length)
        ex.getResponseBody.write(msg)
    } finally {
      ex.close()
      busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
