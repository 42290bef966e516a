package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.enrich.{DoclingClient, ExtractingDocling}

/** The `source` field of an engine-authored Docling request
  * (`to_json(struct(source, options))`; keys carry no escapes).
  */
object Request {
  def source(req: String): String = {
    val k = "\"source\":\""
    val a = req.indexOf(k)
    if (a < 0) "" else req.substring(a + k.length, req.indexOf('"', a + k.length))
  }
}

/** Benchmark-owned fetch: reads the just-written `incoming/` object back
  * from the object-store directory, timed.
  */
final case class FetchFn(baseDir: String) extends (String => Array[Byte]) {
  override def apply(source: String): Array[Byte] = {
    val parent = Trace.threadParent.get().longValue
    val t0 = System.nanoTime()
    try java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(baseDir, source))
    finally {
      val t1 = System.nanoTime()
      Counters.fetchNs.add(t1 - t0)
      FetchFn.lastNs.set(t1 - t0)
      Trace.record(Trace.nextId(), "fetch", "enrich", t0, t1, parent, Trace.batchId)
    }
  }
}

object FetchFn {
  val lastNs: ThreadLocal[java.lang.Long] =
    ThreadLocal.withInitial(() => java.lang.Long.valueOf(0L))
}

/** Decorator around the program's [[DoclingClient]]: counts calls,
  * times each `convert`, and (traced) records one span per
  * call under the current enrich stage. `remote` selects how service
  * time is attributed: the stub's handler time, or convert minus fetch.
  */
final class TimedDocling(inner: DoclingClient, remote: Boolean)
    extends DoclingClient {
  override def convert(requestJson: String): String = {
    val id = Trace.nextId()
    val parent = Trace.stageParent
    Trace.threadParent.set(id)
    FetchFn.lastNs.set(0L)
    val t0 = System.nanoTime()
    try inner.convert(requestJson)
    finally {
      val t1 = System.nanoTime()
      Trace.threadParent.set(-1L)
      Counters.calls.increment()
      Counters.callNs.add(t1 - t0)
      if (remote) {
        val h = Stub.handlerNs.remove(Request.source(requestJson))
        if (h != null) { Counters.wireNs.add(t1 - t0 - h.longValue); Counters.wireCalls.increment() }
      } else Counters.serviceNs.add(t1 - t0 - FetchFn.lastNs.get().longValue)
      Trace.record(id, "convert", "enrich", t0, t1, parent, Trace.batchId)
    }
  }
}

/** In-process stand-in for Docling Serve on localhost: after a fixed
  * service time it runs the engine's own extraction over the object the
  * request names, and it answers a seed-chosen share of FIRST attempts
  * with 503. Calibrated: the handler pool is `threads` (<= task slots)
  * daemon threads, and the JVM runs with `sun.net.httpserver.nodelay=true`
  * (without it each response waits on Nagle + delayed ACK, ~40 ms per
  * call).
  */
final class Stub(baseDir: String, seed: Long, serviceMs: Int,
                 flakyShare: Double, threads: Int) {
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val extractor = new ExtractingDocling(FetchFn(baseDir))
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "docling-stub"); t.setDaemon(true); t
    }
  })
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/v1/convert/source", (ex: HttpExchange) => handle(ex))
  server.start()

  val endpoint: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/v1/convert/source"

  def flaky(source: String): Boolean =
    (Gen.mix(seed, source.hashCode.toLong) >>> 11) / (1L << 53).toDouble < flakyShare

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val req = try new String(ex.getRequestBody.readAllBytes(), UTF_8)
              finally ex.getRequestBody.close()
    val source = Request.source(req)
    val (code, body) =
      if (flaky(source) && seen.add(source)) (503, "busy")
      else {
        Thread.sleep(serviceMs.toLong)
        try (200, extractor.convert(req))
        catch { case scala.util.control.NonFatal(e) => (422, String.valueOf(e.getMessage)) }
      }
    val bytes = body.getBytes(UTF_8)
    Stub.handlerNs.put(source, System.nanoTime() - t0)
    if (code == 200) Counters.serviceNs.add(System.nanoTime() - t0)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Stub {
  /** Handler time of the latest call per source, taken by the decorator
    * to compute the wire overhead of that call.
    */
  val handlerNs = new ConcurrentHashMap[String, java.lang.Long]()
}
