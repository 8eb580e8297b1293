package etlbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}
import scala.collection.mutable

/** In-process HTTP endpoint for the crash → Influx sink: one handler
  * thread, answers every POST with 204 (the code the Influx sink counts
  * as success). It counts posts and bytes, times each POST's handling
  * (reading and storing the body, before the response), and keeps each
  * received line for the output check.
  */
final class HttpStub extends AutoCloseable {
  private val executor: ExecutorService = Executors.newSingleThreadExecutor()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  private val received = mutable.ArrayBuffer.empty[String]
  private var postCount = 0L
  private var byteCount = 0L
  private val postMs = mutable.ArrayBuffer.empty[Double]

  server.createContext("/write", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val body = try ex.getRequestBody.readAllBytes() finally ex.getRequestBody.close()
    HttpStub.this.synchronized {
      postCount += 1
      byteCount += body.length
      new String(body, StandardCharsets.UTF_8).split('\n').foreach(l => if (l.nonEmpty) received += l)
      postMs += (System.nanoTime() - t0) / 1e6
    }
    ex.sendResponseHeaders(204, -1)
    ex.close()
  })
  server.setExecutor(executor)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/write"

  def posts: Long = synchronized(postCount)
  def bytes: Long = synchronized(byteCount)

  /** Lines received since the last call; clears the buffer. */
  def takeLines(): Vector[String] = synchronized {
    val out = received.toVector
    received.clear()
    out
  }

  /** Handler times of the posts since the last call; clears them. */
  def takePostMs(): Vector[Double] = synchronized {
    val out = postMs.toVector
    postMs.clear()
    out
  }

  override def close(): Unit = {
    server.stop(0)
    executor.shutdownNow()
    executor.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
