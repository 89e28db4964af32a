package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}

/** The one setup of every TCP socket graft's wire clients and brokers
  * own (Kafka client and broker, Pulsar client). `TCP_NODELAY` is on
  * and both directions are buffered, so a frame written and flushed
  * once leaves as one segment: with Nagle's algorithm on, a frame sent
  * in several small writes holds its tail until the peer's delayed ACK
  * (about 40 ms on Linux), once per request and once per response.
  * Every read is bounded by `readTimeoutMs` (0 = unbounded), so a peer
  * that accepts and never answers fails the call with
  * `SocketTimeoutException` instead of hanging it. */
final class WireSocket private (socket: Socket, readTimeoutMs: Int)
  extends AutoCloseable {

  socket.setTcpNoDelay(true)
  socket.setSoTimeout(readTimeoutMs)
  val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))

  override def close(): Unit = socket.close()
}

object WireSocket {
  val ConnectTimeoutMs = 10000
  val DefaultReadTimeoutMs = 30000

  /** An outgoing connection: connects within [[ConnectTimeoutMs]],
    * then bounds every read by `readTimeoutMs`. */
  def connect(host: String, port: Int, readTimeoutMs: Int): WireSocket = {
    val s = new Socket()
    try {
      s.connect(new InetSocketAddress(host, port), ConnectTimeoutMs)
      new WireSocket(s, readTimeoutMs)
    } catch { case e: Throwable => s.close(); throw e }
  }

  /** A socket a broker accepted. Its reads are unbounded: a consumer's
    * connection legitimately idles between triggers, and the client
    * does not reconnect. */
  def accepted(s: Socket): WireSocket =
    try new WireSocket(s, readTimeoutMs = 0)
    catch { case e: Throwable => s.close(); throw e }
}
