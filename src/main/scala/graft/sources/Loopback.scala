package graft.sources

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The one way this program makes a JDK `HttpServer`: bound to an
  * ephemeral port on 127.0.0.1, with TCP_NODELAY on its connections.
  *
  * The JDK server writes a response's headers and its body as two
  * segments. Under Nagle's algorithm the body waits for the client's
  * ACK of the headers, and the client delays that ACK (about 40 ms on
  * Linux), so every response with a body stalls. The server reads
  * `sun.net.httpserver.nodelay` once, when the JVM creates its first
  * `HttpServer`; setting it here, before every create, keeps it in
  * place as long as no server is made any other way.
  */
object Loopback {

  def httpServer(): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  }
}
