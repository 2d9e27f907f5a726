package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** JDK HttpServers for the loopback stubs the HTTP-client specs talk
  * to, with TCP_NODELAY on every accepted socket. The JDK server leaves
  * Nagle's algorithm on and writes a response's headers and body as
  * separate segments, so on a kept-alive connection the body waits for
  * the client's delayed ACK of the headers — 40 ms minimum on Linux.
  * The JDK reads `sun.net.httpserver.nodelay` once per JVM, when the
  * first HttpServer is created, so every stub is created here; a value
  * the JVM was started with wins. */
object StubHttpServer {
  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  def create(addr: InetSocketAddress): HttpServer = {
    if (System.getProperty(NoDelayProperty) == null)
      System.setProperty(NoDelayProperty, "true")
    HttpServer.create(addr, 0)
  }
}
