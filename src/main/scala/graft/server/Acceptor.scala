package graft.server

import java.net.{InetSocketAddress, ServerSocket, Socket}

/** The accept loop of the socket doors (MySQL, PG): a daemon acceptor
  * thread `graft-<door>-acceptor` hands each connection to `serve` on
  * its own daemon thread `graft-<door>-conn`. Closing the returned
  * socket ends the loop (accept throws). */
private[server] object Acceptor {
  def start(port: Int, door: String)(serve: Socket => Unit): ServerSocket = {
    val server = new ServerSocket()
    server.bind(new InetSocketAddress("127.0.0.1", port))
    val acceptor = new Thread(() => {
      try {
        while (true) {
          val sock = server.accept()
          val t = new Thread(() => serve(sock), s"graft-$door-conn")
          t.setDaemon(true)
          t.start()
        }
      } catch { case _: Throwable => }
    }, s"graft-$door-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    server
  }
}
