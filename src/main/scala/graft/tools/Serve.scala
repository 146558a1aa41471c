package graft.tools

import graft.core.GraftSession
import graft.pipelines.GoldContext
import graft.queries.BiServer

/** Stand up the BI endpoint over an existing warehouse:
  * `runMain graft.tools.Serve WAREHOUSE_DIR [PORT] [BIND_HOST]` —
  * registers the gold views and serves HiveServer2 Thrift on PORT
  * (default 10000) until killed. BIND_HOST defaults to localhost (the
  * endpoint is unauthenticated — see BiServer scaladoc); pass an
  * interface address to serve remote BI tools. Attach with any
  * Hive/Spark JDBC client, e.g.
  * `beeline -u jdbc:hive2://localhost:10000/default`. */
object Serve {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Serve WAREHOUSE_DIR [PORT] [BIND_HOST]")
    val port = args.drop(1).headOption.map(_.toInt).getOrElse(10000)
    val bindHost = args.drop(2).headOption.getOrElse("localhost")
    val spark = GraftSession.local()
    val ctx = new GoldContext(spark, args.head)
    BiServer.serve(ctx, port, bindHost)
    System.err.println(s"[serve] thrift endpoint on $bindHost:$port — Ctrl-C to stop")
    Thread.currentThread.join() // serve until killed
  }
}
