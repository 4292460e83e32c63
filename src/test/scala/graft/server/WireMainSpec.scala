package graft.server

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftEngine, SparkTestBase, TempDirs}

/** WireMain's shutdown: it closes the server and then flushes under the
  * write lock, so every write the server acked is durable afterwards.
  */
class WireMainSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  test("shutdown keeps every acked write: the server closes before the flush") {
    val store = tempDir("graft-shutdown-spec").getAbsolutePath
    val engine = new GraftEngine(spark, tsStoragePath = Some(s"$store/ts"),
      flushEveryRows = 64)
    val rt = new WireRuntime(engine)
    val srv = new ZestWireServer(engine, runtime = Some(rt))
    val acked = new AtomicInteger
    val writer = new Thread(() => {
      val c = new ZmtpClient(srv.boundPort)
      try {
        var i = 0
        while (true) {
          if (c.call(ZestCodec.request(2, s"/ts/s/at/$i",
              payload = s"""{"value": $i}""")).code == 65) acked.incrementAndGet()
          i += 1
        }
      } catch { case _: Exception => () } // the server closed the connection
      finally c.close()
    })
    writer.start()
    // a few flushes land and a partial window is pending when it stops
    while (acked.get < 200 && writer.isAlive) Thread.sleep(5)
    WireMain.shutdown(srv, rt)
    writer.join(30000)
    assert(!writer.isAlive)
    val fresh = new GraftEngine(spark, tsStoragePath = Some(s"$store/ts"))
    val survivors = """"length": (\d+)""".r
      .findFirstMatchIn(fresh.get("/ts/s/length")).get.group(1).toInt
    // a dispatch that was running when the server closed can land without
    // its ack reaching the client: at most one more row than was acked
    assert(acked.get <= survivors && survivors <= acked.get + 1,
      s"acked ${acked.get}, survived $survivors")
  }
}
