package graft.server

import org.apache.spark.sql.SparkSession

/** Runnable wire server: a durable engine (parquet-backed TS storage)
  * behind the binary [[ZestWireServer]] — zest frames over ZMTP 3.0 on
  * one port, the deployable analogue of the reference's `server` binary.
  * Configuration via env:
  * `GRAFT_WIRE_BINARY_PORT` (default 5556, zest's router port number),
  * `GRAFT_WIRE_SECURE=1` (optional: the port speaks the ZMTP CURVE
  * mechanism instead of NULL; the startup line publishes the server's
  * public key, the `--server-key` analogue),
  * `GRAFT_STORE_DIR` (default ./graft-store; TS tables land under it),
  * `GRAFT_TOKEN_KEY` (optional; absent = auth disabled, like the
  * reference's --enable-auth off), `SPARK_GRAFT_CPUS`.
  */
object WireMain {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val store = sys.env.getOrElse("GRAFT_STORE_DIR",
      new java.io.File("graft-store").getAbsolutePath)
    val engine = new graft.GraftEngine(spark,
      tsStoragePath = Some(s"$store/ts"),
      tokenSecretKey = sys.env.get("GRAFT_TOKEN_KEY"),
      flushEveryRows = 64) // write-behind: batch small POSTs per commit
    val port = {
      val s0 = sys.env.getOrElse("GRAFT_WIRE_BINARY_PORT", "5556")
      s0.toIntOption.filter(p => p >= 0 && p <= 65535).getOrElse {
        System.err.println(s"GRAFT_WIRE_BINARY_PORT must be a port number 0-65535, got: $s0")
        sys.exit(2)
      }
    }
    val rt = new WireRuntime(engine)
    val keys =
      if (sys.env.get("GRAFT_WIRE_SECURE").contains("1")) Some(SecureChannel.generateKeyPair())
      else None
    val bin = new ZestWireServer(engine, port, serverKeys = keys, runtime = Some(rt))
    // emit via the JSON library — a store path with quotes/backslashes
    // (Windows) must still produce a valid JSON line for scrapers
    import org.json4s.JsonDSL._
    println(org.json4s.jackson.JsonMethods.compact(
      ("wire_server" -> "up") ~ ("binary_port" -> bin.boundPort) ~
        ("server_key" -> keys.map(k => java.util.Base64.getEncoder
          .encodeToString(SecureChannel.rawPublic(k)))) ~
        ("store" -> store)))
    sys.addShutdownHook { shutdown(bin, rt); spark.stop() }
    Thread.currentThread().join() // serve until killed
  }

  /** Stop serving, then make every acked write durable. Closing the server
    * first means no reply can be acked after the flush; the write lock
    * waits out a dispatch still running, so its row is flushed too.
    */
  private[server] def shutdown(bin: ZestWireServer, rt: WireRuntime): Unit = {
    bin.close()
    val l = rt.rw.writeLock()
    l.lock()
    try rt.engine.flush() finally l.unlock()
  }
}
