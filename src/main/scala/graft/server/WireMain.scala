package graft.server

import org.apache.spark.sql.SparkSession

/** Runnable wire server: a durable engine (parquet-backed TS storage)
  * behind BOTH front-ends — the JSON-lines server and the binary
  * CoAP-framing [[ZestWireServer]] — the deployable analogue of the
  * reference's `server` binary. Configuration via env:
  * `GRAFT_WIRE_PORT` (default 5555 — zest's REQ/REP port, JSON lines),
  * `GRAFT_WIRE_BINARY_PORT` (default 5556 — zest frames over ZMTP 3.0,
  * NULL mechanism; zest's router port number),
  * `GRAFT_WIRE_SECURE=1` (optional: the binary port speaks the ZMTP
  * CURVE mechanism instead of NULL; the startup line publishes the
  * server's public key, the `--server-key` analogue. Secure mode also
  * DISABLES the plaintext JSON port — the reference encrypts both its
  * sockets — unless `GRAFT_WIRE_PLAINTEXT=1` explicitly opts back in),
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
    def port(env: String, default: Int): Int = {
      val s0 = sys.env.getOrElse(env, default.toString)
      s0.toIntOption.filter(p => p >= 0 && p <= 65535).getOrElse {
        System.err.println(s"$env must be a port number 0-65535, got: $s0")
        sys.exit(2)
      }
    }
    // ONE runtime across both front-ends: shared lock (engine state must
    // not race across ports) and shared observer registry (a write on
    // either port pushes to observers registered on the other)
    val rt = new WireRuntime(engine)
    val secure = sys.env.get("GRAFT_WIRE_SECURE").contains("1")
    // a "secure" deployment must not silently keep a full-capability
    // plaintext endpoint open on the next port (ADVICE r12): with
    // GRAFT_WIRE_SECURE=1 the JSON-lines port stays DOWN unless the
    // operator opts back in with GRAFT_WIRE_PLAINTEXT=1 — the reference
    // curve-encrypts both of its sockets
    val srv =
      if (plaintextEnabled(sys.env))
        Some(new WireServer(engine, port("GRAFT_WIRE_PORT", 5555),
          runtime = Some(rt)))
      else None
    val keys = if (secure) Some(SecureChannel.generateKeyPair()) else None
    val bin = new ZestWireServer(engine, port("GRAFT_WIRE_BINARY_PORT", 5556),
      serverKeys = keys, runtime = Some(rt))
    // emit via the JSON library — a store path with quotes/backslashes
    // (Windows) must still produce a valid JSON line for scrapers;
    // "port" is an EXPLICIT null when the plaintext front-end is disabled
    // (json4s would silently omit a None, breaking strict-key scrapers)
    import org.json4s.JsonDSL._
    val portField: org.json4s.JValue =
      srv.map(s => org.json4s.JInt(s.boundPort)).getOrElse(org.json4s.JNull)
    println(org.json4s.jackson.JsonMethods.compact(
      ("wire_server" -> "up") ~ ("port" -> portField) ~
        ("binary_port" -> bin.boundPort) ~
        ("server_key" -> keys.map(k => java.util.Base64.getEncoder
          .encodeToString(SecureChannel.rawPublic(k)))) ~
        ("store" -> store)))
    sys.addShutdownHook {
      engine.flush(); srv.foreach(_.close()); bin.close(); spark.stop()
    }
    Thread.currentThread().join() // serve until killed
  }

  /** The plaintext JSON port serves only when not secure, or when the
    * operator explicitly accepts the asymmetry (spec-pinned).
    */
  private[graft] def plaintextEnabled(env: Map[String, String]): Boolean =
    !env.get("GRAFT_WIRE_SECURE").contains("1") ||
      env.get("GRAFT_WIRE_PLAINTEXT").contains("1")
}
