package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.server.ZmtpCurve

/** Round-13 fixes: the r12 ADVICE items (notify-path GC, AEAD counter
  * ordering, sweep fast path). The dead-connection notify-path case runs
  * over ZMTP in ZestWireServerSpec.
  */
class Round13OpsSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  test("dropNotify is a no-op for subscription uuids and frees callback paths") {
    val engine = new GraftEngine(spark, () => 1L)
    assert(engine.notifyRegister("/notification/response/a").isRight)
    assert(engine.notifyRegister("/notification/response/a").isLeft)
    engine.dropNotify("/notification/response/a")
    assert(engine.notifyRegister("/notification/response/a").isRight)
    // unknown ident: harmless
    engine.dropNotify("not-a-path")
  }

  test("AEAD open failure does not desync the receive counter") {
    val serverKeys = ZmtpCurve.generate()
    val hs = new ZmtpCurve.ServerHandshake(serverKeys)
    val chs = new ZmtpCurve.ClientHandshake(ZmtpCurve.generate(), serverKeys.publicRaw)
    val (initiate, cont) = chs.onWelcome(hs.onHello(chs.hello()))
    val (ready, server, _, _) = hs.onInitiate(initiate)
    val (client, _) = cont(ready)
    val sealed1 = client.sealMessage(0, "frame-one".getBytes("UTF-8"))
    val garbage = sealed1.clone()
    garbage(garbage.length - 1) = (garbage(garbage.length - 1) ^ 0x5a).toByte
    intercept[javax.crypto.AEADBadTagException] { server.openMessage(garbage) }
    // the genuine message still opens at the SAME nonce (r12: a failed
    // open that advanced the counter garbled every later message for any
    // caller that catches and continues)
    assert(new String(server.openMessage(sealed1)._2, "UTF-8") === "frame-one")
    val sealed2 = client.sealMessage(0, "frame-two".getBytes("UTF-8"))
    assert(new String(server.openMessage(sealed2)._2, "UTF-8") === "frame-two")
  }

  test("sweepDue gates the expiry sweep: exact false, heals after sweep") {
    var now = 1700000000000L
    val engine = new GraftEngine(spark, () => now)
    assert(!engine.sweepDue(now)) // nothing registered
    engine.observe("/ts/a/*", maxAgeSec = 10L)
    engine.observe("/ts/b/*", maxAgeSec = 0L) // never expires
    assert(!engine.sweepDue(now + 9999L))
    assert(engine.sweepDue(now + 10000L))
    now += 10001L
    assert(engine.sweepExpired(now).size === 1)
    // bound re-tightened: only the never-expiring sub remains
    assert(!engine.sweepDue(now + 100000000L))
    assert(engine.subsSnapshot.map(_.path) === Seq("/ts/b/*"))
  }

  test("rerankIndexed: a vector deleted from the raw store cannot resurface via a stale shortlist") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = tempDir("graft-rrk-spec").getAbsolutePath
    val (coded, raw) = (base + "/pq", base + "/raw")
    // 40 deterministic 16-dim vectors with enough structure for PQ
    val emb = spark.range(40L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), j =>
        (pmod(xxhash64(col("id") * 131L + j.cast("long")), lit(1000L))
          .cast("double") / 500.0 - 1.0)).as("embedding"))
    Similarity.writePqIndex(emb, coded, m = 4, k = 4)
    Similarity.writeIvfIndex(emb, raw, nCells = 4)
    val q = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val before = Similarity.rerankIndexed(spark, coded, raw, q,
      nShortlist = 10, k = 5).collect()
    assert(before.nonEmpty)
    // doom a vector that IS in some result — the self-match is always there
    val doomedId = before.map(_.getLong(1)).head
    Similarity.deleteFromIvf(spark, raw,
      emb.filter(col("vec_id") === doomedId).select("vec_id"))
    // the CODED index still shortlists it (stale) — the raw-side mask
    // must keep it out of the final ranking anyway
    val after = Similarity.rerankIndexed(spark, coded, raw, q,
      nShortlist = 10, k = 5).collect()
    assert(!after.exists(_.getLong(1) == doomedId))
    assert(after.nonEmpty)
  }

  test("rerankIndexed's raw read prunes to the shortlist's cell partitions") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = tempDir("graft-rrkp-spec").getAbsolutePath
    val (coded, raw) = (base + "/pq", base + "/raw")
    val emb = spark.range(64L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), j =>
        (pmod(xxhash64(col("id") * 137L + j.cast("long")), lit(1000L))
          .cast("double") / 500.0 - 1.0)).as("embedding"))
    Similarity.writePqIndex(emb, coded, m = 4, k = 4)
    Similarity.writeIvfIndex(emb, raw, nCells = 8)
    val q = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.rerankIndexed(spark, coded, raw, q, nShortlist = 6, k = 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"raw rerank scan reads every cell partition:\n$plan")
    assert(out.count() > 0)
  }
}
