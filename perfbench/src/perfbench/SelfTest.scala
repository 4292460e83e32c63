package perfbench

/** Tests of the benchmark's own pieces (no Spark, no server):
  * `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val f = Gen.fleet(7, 32, 16)
    def schedules(seed: Long) = {
      val fs = Gen.fleet(seed, 32, 16)
      Seq(Gen.ingestSchedule(seed, fs, 150, 10, 0.2, 2, "ingest"),
        Gen.ingestSchedule(seed, fs, 512, 1, 0.0, 2, "ingest-burst"),
        Gen.ingestReadback(seed, fs, 2))
    }

    check("same seed gives a byte-identical schedule") {
      schedules(7).map(Gen.render).zip(schedules(7).map(Gen.render))
        .forall { case (a, b) => java.util.Arrays.equals(a, b) }
    }
    check("another seed gives another schedule") {
      schedules(7).map(Gen.render).zip(schedules(8).map(Gen.render))
        .forall { case (a, b) => !java.util.Arrays.equals(a, b) }
    }
    check("same seed gives the same fleet") {
      f == Gen.fleet(7, 32, 16) && f != Gen.fleet(8, 32, 16)
    }
    check("each sensor and KV cell rides one connection") {
      Gen.ingestSchedule(7, f, 150, 10, 0.2, 2, "ingest").groupBy(_.path)
        .forall { case (_, qs) => qs.map(_.conn).distinct.size == 1 }
    }
    check("a schedule has its exact count of each kind, in due order, inside its span") {
      Seq(7L, 8L, 9L).forall { seed =>
        val s = Gen.ingestSchedule(seed, f, 150, 10, 0.2, 2, "ingest")
        s.size == 150 && s.count(_.cls == "kv_post") == 30 &&
          s.count(q => f.observed.exists(o => q.path == s"/ts/$o")) == 60 &&
          s.map(_.dueNs) == s.map(_.dueNs).sorted && s.forall(q => q.dueNs >= 0 && q.dueNs < 10000000000L)
      }
    }

    check("tail rule: p99 needs 1000 samples, p95 needs 200") {
      Stats.tail((1 to 999).map(_.toDouble), 99).isEmpty &&
        Stats.tail((1 to 1000).map(_.toDouble), 99).contains(990.0) &&
        Stats.tail((1 to 199).map(_.toDouble), 95).isEmpty &&
        Stats.tail((1 to 200).map(_.toDouble), 95).contains(190.0)
    }
    check("median and union coverage") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 &&
        Stats.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L
    }

    // the model checks, on replies built from the acked writes
    def post(v: Double, tag: String) = s"""{"value": ${Gen.fmt(v)}, "room": "$tag"}"""
    val posts = Map("a" -> Seq(post(1.5, "red-1"), post(2.5, "blue-1"), post(4.0, "red-1")),
      "b" -> Seq(post(7.0, "red-2")))
    val tagOf = Map("a" -> "room", "b" -> "room")
    def recs(vs: Double*) = vs.zipWithIndex.map { case (v, i) =>
      s"""{"timestamp": ${100 - i}, "data": {"value": ${Gen.fmt(v)}}}"""
    }.mkString("[", ", ", "]")
    def readback(path: String, body: String) = IngestModel.checkReadback(path, body, posts, tagOf)
    check("model: latest and last/n are the newest acked writes") {
      readback("/ts/a/latest", recs(4.0)).isEmpty && readback("/ts/a/latest", recs(2.5)).nonEmpty &&
        readback("/ts/a/last/2", recs(4.0, 2.5)).isEmpty &&
        readback("/ts/a/last/2", recs(2.5, 4.0)).nonEmpty
    }
    check("model: length counts every acked write, since/0 returns them all") {
      readback("/ts/a,b/length", """{"length": 4}""").isEmpty &&
        readback("/ts/a,b/length", """{"length": 3}""").nonEmpty &&
        readback("/ts/a/since/0", recs(4.0, 2.5, 1.5)).isEmpty &&
        readback("/ts/a/since/0", recs(4.0, 2.5)).nonEmpty
    }
    check("model: aggregates recomputed client-side, within tolerance") {
      readback("/ts/a/since/0/mean", s"""{"result": ${8.0 / 3}}""").isEmpty &&
        readback("/ts/a/since/0/mean", """{"result": 2.68}""").nonEmpty &&
        readback("/ts/a/since/0/median", """{"result": 2.5}""").isEmpty &&
        readback("/ts/a/since/0/filter/room/equals/red-1/count", """{"result": 2}""").isEmpty &&
        readback("/ts/a/since/0/filter/room/equals/red-1/count", """{"result": 3}""").nonEmpty &&
        readback("/ts/b/since/0/sd", "{}").isEmpty
    }
    check("model: latest over all sensors is each sensor's last acked value") {
      val want = IngestModel.latest(Seq("a" -> 1.5, "b" -> 7.0, "a" -> 4.0))
      IngestModel.checkLatest(recs(7.0, 4.0), want).isEmpty &&
        IngestModel.checkLatest(recs(7.0, 1.5), want).nonEmpty
    }
    check("model: pushes must match a POST on an observed path") {
      val post = new Sent("c0", Gen.Req(0, 0, 2, "/ts/a", """{"value": 1}""", "ts_post"), 0, 1)
      val (m, bad) = IngestModel.matchPushes(Seq(5L -> """17 /ts/a json {"value": 1}""",
        6L -> """18 /ts/b json {"value": 1}"""), Seq(post), Set("/ts/a"))
      m.map(_._2) == Seq(post) && bad.size == 1
    }

    println(if (failures == 0) "ALL OK" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
