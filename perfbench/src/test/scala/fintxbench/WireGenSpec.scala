package fintxbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class WireGenSpec extends AnyFunSuite {

  test("the same seed gives the same bytes, however records are batched") {
    val a = new WireGen(7, Mix.ingest).batch(0, 2000)._2
    val b = new WireGen(7, Mix.ingest).batch(0, 2000)._2
    assert(a.sameElements(b))
    val g = new WireGen(7, Mix.ingest)
    assert((g.batch(0, 1200)._2 ++ g.batch(1200, 800)._2).sameElements(a))
    assert(!new WireGen(8, Mix.ingest).batch(0, 2000)._2.sameElements(a))
  }

  test("record kinds come out in the declared shares") {
    val n = 100000
    val truth = new WireGen(11, Mix.ingest).records(0, n)
    val counts = truth.groupBy(_.kind).map { case (k, v) => k -> v.length.toDouble / n }
    Kind.all.foreach { k =>
      assert(math.abs(counts.getOrElse(k, 0.0) - Mix.ingest.share(k)) < 0.005, s"$k")
    }
  }

  test("each kind has the wire shape its outcome depends on") {
    val g = new WireGen(3, Mix.ingest)
    val recs = (0L until 5000L).map(g.record)
    def of(k: Kind) = recs.filter(_._1.kind == k)
    Kind.all.foreach(k => assert(of(k).nonEmpty, s"no $k"))
    of(Kind.Card).foreach { case (t, l) =>
      assert(t.pan.length >= 13 && t.pan.length <= 19)
      assert(l.contains(s""""card_number":{"string":"${t.pan}"}"""))
    }
    of(Kind.BadPan).foreach { case (t, _) => assert(Set(12, 20).contains(t.pan.length)) }
    of(Kind.Cardless).foreach { case (t, l) =>
      assert(t.pan == null && l.contains(""""card_number":null""") &&
        l.contains(""""payment_gateway_id":null"""))
    }
    of(Kind.BareScalar).foreach { case (t, l) =>
      assert(l.contains(s""""card_number":"${t.pan}"""") &&
        l.contains(s""""payment_gateway_id":${t.gateway},"""))
    }
    of(Kind.MissingId).foreach { case (t, l) =>
      assert(t.id == null && !l.contains("transaction_id"))
    }
    of(Kind.Malformed).foreach { case (_, l) => assert(!l.endsWith("}")) }
    // the reference's full wire shape: fields the pipeline drops are sent too
    Seq("account_id", "merchant_id", "merchant_category_code_id", "card_bin",
      "card_provider", "cardholder_name", "card_expiry_date", "device_type_id",
      "ip_address").foreach(f => assert(of(Kind.Card).head._2.contains(s""""$f":""")))
  }

  test("the schedule holds while the consumer is stalled") {
    val dir = Files.createTempDirectory("wiregen-spec")
    try {
      val staging = Files.createDirectories(dir.resolve("staging"))
      val landing = Files.createDirectories(dir.resolve("landing"))
      // a consumer that never reads: it holds the landing directory's
      // monitor for the whole run
      val stalled = new Object
      val consumer = new Thread(() => stalled.synchronized(Thread.sleep(1500)))
      consumer.start()
      val g = new WireGen(5, Mix.ingest)
      val start = Clock.nowMs + 50
      val landedAt = new Array[Double](40)
      val late = WireGen.openLoop(start, 25.0, 40) { k =>
        landedAt(k) = WireGen.land(staging, landing, f"f$k%03d.json", g.batch(k * 100L, 100)._2)
      }
      consumer.join()
      assert(landing.toFile.list().length == 40)
      assert(Bench.pct(late.toSeq, 99) < 20, late.mkString(","))
      landedAt.zipWithIndex.foreach { case (t, k) => assert(t >= start + 25.0 * k - 1) }
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
