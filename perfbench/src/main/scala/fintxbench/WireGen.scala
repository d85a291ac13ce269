package fintxbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Record kinds of the wire feed. Each maps to one fixed outcome of the
  * ingest pipeline, which is what makes the generator its own oracle.
  */
sealed abstract class Kind(val name: String)
object Kind {
  /** 13–19-digit PAN, Avro-union wrapped: a fact row with mask + token. */
  case object Card extends Kind("card")
  /** UPI / Net Banking row: null PAN, bin, provider and gateway. */
  case object Cardless extends Kind("cardless")
  /** 12- or 20-digit PAN: dead-letters as 'Invalid Card Number'. */
  case object BadPan extends Kind("bad_pan")
  /** Well-formed JSON without transaction_id: 'Missing transaction_id'. */
  case object MissingId extends Kind("missing_id")
  /** Truncated payload: 'Malformed JSON'. */
  case object Malformed extends Kind("malformed")
  /** Card row whose union fields arrive as bare scalars: a fact row, but
    * only through the pipeline's variant fallback arm. */
  case object BareScalar extends Kind("bare_scalar")
  val all: Seq[Kind] = Seq(Card, Cardless, BadPan, MissingId, Malformed, BareScalar)
}

/** Declared share of each record kind; shares sum to 1. */
final case class Mix(shares: Seq[(Kind, Double)]) {
  require(math.abs(shares.map(_._2).sum - 1.0) < 1e-9, s"mix must sum to 1: $shares")
  private val cumulative = shares.scanLeft(0.0)(_ + _._2).tail.zip(shares.map(_._1))
  def pick(u: Double): Kind = cumulative.find(u < _._1).map(_._2).getOrElse(shares.last._1)
  def share(k: Kind): Double = shares.find(_._1 == k).map(_._2).getOrElse(0.0)
}
object Mix {
  import Kind._
  /** Recovery backlog: mostly clean traffic, a few percent of each defect. */
  val ingest: Mix = Mix(Seq(Card -> 0.60, Cardless -> 0.25, BadPan -> 0.06,
    MissingId -> 0.03, Malformed -> 0.03, BareScalar -> 0.03))
}

/** What the pipeline must make of one record: a fact row or a dead letter. */
final case class Txn(
    seq: Long,
    kind: Kind,
    id: String,
    customerId: Long,
    amount: Double,
    tax: Double,
    discount: Double,
    total: Double,
    channel: String,
    recurring: Boolean,
    datetime: String,
    pan: String,
    gateway: Long,
    risk: Double,
    /** the wire line, kept only for dead-letter kinds (matched on raw_message) */
    line: String) {
  def isFact: Boolean = WireGen.isFactKind(kind)
  def error: String = kind match {
    case Kind.BadPan => "Invalid Card Number"
    case Kind.MissingId => "Missing transaction_id"
    case Kind.Malformed => "Malformed JSON"
    case _ => null
  }
  def masked: String = if (pan == null) null else pan.take(6) + "******" + pan.takeRight(4)
}

/** Seeded wire-record generator in the reference's full Avro-JSON shape
  * (FIXTURES.md §1): every field the publisher sends, including the ones
  * the pipeline drops, with nullable fields union-wrapped.
  *
  * Record `seq` of a stream is a pure function of (seed, seq), so the
  * same seed gives the same bytes however the records are batched.
  */
final class WireGen(seed: Long, val mix: Mix) {
  import WireGen._

  private def rng(seq: Long) = new SplittableRandom(mix64(seed * 0x9E3779B97F4A7C15L + seq))

  /** Record `seq` and its wire line. */
  def record(seq: Long): (Txn, String) = {
    val r = rng(seq)
    val kind = mix.pick(r.nextDouble())
    val id = hex(seed & 0xffff, 4) + hex(mix64(seq + 1), 16)
    val customer = CustomerBase + r.nextInt(Customers)
    val amount = cents(10 + r.nextDouble() * 49990)
    val tax = cents(amount * 0.125)
    val discount = if (r.nextInt(4) == 0) cents(amount * 0.05) else 0.0
    val total = cents(amount + tax - discount)
    val recurring = r.nextInt(10) == 0
    val datetime = dateTime(r)
    val carded = kind != Kind.Cardless
    val channel = if (carded) CardChannels(r.nextInt(CardChannels.length))
                  else CardlessChannels(r.nextInt(CardlessChannels.length))
    val panLen = kind match {
      case Kind.BadPan => if (r.nextBoolean()) 12 else 20
      case _ => 13 + r.nextInt(7)
    }
    val pan = if (carded) digits(r, panLen) else null
    val gateway = if (carded) 1L + r.nextInt(Gateways.length) else 0L
    val risk = math.round(r.nextDouble() * 1000) / 1000.0
    val bare = kind == Kind.BareScalar
    def wrap(member: String, v: String) = if (bare) v else s"""{"$member":$v}"""
    val cardFields =
      if (carded) {
        s""""card_number":${wrap("string", quote(pan))},""" +
        s""""card_bin":${wrap("string", quote(pan.take(6)))},""" +
        s""""card_provider":${wrap("string", quote(s"VISA $panLen digit"))},""" +
        s""""cardholder_name":"${Names(r.nextInt(Names.length))}",""" +
        s""""card_expiry_date":"${pad(1 + r.nextInt(12), 2)}/${26 + r.nextInt(6)}",""" +
        s""""payment_gateway_id":${wrap("int", gateway.toString)},"""
      } else
        """"card_number":null,"card_bin":null,"card_provider":null,""" +
        """"cardholder_name":null,"card_expiry_date":null,"payment_gateway_id":null,"""
    val idField = if (kind == Kind.MissingId) "" else s""""transaction_id":"$id","""
    val full =
      "{" + idField +
      s""""customer_id":$customer,"account_id":${500000000L + r.nextInt(1000000)},""" +
      s""""merchant_id":${1 + r.nextInt(37)},"merchant_category_code_id":${1 + r.nextInt(19)},""" +
      s""""is_recurring":$recurring,"transaction_datetime":"$datetime",""" +
      s""""amount":$amount,"tax_amount":$tax,"discount_amount":$discount,""" +
      s""""total_amount":$total,"transaction_channel":"$channel",""" +
      cardFields +
      s""""device_type_id":${1 + r.nextInt(8)},""" +
      s""""ip_address":"10.${(seq >> 16) & 255}.${(seq >> 8) & 255}.${seq & 255}",""" +
      s""""risk_score":$risk}"""
    // a truncated payload never closes its object, so it cannot parse
    val line = if (kind == Kind.Malformed) full.substring(0, full.length * 3 / 5) else full
    val t = Txn(seq, kind, if (kind == Kind.MissingId) null else id,
      customer, amount, tax, discount, total, channel, recurring, datetime, pan,
      gateway, risk, if (isFactKind(kind)) null else line)
    (t, line)
  }

  /** The ground truth of records `[from, from + n)`. */
  def records(from: Long, n: Int): Array[Txn] = Array.tabulate(n)(i => record(from + i)._1)

  /** Records `[from, from + n)` as one file body and their ground truth. */
  def batch(from: Long, n: Int): (Array[Txn], Array[Byte]) = {
    val sb = new java.lang.StringBuilder(n * 640)
    val out = new Array[Txn](n)
    var i = 0
    while (i < n) {
      val (t, line) = record(from + i)
      out(i) = t
      sb.append(line).append('\n')
      i += 1
    }
    (out, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object WireGen {
  val CustomerBase = 1000000L
  val Customers = 2000
  val CardChannels: Array[String] =
    Array("Online Payment Gateway", "POS Terminal", "Card Swipe", "Contactless")
  val CardlessChannels: Array[String] = Array("UPI", "Net Banking")
  val Gateways: Array[String] = Array("Razorpay", "Stripe", "CCAvenue", "Paytm",
    "BillDesk", "HDFC Bank", "ICICI Bank", "Atom", "MobiKwik", "Phone Pay")
  val States: Array[String] = Array("Maharashtra", "Karnataka", "Tamil Nadu",
    "Delhi", "Gujarat", "Uttar Pradesh", "West Bengal", "Rajasthan", "Kerala",
    "Telangana", "Punjab", "Bihar")
  private val Names = Array("Arjun Sharma", "Priya Nair", "Rahul Verma",
    "Ananya Iyer", "Vikram Singh", "Meera Das", "Karan Mehta", "Divya Rao")
  /** First day of the generated transaction range and its length. */
  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(2023, 7, 1)
  val Days = 580

  def isFactKind(k: Kind): Boolean = k == Kind.Card || k == Kind.Cardless || k == Kind.BareScalar

  /** The state of a customer; the dim_customer CSV and the dashboard
    * reference both read it from here. */
  def stateOf(customerId: Long): String =
    States(java.lang.Math.floorMod(mix64(customerId), States.length.toLong).toInt)

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pad(v: Int, width: Int): String = {
    val s = Integer.toString(v)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  private def hex(v: Long, width: Int): String = {
    val s = java.lang.Long.toHexString(v)
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  private def cents(v: Double): Double = math.round(v * 100) / 100.0
  private def quote(s: String) = "\"" + s + "\""
  private def digits(r: SplittableRandom, n: Int): String = {
    val c = new Array[Char](n)
    c(0) = ('1' + r.nextInt(9)).toChar
    var i = 1
    while (i < n) { c(i) = ('0' + r.nextInt(10)).toChar; i += 1 }
    new String(c)
  }
  private def dateTime(r: SplittableRandom): String = {
    val d = FirstDay.plusDays(r.nextInt(Days).toLong)
    s"${d}T${pad(r.nextInt(24), 2)}:${pad(r.nextInt(60), 2)}:${pad(r.nextInt(60), 2)}." +
      pad(r.nextInt(1000000), 6)
  }

  /** Write `body` under `staging`, then rename it into `landing` in one
    * atomic step, so the file source never lists a partial file. Returns
    * the [[Clock]] time right after the rename.
    */
  def land(staging: Path, landing: Path, name: String, body: Array[Byte]): Double = {
    val tmp = staging.resolve(name)
    Files.write(tmp, body)
    Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    Clock.nowMs
  }

  /** Open loop: call `send(k)` for each k in `0 until n` at
    * `start + k * intervalMs`, whatever the consumer is doing, and return
    * how late each call began against that schedule (ms). */
  def openLoop(start: Double, intervalMs: Double, n: Int)(send: Int => Unit): Array[Double] = {
    val late = new Array[Double](n)
    for (k <- 0 until n) {
      val due = start + k * intervalMs
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      late(k) = math.max(0.0, Clock.nowMs - due)
      send(k)
    }
    late
  }
}
