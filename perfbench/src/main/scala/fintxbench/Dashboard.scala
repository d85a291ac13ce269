package fintxbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.load.DimLoader

/** A dashboard tile query with its filter values drawn from the seed. */
final case class Tile(shape: String, d0: String, d1: String, channel: Option[String],
    state: String) {
  private def range(p: String) =
    s"${p}transaction_datetime >= '$d0' AND ${p}transaction_datetime < '$d1'" +
      channel.map(c => s" AND ${p}transaction_channel = '$c'").getOrElse("")

  /** The SQL a dashboard sends (SURVEY §2.4 A1–A8). */
  def sql: String = shape match {
    case "stats" =>
      s"""SELECT count(*) AS n, sum(total_amount) AS revenue, avg(amount) AS avg_amount,
         | avg(is_recurring) AS recurring_share, count_if(risk_score >= 0.6) AS high_risk,
         | avg(risk_score) AS avg_risk
         |FROM graft_cat.lake.fact WHERE ${range("")}""".stripMargin
    case "trend" =>
      s"""SELECT substr(transaction_datetime, 1, 7) AS month, count(*) AS n,
         | sum(total_amount) AS revenue
         |FROM graft_cat.lake.fact WHERE ${range("")} GROUP BY 1""".stripMargin
    case "channel" =>
      s"""SELECT transaction_channel, count(*) AS n, sum(total_amount) AS revenue,
         | count(*) / sum(count(*)) OVER () AS share
         |FROM graft_cat.lake.fact WHERE ${range("")} GROUP BY 1""".stripMargin
    case "state_risk" =>
      s"""SELECT c.state, count(*) AS n, avg(f.risk_score) AS avg_risk,
         | sum(f.total_amount) AS revenue
         |FROM graft_cat.lake.fact f JOIN dim_customer c ON f.customer_id = c.customer_id
         |WHERE ${range("f.")} GROUP BY c.state""".stripMargin
    case "top_gateways" =>
      s"""SELECT g.payment_gateway_name, count(*) AS n, sum(f.total_amount) AS revenue
         |FROM graft_cat.lake.fact f
         |JOIN dim_payment_gateway g ON f.payment_gateway_id = g.payment_gateway_id
         |WHERE ${range("f.")} GROUP BY 1 ORDER BY revenue DESC LIMIT 5""".stripMargin
    case "top_customers" =>
      s"""SELECT f.customer_id, count(*) AS n, sum(f.total_amount) AS revenue
         |FROM graft_cat.lake.fact f JOIN dim_customer c ON f.customer_id = c.customer_id
         |WHERE c.state = '$state' AND ${range("f.")}
         |GROUP BY 1 ORDER BY revenue DESC LIMIT 10""".stripMargin
  }

  def readsCustomers: Boolean = shape == "state_risk" || shape == "top_customers"

  /** Top-N tiles are compared as a ranked set; the rest as a keyed map. */
  def topN: Int = shape match {
    case "top_gateways" => 5
    case "top_customers" => 10
    case _ => 0
  }

  private def inRange(t: Txn) = t.datetime >= d0 && t.datetime < d1 &&
    channel.forall(_ == t.channel)

  /** The tile computed over ground-truth rows, without Spark: key → values
    * in the column order of [[sql]]. */
  def reference(rows: Iterator[Txn]): Map[String, Seq[Double]] = {
    val sel = rows.filter(inRange).toVector
    def agg(g: Vector[Txn]) = Seq(g.size.toDouble, g.map(_.total).sum)
    shape match {
      case "stats" =>
        def avg(xs: Vector[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
        Map("" -> Seq(sel.size.toDouble, if (sel.isEmpty) Double.NaN else sel.map(_.total).sum,
          avg(sel.map(_.amount)), avg(sel.map(t => if (t.recurring) 1.0 else 0.0)),
          sel.count(_.risk >= 0.6).toDouble, avg(sel.map(_.risk))))
      case "trend" => sel.groupBy(_.datetime.take(7)).map { case (k, g) => k -> agg(g) }
      case "channel" => sel.groupBy(_.channel).map { case (k, g) =>
        k -> (agg(g) :+ g.size.toDouble / sel.size) }
      case "state_risk" => sel.groupBy(t => WireGen.stateOf(t.customerId)).map { case (k, g) =>
        k -> Seq(g.size.toDouble, g.map(_.risk).sum / g.size, g.map(_.total).sum) }
      case "top_gateways" => sel.filter(_.gateway > 0).groupBy(_.gateway).map { case (k, g) =>
        WireGen.Gateways((k - 1).toInt) -> agg(g) }
      case "top_customers" =>
        sel.filter(t => WireGen.stateOf(t.customerId) == state).groupBy(_.customerId)
          .map { case (k, g) => k.toString -> agg(g) }
    }
  }

  /** Whether Spark's rows equal the reference. Keyed tiles must match
    * exactly in keys; top-N tiles must return the reference's top-N
    * revenues, each row with its key's true values. */
  def matches(rows: Array[Row], ref: Map[String, Seq[Double]]): Boolean = {
    def key(r: Row) = if (shape == "stats") "" else String.valueOf(r.get(0))
    def vals(r: Row) = (if (shape == "stats") 0 else 1).until(r.length).map { i =>
      if (r.isNullAt(i)) Double.NaN else r.get(i) match {
        case n: java.lang.Number => n.doubleValue
        case d: java.math.BigDecimal => d.doubleValue
      }
    }
    def close(a: Double, b: Double) =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    def same(a: Seq[Double], b: Seq[Double]) =
      a.length == b.length && a.zip(b).forall { case (x, y) => close(x, y) }
    val got = rows.map(r => key(r) -> vals(r))
    if (topN == 0) got.length == ref.size && got.forall { case (k, v) => ref.get(k).exists(same(v, _)) }
    else {
      val want = ref.values.map(_(1)).toSeq.sortBy(-_).take(topN)
      got.length == want.length &&
        got.forall { case (k, v) => ref.get(k).exists(same(v, _)) } &&
        got.map(_._2(1)).zip(want).forall { case (a, b) => close(a, b) }
    }
  }
}

object Tile {
  val Shapes: Seq[String] =
    Seq("stats", "trend", "channel", "state_risk", "top_gateways", "top_customers")

  /** The seeded tile sequence of one dashboard client: the shapes in
    * turn, so every run carries the same mix, each with fresh filters. */
  def stream(seed: Long, client: Int): Iterator[Tile] = {
    val r = new Random(WireGen.mix64(seed * 131 + client))
    Iterator.from(client).map { k =>
      val start = WireGen.FirstDay.plusDays(r.nextInt(WireGen.Days - 60).toLong)
      val end = start.plusDays(60L + r.nextInt(WireGen.Days))
      val channels = WireGen.CardChannels ++ WireGen.CardlessChannels
      Tile(Shapes(k % Shapes.length), start.toString, end.toString,
        if (r.nextBoolean()) Some(channels(r.nextInt(channels.length))) else None,
        WireGen.States(r.nextInt(WireGen.States.length)))
    }
  }
}

/** The two dimensions the tiles join, as CSV uploads for `DimLoader`. */
object Dims {
  val CustomerSchema: String =
    """[{"name":"customer_id","type":"INT64","mode":"REQUIRED"},
      | {"name":"first_name","type":"STRING"}, {"name":"last_name","type":"STRING"},
      | {"name":"city","type":"STRING"}, {"name":"state","type":"STRING"},
      | {"name":"customer_segment","type":"STRING"}]""".stripMargin
  val GatewaySchema: String =
    """[{"name":"payment_gateway_id","type":"INT64","mode":"REQUIRED"},
      | {"name":"payment_gateway_name","type":"STRING"}]""".stripMargin

  /** Write the two CSVs under `dir`; returns (customer csv, gateway csv). */
  def write(dir: Path): (Path, Path) = {
    Files.createDirectories(dir)
    val segments = Seq("Mass", "Affluent", "Student", "Senior", "SME")
    val cust = (0 until WireGen.Customers).map { i =>
      val id = WireGen.CustomerBase + i
      s"$id,First$i,Last$i,City${i % 97},${WireGen.stateOf(id)},${segments(i % segments.length)}"
    }
    val gw = WireGen.Gateways.zipWithIndex.map { case (n, i) => s"${i + 1},$n" }
    val c = dir.resolve("dim_customer.csv")
    val g = dir.resolve("dim_payment_gateway.csv")
    Files.writeString(c, ("customer_id,first_name,last_name,city,state,customer_segment" +: cust)
      .mkString("", "\n", "\n"))
    Files.writeString(g, ("payment_gateway_id,payment_gateway_name" +: gw.toSeq)
      .mkString("", "\n", "\n"))
    (c, g)
  }

  def load(spark: SparkSession, files: (Path, Path)): Unit = {
    DimLoader.loadDim(spark, files._1.toString, CustomerSchema)
    DimLoader.loadDim(spark, files._2.toString, GatewaySchema)
    ()
  }
}
