package fintxbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.functions.Fpe

/** Outcome of checking committed lake rows against the generator. */
final case class IngestCheck(expected: Long, wrong: Long)

/** Checks every ingested record against the generator's ground truth,
  * outside the timed window: fact or dead letter, error label, every
  * fact field, the mask, and a decrypt round-trip of the token through
  * `Fpe.decrypt`, the kernel behind `FpeFunctions.fpeDecrypt`.
  *
  * Both tables are read back once through the catalog and compared in
  * this JVM; a record counts wrong if it is lost, duplicated, lands in
  * the wrong table or differs in any field.
  */
object Verify {
  /** `truth`: the records that went through the pipeline. */
  def ingest(spark: SparkSession, truth: Seq[Txn]): IngestCheck = {
    val facts = truth.iterator.filter(_.isFact).map(t => t.id -> t).toMap
    val dead = truth.iterator.filterNot(_.isFact).map(t => t.line -> t).toMap
    var wrong = 0L

    val seenFact = mutable.HashSet[String]()
    spark.table("graft_cat.lake.fact").collect().foreach { r =>
      val id = r.getAs[String]("transaction_id")
      facts.get(id) match {
        case Some(t) if seenFact.add(id) => if (!factOk(t, r)) wrong += 1
        case _ => wrong += 1 // unexpected, duplicated or a dead letter in the fact table
      }
    }
    wrong += facts.size - seenFact.size

    val seenDead = mutable.HashSet[String]()
    spark.table("graft_cat.lake.dlq").collect().foreach { r =>
      val raw = r.getAs[String]("raw_message")
      dead.get(raw) match {
        case Some(t) if seenDead.add(raw) => if (!deadOk(t, r)) wrong += 1
        case _ => wrong += 1
      }
    }
    wrong += dead.size - seenDead.size
    IngestCheck(facts.size.toLong + dead.size, wrong)
  }

  private def factOk(t: Txn, r: Row): Boolean = {
    def l(c: String): Any = if (r.isNullAt(r.fieldIndex(c))) null else r.getAs[Any](c)
    val token = r.getAs[String]("card_token")
    // the token is the PAN's cipher zero-padded to 16 digits: strip the
    // padding to the PAN's length and decrypt
    val tokenOk =
      if (t.pan == null) token == null
      else token != null && token.length == math.max(t.pan.length, 16) &&
        Fpe.decrypt(Lake.FpeKey, token.substring(token.length - t.pan.length)) == t.pan
    l("customer_id") == t.customerId && l("amount") == t.amount &&
      l("tax_amount") == t.tax && l("discount_amount") == t.discount &&
      l("total_amount") == t.total && l("transaction_channel") == t.channel &&
      l("is_recurring") == (if (t.recurring) 1 else 0) &&
      l("transaction_datetime") == t.datetime && l("masked_card_number") == t.masked &&
      l("payment_gateway_id") == (if (t.gateway == 0) null else t.gateway) &&
      l("risk_score") == t.risk && tokenOk
  }

  private def deadOk(t: Txn, r: Row): Boolean = {
    val id = r.getAs[String]("transaction_id")
    val idOk = t.kind match {
      case Kind.MissingId => id == null
      // a truncated payload may or may not still yield its id
      case Kind.Malformed => id == null || id == t.id
      case _ => id == t.id
    }
    idOk && r.getAs[String]("error") == t.error && r.getAs[String]("timestamp") != null
  }
}
