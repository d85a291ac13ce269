package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.RunOnce.materialize
import graft.Tables

/** Deterministic columnar data generators — the engine's re-expression of
  * the reference's Python generator processes (SURVEY §7 module `gen`):
  *
  *   - accounts from customers with the segment / account-type / status
  *     ladders and the J1 constraint `open_date_id >= signup_date_id`
  *     (generate_dim_account_data.py:34-63,142-177);
  *   - fact transactions from orders x generated accounts with the
  *     recurring gate, channel / gateway / device / risk ladders, the
  *     amount rules keyed on account type, tax/discount/total money
  *     arithmetic, and the J2 constraint `txn_ts in [open, close]`
  *     (generate_fact_transactions_data.py:100-223).
  *
  * Python's `random` is replaced by keyed integer hashes (Knuth multiply
  * mod 1e9+7, one salt per drawn column) and all money math runs in
  * integer cents — every expression is plain 64-bit arithmetic + CASE,
  * valid verbatim in BOTH Spark SQL and DuckDB, so the oracle reproduces
  * the full generated tables bit-for-bit. Distribution *semantics* (not
  * Python's exact sequences) are what is reproduced — asserted in
  * GeneratorsSpec.
  *
  * Conscious deviations from the reference, as SURVEY §7 flags:
  *   - the dead payment-gateway branches (`r_pg < 0.20` tested after
  *     `r_pg < 0.30`, generate_fact_transactions_data.py:163-171, so
  *     Stripe/BillDesk are unreachable) are FIXED to the intended
  *     30/20/10/40 split;
  *   - `datetime.now()` as the open-ended close date becomes the fixed
  *     horizon 2025-01-01 so runs are reproducible.
  *
  * Scale shape: both generators are single narrow projections (plus one
  * equi-join fact→accounts on customer_id, broadcastable when dims are
  * small) — no shuffle beyond the join, linear in input splits.
  */
object Generators {

  val AccountIdBase = 500025171L // reference main(): last_account_id
  val BaseEpoch = 1672531200L    // 2023-01-01T00:00:00Z (BASE_DATE)
  val HorizonEpoch = 1735689600L // 2025-01-01T00:00:00Z (TX_END stand-in)
  val OpenEndDay = 730L          // 2024-12-31 as days since BASE_DATE

  /** Keyed pseudo-uniform BIGINT in [0, 1e9+7): overflow-safe Knuth
    * multiply of the row key, decorrelated per drawn column by `salt`.
    */
  def r(key: String, salt: Int): String =
    s"((($key % 2147483647) * 2654435761 + ${salt.toLong * 40503L}) % 1000000007)"

  /** Cumulative CASE ladder over weights in percent (scaled to 1e7/pct). */
  private def ladder(rExpr: String, weighted: Seq[(String, Int)]): String = {
    val branches = weighted.init.scanLeft(("", 0L)) {
      case ((_, cum), (v, w)) => (v, cum + w * 10000000L)
    }.tail.map { case (v, cum) => s"WHEN $rExpr < $cum THEN '$v'" }
    s"(CASE ${branches.mkString(" ")} ELSE '${weighted.last._1}' END)"
  }

  /** Uniform pick from a small list (CASE over r % n). */
  private def pick(rExpr: String, vals: Seq[String], quote: Boolean = true): String = {
    val q = if (quote) (s: String) => s"'$s'" else identity[String] _
    val branches = vals.init.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN ${q(v)}" }
    s"(CASE ($rExpr % ${vals.size}) ${branches.mkString(" ")} ELSE ${q(vals.last)} END)"
  }

  /** Exact integer floor-division a/b for non-negative a < 2^53, b > 0 —
    * portable (Spark DIV vs DuckDB // differ; floor over double division
    * is exact in this range, see scaladoc maths).
    */
  private def idiv(a: String, b: String): String =
    s"CAST(floor(($a) / ($b)) AS BIGINT)"

  // segment distribution, generate_dim_account_data.py:49-60
  val segmentWeights: Seq[(String, Int)] = Seq(
    "Retail Banking" -> 45,
    "Mass Affluent" -> 15,
    "High Net Worth Individuals (HNWIs)" -> 2,
    "SMEs" -> 5,
    "Corporate Clients" -> 8,
    "NRIs" -> 5,
    "Agriculture and Rural Banking" -> 5,
    "Government and Institutional Banking" -> 4,
    "Young Professionals" -> 8,
    "Retirees" -> 3)

  // account types per segment, generate_dim_account_data.py:35-46
  val segmentTypes: Seq[(String, Seq[String])] = Seq(
    "Retail Banking" -> Seq("Basic Savings Account", "Basic Credit Card", "Basic Debit Card"),
    "Mass Affluent" -> Seq("High-Yield Savings Account", "Premium Credit Card", "Premium Debit Card"),
    "High Net Worth Individuals (HNWIs)" -> Seq("Private Banking Account", "Business Credit Card"),
    "SMEs" -> Seq("Business Current Account", "Merchant Services Account"),
    "Corporate Clients" -> Seq("Corporate Current Account", "Treasury Services Account"),
    "NRIs" -> Seq("NRE Account", "NRO Account", "FCNR Account"),
    "Agriculture and Rural Banking" -> Seq("Basic Savings Account Rural", "Kisan Credit Card", "Kisan Debit Card"),
    "Government and Institutional Banking" -> Seq("Government Current Account", "Corporate Current Account"),
    "Young Professionals" -> Seq("Salary Account", "Entry-Level Debit Card"),
    "Retirees" -> Seq("Senior Citizen Savings Scheme Account", "Pension Account"))

  /** Layered (alias → expr) select fragments for the accounts generator,
    * shared verbatim by the Spark plan and the DuckDB oracle. Key column:
    * c_custkey.
    */
  def accountLayers: Seq[Seq[(String, String)]] = {
    val key = "c_custkey"
    Seq(
      // draws
      Seq(
        "customer_id" -> key,
        "r_seg" -> r(key, 1), "r_signup" -> r(key, 2), "r_type" -> r(key, 3),
        "r_open" -> r(key, 4), "r_status" -> r(key, 5), "r_close" -> r(key, 6)),
      // segment + signup
      Seq(
        "customer_id" -> "customer_id",
        "account_id" -> s"($AccountIdBase + customer_id)",
        "customer_segment" -> ladder("r_seg", segmentWeights),
        "signup_date_id" -> "(r_signup % 500)",
        "r_type" -> "r_type", "r_open" -> "r_open",
        "r_status" -> "r_status", "r_close" -> "r_close"),
      // type / open (J1: open >= signup) / status
      Seq(
        "customer_id" -> "customer_id",
        "account_id" -> "account_id",
        "customer_segment" -> "customer_segment",
        "signup_date_id" -> "signup_date_id",
        "account_type" -> {
          val branches = segmentTypes.init.map { case (seg, types) =>
            s"WHEN '$seg' THEN ${pick("r_type", types)}"
          }
          s"(CASE customer_segment ${branches.mkString(" ")} ELSE ${pick("r_type", segmentTypes.last._2)} END)"
        },
        "open_date_id" ->
          s"(signup_date_id + r_open % greatest($OpenEndDay - signup_date_id, 1))",
        "account_status" ->
          ladder("r_status", Seq("Open" -> 85, "Closed" -> 10, "Suspended" -> 5)),
        "r_close" -> "r_close"),
      // close (only when Closed; in (open, OpenEndDay])
      Seq(
        "account_id" -> "account_id",
        "customer_id" -> "customer_id",
        "customer_segment" -> "customer_segment",
        "signup_date_id" -> "signup_date_id",
        "account_type" -> "account_type",
        "open_date_id" -> "open_date_id",
        "account_status" -> "account_status",
        "close_date_id" -> ("(CASE WHEN account_status = 'Closed' THEN " +
          s"open_date_id + 1 + r_close % ($OpenEndDay - open_date_id) END)")))
  }

  // ---- dim_customer (generate_dim_cust_data.py:53-100) ----------------
  // Faker('en_IN') name/address/location pools become small fixed pools
  // drawn by keyed hash — distribution semantics, not Python sequences.

  val firstNames: Seq[String] = Seq(
    "Aarav", "Vivaan", "Aditya", "Arjun", "Sai", "Reyansh", "Krishna",
    "Ishaan", "Rohan", "Kabir", "Ananya", "Diya", "Aadhya", "Saanvi",
    "Pari", "Anika", "Navya", "Myra", "Sara", "Isha", "Rahul", "Priya",
    "Amit", "Sneha", "Vikram", "Pooja", "Rajesh", "Kavya", "Suresh", "Meera")

  val lastNames: Seq[String] = Seq(
    "Sharma", "Verma", "Gupta", "Mehta", "Patel", "Reddy", "Nair", "Iyer",
    "Singh", "Kumar", "Das", "Bose", "Chatterjee", "Banerjee", "Joshi",
    "Desai", "Kulkarni", "Shetty", "Menon", "Pillai", "Agarwal", "Bhat",
    "Chopra", "Dutta", "Ghosh", "Jain", "Kapoor", "Malhotra", "Rao", "Saxena")

  val streetNames: Seq[String] = Seq(
    "MG Road", "Station Road", "Gandhi Nagar", "Nehru Street", "Park Street",
    "Brigade Road", "Linking Road", "Anna Salai", "Rajpath Lane", "Mall Road",
    "Church Street", "Hill Road", "Lake View Road", "Ring Road", "Temple Street")

  /** (city, state, pincode) — the reference reads these from its
    * city_state_pincode_data.json; a fixed 20-entry pool keeps the pick
    * semantics (one aligned row per draw).
    */
  val locations: Seq[(String, String, String)] = Seq(
    ("Mumbai", "Maharashtra", "400001"), ("Delhi", "Delhi", "110001"),
    ("Bengaluru", "Karnataka", "560001"), ("Hyderabad", "Telangana", "500001"),
    ("Ahmedabad", "Gujarat", "380001"), ("Chennai", "Tamil Nadu", "600001"),
    ("Kolkata", "West Bengal", "700001"), ("Pune", "Maharashtra", "411001"),
    ("Jaipur", "Rajasthan", "302001"), ("Surat", "Gujarat", "395001"),
    ("Lucknow", "Uttar Pradesh", "226001"), ("Kanpur", "Uttar Pradesh", "208001"),
    ("Nagpur", "Maharashtra", "440001"), ("Indore", "Madhya Pradesh", "452001"),
    ("Bhopal", "Madhya Pradesh", "462001"), ("Patna", "Bihar", "800001"),
    ("Vadodara", "Gujarat", "390001"), ("Ludhiana", "Punjab", "141001"),
    ("Kochi", "Kerala", "682001"), ("Visakhapatnam", "Andhra Pradesh", "530001"))

  /** Aligned pick: the SAME index expression selects city, state and
    * pincode so the triple stays consistent (the reference picks one
    * location dict per record).
    */
  private def pickAt(idxExpr: String, vals: Seq[String]): String = {
    val branches = vals.init.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '$v'" }
    s"(CASE $idxExpr ${branches.mkString(" ")} ELSE '${vals.last}' END)"
  }

  /** Layered fragments for the customer-dimension generator
    * (generate_dim_cust_data.py:53-100): name pools, name-derived email,
    * Indian-format phone, DOB 18-70 years before BASE_DATE, signup date
    * in (2023-01-01, 2024-12-31], 75/10/10/5 status ladder, the shared
    * segment ladder, and a consistent city/state/pincode triple.
    * Key column: c_custkey. Conscious deviation: customer_id stays
    * c_custkey (not the reference's 1968022735 sequence base) so the
    * accounts/fact generators join on the same key space.
    */
  def customerLayers: Seq[Seq[(String, String)]] = {
    val key = "c_custkey"
    Seq(
      // draws (salts 31+ — accounts use 1-6, fact 11-21)
      Seq(
        "customer_id" -> key,
        "r_fn" -> r(key, 31), "r_ln" -> r(key, 32), "r_ph1" -> r(key, 33),
        "r_ph2" -> r(key, 34), "r_dob" -> r(key, 35), "r_signup" -> r(key, 36),
        "r_status" -> r(key, 37), "r_seg" -> r(key, 38), "r_room" -> r(key, 39),
        "r_no" -> r(key, 40), "r_apt" -> r(key, 41), "r_floor" -> r(key, 42),
        "r_street" -> r(key, 43), "r_loc" -> r(key, 44)),
      // pools + ladders + integer date components
      Seq(
        "customer_id" -> "customer_id",
        "first_name" -> pick("r_fn", firstNames),
        "last_name" -> pick("r_ln", lastNames),
        // lowercase twins drawn from pre-lowered literal pools: the names
        // are fixed ASCII literals, so CASE over lowered constants equals
        // lower(first_name) — without the per-row ICU case mapping that
        // serializes task threads in Spark 4 (see is_recurring note).
        "fn_lower" -> pick("r_fn", firstNames.map(_.toLowerCase)),
        "ln_lower" -> pick("r_ln", lastNames.map(_.toLowerCase)),
        "r_ph1" -> "r_ph1", "r_ph2" -> "r_ph2",
        // 18-70 years (in days) before BASE_DATE, uniform
        "age_days" -> "(6570 + r_dob % 18981)",
        // signup strictly after 2023-01-01, through 2024-12-31 (:76-82)
        "signup_date_id" -> s"(1 + r_signup % $OpenEndDay)",
        "customer_status" -> ladder("r_status",
          Seq("Active" -> 75, "Closed" -> 10, "Inactive" -> 10, "Suspended" -> 5)),
        "customer_segment" -> ladder("r_seg", segmentWeights),
        "addr_kind" -> s"${pick("(r_room % 1000007)", Seq("Room No.", "Flat No."))}",
        "addr_no" -> "(1 + r_no % 999)",
        "addr_lvl" -> s"${pick("(r_apt % 1000007)", Seq("Apt.", "Floor"))}",
        "addr_floor" -> "(1 + r_floor % 40)",
        "address_line_2" -> pick("r_street", streetNames),
        "loc_idx" -> s"(r_loc % ${locations.size})"),
      // assembled strings + dialect-resolved DOB + location triple
      Seq(
        "customer_id" -> "customer_id",
        "first_name" -> "first_name",
        "last_name" -> "last_name",
        "email" -> "(fn_lower || '.' || ln_lower || '@example.com')",
        // +91 mobile: first digit 6-9, then 9 uniform digits
        "phone" -> ("('+91-' || CAST(6 + r_ph1 % 4 AS STRING) || " +
          "lpad(CAST(r_ph2 % 1000000000 AS STRING), 9, '0'))"),
        "date_of_birth" -> "date_of_birth_expr", // placeholder, dialect-specific
        "signup_date_id" -> "signup_date_id",
        "customer_status" -> "customer_status",
        "customer_segment" -> "customer_segment",
        "address_line_1" -> ("(addr_kind || ' ' || CAST(addr_no AS STRING) || ', ' || " +
          "addr_lvl || ' ' || CAST(addr_floor AS STRING))"),
        "address_line_2" -> "address_line_2",
        "city" -> pickAt("loc_idx", locations.map(_._1)),
        "state" -> pickAt("loc_idx", locations.map(_._2)),
        "pincode" -> pickAt("loc_idx", locations.map(_._3))))
  }

  /** Generated dim_customer (Spark side of the shared fragments). */
  def customers(spark: SparkSession, dir: String): DataFrame =
    customerLayers.foldLeft(Tables.balanced(spark, Tables.customer(spark, dir), Seq("c_custkey"))) { (df, layer) =>
      val resolved = resolvePlaceholders(layer, duck = false)
      df.selectExpr(resolved.map { case (a, e) => s"$e AS $a" }: _*)
    }

  def customersSql(duck: Boolean): String =
    s"SELECT * FROM ${nest("customer", customerLayers, duck)} c"

  /** Layered fragments for the fact generator, applied AFTER the join to
    * generated accounts. Key column: o_orderkey.
    */
  def factLayers: Seq[Seq[(String, String)]] = {
    val key = "o_orderkey"
    Seq(
      Seq(
        "o_orderkey" -> key,
        "customer_id" -> "o_custkey",
        "r_rec" -> r(key, 11), "r_chan" -> r(key, 12), "r_amt" -> r(key, 13),
        "r_tax" -> r(key, 14), "r_discg" -> r(key, 15), "r_disc" -> r(key, 16),
        "r_pg" -> r(key, 17), "r_dev" -> r(key, 18), "r_riskg" -> r(key, 19),
        "r_risk" -> r(key, 20), "r_ts" -> r(key, 21)))
  }

  /** Generated accounts DataFrame (Spark side of the shared fragments). */
  def accounts(spark: SparkSession, dir: String): DataFrame =
    accountLayers.foldLeft(Tables.balanced(spark, Tables.customer(spark, dir), Seq("c_custkey"))) { (df, layer) =>
      df.selectExpr(layer.map { case (a, e) => s"$e AS $a" }: _*)
    }

  /** Post-join fact fragments (layered). `acct_*` columns come from the
    * joined accounts table.
    */
  def factPostJoinLayers: Seq[Seq[(String, String)]] = Seq(
    // recurring gate + channel + amount
    Seq(
      "o_orderkey" -> "o_orderkey",
      "customer_id" -> "customer_id",
      "account_id" -> "account_id",
      "account_type" -> "account_type",
      "open_date_id" -> "open_date_id",
      "close_date_id" -> "close_date_id",
      // The reference tests `'credit card' in account_type.lower()`
      // (generate_fact_transactions_data.py:87) — but account_type here is
      // drawn from segmentTypes' fixed literals, every card type carrying
      // the exact casing 'Credit Card'/'Debit Card', so the case-SENSITIVE
      // LIKE is identical on this value set. The lower() form cost r6
      // dearly: Spark 4 routes lower() through ICU full case mapping
      // (CollationSupport.Lower.execBinaryICU), whose shared static caches
      // serialize 32 task threads — thread dumps show every fact-audit
      // task RUNNABLE inside execBinaryICU with task_run 10x task_cpu
      // (the driver's 343 task-run-s vs ~26 CPU-s on q_gen_constraints).
      "is_recurring" -> ("((account_type LIKE '%Credit Card%' OR " +
        "account_type LIKE '%Debit Card%') AND r_rec < 200000000)"),
      "r_chan" -> "r_chan", "r_amt" -> "r_amt", "r_tax" -> "r_tax",
      "r_discg" -> "r_discg", "r_disc" -> "r_disc", "r_pg" -> "r_pg",
      "r_dev" -> "r_dev", "r_riskg" -> "r_riskg", "r_risk" -> "r_risk",
      "r_ts" -> "r_ts"),
    // channel (recurring -> gateway; else 30/30/10/30,
    // generate_fact_transactions_data.py:111-128) + amount cents
    // (10k-50k for private-banking/business-credit non-recurring,
    // 50-5000 otherwise, :133-137)
    Seq(
      "o_orderkey" -> "o_orderkey",
      "customer_id" -> "customer_id",
      "account_id" -> "account_id",
      "account_type" -> "account_type",
      "open_date_id" -> "open_date_id",
      "close_date_id" -> "close_date_id",
      "is_recurring" -> "is_recurring",
      "transaction_channel" -> ("(CASE WHEN is_recurring THEN 'Online Payment Gateway' " +
        "WHEN r_chan < 300000000 THEN 'POS' " +
        "WHEN r_chan < 600000000 THEN 'Online Payment Gateway' " +
        "WHEN r_chan < 700000000 THEN 'Net Banking' ELSE 'UPI' END)"),
      "amount_cents" -> ("(CASE WHEN NOT is_recurring AND account_type IN " +
        "('Private Banking Account', 'Business Credit Card') " +
        "THEN 1000000 + r_amt % 4000001 ELSE 5000 + r_amt % 495001 END)"),
      "r_tax" -> "r_tax", "r_discg" -> "r_discg", "r_disc" -> "r_disc",
      "r_pg" -> "r_pg", "r_dev" -> "r_dev", "r_riskg" -> "r_riskg",
      "r_risk" -> "r_risk", "r_ts" -> "r_ts"),
    // money arithmetic in integer cents (tax U[0,18%], discount 10%
    // chance U[0,10%], total = amount + tax - disc, :139-143)
    Seq(
      "o_orderkey" -> "o_orderkey",
      "customer_id" -> "customer_id",
      "account_id" -> "account_id",
      "open_date_id" -> "open_date_id",
      "close_date_id" -> "close_date_id",
      "is_recurring" -> "is_recurring",
      "transaction_channel" -> "transaction_channel",
      "amount_cents" -> "amount_cents",
      "tax_cents" -> idiv("amount_cents * (r_tax % 1801)", "10000"),
      "disc_cents" -> ("(CASE WHEN r_discg < 100000000 THEN " +
        idiv("amount_cents * (r_disc % 1001)", "10000") + " ELSE 0 END)"),
      "r_pg" -> "r_pg", "r_dev" -> "r_dev", "r_riskg" -> "r_riskg",
      "r_risk" -> "r_risk", "r_ts" -> "r_ts"),
    // final projection: ids, money doubles, gateway/device/risk ladders,
    // J2 timestamp in [open, close-or-horizon)
    Seq(
      "transaction_id" -> "transaction_id_expr", // placeholder, dialect-specific
      "customer_id" -> "customer_id",
      "account_id" -> "account_id",
      // account window kept as lineage columns so the J2 constraint is
      // auditable downstream (q_gen_constraints)
      "open_date_id" -> "open_date_id",
      "close_date_id" -> "close_date_id",
      "is_recurring" -> "is_recurring",
      "transaction_channel" -> "transaction_channel",
      // CAST to DOUBLE before dividing: BIGINT / 100.0 is DECIMAL division
      // in Spark SQL but DOUBLE in DuckDB — the engines would format
      // (and hash) differently
      "amount" -> "(CAST(amount_cents AS DOUBLE) / 100.0)",
      "tax_amount" -> "(CAST(tax_cents AS DOUBLE) / 100.0)",
      "discount_amount" -> "(CAST(disc_cents AS DOUBLE) / 100.0)",
      "total_amount" -> "(CAST(amount_cents + tax_cents - disc_cents AS DOUBLE) / 100.0)",
      // intended 30/20/10/40 gateway split (dead branches in the
      // reference fixed, see object scaladoc)
      "payment_gateway_id" -> ("(CASE WHEN transaction_channel IN ('POS', 'Online Payment Gateway') THEN " +
        "CASE WHEN r_pg < 300000000 THEN 1 WHEN r_pg < 500000000 THEN 2 " +
        "WHEN r_pg < 600000000 THEN 5 ELSE " +
        pick("r_pg", Seq("3", "4", "6", "7", "8", "9", "10"), quote = false) +
        " END END)"),
      // device ladder :178-194 (POS terminal fixed for POS)
      "device_type_id" -> ("(CASE WHEN transaction_channel = 'POS' THEN 7 " +
        "WHEN r_dev < 500000000 THEN 1 WHEN r_dev < 600000000 THEN 2 " +
        "WHEN r_dev < 800000000 THEN 3 WHEN r_dev < 850000000 THEN 4 " +
        "WHEN r_dev < 940000000 THEN 5 ELSE 6 END)"),
      // risk: 20% high [0.60, 1.00], else [0.00, 0.60), 2dp (:196-199)
      "risk_score" -> ("(CAST(CASE WHEN r_riskg < 200000000 THEN (60 + r_risk % 41) " +
        "ELSE (r_risk % 60) END AS DOUBLE) / 100.0)"),
      // J2: epoch seconds uniform in [open, close-or-horizon)
      "txn_epoch" -> (s"($BaseEpoch + open_date_id * 86400 + r_ts % greatest(" +
        s"(CASE WHEN close_date_id IS NOT NULL THEN $BaseEpoch + close_date_id * 86400 " +
        s"ELSE $HorizonEpoch END) - ($BaseEpoch + open_date_id * 86400), 1))"),
      "txn_date_id" -> "txn_date_id_expr") // placeholder, derived below
  )

  /** uuid4().hex[:20] stand-in (:201): first 20 hex chars of a SHA-256 of
    * the row key — deterministic, collision-free in practice, dialect-
    * specific function name.
    */
  def txnIdExpr(duck: Boolean): String =
    if (duck) "substr(sha256('txn-' || CAST(o_orderkey AS VARCHAR)), 1, 20)"
    else "substring(sha2(concat('txn-', CAST(o_orderkey AS STRING)), 256), 1, 20)"

  /** DOB = BASE_DATE - age_days: date-minus-int spells differently per
    * dialect (Spark `date_add(d, -n)`, DuckDB `d - n`).
    */
  def dobExpr(duck: Boolean): String =
    if (duck) "(DATE '2023-01-01' - CAST(age_days AS INT))"
    else "date_add(DATE '2023-01-01', -CAST(age_days AS INT))"

  private def resolvePlaceholders(layer: Seq[(String, String)], duck: Boolean): Seq[(String, String)] =
    layer.map {
      case ("transaction_id", _) => "transaction_id" -> txnIdExpr(duck)
      case ("date_of_birth", _) => "date_of_birth" -> dobExpr(duck)
      case ("txn_date_id", _) =>
        "txn_date_id" -> idiv(
          s"($BaseEpoch + open_date_id * 86400 + r_ts % greatest(" +
            s"(CASE WHEN close_date_id IS NOT NULL THEN $BaseEpoch + close_date_id * 86400 " +
            s"ELSE $HorizonEpoch END) - ($BaseEpoch + open_date_id * 86400), 1)) - $BaseEpoch",
          "86400")
      case kv => kv
    }

  /** Generated fact transactions (Spark side): orders draws ⋈ accounts
    * on customer_id (J3-shape equi-join), then the shared ladders.
    */
  def factTransactions(spark: SparkSession, dir: String): DataFrame = {
    val draws = factLayers.foldLeft(Tables.balanced(spark, Tables.orders(spark, dir), Seq("o_orderkey"))) { (df, layer) =>
      df.selectExpr(layer.map { case (a, e) => s"$e AS $a" }: _*)
    }
    val acct = accounts(spark, dir)
      .selectExpr("customer_id", "account_id", "account_type",
        "open_date_id", "close_date_id")
    val joined = draws.join(acct, "customer_id")
    factPostJoinLayers.foldLeft(joined) { (df, layer) =>
      val resolved = resolvePlaceholders(layer, duck = false)
      df.selectExpr(resolved.map { case (a, e) => s"$e AS $a" }: _*)
    }
  }

  /** Assemble nested-SELECT SQL from layers (oracle side). */
  private def nest(from: String, layers: Seq[Seq[(String, String)]], duck: Boolean): String =
    layers.foldLeft(from) { (inner, layer) =>
      val cols = resolvePlaceholders(layer, duck)
        .map { case (a, e) => s"$e AS $a" }.mkString(",\n  ")
      s"(SELECT $cols\n FROM $inner)"
    }

  def accountsSql(duck: Boolean): String =
    s"SELECT * FROM ${nest("customer", accountLayers, duck)} a"

  def factSql(duck: Boolean): String = {
    val draws = nest("orders", factLayers, duck)
    val acct = "(SELECT customer_id AS acct_customer_id, account_id, account_type, " +
      s"open_date_id, close_date_id FROM ${nest("customer", accountLayers, duck)} a0)"
    val joined = s"(SELECT * FROM $draws d JOIN $acct a ON d.customer_id = a.acct_customer_id)"
    s"SELECT * FROM ${nest(joined, factPostJoinLayers, duck)} f"
  }

  /** Constraint-audit aggregates, ONE pass per generated view (round 2
    * ran these as 8 scalar subqueries → 8 rescans of the un-cached
    * generator plans, 6.8s at sf0.1). `sum(CASE)` folds every predicate
    * into the same Aggregate; CAST AS BIGINT keeps DuckDB's HUGEINT sum
    * out of the driver's float64 canonicalization. Both fragments are
    * valid verbatim in Spark SQL and DuckDB.
    */
  private def acctAuditSql(from: String): String =
    s"""SELECT
       | CAST(count(*) AS BIGINT) AS n_accounts,
       | CAST(sum(CASE WHEN open_date_id < signup_date_id THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_open_before_signup,
       | CAST(sum(CASE WHEN close_date_id IS NOT NULL
       |     AND (close_date_id <= open_date_id OR close_date_id > $OpenEndDay)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_close,
       | CAST(sum(CASE WHEN (close_date_id IS NOT NULL) <> (account_status = 'Closed')
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_close_status_mismatch
       |FROM $from""".stripMargin

  private def factAuditSql(from: String): String =
    s"""SELECT
       | CAST(count(*) AS BIGINT) AS n_txns,
       | CAST(sum(CASE WHEN txn_date_id < open_date_id
       |     OR (close_date_id IS NOT NULL AND txn_date_id > close_date_id)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_txn_outside_account_window,
       | CAST(sum(CASE WHEN abs(total_amount - (amount + tax_amount - discount_amount)) > 1e-9
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_money_mismatch,
       | CAST(sum(CASE WHEN (payment_gateway_id IS NULL)
       |     <> (transaction_channel NOT IN ('POS', 'Online Payment Gateway'))
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_gateway_rule_violation
       |FROM $from""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gen_accounts" -> ((s, dir) => accounts(s, dir)),
    "q_gen_customers" -> ((s, dir) => customers(s, dir)),
    "q_gen_fact" -> ((s, dir) => factTransactions(s, dir)),
    // J1/J2-style constraint audit: one row, all violation counts 0.
    // Two single-row aggregates (one scan per view) cross-joined.
    "q_gen_constraints" -> ((s, dir) => {
      // One materialization of the accounts generator serves both the
      // accounts audit and the join inside the fact generator (Spark's
      // cache manager matches the identical logical sub-plan).
      val acct = materialize(accounts(s, dir))
      acct.createOrReplaceTempView("gen_accounts_v")
      factTransactions(s, dir).createOrReplaceTempView("gen_fact_v")
      s.sql(s"""SELECT * FROM (${acctAuditSql("gen_accounts_v")}) a
               |CROSS JOIN (${factAuditSql("gen_fact_v")}) f""".stripMargin)
    })
  )

  def oracleSql: Map[String, String] = {
    val acctSql = accountsSql(duck = true)
    val factSqlD = factSql(duck = true)
    Map(
      "q_gen_accounts" -> acctSql,
      "q_gen_customers" -> customersSql(duck = true),
      "q_gen_fact" -> factSqlD,
      "q_gen_constraints" ->
        s"""WITH ga AS ($acctSql), gf AS ($factSqlD)
           |SELECT * FROM (${acctAuditSql("ga")}) a
           |CROSS JOIN (${factAuditSql("gf")}) f""".stripMargin
    )
  }
}
