package graft

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ManifestMeta, ManifestSink}

/** COLUMN NDV STATISTICS TO THE CBO (r18, VERDICT r17 Next #6): every
  * committed file's stats line carries a K-minimum-values distinct
  * sketch per column; the scan merges the kept files' sketches and
  * serves distinctCount/nullCount through SupportsReportStatistics
  * column stats, which Spark translates into logical attribute stats —
  * so cost-based join reordering over lake tables runs on real
  * cardinalities instead of defaults.
  */
class CboStatsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkTestBase.spark
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s
  }

  private def freshRoot(tag: String): String = {
    val p = Paths.get(s"/tmp/graft_cbo_spec_$tag")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
    p.toString
  }

  test("KMV kernel: exact below K, ~18% RSE above, merge dedups") {
    import ManifestMeta.{Bloom, Kmv}
    // exact: 20 distinct values -> sketch holds all 20
    val small = Kmv.newSet()
    (0 until 100).foreach(i => Kmv.track(small, Bloom.hashLong(i % 20)))
    assert(Kmv.estimate(Kmv.toSeq(small)) == 20L)
    // estimated: 10_000 distinct longs within 40%
    val big = Kmv.newSet()
    (0 until 10000).foreach(i => Kmv.track(big, Bloom.hashLong(i)))
    val est = Kmv.estimate(Kmv.toSeq(big))
    assert(est > 6000L && est < 14000L, s"NDV(10000) estimated $est")
    // merge: two overlapping sketches of the same domain estimate once
    val a = Kmv.newSet(); val b = Kmv.newSet()
    (0 until 5000).foreach(i => Kmv.track(a, Bloom.hashLong(i)))
    (2500 until 7500).foreach(i => Kmv.track(b, Bloom.hashLong(i)))
    val merged = Kmv.estimate(Kmv.merge(Seq(Kmv.toSeq(a), Kmv.toSeq(b))))
    assert(merged > 4500L && merged < 10500L, s"NDV(7500) merged $merged")
  }

  test("committed stats lines carry mergeable sketches; small domains " +
      "are exact across files") {
    import spark.implicits._
    val root = freshRoot("lines")
    (0 until 2).foreach { m =>
      (0 until 200).filter(_ % 2 == m)
        .map(k => (k.toLong, (k % 7).toLong, s"g${k % 5}"))
        .toDF("k", "seven", "grp")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .mode(if (m == 0) "overwrite" else "append")
        .option("path", root).option("format", "parquet").save()
    }
    val stats = ManifestSink.fileStats(root)
    assert(stats.size == 2)
    assert(stats.values.forall(_.cols("seven").kmv.isDefined))
    // per-file AND merged: 'seven' has 7 distinct, 'grp' 5 — exact
    import ManifestMeta.Kmv
    def merged(c: String): Long = Kmv.estimate(
      Kmv.merge(stats.values.map(_.cols(c).kmv.get).toSeq))
    assert(merged("seven") == 7L)
    assert(merged("grp") == 5L)
    // the envelope fold merges sketches too
    val env = ManifestMeta.envelope(stats.values.toSeq)
    assert(env.cols("seven").kmv.isDefined)
    assert(Kmv.estimate(env.cols("seven").kmv.get) == 7L)
  }

  test("the scan serves distinctCount to logical attribute stats") {
    import spark.implicits._
    val root = freshRoot("attr")
    (0 until 300).map(k => (k.toLong, (k % 9).toLong)).toDF("k", "nine")
      .coalesce(2).write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root)
      .option("format", "parquet").save()
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.cbo_attr")
    spark.sql("CREATE TABLE graft_cat.lake.cbo_attr (k BIGINT, nine BIGINT) " +
      s"USING graft OPTIONS (path '$root', format 'parquet')")
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val plan = spark.table("graft_cat.lake.cbo_attr")
        .queryExecution.optimizedPlan
      val stats = plan.stats
      assert(stats.rowCount.contains(BigInt(300)))
      val nine = plan.output.find(_.name == "nine").get
      val colStat = stats.attributeStats.get(nine)
      assert(colStat.exists(_.distinctCount.contains(BigInt(9))),
        s"expected ndv 9 for 'nine', got $colStat")
      assert(colStat.exists(_.nullCount.contains(BigInt(0))))
      // range bounds reach the attribute stats too (numeric columns),
      // so FilterEstimation can size range predicates
      assert(colStat.exists(_.min.contains(0L)), s"min missing: $colStat")
      assert(colStat.exists(_.max.contains(8L)), s"max missing: $colStat")
      // and a selective range filter's estimated cardinality shrinks
      val filtered = spark.table("graft_cat.lake.cbo_attr")
        .filter(org.apache.spark.sql.functions.col("nine") < 3L)
        .queryExecution.optimizedPlan
      val est = filtered.stats.rowCount
      assert(est.exists(rc => rc > BigInt(0) && rc < BigInt(200)),
        s"range filter must estimate well under 300 rows, got $est")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("equi-height kernel: exact quantiles under cap, mixture merge " +
      "weights by row count (r19)") {
    import ManifestMeta.EquiHeight
    // exact: 0..999 streamed in scrambled order -> boundaries are the
    // true 1/16 quantiles
    val sk = new EquiHeight.Sketch()
    (0 until 1000).map(i => (i * 617) % 1000).foreach(v => sk.add(v.toDouble))
    val b = sk.boundaries().get
    assert(b.size == EquiHeight.B + 1)
    assert(b.head == 0.0 && b.last == 999.0)
    assert(math.abs(b(8) - 499.5) < 5.0, s"median boundary off: ${b(8)}")
    // beyond cap: the halve-and-stride sketch stays rank-accurate to a
    // few percent on 100k values
    val big = new EquiHeight.Sketch()
    (0 until 100000).map(i => (i.toLong * 48271L) % 100000L)
      .foreach(v => big.add(v.toDouble))
    val bb = big.boundaries().get
    assert(math.abs(bb(8) - 50000.0) < 5000.0, s"median drifted: ${bb(8)}")
    // merge: file X = 900 rows uniform [0,100], file Y = 100 rows
    // uniform [900,1000] -> the 90% boundary sits at ~100, not at the
    // midpoint an unweighted merge would claim
    val x = (0 to EquiHeight.B).map(i => i * 100.0 / EquiHeight.B)
    val y = (0 to EquiHeight.B).map(i => 900.0 + i * 100.0 / EquiHeight.B)
    val merged = EquiHeight.merge(Seq((900L, x), (100L, y))).get
    assert(merged.head == 0.0 && merged.last == 1000.0)
    val p14 = merged(14) // 87.5% quantile: inside X's mass
    assert(p14 > 80.0 && p14 <= 100.0, s"87.5% boundary off: $p14")
    // pinned mixture of three unequal-weight files (one with repeated
    // boundaries): the merged boundaries are fixed to the bit, whatever
    // Seq the per-file boundaries arrive in — parsed stats lines give
    // Lists
    val B = EquiHeight.B
    val fa = List.tabulate(B + 1)(i => i * i * 0.37)
    val fb = List.tabulate(B + 1)(i => 40.0 + i * 3.1)
    val fc = List.tabulate(B + 1)(i =>
      if (i < 8) 500.0 else 500.0 + (i - 8) * 12.5)
    val pinned = Seq(
      0x0000000000000000L, 0x3feb101767f38000L, 0x4008869536176000L,
      0x401b7c57c578f000L, 0x40285075074ff800L, 0x4032ec405da02c00L,
      0x403b463796abac00L, 0x4042800000005e00L, 0x40462313d38e4200L,
      0x404931c6bad7f200L, 0x404c5506ded65a00L, 0x404f8a62a6000200L,
      0x40516dd5a5999900L, 0x40531e9941d04100L, 0x4054d576f108c300L,
      0x4056dc57c57c3700L, 0x4082c00000000000L)
    def bits(parts: Seq[(Long, Seq[Double])]): Seq[Long] =
      EquiHeight.merge(parts).get.map(java.lang.Double.doubleToRawLongBits)
    val weights = Seq(700L, 250L, 50L)
    val lists = Seq(fa, fb, fc)
    assert(bits(weights.zip(lists)) == pinned)
    assert(bits(weights.zip(lists.map(_.toVector))) == pinned)
    assert(bits(weights.zip(lists.map(l =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(l.toArray)))) == pinned)
  }

  test("scan statistics are built once per file set and follow runtime " +
      "filtering") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    import org.apache.spark.sql.sources.{Filter, In}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import graft.sources.ManifestScan
    val root = freshRoot("memo")
    // four files, one `part` value each, with different value mass,
    // null counts and distinct counts per file
    (0 until 4).foreach { m =>
      (0 until 200 * (m + 1)).map { k =>
        (m.toLong, (k.toLong * k) % (50L * (m + 1)) + 1000L * m,
          if (k % (m + 2) == 0) None else Some(k.toLong % (7L * (m + 1))),
          s"g${k % (3 + m)}")
      }.toDF("part", "x", "y", "grp")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .mode(if (m == 0) "overwrite" else "append")
        .option("path", root).option("format", "parquet").save()
    }
    val schema = StructType(Seq(StructField("part", LongType),
      StructField("x", LongType), StructField("y", LongType),
      StructField("grp", StringType)))
    val all = ManifestSink.fileStats(root).toSeq.sortBy(_._1)
      .map { case (n, st) => (n, Option(st)) }
    assert(all.size == 4)
    def scanOf(fs: Seq[(String, Option[ManifestMeta.FileStats])]) =
      new ManifestScan(root, fs, schema, schema)
    // every served figure, as plain values
    def served(s: ManifestScan) = {
      val st = s.estimateStatistics()
      def opt(o: java.util.Optional[Object]) =
        if (o.isPresent) Some(o.get.toString) else None
      def col(c: ColumnStatistics) = (c.distinctCount.getAsLong,
        c.nullCount.getAsLong, opt(c.min), opt(c.max),
        if (!c.histogram.isPresent) None else {
          val h = c.histogram.get
          Some((h.height, h.bins.toSeq.map(b => (b.lo, b.hi, b.ndv))))
        })
      (st.numRows.getAsLong, st.columnStats.asScala.map {
        case (r, c) => r.describe -> col(c) }.toMap)
    }
    val scan = scanOf(all)
    val before = served(scan)
    assert(before._2.keySet == Set("part", "x", "y", "grp"))
    assert(before._2("x")._5.isDefined, "histogram missing")
    assert(served(scan) == before)
    assert(scan.estimateStatistics() eq scan.estimateStatistics())
    // runtime filtering drops parts 0 and 2: the statistics must be
    // those of a scan built over the kept files alone
    scan.filter(Array[Filter](In("part", Array[Any](1L, 3L))))
    val kept = all.filter { case (_, st) =>
      Set(1L, 3L).contains(st.get.cols("part").min.get.asInstanceOf[Long]) }
    assert(kept.size == 2)
    val after = served(scan)
    assert(after == served(scanOf(kept)))
    assert(after._1 == 200L * 2 + 200L * 4)
    assert(after != before)
    assert(served(scan) == after)
  }

  test("a skewed range filter's estimate tightens under the histogram " +
      "vs the uniform assumption (r19, VERDICT r18 Next #2)") {
    import spark.implicits._
    // both tables: 1000 rows, x over [0, 10000] — identical min/max and
    // row count, so the uniform [min,max] assumption estimates x > 100
    // identically (~99%) for both; only the histogram can tell that the
    // skewed table's true selectivity is 1%
    def mk(name: String, tag: String, xs: Seq[Long]): Unit = {
      val root = freshRoot(tag)
      xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("k", "x")
        .coalesce(1).write.format("graft.sources.ManifestSink")
        .mode("overwrite").option("path", root)
        .option("format", "parquet").save()
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
      spark.sql(s"CREATE TABLE graft_cat.lake.$name (k BIGINT, x BIGINT) " +
        s"USING graft OPTIONS (path '$root', format 'parquet')")
    }
    val skew = (0 until 1000).map(i =>
      if (i < 990) (i % 10).toLong else 10000L)
    val flat = (0 until 1000).map(i => i.toLong * 10L)
    mk("hist_skew", "hskew", skew)
    mk("hist_flat", "hflat", flat)
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      def estOf(t: String): BigInt = spark.table(s"graft_cat.lake.$t")
        .filter(org.apache.spark.sql.functions.col("x") > 100L)
        .queryExecution.optimizedPlan.stats.rowCount.get
      val skewEst = estOf("hist_skew")
      val flatEst = estOf("hist_flat")
      // the flat table's truth IS ~99%: the histogram must agree with
      // the uniform assumption there (no spurious tightening)
      assert(flatEst > BigInt(800), s"flat estimate collapsed: $flatEst")
      // the skewed table's truth is 1%: the histogram must see it
      assert(skewEst < flatEst / 5,
        s"skewed estimate did not tighten: skew=$skewEst flat=$flatEst")
      assert(skewEst < BigInt(200), s"skewed estimate too loose: $skewEst")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("join order flips on the histogram alone: identical bounds/rows, " +
      "different mass (r19)") {
    import spark.implicits._
    def mkT(name: String, tag: String,
        df: org.apache.spark.sql.DataFrame, ddl: String): Unit = {
      val root = freshRoot(tag)
      df.coalesce(1).write.format("graft.sources.ManifestSink")
        .mode("overwrite").option("path", root)
        .option("format", "parquet").save()
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
      spark.sql(s"CREATE TABLE graft_cat.lake.$name ($ddl) USING graft " +
        s"OPTIONS (path '$root', format 'parquet')")
    }
    // F: 1000 rows; A keeps 10% of F's fa keys (F><A ~ 100 rows). The
    // F-B join key is a STRING on purpose: strings carry no histogram,
    // so the F><B cardinality stays on the NDV formula and the only
    // histogram in play is the one on B's FILTER column — Spark's
    // histogram-based equi-join estimation does not rescale a join
    // key's histogram through an upstream filter, which would swamp
    // the signal this test isolates.
    mkT("hf_f", "hff", (0 until 1000)
      .map(i => (i.toLong, f"k$i%04d", i.toLong * 3L))
      .toDF("fa", "fb", "payload"), "fa BIGINT, fb STRING, payload BIGINT")
    mkT("hf_a", "hfa", (0 until 100).map(i => (i.toLong, i.toLong))
      .toDF("aa", "apay"), "aa BIGINT, apay BIGINT")
    // B twins: keyed 1:1 to F, filtered on bx > 100 — skewed truth 1%,
    // flat truth 99%; identical rows/min/max so only the histogram
    // separates the plans
    def bdf(xs: Seq[Long]) = xs.zipWithIndex
      .map { case (x, i) => (f"k$i%04d", x) }.toDF("bb", "bx")
    mkT("hf_bskew", "hfbs", bdf((0 until 1000).map(i =>
      if (i < 990) (i % 10).toLong else 10000L)), "bb STRING, bx BIGINT")
    mkT("hf_bflat", "hfbf", bdf((0 until 1000).map(_.toLong * 10L)),
      "bb STRING, bx BIGINT")
    def q(b: String) =
      s"""SELECT f.payload, a.apay, b.bpay
         |FROM graft_cat.lake.hf_f f
         |JOIN graft_cat.lake.hf_a a ON f.fa = a.aa
         |JOIN (SELECT bb, bx AS bpay FROM graft_cat.lake.$b
         |      WHERE bx > 100) b ON f.fb = b.bb""".stripMargin
    def innermostKeys(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] = {
      val joins = plan.collect { case j: Join => j }
      joins.last.condition.toSeq.flatMap(_.references.map(_.name)).toSet
    }
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      keys.foreach(spark.conf.set(_, "true"))
      // flat twin: the filter keeps ~99% -> F><B' ~ 990 dwarfs
      // F><A ~ 100, so A joins first
      val flat = innermostKeys(spark.sql(q("hf_bflat"))
        .queryExecution.optimizedPlan)
      assert(flat == Set("fa", "aa"),
        s"flat mass must keep the A-first order: $flat")
      // skewed twin: the histogram prices the filter at ~1% -> F><B'
      // ~ 10-60 undercuts F><A ~ 100, so B joins first — same bounds,
      // same row count, the histogram is the only differing signal
      val dfSkew = spark.sql(q("hf_bskew"))
      val skewKeys = innermostKeys(dfSkew.queryExecution.optimizedPlan)
      assert(skewKeys == Set("fb", "bb"),
        s"skewed mass must flip to B-first: $skewKeys")
      // and the flipped plan still answers exactly: keys 990..999
      // survive the filter, each hits one F row, fa 990..999 misses A
      // entirely except... aa < 100, so zero rows join A — assert the
      // exact survivor count pre-A by re-running without A
      assert(spark.sql(
        """SELECT count(*) FROM graft_cat.lake.hf_bskew
          |WHERE bx > 100""".stripMargin).head.getLong(0) == 10L)
      assert(dfSkew.count() == 0L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("string min/max serve to attribute stats in binary order (r19)") {
    import spark.implicits._
    val root = freshRoot("strb")
    (0 until 100).map(i => (i.toLong, f"s$i%03d")).toDF("k", "s")
      .coalesce(1).write.format("graft.sources.ManifestSink")
      .mode("overwrite").option("path", root)
      .option("format", "parquet").save()
    spark.sql("DROP TABLE IF EXISTS graft_cat.lake.cbo_str")
    spark.sql("CREATE TABLE graft_cat.lake.cbo_str (k BIGINT, s STRING) " +
      s"USING graft OPTIONS (path '$root', format 'parquet')")
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val plan = spark.table("graft_cat.lake.cbo_str")
        .queryExecution.optimizedPlan
      val sAttr = plan.output.find(_.name == "s").get
      val cs = plan.stats.attributeStats.get(sAttr)
      assert(cs.isDefined, "string column stats missing")
      import org.apache.spark.unsafe.types.UTF8String
      assert(cs.get.min.contains(UTF8String.fromString("s000")),
        s"string min wrong: ${cs.get.min}")
      assert(cs.get.max.contains(UTF8String.fromString("s099")),
        s"string max wrong: ${cs.get.max}")
      // numeric twins keep histograms; strings never claim one
      assert(cs.get.histogram.isEmpty)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("cost-based join reorder flips the join order on lake NDV stats") {
    import spark.implicits._
    // F.a has NDV 10 against A (1000 rows, a also NDV 10): estimated
    // F><A blows up to ~100k rows. F.b and B.b have NDV 1000: F><B
    // stays ~1000. Syntactically F JOIN A JOIN B; a cost-based reorder
    // must join B first — and only the KMV-backed column stats can
    // tell it so.
    def mk(name: String, tag: String, df: org.apache.spark.sql.DataFrame,
        ddl: String): Unit = {
      val root = freshRoot(tag)
      df.coalesce(1).write.format("graft.sources.ManifestSink")
        .mode("overwrite").option("path", root)
        .option("format", "parquet").save()
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.lake.$name")
      spark.sql(s"CREATE TABLE graft_cat.lake.$name ($ddl) USING graft " +
        s"OPTIONS (path '$root', format 'parquet')")
    }
    mk("cbo_f", "f", (0 until 1000)
      .map(i => ((i % 10).toLong, i.toLong, i.toLong * 3L))
      .toDF("fa", "fb", "payload"), "fa BIGINT, fb BIGINT, payload BIGINT")
    mk("cbo_a", "a", (0 until 1000).map(i => ((i % 10).toLong, i.toLong))
      .toDF("aa", "apay"), "aa BIGINT, apay BIGINT")
    mk("cbo_b", "b", (0 until 1000).map(i => (i.toLong, i.toLong))
      .toDF("bb", "bpay"), "bb BIGINT, bpay BIGINT")
    val q = """SELECT f.payload, a.apay, b.bpay
              |FROM graft_cat.lake.cbo_f f
              |JOIN graft_cat.lake.cbo_a a ON f.fa = a.aa
              |JOIN graft_cat.lake.cbo_b b ON f.fb = b.bb""".stripMargin
    /** The join key referenced by the INNERMOST join of the optimized
      * logical plan — the first join executed in a left-deep tree.
      */
    def innermostKeys(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[String] = {
      val joins = plan.collect { case j: Join => j }
      val inner = joins.last // collect is pre-order; last = deepest
      inner.condition.toSeq.flatMap(_.references.map(_.name)).toSet
    }
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val off = innermostKeys(spark.sql(q).queryExecution.optimizedPlan)
      assert(off == Set("fa", "aa"),
        s"without CBO the syntactic order joins A first: $off")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val df = spark.sql(q)
      val on = innermostKeys(df.queryExecution.optimizedPlan)
      assert(on == Set("fb", "bb"),
        s"CBO + NDV stats must join the selective B first: $on")
      // the reordered plan still answers exactly
      assert(df.count() == 100000L) // 1000 F rows x 100 A dups x 1 B row
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
