package graft.sources

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest METADATA: per-file column statistics, their `#s:` manifest
  * line encoding, and the stats-based file-skip evaluator — the zone-map
  * tier of the lake table (VERDICT r14 Next #2). Every committed file
  * carries min/max/nulls per column plus its row count and the sort
  * order its writer delivered, written at commit time by the task that
  * produced the file (the stats are a byproduct of the write pass —
  * zero extra scans). At 100 TB this is what lets a selective predicate
  * read 3 files instead of 30,000 and a selective DELETE rewrite only
  * the files that can contain matches.
  *
  * The encoding is the same closed JSON subset the data files use
  * (objects, escaped strings, long/double literals, null), so the
  * manifest stays hand-inspectable and the parser stays ~80 lines with
  * no library dependency.
  *
  * SOUNDNESS RULES (each conservative — "may match" errs toward true):
  *   - string min/max compare in UTF8String BINARY order (what Spark's
  *     own comparisons use), never java.lang.String UTF-16 order;
  *   - strings longer than 64 chars drop that column's min/max (a
  *     truncated max is not an upper bound; rows/nulls stay);
  *   - a double column that ever saw NaN drops its min/max (NaN breaks
  *     range reasoning);
  *   - files with no stats line (written before stats existed) always
  *     survive skipping.
  */
object ManifestMeta {

  /** Max stored string length for min/max — longer strings make the
    * column unprunable rather than risking an unsound truncated bound.
    */
  val MaxStatString = 64

  // ---------------------------------------------------------------
  // closed JSON subset: encode
  // ---------------------------------------------------------------

  private def needsEsc(c: Char): Boolean = c == '"' || c == '\\' || c < ' '

  /** `s` with `"`, `\` and control chars escaped; `s` itself when none occurs. */
  def esc(s: String): String = {
    var i = 0
    while (i < s.length && !needsEsc(s.charAt(i))) i += 1
    if (i == s.length) s
    else escInto(new java.lang.StringBuilder(s.length + 16), s).toString
  }

  /** Appends [[esc]] of `s` to `sb` in one pass, copying clean runs whole. */
  def escInto(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder = {
    var run = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (needsEsc(c)) {
        sb.append(s, run, i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case _ =>
            sb.append("\\u00").append(Character.forDigit(c >> 4, 16))
              .append(Character.forDigit(c & 0xf, 16))
        }
        run = i + 1
      }
      i += 1
    }
    sb.append(s, run, s.length)
  }

  def quote(s: String): String = "\"" + esc(s) + "\""

  /** Decode an escaped string in `s` whose opening quote sits at
    * `start - 1` (i.e. `start` is the first content char); returns
    * (value, index just past the closing quote). THE one inverse of
    * [[esc]] — both the metadata parser and the data-file JSON reader
    * call it, so the escape grammar can never desynchronize between
    * stats bounds and data values.
    */
  def decodeEscaped(s: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var i = start
    while (s.charAt(i) != '"') {
      s.charAt(i) match {
        case '\\' =>
          s.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other =>
              throw new IllegalArgumentException(s"unknown escape \\$other")
          }
        case c => sb.append(c); i += 1
      }
    }
    (sb.toString, i + 1)
  }

  private def encodeValue(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double => d.toString
    case m: Map[_, _] => encodeObject(m.asInstanceOf[Map[String, Any]])
    case xs: Seq[_] => xs.map(encodeValue).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"unencodable $other")
  }

  def encodeObject(m: Map[String, Any]): String =
    // deterministic field order: manifests diff cleanly run-to-run
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => quote(k) + ":" + encodeValue(v) }
      .mkString("{", ",", "}")

  // ---------------------------------------------------------------
  // closed JSON subset: parse (recursive descent, writer-shaped input)
  // ---------------------------------------------------------------

  /** Parses the closed subset into Map[String, Any] / String / Long /
    * Double / null. Integer literals come back as Long; anything with a
    * '.', 'e', or 'E' as Double.
    */
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    require(p.done, s"trailing content in manifest metadata: $s")
    v
  }

  private final class Parser(s: String) {
    private var i = 0
    def done: Boolean = i >= s.length
    def skipWs(): Unit = while (i < s.length && s.charAt(i) == ' ') i += 1

    def value(): Any = {
      skipWs()
      s.charAt(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 'n' => i += 4; null
        case _ => num()
      }
    }

    private def arr(): Seq[Any] = {
      i += 1 // '['
      val b = Seq.newBuilder[Any]
      skipWs()
      if (s.charAt(i) == ']') { i += 1; return b.result() }
      var more = true
      while (more) {
        b += value()
        skipWs()
        if (s.charAt(i) == ',') i += 1
        else { require(s.charAt(i) == ']', s"expected ']' at $i in $s"); i += 1; more = false }
      }
      b.result()
    }

    private def obj(): Map[String, Any] = {
      i += 1 // '{'
      val b = Map.newBuilder[String, Any]
      skipWs()
      if (s.charAt(i) == '}') { i += 1; return b.result() }
      var more = true
      while (more) {
        skipWs()
        val k = str()
        skipWs()
        require(s.charAt(i) == ':', s"expected ':' at $i in $s")
        i += 1
        b += (k -> value())
        skipWs()
        if (s.charAt(i) == ',') i += 1
        else { require(s.charAt(i) == '}', s"expected '}' at $i in $s"); i += 1; more = false }
      }
      b.result()
    }

    private def str(): String = {
      require(s.charAt(i) == '"', s"expected '\"' at $i in $s")
      val (v, next) = decodeEscaped(s, i + 1)
      i = next
      v
    }

    private def num(): Any = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      val tok = s.substring(start, i)
      if (tok.exists(c => c == '.' || c == 'e' || c == 'E'))
        java.lang.Double.parseDouble(tok)
      else java.lang.Long.parseLong(tok)
    }
  }

  // ---------------------------------------------------------------
  // per-file stats model
  // ---------------------------------------------------------------

  /** min/max are None when unprunable (all-null column, oversize
    * strings, NaN-bearing doubles, unknown writer). Values are Long
    * (long/int cols), Double, or String as committed. `sum` is the
    * exact non-null total of an integral column (None for other types,
    * all-null columns, or when the per-file total overflowed Long —
    * tracked with addExact, so a recorded sum is always exact).
    * `bloom` is an OPT-IN per-file membership filter (write option
    * `bloomFor`) for point-lookup skipping on columns whose values are
    * hash-scattered across files — where min/max ranges all overlap and
    * zone maps prune nothing (the parquet-bloom/Iceberg shape).
    */
  case class ColStats(min: Option[Any], max: Option[Any], nulls: Long,
      sum: Option[Long] = None, bloom: Option[Bloom] = None,
      /** K-MINIMUM-VALUES distinct sketch (r18, VERDICT r17 Next #6):
        * the [[Kmv.K]] smallest distinct splitmix hashes of the
        * column's non-null values, unsigned-sorted. Mergeable across
        * files (union, keep K smallest), so the scan can serve a
        * distinct-count estimate to Spark's CBO without touching data;
        * fewer than K entries means the count is EXACT. None = the file
        * predates sketches or the column's type/poisoning precludes one.
        */
      kmv: Option[Seq[Long]] = None,
      /** EQUI-HEIGHT HISTOGRAM boundaries (r19, VERDICT r18 Next #2):
        * [[EquiHeight.B]]+1 ascending quantile boundaries of the
        * column's non-null values as doubles — bin i holds ~1/B of the
        * rows between hist(i) and hist(i+1). Numeric columns only
        * (FilterEstimation's range math is numeric); tracked by a
        * deterministic bounded quantile sketch at write time, merged
        * across files as a piecewise-uniform mixture, and served to
        * Spark's CBO via `columnStats().histogram()` so a SKEWED range
        * predicate estimates off the actual mass instead of the
        * uniform [min,max] assumption. An ESTIMATION layer, never a
        * correctness gate — values are approximate quantiles (exact
        * for files under the sketch capacity), and integral values
        * beyond 2^53 lose low-bit precision in the double boundaries.
        */
      hist: Option[Seq[Double]] = None)

  /** The KMV distinct-count kernel shared by writer (track), envelope
    * fold (merge) and scan statistics (estimate). RSE ≈ 1/√(K−2) ≈ 18%
    * at K = 32 — comfortably inside what join reordering needs, at 256
    * metadata bytes per column per file.
    */
  object Kmv {
    val K = 32
    private val TwoPow64 = 1.8446744073709552E19

    def newSet(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long](
        new java.util.Comparator[java.lang.Long] {
          override def compare(a: java.lang.Long, b: java.lang.Long): Int =
            java.lang.Long.compareUnsigned(a, b)
        })

    /** Bounded insert: the set holds the K unsigned-smallest distinct
      * hashes seen so far.
      */
    def track(set: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
      if (set.size() < K) { set.add(h); () }
      else {
        val max = set.last()
        if (java.lang.Long.compareUnsigned(h, max) < 0 && set.add(h)) {
          set.remove(max); ()
        }
      }
    }

    /** Union of per-file sketches, re-bounded to the K smallest. */
    def merge(sketches: Seq[Seq[Long]]): Seq[Long] = {
      val set = newSet()
      sketches.foreach(_.foreach(track(set, _)))
      toSeq(set)
    }

    def toSeq(set: java.util.TreeSet[java.lang.Long]): Seq[Long] = {
      val b = Seq.newBuilder[Long]
      val it = set.iterator()
      while (it.hasNext) b += it.next().longValue()
      b.result()
    }

    /** Distinct-count estimate of an unsigned-sorted sketch: exact below
      * K entries, else the standard (K−1)/R estimator with R = the Kth
      * smallest hash as a fraction of the hash space.
      */
    def estimate(sketch: Seq[Long]): Long =
      if (sketch.size < K) sketch.size.toLong
      else {
        val kth = sketch.last
        val u = if (kth >= 0L) kth.toDouble else kth.toDouble + TwoPow64
        val f = math.max(u / TwoPow64, 1e-18)
        math.max(K.toLong, ((K - 1).toDouble / f).toLong)
      }
  }

  /** The equi-height histogram kernel shared by writer (sketch), the
    * envelope fold (mixture merge) and scan statistics (serve). B = 16
    * bins ≈ 6% rank resolution per bin — enough for FilterEstimation to
    * tell a 1%-selective skewed range from the 50% the uniform
    * assumption would claim, at 17 doubles per column per file.
    */
  object EquiHeight {
    val B = 16

    /** Deterministic bounded quantile sketch for the write hot path:
      * values buffer up to `cap`; a full buffer HALVES (sort, keep the
      * rank-interleaved half — the Munro-Paterson collapse) and the
      * input stride doubles, so a 100M-row file costs one array store
      * per sampled row and O(cap log cap) per halving. No randomness —
      * same data always yields the same boundaries (stats must be
      * deterministic run-to-run).
      */
    final class Sketch(cap: Int = 2048) {
      private val buf = new Array[Double](cap)
      private var n = 0
      private var stride = 1L
      private var tick = 0L

      def add(v: Double): Unit = {
        tick += 1L
        if ((tick & (stride - 1L)) != 0L) return
        if (n == buf.length) {
          java.util.Arrays.sort(buf, 0, n)
          var i = 0
          while (2 * i + 1 < n) { buf(i) = buf(2 * i + 1); i += 1 }
          n = i
          stride <<= 1
        }
        buf(n) = v
        n += 1
      }

      /** B+1 ascending quantile boundaries, or None before any value. */
      def boundaries(): Option[Seq[Double]] = {
        if (n == 0) return None
        val arr = java.util.Arrays.copyOf(buf, n)
        java.util.Arrays.sort(arr)
        Some((0 to B).map(k => arr(((k.toDouble / B) * (n - 1)).round.toInt)))
      }
    }

    /** Merge per-file boundary lists into B global equi-height
      * boundaries: each file contributes a piecewise-uniform mass of
      * `weight` (its non-null count) spread 1/B per bin; global
      * boundaries are quantiles of the mixture CDF, found by 40 rounds
      * of bisection per boundary. Each file's boundaries are copied to
      * an array once, so one CDF evaluation is O(files · B) and the
      * whole merge O(files · B² · 40) flops per column, whatever `Seq`
      * the boundaries arrive in (parsed stats lines give `List`s).
      */
    def merge(parts: Seq[(Long, Seq[Double])]): Option[Seq[Double]] = {
      val ps = parts.filter { case (w, h) => w > 0L && h.size >= 2 }
      if (ps.isEmpty) return None
      val totalW = ps.map(_._1.toDouble).sum
      val lo = ps.map(_._2.head).min
      val hi = ps.map(_._2.last).max
      val weights = ps.map(_._1.toDouble).toArray
      val boundsOf = ps.map(_._2.toArray).toArray
      def cdf(x: Double): Double = {
        var total = 0.0
        var f = 0
        while (f < boundsOf.length) {
          val bounds = boundsOf(f)
          val nb = bounds.length - 1
          val per = weights(f) / nb
          var acc = 0.0
          var i = 0
          while (i < nb) {
            val l = bounds(i); val h = bounds(i + 1)
            if (x >= h) acc += per
            else if (x > l && h > l) acc += per * (x - l) / (h - l)
            i += 1
          }
          total += acc
          f += 1
        }
        total
      }
      Some((0 to B).map { k =>
        if (k == 0) lo
        else if (k == B) hi
        else {
          val target = totalW * k / B
          var a = lo
          var b0 = hi
          var it = 0
          while (it < 40) {
            val m = a + (b0 - a) / 2
            if (cdf(m) < target) a = m else b0 = m
            it += 1
          }
          a + (b0 - a) / 2
        }
      })
    }
  }

  /** A sized split-bloom: `bits` is a power of two, `k` probes via
    * double hashing. Sized at seal time from the tracked distinct-hash
    * count (~10 bits/entry → ~1% fpp), so small files get small blooms
    * and an over-cardinality column simply drops the filter.
    */
  case class Bloom(k: Int, bits: Array[Byte]) {
    def mayContain(h: Long): Boolean = {
      val nbits = bits.length.toLong * 8L
      var i = 0
      while (i < k) {
        val pos = Bloom.probe(h, i, nbits)
        if ((bits((pos >>> 3).toInt) & (1 << (pos & 7L).toInt)) == 0) return false
        i += 1
      }
      true
    }
  }

  object Bloom {
    /** Max distinct hashes tracked per column before the bloom drops —
      * the metadata-size governor (2^20-bit cap ≈ 128 KB/col/file).
      */
    val MaxDistinct = 100000
    val MinBits = 2048L
    val MaxBits = 1L << 20

    /** THE one probe-position function — build() sets and mayContain()
      * tests through the same code path, so writer/reader bit agreement
      * is structural, not a convention two loops must uphold
      * (code-review r16).
      */
    def probe(h: Long, i: Int, nbits: Long): Long = {
      val h2 = (h >>> 32) | 1L // odd increment
      java.lang.Long.remainderUnsigned(h + i.toLong * h2, nbits)
    }

    /** splitmix64 finalizer — the shared value hash of writer and
      * filter evaluation; both sides MUST agree bit-for-bit.
      */
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    /** FNV-1a 64 over UTF-8 bytes, splitmix-finalized — strings hash
      * over their encoded bytes so UTF8String (writer) and String
      * (filter literal) agree.
      */
    def hashBytes(b: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < b.length) {
        h ^= (b(i) & 0xffL)
        h *= 0x100000001b3L
        i += 1
      }
      mix(h)
    }

    def hashLong(v: Long): Long = mix(v)

    /** Build from tracked hashes: ~10 bits/entry, 7 probes, power-of-
      * two sizing between MinBits and MaxBits.
      */
    def build(hashes: java.util.HashSet[java.lang.Long]): Bloom = {
      var bits = MinBits
      while (bits < math.min(MaxBits, 10L * hashes.size()) ) bits <<= 1
      val arr = new Array[Byte]((bits / 8L).toInt)
      val b = Bloom(7, arr)
      val it = hashes.iterator()
      while (it.hasNext) {
        val h = it.next().longValue()
        var i = 0
        while (i < b.k) {
          val pos = probe(h, i, bits)
          arr((pos >>> 3).toInt) = (arr((pos >>> 3).toInt) | (1 << (pos & 7L).toInt)).toByte
          i += 1
        }
      }
      b
    }
  }

  /** One committed file's stats: row count, per-column stats, the
    * sort-column list its writer delivered (empty = no ordering claim),
    * and the file's byte size (0 = unrecorded, pre-r16 manifests) — the
    * size rides the stats line so plan-time task sizing and size
    * estimation never issue per-file stat syscalls (VERDICT r15 Next #1).
    */
  case class FileStats(rows: Long, cols: Map[String, ColStats],
      sorted: Seq[String], bytes: Long = 0L,
      /** Z-ORDER claim (r19): the column list a Morton-curve rewrite
        * clustered this file's rows by — no per-column `sorted` claim
        * would be true for interleaved bits, and the partial-progress
        * rewrite needs a recorded marker to make crash-resume skip
        * already-reclustered partitions instead of rewriting them
        * twice. A RESUME/no-op marker only: nothing in query planning
        * reads it (pruning stands on the real per-column envelopes).
        */
      zorder: Seq[String] = Seq.empty,
      /** PARTITION-VALUE claims for HASH transforms (r19 SPJ): spec
        * rendering → the single transform value every row of this file
        * holds (e.g. `"bucket(8,id)" -> 3`), recorded by the keyed task
        * writer that ROUTED the rows — the only component that ever
        * evaluates the hash. Monotonic transforms (identity, days,
        * truncate) never need this: their purity is VERIFIED from the
        * recorded [min,max] at plan time. A hash value admits no such
        * order proof, so this claim is the same trust tier as the
        * `sorted` claim the ordering report stands on: engine-written
        * metadata, keyed by the EXACT spec rendering — a file written
        * under a different spec (or before this feature) simply lacks
        * the entry and the table degrades to UnknownPartitioning.
        */
      pv: Map[String, Any] = Map.empty) {
    def hasNonNull(c: ColStats): Boolean = rows > c.nulls
  }

  private val StatsPrefix = "#s:"

  /** The stats-line body as the closed-JSON object map — shared by the
    * per-file `#s:` line and the per-SEGMENT envelope riding a `#seg:`
    * ref (r17: segment-level pruning).
    */
  def statsBody(fs: FileStats): Map[String, Any] = {
    val cols: Map[String, Any] = fs.cols.map { case (k, c) =>
      k -> (Map[String, Any]("nulls" -> c.nulls) ++
        c.min.map("min" -> _) ++ c.max.map("max" -> _) ++
        c.sum.map("sum" -> _) ++
        c.kmv.map("kmv" -> _) ++
        c.hist.map(h => "hist" -> h.map(d => d: Any)) ++
        c.bloom.map(bl => "bloom" -> Map[String, Any]("k" -> bl.k.toLong,
          "b64" -> java.util.Base64.getEncoder.encodeToString(bl.bits))))
    }
    Map[String, Any]("rows" -> fs.rows, "cols" -> cols) ++
      (if (fs.sorted.nonEmpty) Map("sorted" -> fs.sorted.mkString(",")) else Map.empty) ++
      (if (fs.zorder.nonEmpty) Map("zorder" -> fs.zorder.mkString(",")) else Map.empty) ++
      (if (fs.pv.nonEmpty) Map("pv" -> fs.pv) else Map.empty) ++
      (if (fs.bytes > 0L) Map("bytes" -> fs.bytes) else Map.empty)
  }

  /** Inverse of [[statsBody]]; unknown keys (e.g. an envelope's `files`
    * count) are ignored.
    */
  def fileStatsFrom(m: Map[String, Any]): FileStats = {
    val cols = m.getOrElse("cols", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]].map { case (k, v) =>
        val cm = v.asInstanceOf[Map[String, Any]]
        k -> ColStats(cm.get("min"), cm.get("max"),
          cm.get("nulls").map(_.asInstanceOf[Long]).getOrElse(0L),
          cm.get("sum").map(_.asInstanceOf[Long]),
          cm.get("bloom").map { b =>
            val bm = b.asInstanceOf[Map[String, Any]]
            Bloom(bm("k").asInstanceOf[Long].toInt,
              java.util.Base64.getDecoder.decode(bm("b64").asInstanceOf[String]))
          },
          cm.get("kmv").map(_.asInstanceOf[Seq[Any]]
            .map(_.asInstanceOf[Long])),
          // whole-number boundaries may round-trip as Long literals
          cm.get("hist").map(_.asInstanceOf[Seq[Any]].map {
            case d: Double => d
            case l: Long => l.toDouble
            case other => other.asInstanceOf[Number].doubleValue()
          }))
      }
    val sorted = m.get("sorted").map(_.asInstanceOf[String])
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val zorder = m.get("zorder").map(_.asInstanceOf[String])
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    FileStats(m("rows").asInstanceOf[Long], cols, sorted,
      m.get("bytes").map(_.asInstanceOf[Long]).getOrElse(0L), zorder,
      m.get("pv").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty))
  }

  def statsLine(name: String, fs: FileStats): String =
    s"$StatsPrefix$name:${encodeObject(statsBody(fs))}"

  def isStatsLine(l: String): Boolean = l.startsWith(StatsPrefix)

  /** `#s:<name>:<json>` → (name, stats). File names never contain ':'
    * (writer-generated), so the first ':' after the prefix delimits.
    */
  def parseStatsLine(l: String): (String, FileStats) = {
    val rest = l.stripPrefix(StatsPrefix)
    val cut = rest.indexOf(':')
    val name = rest.substring(0, cut)
    (name, fileStatsFrom(
      parse(rest.substring(cut + 1)).asInstanceOf[Map[String, Any]]))
  }

  /** SEGMENT ENVELOPE (VERDICT r16 Next #1): fold a segment's per-file
    * stats into one conservative summary the manifest LIST carries, so
    * selective scans refute whole segments without resolving them. The
    * envelope is itself a [[FileStats]] and MUST be sound under
    * [[mayMatch]]: if the envelope refutes a filter, every file in the
    * segment refutes it. Rules per column:
    *   - an entry exists iff ANY file records the column (a file
    *     WITHOUT the entry predates the column — it reads all-null
    *     there and contributes its row count to the envelope's nulls);
    *   - min/max = the union of per-file bounds, present only when
    *     every file that HOLDS values has bounds (a poisoned file makes
    *     the column range-unknown — entry kept, bounds omitted, so the
    *     column is never misread as predating);
    *   - nulls is always exact (it feeds IsNull refutation and exact
    *     COUNT(col) folds);
    *   - sum is the exact cross-file total when every value-holding
    *     file recorded one and it fits a Long; absent when the segment
    *     holds no values (SQL SUM is null over zero values);
    *   - blooms and sort claims do NOT fold (per-file only).
    * min/max/sum exactness is what lets metadata aggregates fold whole
    * ENVELOPES as units — O(segments), not O(files).
    * `keep` limits the fold to the named columns; a scan folds only the
    * columns it reads.
    */
  def envelope(files: Seq[FileStats],
      keep: String => Boolean = _ => true): FileStats = {
    val rows = files.map(_.rows).sum
    val bytes = files.map(_.bytes).sum
    val colNames = files.iterator.flatMap(_.cols.keys).filter(keep).toSet
    val cols = colNames.iterator.flatMap { c =>
      val perFile = files.map(f => (f.cols.get(c), f.rows))
      if (perFile.forall(_._1.isEmpty)) None // predates the column everywhere
      else {
        val nulls = perFile.map { case (e, r) => e.map(_.nulls).getOrElse(r) }.sum
        // files actually holding values in this column
        val valued = perFile.collect {
          case (Some(e), r) if e.nulls < r => e
        }
        val bounds: Option[(Any, Any)] =
          if (valued.nonEmpty &&
              valued.forall(e => e.min.isDefined && e.max.isDefined))
            Some((valued.map(_.min.get).reduce((a, b) =>
                    if (cmpValues(a, b) <= 0) a else b),
                  valued.map(_.max.get).reduce((a, b) =>
                    if (cmpValues(a, b) >= 0) a else b)))
          else None
        val sum: Option[Long] =
          if (valued.nonEmpty && valued.forall(_.sum.isDefined)) {
            val big = valued.map(e => BigInt(e.sum.get)).sum
            if (big.isValidLong) Some(big.toLong) else None
          } else None
        // KMV sketches MERGE (union, K smallest): a file without the
        // column holds only nulls there and contributes nothing; a file
        // missing the sketch (pre-r18 stats, poisoned column) makes the
        // envelope's distinct count unknown
        val withCol = perFile.collect { case (Some(e), _) => e }
        val kmv: Option[Seq[Long]] =
          if (withCol.forall(_.kmv.isDefined))
            Some(Kmv.merge(withCol.map(_.kmv.get)))
          else None
        // histograms merge as a weighted piecewise-uniform mixture —
        // present only when every VALUE-HOLDING file sketched one (a
        // gap would silently misweight the mass); all-null files
        // contribute no mass and no requirement
        val valuedPairs = perFile.collect {
          case (Some(e), r) if e.nulls < r => (r - e.nulls, e.hist)
        }
        val hist: Option[Seq[Double]] =
          if (valuedPairs.nonEmpty && valuedPairs.forall(_._2.isDefined))
            EquiHeight.merge(valuedPairs.map { case (w, h) => (w, h.get) })
          else None
        Some(c -> ColStats(bounds.map(_._1), bounds.map(_._2), nulls, sum,
          None, kmv, hist))
      }
    }.toMap
    FileStats(rows, cols, Seq.empty, bytes)
  }

  /** Compare two stats VALUES of the closed grammar by their runtime
    * shape (Long for long/int columns, Double, String in UTF8 binary
    * order) — the envelope fold has no schema handle, and values of one
    * column always share a shape (the writer is type-driven).
    */
  private def cmpValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case _ => throw new IllegalArgumentException(
      s"mixed-shape stats values: $a (${a.getClass}) vs $b (${b.getClass})")
  }

  /** Stats lines of a manifest line list, keyed by file name. A line
    * that fails to parse is DROPPED, not fatal: stats are an
    * optimization layer, and a damaged line must degrade that file to
    * "no stats" (never skipped, never pushed) rather than brick every
    * read of the table (code-review r15 — defense in depth behind the
    * Infinity fix).
    */
  def statsOf(lines: Seq[String]): Map[String, FileStats] =
    lines.filter(isStatsLine).flatMap { l =>
      try Some(parseStatsLine(l))
      catch { case _: Exception => None }
    }.toMap

  // ---------------------------------------------------------------
  // skip evaluator
  // ---------------------------------------------------------------

  /** Typed comparison matching SPARK's run-time semantics: strings in
    * UTF8String binary order, longs/ints as Long, doubles as Double.
    */
  private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case LongType | IntegerType =>
      java.lang.Long.compare(asLong(a), asLong(b))
    case DoubleType =>
      java.lang.Double.compare(asDouble(a), asDouble(b))
    case StringType =>
      UTF8String.fromString(a.toString).compareTo(UTF8String.fromString(b.toString))
    case other => throw new IllegalArgumentException(s"uncomparable $other")
  }

  private def asLong(a: Any): Long = a match {
    case l: Long => l
    case i: Int => i.toLong
    case n: java.lang.Number => n.longValue()
    case other => throw new IllegalArgumentException(s"not a long: $other")
  }

  private def asDouble(a: Any): Double = a match {
    case d: Double => d
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"not a double: $other")
  }

  /** May any row of a file with stats `fs` satisfy `f`? Conservative:
    * anything surprising (unknown column, untyped value, exotic filter)
    * returns true — skipping is an optimization, never a gate. Value
    * predicates only match non-null rows, so an all-null column rules
    * them out even without min/max.
    */
  def mayMatch(f: Filter, fs: FileStats, types: Map[String, DataType]): Boolean =
    try evalMay(f, fs, types)
    catch { case _: Exception => true }

  private def evalMay(f: Filter, fs: FileStats,
      types: Map[String, DataType]): Boolean = {
    // (min, max, type) when the column is range-prunable in this file
    def range(a: String): Option[(Any, Any, DataType)] =
      for { c <- fs.cols.get(a); dt <- types.get(a); mn <- c.min; mx <- c.max }
        yield (mn, mx, dt)
    // can the column produce a non-null value in this file?
    def someNonNull(a: String): Boolean =
      fs.cols.get(a).forall(fs.hasNonNull) // unknown column: assume yes
    def inRange(a: String, v: Any): Boolean =
      range(a).forall { case (mn, mx, dt) =>
        cmp(dt, v, mn) >= 0 && cmp(dt, v, mx) <= 0
      }
    // point-lookup refinement: a recorded bloom can refute equality
    // even when the value sits inside the file's [min,max] — the case
    // hash-scattered keys always hit. Absent blooms and non-equality
    // shapes pass through (conservative true).
    def bloomHas(a: String, v: Any): Boolean =
      (for { c <- fs.cols.get(a); bl <- c.bloom; dt <- types.get(a) }
        yield dt match {
          case LongType | IntegerType => bl.mayContain(Bloom.hashLong(asLong(v)))
          case StringType => bl.mayContain(Bloom.hashBytes(
            v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          case _ => true
        }).getOrElse(true)
    f match {
      case EqualTo(a, v) => someNonNull(a) && inRange(a, v) && bloomHas(a, v)
      case EqualNullSafe(a, null) => evalMay(IsNull(a), fs, types)
      case EqualNullSafe(a, v) => someNonNull(a) && inRange(a, v) && bloomHas(a, v)
      case GreaterThan(a, v) =>
        someNonNull(a) && range(a).forall { case (_, mx, dt) => cmp(dt, mx, v) > 0 }
      case GreaterThanOrEqual(a, v) =>
        someNonNull(a) && range(a).forall { case (_, mx, dt) => cmp(dt, mx, v) >= 0 }
      case LessThan(a, v) =>
        someNonNull(a) && range(a).forall { case (mn, _, dt) => cmp(dt, mn, v) < 0 }
      case LessThanOrEqual(a, v) =>
        someNonNull(a) && range(a).forall { case (mn, _, dt) => cmp(dt, mn, v) <= 0 }
      case In(a, vs) => someNonNull(a) &&
        vs.exists(v => v != null && inRange(a, v) && bloomHas(a, v))
      case IsNull(a) => fs.cols.get(a).forall(_.nulls > 0L)
      case IsNotNull(a) => someNonNull(a)
      case And(l, r) => evalMay(l, fs, types) && evalMay(r, fs, types)
      case Or(l, r) => evalMay(l, fs, types) || evalMay(r, fs, types)
      case Not(EqualTo(a, v)) =>
        // false only when the file is constant-v and null-free
        !range(a).exists { case (mn, mx, dt) =>
          cmp(dt, mn, v) == 0 && cmp(dt, mx, v) == 0 &&
            fs.cols.get(a).forall(_.nulls == 0L)
        }
      case _: AlwaysFalse => false
      case _ => true // StartsWith, general Not, unknown: never skip on it
    }
  }

  /** Must EVERY row of a file with stats `fs` satisfy `f`? The dual of
    * [[mayMatch]], conservative the other way: anything unprovable
    * returns FALSE. Together they classify a file as fully-in
    * (mustMatch), fully-out (!mayMatch), or straddling — the dichotomy
    * EXACT filter pushdown needs: when no file straddles, file
    * selection alone answers the filter and the scan may claim it
    * (VERDICT r15 Next #6). Value predicates require a null-free
    * column (a null row fails them).
    */
  def mustMatch(f: Filter, fs: FileStats, types: Map[String, DataType]): Boolean =
    try evalMust(f, fs, types)
    catch { case _: Exception => false }

  private def evalMust(f: Filter, fs: FileStats,
      types: Map[String, DataType]): Boolean = {
    // (min, max, type, stats) when the column is range-provable AND
    // null-free in this file — the precondition of every value predicate
    def nfRange(a: String): Option[(Any, Any, DataType)] =
      for {
        c <- fs.cols.get(a); dt <- types.get(a); mn <- c.min; mx <- c.max
        if c.nulls == 0L
      } yield (mn, mx, dt)
    f match {
      case EqualTo(a, v) => nfRange(a).exists { case (mn, mx, dt) =>
        cmp(dt, mn, v) == 0 && cmp(dt, mx, v) == 0 }
      case EqualNullSafe(a, v) if v != null => evalMust(EqualTo(a, v), fs, types)
      case GreaterThan(a, v) =>
        nfRange(a).exists { case (mn, _, dt) => cmp(dt, mn, v) > 0 }
      case GreaterThanOrEqual(a, v) =>
        nfRange(a).exists { case (mn, _, dt) => cmp(dt, mn, v) >= 0 }
      case LessThan(a, v) =>
        nfRange(a).exists { case (_, mx, dt) => cmp(dt, mx, v) < 0 }
      case LessThanOrEqual(a, v) =>
        nfRange(a).exists { case (_, mx, dt) => cmp(dt, mx, v) <= 0 }
      case In(a, vs) => // provable only for a constant column whose value ∈ vs
        nfRange(a).exists { case (mn, mx, dt) =>
          cmp(dt, mn, mx) == 0 && vs.exists(v => v != null && cmp(dt, v, mn) == 0) }
      case IsNull(a) => fs.cols.get(a).exists(_.nulls == fs.rows)
      case IsNotNull(a) => fs.cols.get(a).exists(_.nulls == 0L)
      case And(l, r) => evalMust(l, fs, types) && evalMust(r, fs, types)
      case Or(l, r) => evalMust(l, fs, types) || evalMust(r, fs, types)
      case _: AlwaysTrue => true
      case _ => false // Not, StartsWith, unknown: never claim exactness
    }
  }

  /** Is `f` fully answered by FILE SELECTION against these stats — i.e.
    * does every file either refute it ([[mayMatch]] false → skipped) or
    * prove it row-universally ([[mustMatch]] → kept whole)? Requires
    * stats on every file; a single straddling (or statless) file makes
    * the filter residual.
    */
  def exactlySelectable(f: Filter, allStats: Seq[FileStats],
      types: Map[String, DataType]): Boolean =
    allStats.forall(fs => !mayMatch(f, fs, types) || mustMatch(f, fs, types))

  /** The subset of a pushed-filter array usable for file skipping (for
    * pushedFilters() plan display — evaluation itself is per-file).
    */
  def skippable(filters: Array[Filter]): Array[Filter] = filters.filter(usable)

  private def usable(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: AlwaysTrue | _: AlwaysFalse => true
    case And(l, r) => usable(l) && usable(r)
    case Or(l, r) => usable(l) && usable(r)
    case Not(c) => usable(c)
    case _ => false
  }

  // ---------------------------------------------------------------
  // write-side stats collection
  // ---------------------------------------------------------------

  /** Accumulates per-column min/max/nulls + row count as the task
    * writer streams rows — one branch per row per column, no second
    * pass. UTF8String min/max are COPIED (the input row's buffer is
    * reused) and compared in binary order.
    */
  final class StatsCollector(schema: StructType,
      bloomCols: Set[String] = Set.empty) {
    private val n = schema.fields.length
    // per-column type tag resolved ONCE (the observe loop is the
    // per-row write hot path): 0=long 1=int 2=double 3=string 4=other
    private val tag: Array[Int] = schema.fields.map(_.dataType match {
      case LongType => 0
      case IntegerType => 1
      case DoubleType => 2
      case StringType => 3
      case _ => 4
    })
    // OPT-IN bloom tracking (write option `bloomFor`): distinct value
    // hashes accumulate per named long/int/string column; past
    // Bloom.MaxDistinct the column drops its filter (over-cardinality
    // blooms would be all-ones metadata weight)
    private val bloomSets: Array[java.util.HashSet[java.lang.Long]] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        if (bloomCols.contains(f.name) && tag(i) != 2 && tag(i) != 4)
          new java.util.HashSet[java.lang.Long]()
        else null
      }.toArray
    private val bloomDropped = new Array[Boolean](n)
    // ALWAYS-ON KMV distinct sketches (r18): K unsigned-smallest
    // distinct value hashes per supported column — O(1) amortized per
    // cell (a full set rejects most hashes on one unsigned compare),
    // 256 bytes per column in the stats line. Feeds the scan's CBO
    // column statistics; a poisoned column drops its sketch with its
    // bounds (observe skips poisoned columns, so a kept sketch would
    // silently miss values).
    private val kmvSets: Array[java.util.TreeSet[java.lang.Long]] =
      tag.map(t => if (t != 4) Kmv.newSet() else null)
    // ALWAYS-ON equi-height histogram sketches (r19) for NUMERIC
    // columns: one bounded deterministic quantile buffer per long/int/
    // double column — one array store per sampled cell, halve-and-
    // stride past capacity. Poisoned columns drop their histogram with
    // their bounds (observe skips poisoned cells, so a kept histogram
    // would silently miss mass).
    private val histBufs: Array[EquiHeight.Sketch] =
      tag.map(t => if (t <= 2) new EquiHeight.Sketch() else null)
    private def trackBloom(i: Int, h: Long): Unit = {
      val set = bloomSets(i)
      if (set != null && !bloomDropped(i)) {
        set.add(java.lang.Long.valueOf(h))
        if (set.size() > Bloom.MaxDistinct) {
          bloomDropped(i) = true
          set.clear()
        }
      }
    }
    private var rowCount = 0L
    private val nulls = new Array[Long](n)
    private val longMin = new Array[Long](n)
    private val longMax = new Array[Long](n)
    private val dblMin = new Array[Double](n)
    private val dblMax = new Array[Double](n)
    private val strMin = new Array[UTF8String](n)
    private val strMax = new Array[UTF8String](n)
    private val sums = new Array[Long](n)
    private val seen = new Array[Boolean](n)
    private val poisoned = new Array[Boolean](n) // NaN / oversize string
    private val sumOverflow = new Array[Boolean](n)

    def observe(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      rowCount += 1L
      var i = 0
      while (i < n) {
        if (row.isNullAt(i)) nulls(i) += 1L
        else if (!poisoned(i)) (tag(i): @annotation.switch) match {
          case 0 | 1 =>
            val v = if (tag(i) == 0) row.getLong(i) else row.getInt(i).toLong
            if (!seen(i)) { longMin(i) = v; longMax(i) = v; seen(i) = true }
            else {
              if (v < longMin(i)) longMin(i) = v
              if (v > longMax(i)) longMax(i) = v
            }
            if (!sumOverflow(i))
              try sums(i) = Math.addExact(sums(i), v)
              catch { case _: ArithmeticException => sumOverflow(i) = true }
            val h = Bloom.hashLong(v)
            Kmv.track(kmvSets(i), h)
            histBufs(i).add(v.toDouble)
            if (bloomSets(i) != null) trackBloom(i, h)
          case 2 =>
            // -0.0 normalizes to 0.0 (ADVICE r15): Spark groups signed
            // zeros as one value, so recorded bounds/purity keys must
            // too — otherwise two pure files keyed -0.0 and 0.0 would
            // answer a grouped metadata fold with two rows where the
            // row-level answer has one
            val v0 = row.getDouble(i)
            val v = if (v0 == 0.0d) 0.0d else v0
            // NaN breaks range reasoning; ±Infinity breaks the closed
            // JSON encoding (bare `Infinity` is unparseable) — both
            // poison the column's bounds (code-review r15)
            if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
              poisoned(i) = true
            else {
              Kmv.track(kmvSets(i),
                Bloom.hashLong(java.lang.Double.doubleToLongBits(v)))
              histBufs(i).add(v)
              if (!seen(i)) { dblMin(i) = v; dblMax(i) = v; seen(i) = true }
              else {
                if (v < dblMin(i)) dblMin(i) = v
                if (v > dblMax(i)) dblMax(i) = v
              }
            }
          case 3 =>
            val v = row.getUTF8String(i)
            val h = Bloom.hashBytes(v.getBytes)
            Kmv.track(kmvSets(i), h)
            if (bloomSets(i) != null)
              trackBloom(i, h)
            // an oversize string poisons min/max AND the bloom: the
            // poisoned branch skips this whole case from here on, so a
            // kept bloom would silently miss later values — unsound
            if (v.numChars() > MaxStatString) {
              poisoned(i) = true
              bloomDropped(i) = true
            }
            else if (!seen(i)) {
              strMin(i) = v.clone(); strMax(i) = v.clone(); seen(i) = true
            } else {
              if (v.compareTo(strMin(i)) < 0) strMin(i) = v.clone()
              if (v.compareTo(strMax(i)) > 0) strMax(i) = v.clone()
            }
          case _ => poisoned(i) = true // unknown type: rows/nulls only
        }
        i += 1
      }
    }

    def result(sorted: Seq[String]): FileStats = {
      val cols = schema.fields.zipWithIndex.map { case (f, i) =>
        val mm: Option[(Any, Any)] =
          if (!seen(i) || poisoned(i)) None
          else f.dataType match {
            case LongType | IntegerType => Some((longMin(i), longMax(i)))
            case DoubleType => Some((dblMin(i), dblMax(i)))
            case StringType => Some((strMin(i).toString, strMax(i).toString))
            case _ => None
          }
        val sm: Option[Long] = f.dataType match {
          case LongType | IntegerType
              if seen(i) && !poisoned(i) && !sumOverflow(i) => Some(sums(i))
          case _ => None
        }
        val bl: Option[Bloom] =
          if (bloomSets(i) != null && !bloomDropped(i) &&
              !bloomSets(i).isEmpty)
            Some(Bloom.build(bloomSets(i)))
          else None
        val kv: Option[Seq[Long]] =
          if (kmvSets(i) != null && !poisoned(i)) Some(Kmv.toSeq(kmvSets(i)))
          else None
        // histogram ends CLAMP to the exact recorded bounds: the strided
        // sketch can miss the extremes, and Spark's numBinsHoldingRange
        // asserts that any [min,max]-intersected predicate range fits
        // inside the histogram — a sketch-end narrower than the true
        // bounds would fail that assertion outright (seen at sf0.1)
        val hs: Option[Seq[Double]] =
          if (histBufs(i) != null && seen(i) && !poisoned(i))
            histBufs(i).boundaries().map { b =>
              val (lo, hi) = (tag(i): @annotation.switch) match {
                case 0 | 1 => (longMin(i).toDouble, longMax(i).toDouble)
                case _ => (dblMin(i), dblMax(i))
              }
              if (b.size < 2) b
              else lo +: b.slice(1, b.size - 1) :+ hi
            }
          else None
        f.name -> ColStats(mm.map(_._1), mm.map(_._2), nulls(i), sm, bl, kv,
          hs)
      }.toMap
      FileStats(rowCount, cols, sorted)
    }
  }
}
