package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunOnce.materialize
import graft.Tables
import graft.functions.PortableSql.seedLadderSql

/** Perceptual image hashing + near-dup pairing — the multimodal twin of
  * the text dedup family: a 56-bit difference hash (dHash) computed
  * from pixels decoded by the REAL BMP codec, then candidate pairs from
  * a banded equi-join with a pigeonhole guarantee, exactly the SimHash
  * pattern (`q_dedup_simhash_pairs`) applied to images.
  *
  * Fixture semantics: consecutive doc pairs (2k, 2k+1) are "re-uploads"
  * of the SAME test card — the odd twin carries a one-pixel edit at
  * (0,0) (each channel +100 mod 256), which perturbs exactly one sample
  * of the dHash grid, so sibling hamming distance is 0 or 1 while
  * unrelated images sit near 28 (56/2). The banding (4 bands x 14 bits)
  * is lossless for the <= 3 threshold: 3 or fewer flipped bits leave at
  * least one of the 4 bands untouched (4 flips COULD hit one band each,
  * which is why HammingMax must stay below the band count).
  *
  * Scale shape: one decode+hash pass per doc (mapPartitions, decoder
  * reused per task), then an equi-join on (band, value) — candidates
  * scale with collision volume, never doc². The DuckDB oracle computes
  * the hash arithmetically from the pixel ladder (no codec) and pairs
  * NAIVELY with bit_count(xor) over all pairs — an independent plan on
  * both sides of the operator.
  */
object Phash {

  val Bands = 4
  val BandBits = 14
  val HammingMax = 3
  /** dHash sample grid: 9 columns x 7 rows -> 8x7 = 56 comparison bits. */
  val GridW = 9
  val GridH = 7

  /** 56-bit dHash of decoded pixels: bit (y*8+x) = gray rises between
    * horizontally adjacent samples of a (GridW x GridH) grid.
    */
  def dhashOf(img: BmpImage): Long = {
    val w = img.width
    val h = img.height
    def gray(sx: Int, sy: Int): Int = {
      val p = (sy * w + sx) * 3
      ((img.rgb(p) & 0xFF) + (img.rgb(p + 1) & 0xFF) + (img.rgb(p + 2) & 0xFF)) / 3
    }
    var hash = 0L
    var y = 0
    while (y < GridH) {
      val py = y * (h - 1) / (GridH - 1)
      var x = 0
      while (x < GridW - 1) {
        val p1 = x * (w - 1) / (GridW - 1)
        val p2 = (x + 1) * (w - 1) / (GridW - 1)
        if (gray(p2, py) > gray(p1, py)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** (doc_id, phash): generate the shared test card per doc PAIR (image
    * seed = doc_id / 2), apply the odd twin's one-pixel edit, round-trip
    * through the real codec, hash the DECODED pixels.
    */
  def phashes(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val img = id / 2
        val (w, h) = Bmp.dims(img)
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          val (x, y) = (i % w, i / w)
          var c = 0
          while (c < 3) {
            val base = Bmp.pixel(img, c, x, y)
            val v = if (id % 2 == 1 && x == 0 && y == 0) (base + 100) % 256 else base
            rgb(i * 3 + c) = v.toByte
            c += 1
          }
          i += 1
        }
        val decoded = BmpCodec.decode(id, BmpCodec.encode(BmpImage(w, h, rgb)))
        (id, dhashOf(decoded))
      }
    }.toDF("doc_id", "phash")
  }

  /** Near-dup pairs: banded candidates, exact hamming verify. */
  /** Banded candidate pairs with their hamming distance, unfiltered —
    * shared by [[phashPairs]] and the threshold sweep. Banding is
    * LOSSLESS for hamming <= Bands-1 (pigeonhole: 3 flipped bits cannot
    * touch all 4 bands), so every threshold <= [[HammingMax]] sees the
    * complete pair set.
    */
  private def bandedPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    val hashes = materialize(phashes(spark, docs))
    val bands = hashes.select(col("doc_id"), col("phash"), explode(array(
        (0 until Bands).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("phash"), b * BandBits).mod(1 << BandBits).as("v"))): _*))
        .as("band"))
      .select(col("doc_id"), col("phash"),
        col("band.b").as("b"), col("band.v").as("v"))
    bands.as("a").join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .distinct()
  }

  def phashPairs(spark: SparkSession, docs: DataFrame): DataFrame =
    bandedPairs(spark, docs).filter(col("hamming") <= HammingMax)

  /** Near-dup pair counts at every hamming cutoff 0..[[HammingMax]] —
    * the q_dedup_threshold_sweep analog for images: one banded pair
    * computation, one grouped count per cutoff off the cached frame.
    */
  def phashHammingSweep(spark: SparkSession, docs: DataFrame): DataFrame = {
    val p = materialize(bandedPairs(spark, docs))
    (0 to HammingMax).map { t =>
      p.filter(col("hamming") <= t)
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(t.toLong).as("max_hamming"), col("n_pairs"))
    }.reduce(_.unionByName(_))
  }

  /** Re-upload cluster canonicalization — the media twin of text dedup
    * clusters and name entity resolution: connected components over the
    * phash near-dup pairs collapse every edited re-upload chain into one
    * canonical media id (min doc_id), via the same min-label propagation
    * ([[DedupOps.clustersFromPairs]]). The keep-one policy for images
    * needs exactly this: pairwise hamming hits are not enough when A~B
    * and B~C but A's and C's edits push them past the threshold.
    */
  def phashClusters(spark: SparkSession, docs: DataFrame): DataFrame =
    DedupOps.clustersFromPairs(
      docs.select(col("doc_id")),
      phashPairs(spark, docs).select(col("d1"), col("d2")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_phash" -> ((s, dir) => phashPairs(s, Tables.documents(s, dir))),
    "q_phash_sweep" -> ((s, dir) => phashHammingSweep(s, Tables.documents(s, dir))),
    "q_phash_clusters" -> ((s, dir) => phashClusters(s, Tables.documents(s, dir)))
  )

  def oracleSql: Map[String, String] = {
    // hash from the pixel ladder arithmetic alone (no codec), pairs by
    // NAIVE all-pairs bit_count(xor) — both stages independent of the
    // Spark plan
    val pairsSql =
      s"""WITH d AS (SELECT doc_id, doc_id % 2 AS odd,
         |   CAST(16 + (doc_id // 2) % 17 AS INT) AS w,
         |   CAST(8 + (doc_id // 2) % 13 AS INT) AS h,
         |   ${seedLadderSql("(doc_id // 2)")} AS base
         |  FROM documents),
         | g AS (SELECT doc_id, x, y,
         |   ((base + (x * (w-1) // ${GridW - 1}) * 31 + (y * (h-1) // ${GridH - 1}) * 17
         |      + CASE WHEN odd = 1 AND x * (w-1) // ${GridW - 1} = 0
         |          AND y * (h-1) // ${GridH - 1} = 0 THEN 100 ELSE 0 END) % 256
         |    + (base + (x * (w-1) // ${GridW - 1}) * 31 + (y * (h-1) // ${GridH - 1}) * 17 + 67
         |      + CASE WHEN odd = 1 AND x * (w-1) // ${GridW - 1} = 0
         |          AND y * (h-1) // ${GridH - 1} = 0 THEN 100 ELSE 0 END) % 256
         |    + (base + (x * (w-1) // ${GridW - 1}) * 31 + (y * (h-1) // ${GridH - 1}) * 17 + 134
         |      + CASE WHEN odd = 1 AND x * (w-1) // ${GridW - 1} = 0
         |          AND y * (h-1) // ${GridH - 1} = 0 THEN 100 ELSE 0 END) % 256) // 3 AS gray
         |  FROM d, LATERAL unnest(generate_series(0, ${GridW - 1})) AS gx(x),
         |   LATERAL unnest(generate_series(0, ${GridH - 1})) AS gy(y)),
         | hs AS (SELECT g1.doc_id,
         |   CAST(coalesce(sum(CASE WHEN g2.gray > g1.gray
         |     THEN CAST(1 AS BIGINT) << (g1.y * 8 + g1.x) ELSE 0 END), 0) AS BIGINT) AS phash
         |  FROM g g1 JOIN g g2 ON g1.doc_id = g2.doc_id AND g2.y = g1.y
         |    AND g2.x = g1.x + 1
         |  GROUP BY g1.doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         | CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
         |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= $HammingMax""".stripMargin

    val sweepSql = (0 to HammingMax).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS max_hamming, count(*) AS n_pairs
         |FROM ($pairsSql) p WHERE hamming <= $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    Map(
      "q_multimodal_phash" -> pairsSql,
      "q_phash_sweep" -> sweepSql,
      // transitive closure over the same pair set, replayed as the
      // q_dedup_clusters recursive CTE
      "q_phash_clusters" ->
        s"""WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ($pairsSql) p),
           | e AS (SELECT d1, d2 FROM pairs
           |       UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
           | reach(a, b) AS (
           |   SELECT doc_id AS a, doc_id AS b FROM documents
           |   UNION
           |   SELECT r.a, e.d2 AS b FROM reach r JOIN e ON r.b = e.d1)
           |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
           |FROM reach GROUP BY a""".stripMargin)
  }
}
