package perfbench

import java.util.SplittableRandom

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every row is a pure function of the seed and its
  * own entity id (each user and each document draws from its own
  * `SplittableRandom`), so one seed gives identical inputs at any partition
  * or core count, and [[checksum]] of the written inputs is a fixed number
  * per seed.
  */
object Gen {

  /** SplitMix64 finalizer over a pair: the per-entity stream key. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Shape of a planted low-rank ratings set.
    *
    * @param nUsers       users with training ratings, ids `0 until nUsers`
    * @param nItems       items, ids `0 until nItems`
    * @param rank         rank of the planted model
    * @param meanPerUser  mean ratings per user (log-normal per user)
    * @param noise        std-dev of the Gaussian rating noise (explicit)
    * @param zipf         exponent of the item-popularity power law
    * @param implicitPrefs interactions (accept with prob sigmoid(u·v),
    *                     confidence counts) instead of explicit ratings
    */
  final case class Planted(
      nUsers: Int,
      nItems: Int,
      rank: Int,
      meanPerUser: Double,
      noise: Double,
      zipf: Double,
      implicitPrefs: Boolean)

  /** One generated rating; `heldout` marks the last rating of a user with
    * at least 5, kept out of training for the quality checks.
    */
  final case class Rating(user: Int, item: Int, rating: Float, heldout: Boolean)

  /** The planted item side: factors and the popularity CDF. */
  final class ItemSide(val factors: Array[Array[Float]], val cdf: Array[Double]) extends Serializable {
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      val j = if (i >= 0) i else -i - 1
      math.min(j, cdf.length - 1)
    }
  }

  def gaussianVector(rng: SplittableRandom, rank: Int, scale: Double): Array[Float] =
    Array.fill(rank)((gaussian(rng) * scale).toFloat)

  def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream position simple
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Per-coordinate scale giving planted dot products unit variance. */
  def factorScale(rank: Int): Double = math.pow(rank.toDouble, -0.25)

  def itemSide(seed: Long, p: Planted): ItemSide = {
    val rng = new SplittableRandom(mix(seed, -1L))
    val factors = Array.fill(p.nItems)(gaussianVector(rng, p.rank, factorScale(p.rank)))
    // popularity rank -> item: a seeded permutation, so popularity is not
    // correlated with the id (and with the id-hash block placement)
    val perm = Array.range(0, p.nItems)
    var i = p.nItems - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val weight = new Array[Double](p.nItems)
    i = 0
    while (i < p.nItems) { weight(perm(i)) = 1.0 / math.pow(i + 1.0, p.zipf); i += 1 }
    val cdf = weight.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    new ItemSide(factors, cdf.map(_ / total))
  }

  /** The planted factor of one user (independent of its ratings stream). */
  def userFactor(seed: Long, p: Planted, user: Int): Array[Float] =
    gaussianVector(new SplittableRandom(mix(seed, 2L * user + 1)), p.rank, factorScale(p.rank))

  /** All ratings of one user: a log-normal count of distinct items drawn
    * by popularity. Explicit ratings are `u·v + noise`; implicit
    * interactions accept a drawn item with probability `sigmoid(4(u·v − 1))`
    * and carry a confidence count in 1..5.
    */
  def userRatings(seed: Long, p: Planted, items: ItemSide, user: Int): Array[Rating] = {
    val u = userFactor(seed, p, user)
    val rng = new SplittableRandom(mix(seed, 2L * user + 2))
    val sigma = 0.7
    val k0 = math.exp(math.log(p.meanPerUser) - sigma * sigma / 2 + sigma * gaussian(rng))
    val k = math.max(3, math.min(math.round(k0).toInt, math.min(p.nItems / 2, 20 * p.meanPerUser.toInt)))
    val seen = new java.util.HashSet[Integer]()
    val out = new Array[Rating](k)
    var n = 0
    var attempts = 0
    while (n < k && attempts < 200 * k) {
      attempts += 1
      val item = items.sample(rng)
      if (!seen.contains(item)) {
        val d = dot(u, items.factors(item))
        if (p.implicitPrefs) {
          val accept = 1.0 / (1.0 + math.exp(-4.0 * (d - 1.0)))
          if (rng.nextDouble() < accept) {
            seen.add(item)
            out(n) = Rating(user, item, (1 + rng.nextInt(1 + (4 * accept).toInt)).toFloat, heldout = false)
            n += 1
          }
        } else {
          seen.add(item)
          out(n) = Rating(user, item, (d + p.noise * gaussian(rng)).toFloat, heldout = false)
          n += 1
        }
      }
    }
    val rs = if (n == k) out else out.take(n)
    if (rs.length >= 5) rs(rs.length - 1) = rs(rs.length - 1).copy(heldout = true)
    rs
  }

  /** Ratings of users `from until until` as an RDD (16 fixed slices). */
  def ratingsRdd(spark: SparkSession, seed: Long, p: Planted, from: Int, until: Int): RDD[Rating] = {
    val sc = spark.sparkContext
    val items = sc.broadcast(itemSide(seed, p))
    val slices = 16
    sc.parallelize(0 until slices, slices).flatMap { s =>
      val lo = from + ((until - from).toLong * s / slices).toInt
      val hi = from + ((until - from).toLong * (s + 1) / slices).toInt
      (lo until hi).iterator.flatMap(u => userRatings(seed, p, items.value, u))
    }
  }

  /** Order-independent checksum of a set of rows given per-row hashes. */
  def checksum(rowHashes: RDD[Long]): Long = rowHashes.fold(0L)(_ + _)

  def ratingHash(user: Long, item: Long, rating: Float): Long =
    mix(mix(user, item), java.lang.Float.floatToIntBits(rating).toLong)

  /** Writes `train` (user, item, rating) and `heldout` parquet datasets
    * under `dir`, returns (training rows, held-out ratings, checksum of
    * both datasets as written).
    */
  def writeRatings(spark: SparkSession, seed: Long, p: Planted, dir: String)
    : (Long, Array[Rating], Long) = {
    import spark.implicits._
    val all = ratingsRdd(spark, seed, p, 0, p.nUsers)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      all.filter(!_.heldout).map(r => (r.user, r.item, r.rating))
        .toDF("user", "item", "rating").write.mode("overwrite").parquet(s"$dir/train")
      val heldout = all.filter(_.heldout).collect()
      val sum = checksum(all.map(r => ratingHash(r.user, r.item, r.rating)))
      (all.count() - heldout.length, heldout, sum)
    } finally all.unpersist(blocking = true)
  }

  /** Checksum of a written ratings dataset, read back from disk. */
  def ratingsChecksum(df: DataFrame): Long =
    checksum(df.select("user", "item", "rating").rdd
      .map(r => ratingHash(r.getInt(0).toLong, r.getInt(1).toLong, r.getFloat(2))))

  // ---------------------------------------------------------------------
  // Documents with planted near-duplicate clusters

  /** Shape of a document corpus: `nDocs` docs of 60-140 words from a
    * `vocab`-word vocabulary; `nClusters` planted clusters of
    * `clusterSize` docs each, spread over the id space by a seeded affine
    * permutation. A cluster's first member is its base text; every other
    * member substitutes `edits` words of the base at random positions.
    */
  final case class Docs(nDocs: Int, nClusters: Int, clusterSize: Int, vocab: Int, edits: Int)

  /** Seeded bijection on `0 until n` (affine, with a multiplier coprime to n). */
  final case class Perm(n: Int, a: Long, b: Long) {
    def apply(i: Int): Int = ((a * i + b) % n).toInt
  }

  def perm(seed: Long, n: Int): Perm = {
    val rng = new SplittableRandom(mix(seed, -2L))
    var a = 1L + rng.nextInt(n - 1)
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 1
    Perm(n, a % n, rng.nextInt(n).toLong)
  }

  /** Planted cluster members (doc ids), cluster by cluster. */
  def clusters(seed: Long, d: Docs): Array[Array[Long]] = {
    val pm = perm(seed, d.nDocs)
    Array.tabulate(d.nClusters)(c => Array.tabulate(d.clusterSize)(j => pm(c * d.clusterSize + j).toLong))
  }

  private def words(rng: SplittableRandom, d: Docs): Array[Int] =
    Array.fill(60 + rng.nextInt(81))(rng.nextInt(d.vocab))

  /** Text of one document. */
  def docText(seed: Long, d: Docs, pm: Perm, docId: Int): String = {
    // position in the permuted order: the first nClusters*clusterSize
    // positions are cluster members, the rest are singletons
    val pos = inverse(pm, docId)
    val ws =
      if (pos < d.nClusters * d.clusterSize) {
        val c = pos / d.clusterSize
        val j = pos % d.clusterSize
        val base = words(new SplittableRandom(mix(seed, -3L - c)), d)
        if (j > 0) {
          val rng = new SplittableRandom(mix(seed, 3L * docId + 1))
          var e = 0
          while (e < d.edits) {
            val at = rng.nextInt(base.length)
            base(at) = (base(at) + 1 + rng.nextInt(d.vocab - 1)) % d.vocab
            e += 1
          }
        }
        base
      } else words(new SplittableRandom(mix(seed, 3L * docId + 2)), d)
    ws.map(w => s"w$w").mkString(" ")
  }

  private def inverse(pm: Perm, y: Int): Int = {
    // x = a^-1 (y - b) mod n
    val aInv = BigInt(pm.a).modInverse(BigInt(pm.n)).toLong
    (((y - pm.b) % pm.n + pm.n) % pm.n * aInv % pm.n).toInt
  }

  /** Writes the corpus as parquet `documents` (doc_id, text, lang, source,
    * n_chars — the shape of the library's fixture documents); returns
    * the checksum of the rows as written.
    */
  def writeDocs(spark: SparkSession, seed: Long, d: Docs, dir: String): Long = {
    import spark.implicits._
    val pm = perm(seed, d.nDocs)
    val langs = Array("en", "fr", "de", "es", "it", "pt", "nl", "pl")
    val rows = spark.sparkContext.parallelize(0 until 16, 16).flatMap { s =>
      val lo = (d.nDocs.toLong * s / 16).toInt
      val hi = (d.nDocs.toLong * (s + 1) / 16).toInt
      (lo until hi).iterator.map { id =>
        val text = docText(seed, d, pm, id)
        val h = mix(seed, id.toLong)
        (id.toLong, text, langs((h & 7).toInt), s"src${(h >>> 3) % 5}", text.length.toLong)
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents")
      checksum(rows.map { case (id, text, _, _, _) => mix(id, text.hashCode.toLong) })
    } finally rows.unpersist(blocking = true)
  }

  def docsChecksum(df: DataFrame): Long =
    checksum(df.select("doc_id", "text").rdd.map(r => mix(r.getLong(0), r.getString(1).hashCode.toLong)))
}
