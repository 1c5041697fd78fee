package graft.functions

import graft.SparkFixture
import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The per-row MinHash expressions must be BIT-IDENTICAL to the Catalyst
  * forms they replaced — signatures to the `explode` +
  * `min(xxhash64(s, lit(seed)))` hash aggregate, band keys to the
  * `xxhash64(slice(sig, …))` HOF, hashed shingles to
  * `transform(sh, s → xxhash64(s))` — so every bucket, candidate pair and
  * verified Jaccard of the minhash tier is unchanged. The old forms are
  * test-local copies.
  */
class MinhashExprSpec extends AnyFunSuite with SparkFixture {

  /** The replaced signature aggregate, verbatim. */
  private def aggregateSignatures(shingled: DataFrame, numHashes: Int): DataFrame = {
    val minCols = (1 to numHashes).map(seed => min(xxhash64(col("s"), lit(seed))).as(s"m$seed"))
    shingled.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((1 to numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** The replaced band-key HOF, verbatim. */
  private def hofBandKeys(sig: org.apache.spark.sql.Column, numBands: Int, rowsPerBand: Int) =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** The replaced banded frame: one (id, band, bucket) row per band. */
  private def hofBanded(withSig: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    withSig.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(numBands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))))
        .as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  private val texts: Seq[String] = {
    val rng = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "ünï", "çødé", "字", "λ")
    val crafted = Seq(
      null, "", " ", "one", "two words",
      "ünï çødé wörds hère und mehr wörds", "汉 字 分 词 测 试",
      "a b c a b c a b c a b c",
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the sleepy dog")
    crafted ++ Seq.fill(30)(Seq.fill(3 + rng.nextInt(12))(words(rng.nextInt(words.length))).mkString(" "))
  }

  /** Documents as a checkpointed (non-local) relation, so the expressions
    * run through generated code rather than local-relation folding.
    */
  private lazy val docs: DataFrame = spark.createDataFrame(
    texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava,
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    .localCheckpoint()

  /** Shingle frames that reach the families: the pipeline's distinct one,
    * the raw one (repeated shingles), and crafted arrays — empty, null,
    * null elements — that text never produces.
    */
  private lazy val frames: Seq[(String, DataFrame)] = {
    val crafted = spark.createDataFrame(
      Seq[Row](Row(100L, Seq.empty[String]), Row(101L, null), Row(102L, Seq(null, "x")),
        Row(103L, Seq(null)), Row(104L, Seq("x", "x", "y"))).asJava,
      StructType(Seq(StructField("id", LongType), StructField("sh", ArrayType(StringType)))))
      .localCheckpoint()
    Seq(
      "distinct" -> Dedup.shingleFrame(docs, "text", "doc_id", 3),
      "raw" -> docs.select(col("doc_id").as("id"), TextOps.shingles(col("text"), 3).as("sh")),
      "crafted" -> crafted)
  }

  private def sigMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("signatures equal the explode + min(xxhash64) aggregate bit for bit") {
    for ((name, shingled) <- frames; numHashes <- Seq(64, 8)) {
      val got = sigMap(Dedup.XxHash64Minhash.signatures(shingled, numHashes))
      val want = sigMap(aggregateSignatures(shingled, numHashes))
      assert(got.keySet == want.keySet, s"$name/$numHashes: signature rows differ")
      for ((id, sig) <- want)
        assert(got(id) == sig, s"$name/$numHashes: id $id signature differs")
      assert(got.values.forall(_.length == numHashes))
    }
  }

  test("a document with no shingles yields no signature row") {
    val crafted = frames.toMap.apply("crafted")
    val ids = sigMap(Dedup.XxHash64Minhash.signatures(crafted, 8)).keySet
    assert(ids == Set(102L, 103L, 104L), "empty (100) and null (101) arrays must get no row")
    // null text shingles to a null array: no row either
    val textIds = sigMap(Dedup.minhashSignatures(docs, numHashes = 8)).keySet
    assert(textIds == texts.indices.filter(texts(_) != null).map(_.toLong).toSet)
  }

  test("the signature projection needs no exchange") {
    val shingled = frames.toMap.apply("crafted")
    val plan = Dedup.XxHash64Minhash.signatures(shingled, 64).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    val old = aggregateSignatures(shingled, 64).queryExecution.executedPlan.toString
    assert(old.contains("Exchange"), "the aggregate pin lost its shuffle: " + old)
  }

  test("band keys equal the xxhash64(slice) HOF bit for bit") {
    for ((name, shingled) <- frames; (numHashes, numBands) <- Seq(64 -> 16, 8 -> 2)) {
      val r = numHashes / numBands
      val sigs = Dedup.XxHash64Minhash.signatures(shingled, numHashes).localCheckpoint()
      def rows(df: DataFrame) =
        df.collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).sorted.toSeq
      val got = rows(Dedup.bandedFrame(sigs, numBands, r))
      assert(got == rows(hofBanded(sigs, numBands, r)), s"$name/$numHashes/$numBands")
      assert(got.size == sigs.count() * numBands)
    }
    // arbitrary arrays: shorter than the bands, null elements, empty
    val arrays = spark.createDataFrame(
      Seq[Row](Row(1L, Seq.empty[java.lang.Long]), Row(2L, Seq[java.lang.Long](5L, -3L, 7L)),
        Row(3L, Seq[java.lang.Long](1L, null, Long.MinValue, Long.MaxValue, 0L)),
        Row(4L, (0 until 64).map(i => java.lang.Long.valueOf(i * 0x9E3779B97F4A7C15L))),
        Row(5L, null)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("sig", ArrayType(LongType)))))
      .localCheckpoint()
    for ((nb, r) <- Seq(16 -> 4, 2 -> 4, 3 -> 2)) {
      val both = arrays.select(col("id"),
        Dedup.bandKeys(col("sig"), nb, r).as("got"), hofBandKeys(col("sig"), nb, r).as("want"))
        .collect()
      for (row <- both if row.getLong(0) != 5L)
        assert(row.getSeq[Long](1) == row.getSeq[Long](2), s"id ${row.getLong(0)} $nb×$r")
      // a null signature has no band keys (the HOF keyed every band 42)
      assert(both.find(_.getLong(0) == 5L).get.isNullAt(1))
    }
  }

  test("hashed shingles equal transform(sh, xxhash64) bit for bit") {
    for ((name, shingled) <- frames) {
      val both = shingled.select(col("id"),
        Dedup.hashedShingles(col("sh")).as("got"),
        transform(col("sh"), s => xxhash64(s)).as("want")).collect()
      for (row <- both) {
        if (row.isNullAt(2)) assert(row.isNullAt(1), s"$name: id ${row.getLong(0)}")
        else assert(row.getSeq[Long](1) == row.getSeq[Long](2), s"$name: id ${row.getLong(0)}")
      }
    }
  }

  test("interpreted eval matches the generated code") {
    val sh = Seq("a b c", "b c d", "ünï çødé wörds")
    val arr = Literal.create(sh, ArrayType(StringType))
    def longs(v: Any): Seq[Long] = v.asInstanceOf[ArrayData].toLongArray().toSeq
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(sh).toDF("sh").localCheckpoint()
    val viaCodegen = df.select(
      Dedup.minhash(col("sh"), 8).as("sig"),
      Dedup.hashedShingles(col("sh")).as("h"))
      .select(col("sig"), Dedup.bandKeys(col("sig"), 2, 4).as("keys"), col("h")).head()
    val sig = MinhashExpr(arr, 8).eval(null)
    assert(longs(sig) == viaCodegen.getSeq[Long](0))
    assert(longs(BandKeysExpr(Literal.create(longs(sig), ArrayType(LongType)), 2, 4).eval(null)) ==
      viaCodegen.getSeq[Long](1))
    assert(longs(HashedShinglesExpr(arr).eval(null)) == viaCodegen.getSeq[Long](2))
    assert(MinhashExpr(Literal.create(Seq.empty[String], ArrayType(StringType)), 8).eval(null) == null)
    assert(MinhashExpr(Literal.create(null, ArrayType(StringType)), 8).eval(null) == null)
  }
}
