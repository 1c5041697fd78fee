package graft.ops

import graft.SparkFixture
import graft.queries.PortableMinhash
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class DedupSpec extends AnyFunSuite with SparkFixture {

  private def docsDF(docs: Seq[(Long, String)]) =
    spark.createDataFrame(
      docs.map { case (id, text) => Row(id, text, "en", "src", text.length.toLong) }.asJava,
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill every single day"

  test("exact dedup groups duplicates under one keeper") {
    val docs = docsDF(Seq(
      1L -> base,
      2L -> base, // exact dup of 1
      3L -> "something entirely different here",
      4L -> base, // exact dup of 1
      5L -> "another unique document"))
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("n_copies") == 3)
    assert(groups.head.getAs[Long]("keeper_id") == 1L)
    val keepers = Dedup.exactKeepers(docs).collect().map(_.getLong(0)).sorted
    assert(keepers.toSeq == Seq(1L, 3L, 5L))
  }

  test("minhash LSH finds near-duplicates and only near-duplicates") {
    val nearDup = base.replace("lazy", "sleepy") // one word of ~20 changed
    val docs = docsDF(Seq(
      1L -> base,
      2L -> nearDup,
      3L -> "completely unrelated text about spark query engines and parquet files",
      4L -> "yet another unrelated document mentioning matrices and factorization"))
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("portable minhash family finds the same near-dups and exact jaccards") {
    val nearDup = base.replace("lazy", "sleepy")
    val docs = docsDF(Seq(
      1L -> base,
      2L -> nearDup,
      3L -> "completely unrelated text about spark query engines and parquet files"))
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5, family = PortableMinhash)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
    // signatures stay inside the 56-bit family range and are deterministic
    val sigs = Dedup.minhashSignatures(docs, family = PortableMinhash)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(sigs.forall(_._2.forall(v => v >= 0L && v < PortableMinhash.Modulus)))
    val again = Dedup.minhashSignatures(docs, family = PortableMinhash)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.forall { case (id, s) => again(id) == s })
  }

  test("minhash verified jaccard equals the exact shingle jaccard") {
    val nearDup = base.replace("lazy", "sleepy")
    val docs = docsDF(Seq(1L -> base, 2L -> nearDup))
    // reference jaccard computed in plain Scala
    def sh(t: String): Set[Seq[String]] = t.split(" ").sliding(3).map(_.toSeq).toSet
    val a = sh(base); val b = sh(nearDup)
    val expected = a.intersect(b).size.toDouble / a.union(b).size
    val row = Dedup.minhashNearDups(docs, threshold = 0.1).collect().head
    assert(math.abs(row.getAs[Double]("jaccard") - expected) < 1e-12)
  }

  test("simhash: near-identical docs collide, unrelated docs do not") {
    val nearDup = base.replace("dog", "hound")
    val docs = docsDF(Seq(
      1L -> base,
      2L -> nearDup,
      3L -> "completely different content on an unrelated topic altogether with many words"))
    val sigs = docs.select(Dedup.simhash("text")).collect().map(_.getLong(0))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0), sigs(1)) < hamming(sigs(0), sigs(2)),
      "near-dup must be closer in hamming space than unrelated doc")
    val pairs = Dedup.simhashNearDups(docs, maxHammingDistance = hamming(sigs(0), sigs(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashSignatures (explode+agg) equals the simhash expression form") {
    val docs = docsDF(Seq(
      1L -> base,
      2L -> base.replace("dog", "hound"),
      3L -> "a few other words entirely"))
    val expr = docs.select(org.apache.spark.sql.functions.col("doc_id"), Dedup.simhash("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr == agg)
  }

  test("ngram jaccard inverted-index pairs match exact jaccard") {
    val nearDup = base.replace("quick", "rapid")
    val docs = docsDF(Seq(
      1L -> base, 2L -> nearDup,
      3L -> "no shared trigrams at all in this one really"))
    val rows = Dedup.ngramJaccardPairs(docs, threshold = 0.01).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    def sh(t: String): Set[Seq[String]] = t.split(" ").sliding(3).map(_.toSeq).toSet
    val expected = sh(base).intersect(sh(nearDup)).size.toDouble / sh(base).union(sh(nearDup)).size
    assert(math.abs(rows.head.getAs[Double]("jaccard") - expected) < 1e-12)
  }

  test("embedding near-dup finds a perturbed copy via LSH buckets") {
    val rng = new scala.util.Random(2)
    val dim = 16
    def vec(): Array[Float] = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    val v0 = vec()
    val v0near = v0.map(x => x + (rng.nextFloat() - 0.5f) * 0.02f)
    val rows = (Seq((0L, v0), (1L, v0near)) ++ (2L until 40L).map(i => (i, vec())))
      .map { case (id, v) => Row(id, v.toSeq, 0) }
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))
    val pairs = Dedup.embeddingNearDups(df, dim = dim, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), s"expected (0,1) in ${pairs.toSeq}")
    assert(pairs.length < 5, "random vectors must not pass the 0.99 cosine bar")
  }

  test("anchor links bound output and preserve components of tight dup groups") {
    val rng = new scala.util.Random(5)
    val dim = 16
    def vec(): Array[Float] = Array.fill(dim)(rng.nextFloat() * 2 - 1)
    // two tight dup groups of 5 copies each + background noise
    val g1 = vec(); val g2 = vec()
    def near(v: Array[Float]): Array[Float] = v.map(x => x + (rng.nextFloat() - 0.5f) * 0.02f)
    val rows = ((0L until 5L).map(i => (i, near(g1))) ++
      (5L until 10L).map(i => (i, near(g2))) ++
      (10L until 50L).map(i => (i, vec())))
      .map { case (id, v) => Row(id, v.toSeq) }
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    val numTables = 4
    val links = Dedup.embeddingNearDupAnchors(df, dim = dim, threshold = 0.99,
      numTables = numTables).collect()
    // output bound: at most numTables anchor links per vector — the
    // O(n·tables) contract that replaces the pair tier's O(B²)
    links.groupBy(_.getLong(0)).foreach { case (id, ls) =>
      assert(ls.length <= numTables, s"vector $id has ${ls.length} links")
    }
    // connectivity: each dup group collapses to ONE component under the
    // same component resolution the pair tier feeds
    val comps = Dedup.connectedComponents(
      spark.createDataFrame(links.toSeq.asJava,
        StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
          StructField("cosine", org.apache.spark.sql.types.DoubleType)))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 5L).map(comps.getOrElse(_, -1L)).toSet == Set(0L),
      "group 1 must form one component anchored at id 0")
    assert((5L until 10L).map(comps.getOrElse(_, -1L)).toSet == Set(5L),
      "group 2 must form one component anchored at id 5")
  }

  test("near-dedup keepers drop the higher-id member of each pair") {
    val docs = docsDF(Seq(1L -> base, 2L -> base.replace("lazy", "sleepy"), 3L -> "unique text entirely"))
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
    val kept = Dedup.nearDedupKeepers(docs, pairs).collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("connected components match a union-find oracle on a random graph") {
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(80)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    // union-find with union-by-min: the final root of every node IS the
    // component minimum, exactly the labeling connectedComponents returns
    val parent = Array.tabulate(60)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(n => n -> find(n.toInt).toLong).toMap
    val spark2 = spark
    import spark2.implicits._
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("connected components match union-find across graph shapes") {
    val spark2 = spark
    import spark2.implicits._
    // (seed, nodes, edges): sparse fragments, dense single component, and
    // a duplicate-heavy multigraph with self-loops
    val cases = Seq((11, 40, 20), (12, 25, 120), (13, 30, 60))
    cases.foreach { case (seed, n, m) =>
      val rng = new scala.util.Random(seed)
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed n=$n m=$m")
    }
  }

  test("incremental near-dup keepers drop batch docs near-duplicated in the corpus only") {
    val corpus = docsDF(Seq(
      1L -> base,
      3L -> "something entirely different lives here in this other document about boats"))
    val batch = docsDF(Seq(
      10L -> base.replace("lazy", "sleepy"), // near-dup of corpus doc 1
      20L -> "a wholly unique new crawl document about mountains and rivers and snow",
      21L -> "a wholly unique new crawl document about mountains and rivers and ice"))
    val index = Dedup.minhashIndex(corpus)
    val kept = Dedup.incrementalNearDupKeepers(batch, index, threshold = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    // 10 matches corpus 1 and is dropped; 20/21 are near-dups OF EACH
    // OTHER but of nothing in the corpus — the batch-vs-corpus contract
    // keeps both
    assert(kept.toSeq == Seq(20L, 21L))
    // the portable family drives the gate row: same verdicts
    val keptPortable = Dedup.incrementalNearDupKeepers(
      batch, Dedup.minhashIndex(corpus, family = PortableMinhash),
      threshold = 0.5, family = PortableMinhash)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(keptPortable.toSeq == Seq(20L, 21L))
  }

  test("minhashIndex is row-wise, so O(batch) index appends are sound") {
    // the pipeline keeps the index current by APPENDING each kept batch's
    // own rows (never rebuilding): valid iff a doc's index row depends on
    // that doc alone — index(corpus ∪ batch) == index(corpus) ∪ index(batch)
    val corpus = docsDF(Seq(
      1L -> base,
      3L -> "something entirely different lives here in this other document about boats"))
    val batch = docsDF(Seq(
      20L -> "a wholly unique new crawl document about mountains and rivers and snow"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Seq[Long]]("buckets"), r.getAs[Seq[Long]]("sh"))).sortBy(_._1).toSeq
    val unioned = rows(Dedup.minhashIndex(corpus.unionByName(batch)))
    val appended = rows(Dedup.minhashIndex(corpus)) ++ rows(Dedup.minhashIndex(batch))
    assert(unioned == appended.sortBy(_._1))
  }

  private def shinglePasses(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case e: graft.functions.ShinglesExpr => e }.size).sum
    }.sum

  test("minhashIndex and minhashSignatures shingle each document once") {
    // a repartitioned input, so the plan is not folded into a local relation
    val docs = docsDF(Seq(1L -> base, 2L -> "a short one")).repartition(2)
    assert(shinglePasses(Dedup.minhashIndex(docs)) == 1)
    assert(shinglePasses(Dedup.minhashSignatures(docs)) == 1)
  }

  test("minhashIndex rows equal the shingle-frame join it replaces") {
    val docs = spark.createDataFrame(
      Seq[(Long, String)](1L -> base, 2L -> base.replace("lazy", "sleepy"),
        3L -> "two words", 4L -> "", 5L -> null, 6L -> "x  y  z", 7L -> "é ü 𝄞 ok")
        .map { case (id, text) => Row(id, text) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .repartition(3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Seq[Long]]("buckets"), r.getAs[Seq[Long]]("sh"))).sortBy(_._1).toSeq
    val shingled = Dedup.shingleFrame(docs)
    val joined = Dedup.XxHash64Minhash.signatures(shingled, 64)
      .select(col("id"), Dedup.bandKeys(col("sig"), 16, 4).as("buckets"))
      .join(shingled.select(col("id"), Dedup.hashedShingles(col("sh")).as("sh")), "id")
    val expected = rows(joined)
    assert(expected.map(_._1) == Seq(1L, 2L, 3L, 4L, 6L, 7L))
    assert(rows(Dedup.minhashIndex(docs)) == expected)
  }

  test("connected components fail loudly at the round cap instead of mislabeling") {
    val spark2 = spark
    import spark2.implicits._
    // a 30-chain needs several rounds; capping at 1 must throw, not return
    // the partially-collapsed (wrong) labels
    val chain = (0L until 30L).sliding(2).map(s => (s.head, s(1))).toSeq
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("id_a", "id_b"), maxIterations = 1)
    }
    assert(e.getMessage.contains("maxIterations"))
  }

  test("connected components resolve a long chain (diameter >> rounds)") {
    val spark2 = spark
    import spark2.implicits._
    val chain = (0L until 30L).sliding(2).map(s => (s.head, s(1))).toSeq
    val got = Dedup.connectedComponents(chain.toDF("id_a", "id_b")).collect()
    assert(got.length == 30)
    assert(got.forall(_.getLong(1) == 0L), "every chain node must label to the min id 0")
  }

  test("connected components accept hash-magnitude ids without ANSI overflow") {
    // ids near Long.MaxValue, as produced by this module's own xxhash64
    // content keys: a SUM-based fixpoint fingerprint overflows long
    // arithmetic here and THROWS under Spark 4's default ANSI mode — the
    // xor fingerprint must not
    val spark2 = spark
    import spark2.implicits._
    val big = Long.MaxValue - 10L
    val edges = Seq(
      (big, big - 1L), (big - 1L, big - 2L),       // one component of three
      (big - 5L, big - 6L))                        // and a separate pair
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      big -> (big - 2L), (big - 1L) -> (big - 2L), (big - 2L) -> (big - 2L),
      (big - 5L) -> (big - 6L), (big - 6L) -> (big - 6L)))
  }

  test("ngram pairs equal a brute-force oracle on a randomized corpus") {
    // Pins the sorted-run pair-emission kernel (hash-partition by shingle
    // → single-column sort → bounded run-length emission) to the literal
    // definition: pairs sharing >= minSharedShingles shingles whose
    // document frequency is in [2, cap], verified with exact set Jaccard.
    // The synthetic corpus mixes unique docs, near-dup chains, exact
    // clones past the df cap (stop-shingles), and a sub-3-token doc.
    val rng = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"w$i")
    def text(n: Int) = (0 until n).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    val uniques = (0L until 40L).map(i => i -> text(6 + rng.nextInt(10)))
    val nearDups = (0L until 8L).map { i =>
      val (_, t) = uniques(i.toInt * 3)
      (100L + i) -> (t + " tail" + i)
    }
    val clones = (0L until 9L).map(i => (200L + i) -> "alpha beta gamma delta epsilon zeta")
    val tiny = Seq(300L -> "just two")
    val corpus = uniques ++ nearDups ++ clones ++ tiny
    val cap = 6
    val minShared = 2
    val threshold = 0.1

    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" ").toSeq
      if (toks.size < 3) Set(t) else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (s, xs) => s -> xs.size }
    val active = df.collect { case (s, d) if d >= 2 && d <= cap => s }.toSet
    val ids = corpus.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = (sets(a) intersect sets(b)) intersect active
      if shared.size >= minShared
      jac = (sets(a) intersect sets(b)).size.toDouble / (sets(a) union sets(b)).size
      if jac >= threshold
    } yield (a, b, jac)).toSet

    // BOTH plans — the sorted-run kernel (forced) and the one-action join
    // plan (forced) — must equal the oracle and hence each other
    val paths = Seq(
      "kernel" -> 0L,
      "join" -> Long.MaxValue)
    val results = paths.map { case (label, pivot) =>
      label -> Dedup.ngramJaccardPairs(docsDF(corpus), threshold = threshold,
          maxDocFrequency = cap, minSharedShingles = minShared, kernelMinBytes = pivot)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    results.foreach { case (label, got) =>
      assert(got.map(p => (p._1, p._2)) == expected.map(p => (p._1, p._2)),
        s"[$label] pair sets differ: " +
          s"extra=${got.map(p => (p._1, p._2)) -- expected.map(p => (p._1, p._2))} " +
          s"missing=${expected.map(p => (p._1, p._2)) -- got.map(p => (p._1, p._2))}")
      val gotJ = got.map(p => (p._1, p._2) -> p._3).toMap
      expected.foreach { case (a, b, j) =>
        assert(math.abs(gotJ((a, b)) - j) < 1e-12, s"[$label] jaccard mismatch for ($a,$b)")
      }
      // the clone block (9 identical docs) exceeds the df cap on every one
      // of its shingles, so no clone pair may appear
      assert(got.forall { case (a, b, _) => !(a >= 200L && a < 209L && b >= 200L && b < 209L) })
    }
    // bit-identical doubles across plans, not just 1e-12-close
    assert(results(0)._2 == results(1)._2, "kernel and join plans must agree bit-for-bit")
    assert(expected.nonEmpty, "oracle must exercise real pairs")
  }

  test("ngram pair sampling equals the unsampled listing filtered on id_a") {
    // the predicate is pushed into candidate generation for cost, so pin
    // that it changes WHICH pairs are listed, never their similarity
    val docs = docsDF(Seq(
      1L -> base, 2L -> base.replace("lazy", "sleepy"),
      3L -> base.replace("quick", "slow"), 4L -> base,
      5L -> "something else entirely unrelated"))
    def pairs(pred: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]) =
      Dedup.ngramJaccardPairs(docs, threshold = 0.3, maxDocFrequency = 10,
        minSharedShingles = 1, idAPredicate = pred)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = pairs(None)
    val evenA = pairs(Some(id => id % 2 === 0))
    assert(evenA == full.filter(_._1 % 2 == 0))
    assert(evenA.nonEmpty && evenA != full)
  }

  test("incremental keepers admit only content absent from the index") {
    val corpus = docsDF(Seq(1L -> base, 2L -> "already indexed body of text"))
    val batch = docsDF(Seq(
      10L -> base, // exact dup of indexed doc 1 -> dropped
      11L -> "a genuinely new document arriving in this batch"))
    val index = Dedup.exactHashIndex(corpus)
    val kept = Dedup.incrementalKeepers(batch, index)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq == Seq(11L))
  }

  test("bloom-prefiltered incremental dedup equals the plain anti-join") {
    def text(i: Int) = s"document body number $i with filler ${i % 5}"
    val corpus = docsDF((0L until 60L).map(i => i -> text(i.toInt)))
    val batch = docsDF(
      (100L until 120L).map(i => i -> text(i.toInt - 100)) ++ // dups of corpus
        (200L until 215L).map(i => i -> s"brand new content $i"))
    val plain = Dedup.incrementalKeepers(batch, Dedup.exactHashIndex(corpus))
      .collect().map(_.getAs[Long]("doc_id")).sorted
    val bloomed = Dedup.incrementalKeepersBloom(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(bloomed.toSeq == plain.toSeq)
    assert(plain.forall(_ >= 200L), "every corpus dup must be dropped")
  }

  test("contamination stats flag benchmark-overlapping docs only") {
    val corpus = docsDF(Seq(
      1L -> base, // identical to the benchmark doc -> fully contaminated
      2L -> "completely separate subject matter with no shared phrases at all today"))
    val bench = docsDF(Seq(100L -> base))
    val got = Dedup.contaminationStats(corpus, bench, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_overlap"), r.getAs[Double]("overlap_frac"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got(1L)._2 == 1.0 && got(1L)._3)
    assert(got(2L)._1 == 0L && got(2L)._2 == 0.0 && !got(2L)._3)
  }

  test("duplicateSpanPairs finds verbatim runs and honors the df cap") {
    val run = (1 to 16).map(i => s"r$i").mkString(" ") // a verbatim 16-word run
    val hot = (1 to 16).map(i => s"h$i").mkString(" ") // run present in MANY docs
    val docs = docsDF(Seq(
      1L -> s"alpha beta $run gamma delta",
      2L -> s"completely different framing $run with other tails",
      3L -> "no shared content in this one at all beyond stray words",
      4L -> s"$hot a", 5L -> s"$hot b", 6L -> s"$hot c", 7L -> s"$hot d"))
    val pairs = Dedup.duplicateSpanPairs(docs, spanWords = 16, maxDf = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("shared_spans")))
    // docs 1/2 share exactly the one 16-word run; the hot span sits in 4
    // docs > maxDf=3 so contributes no pairs
    assert(pairs.toSet == Set((1L, 2L, 1L)))
  }

  test("duplicateSpanPairs treats a short doc as one whole-text span") {
    val docs = docsDF(Seq(
      1L -> "tiny doc of five words",
      2L -> "tiny doc of five words",
      3L -> "tiny doc of five words plus unrelated continuation tail"))
    val pairs = Dedup.duplicateSpanPairs(docs, spanWords = 16, maxDf = 50)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // 1 and 2 are identical short docs; 3's spans are windows of a LONGER
    // doc... it is only 9 words, also < 16, so its single span differs
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("removeBoilerplate strips shared chunks, keeps unique ones in order") {
    // chunkSize=4 -> chunks are exact 4-word windows; craft docs around that
    val docs = docsDF(Seq(
      1L -> "alpha beta gamma delta shared one two three epsilon zeta eta theta",
      2L -> "iota kappa lambda mu shared one two three",
      3L -> "nu xi omicron pi rho sigma tau upsilon"))
    val out = Dedup.removeBoilerplate(docs, chunkSize = 4, minDocs = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // "shared one two three" is chunk idx 1 in both doc 1 and doc 2
    assert(out(1L) == ((3L, 2L, "alpha beta gamma delta epsilon zeta eta theta")))
    assert(out(2L) == ((2L, 1L, "iota kappa lambda mu")))
    assert(out(3L) == ((2L, 2L, "nu xi omicron pi rho sigma tau upsilon")))
  }

  test("removeBoilerplate emits empty text for a fully-boilerplate doc") {
    val docs = docsDF(Seq(
      1L -> "copy right footer text",
      2L -> "copy right footer text",
      3L -> "copy right footer text unique tail words here"))
    val out = Dedup.removeBoilerplate(docs, chunkSize = 4, minDocs = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("clean_text")))).toMap
    assert(out(1L) == ((0L, "")))
    assert(out(2L) == ((0L, "")))
    assert(out(3L) == ((1L, "unique tail words here")))
  }

  test("PairPartitioner spreads consecutive-id pairs across 4, 8 and 32 partitions") {
    for (parts <- Seq(4, 8, 32)) {
      val p = new Dedup.PairPartitioner(parts)
      val load = (0L until 1024L).groupBy(u => p.getPartition((u, u + 1))).map(_._2.size)
      assert(load.size == parts, s"$parts partitions: only ${load.size} receive (u, u + 1) keys")
      assert(load.max <= 2 * 1024 / parts, s"$parts partitions: max load ${load.max}")
    }
  }
}
