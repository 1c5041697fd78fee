package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL [[OracleSql]] emits. The oracles replay engine float
  * arithmetic bit for bit only while this text stays exactly what it is
  * (operand order, casts, CTE shapes), so a change here must be a change
  * to the gate's arithmetic contract, made on purpose. The long blocks are
  * pinned by md5 of their full text plus readable landmarks.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def oracle(q: QueryDef): String = q.oracle.get

  test("rank-8 factor dot is a left-to-right sum of DOUBLE-cast products over the pivot") {
    assert(OracleSql.factorDot("u", "i") ==
      (0 until 8).map(p => s"CAST(u$p AS DOUBLE) * CAST(i$p AS DOUBLE)").mkString(" + "))
    assert(OracleSql.factorDot("u", "i").startsWith(
      "CAST(u0 AS DOUBLE) * CAST(i0 AS DOUBLE) + CAST(u1 AS DOUBLE) * CAST(i1 AS DOUBLE) + "))
    val cte = OracleSql.factorCte("uf", "als_user_factors", "u")
    assert(cte == "uf AS (SELECT id, " +
      (0 until 8).map(p => s"MAX(CASE WHEN pos = $p THEN value END) AS u$p").mkString(", ") +
      " FROM read_parquet('{{OUT}}/als_user_factors/*.parquet')  GROUP BY id)")
    val predictions = oracle(AlsQueries.alsPredictions)
    assert(predictions.contains(cte))
    assert(predictions.contains(s"CAST(${OracleSql.factorDot("u", "i")} AS FLOAT) AS prediction"))
  }

  test("64-dim plane pivot and sign replay") {
    val pivot = OracleSql.planePivotCte("sim_lsh_planes")
    assert(pivot.startsWith(
      "plp AS (\n  SELECT t, plane, MAX(CASE WHEN pos = 0 THEN value END) AS q0, "))
    assert(pivot.endsWith("MAX(CASE WHEN pos = 63 THEN value END) AS q63\n" +
      "  FROM read_parquet('{{OUT}}/sim_lsh_planes/*.parquet')\n  GROUP BY t, plane)"))
    assert("MAX\\(CASE WHEN pos".r.findAllIn(pivot).size == 64)
    assert(md5(pivot) == "c1b445aa516b118c62dfd355153ed814")
    val sign = OracleSql.lshSignCte("sigs")
    assert(sign.contains("SUM(CASE WHEN (CAST(e.embedding[1] AS DOUBLE) * CAST(pl.q0 AS DOUBLE) + "))
    assert(sign.contains("CAST(e.embedding[64] AS DOUBLE) * CAST(pl.q63 AS DOUBLE)) >= 0.0"))
    assert(md5(sign) == "3290cb148d114c503f33a2092225bbfb")
    Seq(SimilarityQueries.simTopkLsh, SimilarityQueries.simRecall).foreach { q =>
      assert(oracle(q).contains(pivot))
    }
    assert(oracle(SimilarityQueries.simTopkLsh).contains(sign))
    assert(oracle(DedupQueries.dedupEmbedding)
      .contains(OracleSql.planePivotCte("dedup_embedding_planes")))
  }

  test("PQ ADC block is one text in both the ivfpq and recall oracles") {
    val book = OracleSql.pqCodebookCtes
    assert(book.contains("(CAST(p0 AS DOUBLE) * CAST(p0 AS DOUBLE) + "))
    assert(md5(book) == "91251f18f43d0c027d1a6e1469b131f3")
    val adc = OracleSql.pqAdcCtes()
    assert(adc.contains("WHEN 7 THEN CAST(res.r56 AS DOUBLE) * CAST(pq.p0 AS DOUBLE) + "))
    assert(adc.contains("(CAST(q.embedding[57] AS DOUBLE) * CAST(pm7.p0 AS DOUBLE) + "))
    assert(adc.contains("CAST(q.embedding[64] AS DOUBLE) * CAST(pm7.p7 AS DOUBLE))) AS adc"))
    assert(adc.contains("JOIN pqp pm7 ON pm7.m = 7 AND pm7.code = cw.k7"))
    assert(md5(adc) == "5aea35886bfaaadecebb91226ef9e82e")
    val anchored = OracleSql.pqAdcCtes(assign = "iasg", scores = "isc",
      restrictProbes = " JOIN qset ON qset.vec_id = sc.vec_id", score = "pcs",
      codes = "pcode", words = "pcw", probes = "pprb", adc = "padc", cand = "pcand")
    assert(anchored.contains("JOIN pcw cw ON cw.vec_id = a.vec_id"))
    assert(md5(anchored) == "e57a0f202f32a33326b4410b9d57a405")
    assert(oracle(SimilarityQueries.simTopkIvfPq).contains(s"$book,"))
    assert(oracle(SimilarityQueries.simTopkIvfPq).contains(adc))
    assert(oracle(SimilarityQueries.simRecall).contains(s"$book,\n$anchored"))
  }

  test("the registry keeps its 129 names in their committed order") {
    val names = Queries.all.map(_._1)
    assert(names.size == 129 && names.distinct.size == 129)
    assert(names.head == "q01_pricing_summary" && names.last == "stream_purchase_views")
    assert(md5(names.mkString(",")) == "d063df74ef10089dab582737d00e788c")
  }
}
