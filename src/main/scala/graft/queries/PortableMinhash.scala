package graft.queries

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GATE-ONLY MinHash family: the cross-engine portable variant the DuckDB
  * oracle can replay. NOT a production path — production minhash is
  * [[graft.ops.Dedup.XxHash64Minhash]] (xxhash64 cannot be replayed in the
  * oracle engine, which is the only reason this twin exists).
  *
  * Two base md5-prefix hashes per shingle ([[TextOps.portableHash56]]),
  * combined with the classic linear family `h_i = (h1 + i·h2) mod 2^56`
  * (Broder-style universal hashing) — replayable in DuckDB SQL as
  * `('0x' || substr(md5(s), 1, 14))::BIGINT` arithmetic, and cheaper than
  * 64 independent hashes (2 md5 evals instead of 64 xxhash evals per row,
  * though md5 itself is ~10× a xxhash64 eval).
  */
object PortableMinhash extends Dedup.MinhashFamily {

  /** Modulus of the family: 2^56 (the usable width of
    * [[TextOps.portableHash56]]). `h1 + 63·h2 < 2^62` — no overflow.
    */
  val Modulus: Long = 1L << 56

  /** Explodes the shingle arrays and aggregates `numHashes` minima per
    * id — an empty or null array explodes to no rows, so its document gets
    * no signature row.
    */
  def signatures(shingled: DataFrame, numHashes: Int): DataFrame = {
    val hs = shingled.select(col("id"), explode(col("sh")).as("s")).select(
      col("id"),
      TextOps.portableHash56(col("s")).as("h1"),
      TextOps.portableHash56(concat(col("s"), lit("#"))).as("h2"))
    val minCols = (1 to numHashes).map { i =>
      min(pmod(col("h1") + lit((i - 1).toLong) * col("h2"), lit(Modulus))).as(s"m$i")
    }
    hs.groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((1 to numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }
}
