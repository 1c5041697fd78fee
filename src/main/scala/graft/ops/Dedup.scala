package graft.ops

import graft.als.ShuffleLedger
import graft.functions.VectorFunctions
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over a documents table, exact and near-duplicate.
  *
  * Scale posture (the 100 TB contract): every method is keyed — hash-group
  * for exact, banded-LSH bucket joins for MinHash/SimHash/embeddings. There
  * is NO all-pairs comparison anywhere: candidate generation always goes
  * through a `groupBy` on a bucket key whose expected occupancy is O(dups),
  * and verification runs only inside buckets.
  */
object Dedup {

  /** One Kryo serializer per SparkContext for the two-long shuffle records
    * of the candidate postings and the CC rounds. A serializer is immutable
    * once built and ships with each shuffle dependency, so building one per
    * call only repeated the conf scan and class registration. Weak keys:
    * a stopped context is not kept alive by its serializer.
    */
  private val kryoByContext = new java.util.WeakHashMap[SparkContext, KryoSerializer]()

  private def kryoFor(sc: SparkContext): KryoSerializer = kryoByContext.synchronized {
    kryoByContext.computeIfAbsent(sc, c => new KryoSerializer(c.getConf))
  }

  /** Exact duplicate groups by content hash: one row per duplicated text
    * with the keeper (min id) and the duplicate count. A 256-bit hash makes
    * collisions negligible at any corpus size; the groupBy is a map-side
    * partial-agg shuffle on the hash only (text itself never shuffles).
    */
  def exactGroups(documents: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    documents
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keeper_id"))
      .where(col("n_copies") > 1)

  /** Exact-dedup keep-list: ids that survive (first id per distinct text). */
  def exactKeepers(documents: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    documents
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"))
      .select("keeper_id")

  /** A MinHash hash family: turns the `(id, sh ARRAY<STRING>)` shingle
    * frame ([[shingleFrame]]) into `(id, sig ARRAY<BIGINT>)` signatures,
    * one row per document with at least one shingle — a document whose
    * array is empty or null gets no signature row, so it never enters a
    * bucket. The production family is [[XxHash64Minhash]]; oracle-gate
    * twins may substitute a cross-engine family (see
    * `graft.queries.PortableMinhash`) — the same hook pattern as
    * [[simhashSignatures]]'s `hashFn`.
    */
  trait MinhashFamily {
    def signatures(shingled: DataFrame, numHashes: Int): DataFrame
  }

  /** Production MinHash family: `numHashes` independent seeded xxhash64
    * minima, signature element `i-1` = `min over s of xxhash64(s, i)`.
    *
    * One map-only projection per row ([[graft.functions.MinhashExpr]]):
    * each shingle's bytes are hashed once and the `numHashes` seeded
    * values derive from that hash, because Catalyst's
    * `xxhash64(s, lit(i))` IS `hashInt(i, hashUnsafeBytes(s, 42))`. The
    * values are therefore bit-identical to the `explode` +
    * `min(xxhash64(s, lit(i)))` hash aggregate this replaces (pinned by
    * `MinhashExprSpec`), and since every signature depends on its own row
    * alone, no exchange is needed at any corpus size. Rows with an empty
    * or null shingle array are filtered out first: the aggregate produced
    * no group for them, and that rule stays.
    */
  object XxHash64Minhash extends MinhashFamily {
    def signatures(shingled: DataFrame, numHashes: Int): DataFrame =
      shingled
        .where(size(col("sh")) > 0)
        .select(col("id"), minhash(col("sh"), numHashes).as("sig"))
  }

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftSqlShims.column(e)

  private def expr(c: Column) = org.apache.spark.sql.GraftSqlShims.expression(c)

  /** `numHashes` xxhash64 minima of a shingle array
    * ([[graft.functions.MinhashExpr]]); NULL for an empty array.
    */
  private[graft] def minhash(sh: Column, numHashes: Int): Column =
    native(graft.functions.MinhashExpr(expr(sh), numHashes))

  /** `numBands` LSH keys of a signature, key `b` = xxhash64 of the band's
    * `rowsPerBand`-long slice ([[graft.functions.BandKeysExpr]]).
    */
  private[graft] def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    native(graft.functions.BandKeysExpr(expr(sig), numBands, rowsPerBand))

  /** The xxhash64 image of a shingle array, element by element
    * ([[graft.functions.HashedShinglesExpr]]) — what the Jaccard verifies
    * compare.
    */
  private[graft] def hashedShingles(sh: Column): Column =
    native(graft.functions.HashedShinglesExpr(expr(sh)))

  /** The canonical `(id, sh ARRAY<STRING>)` distinct-shingle frame both
    * textual near-dup tiers derive from. A caller composing tiers (the
    * dedup recall meter) computes it ONCE, persists it, and passes it as
    * `preShingled` so the corpus is shingled once instead of once per
    * tier — at 100 TB the shingle pass is a full-corpus scan worth
    * sharing. Not persisted here: the caller owns the lifetime.
    */
  def shingleFrame(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3): DataFrame =
    Parallelism.widen(documents).select(
      col(idCol).as("id"),
      array_distinct(TextOps.shingles(col(textCol), shingleSize)).as("sh"))

  /** MinHash signatures as a (id, sig ARRAY<BIGINT>) DataFrame:
    * [[shingleFrame]] → `family` signatures.
    */
  def minhashSignatures(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      shingleSize: Int = 3,
      family: MinhashFamily = XxHash64Minhash): DataFrame =
    family.signatures(shingleFrame(documents, textCol, idCol, shingleSize), numHashes)

  /** MinHash + banded LSH near-duplicate pairs.
    *
    * Pipeline: shingle → `numHashes`-wide minhash signature → split into
    * `numBands` bands → explode one row per band → group on
    * (band, band-signature-hash) buckets → intra-bucket id pairs →
    * dedup pairs → verify with exact shingle-set Jaccard ≥ `threshold`.
    *
    * With b bands of r rows a pair of Jaccard s collides with probability
    * 1−(1−s^r)^b — the standard S-curve; defaults (16 bands × 4 rows)
    * target s ≈ 0.5+. Candidate volume is O(Σ bucket²) which stays tiny
    * because true near-dups are rare; nothing is ever all-pairs.
    */
  def minhashNearDups(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      numBands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      family: MinhashFamily = XxHash64Minhash,
      idAPredicate: Option[Column => Column] = None,
      preShingled: Option[DataFrame] = None,
      candidatesMinBytes: Long = KernelMinBytes): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands

    // shared shingle frame (id, sh ARRAY): signatures and the verify join
    // both derive from it, and a METER composing this tier with the exact
    // tier passes one precomputed frame instead of shingling the corpus
    // once per tier.
    val shingled = preShingled.getOrElse(
      shingleFrame(documents, textCol, idCol, shingleSize).persist())
    val withSig = family.signatures(shingled, numHashes)

    // one row per (doc, band): bucket key = hash of that band's slice.
    // Cached: candidate generation scans it, and the 100 TB version writes
    // the signature table out once for the same reason.
    val banded = bandedFrame(withSig, numBands, rowsPerBand).persist()

    // Input-size pivot, same 256 MB mark as the ngram pair tier: the
    // self-join wins while fixed per-action cost dominates (sf0.1
    // same-window A/B: 1.23×/1.11× against the grouped form on the
    // keepers/recall rows), the one-exchange grouped form takes over once
    // data cost dominates — wall PARITY at the ×1000 tier with HALF the
    // stage's shuffle-scratch writes (cand_oneshuffle_ab_r18.json). The
    // `dedup_minhash_grouped` gate row forces the grouped path at every
    // tier regardless of which side the default takes.
    val candidates =
      if (planBytes(preShingled.getOrElse(documents)) < BigInt(candidatesMinBytes))
        bandedCandidatesJoin(banded, idAPredicate)
      else bandedCandidates(banded, idAPredicate)

    // verify candidates with exact shingle-set Jaccard — computed over the
    // xxhash64 image of each shingle array, derived INLINE from the
    // persisted string frame (no extra cache, no lifecycle change).
    // Jaccard over hashed shingles equals Jaccard over the shingles
    // themselves absent 2⁻⁶⁴-scale collisions (intersect/union sizes are
    // what matter), and the hashed arrays are ~4× narrower (~800 B vs
    // ~3 KB per doc), so the join ships/sorts a fraction of the bytes and
    // `array_intersect`/`array_union` compare longs instead of strings.
    // Measured (minhash_steps_x1000_r17.json): at the ×1000 tier the
    // string-array verify was the pipeline's dominant and steepest term
    // (~118 s incremental vs ~0 at ×100 — the 15 GB string cache leaves
    // the storage pool and every sort/compare touches wide rows); the
    // hashed verify reads ~3× lower in the same window. This is NOT the
    // ×100-measured hashed-POSTINGS detour that regressed the row 2× in
    // r16 (it re-derived 10⁷ postings the array cache already holds) —
    // the shingle SETS still come straight from the cache, only their
    // element representation shrinks.
    val hashedSh = shingled.select(col("id"), hashedShingles(col("sh")).as("sh"))
    val verified = candidates
      .join(hashedSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(hashedSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // materialize the (small: true near-dups only) result eagerly so the
    // banded/shingle caches can be freed here instead of leaking for the
    // session lifetime; callers may unpersist the returned frame when done
    verified.persist().count()
    banded.unpersist(blocking = false)
    // a caller-provided shingle frame is the caller's to release
    if (preShingled.isEmpty) shingled.unpersist(blocking = false)
    verified
  }

  /** One row per (doc, band) of a signature frame: bucket key = xxhash64
    * of that band's signature slice ([[bandKeys]]) — the banding step
    * shared by [[minhashNearDups]], [[incrementalNearDupKeepers]] and the
    * parity spec.
    */
  private[graft] def bandedFrame(
      withSig: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    withSig.select(
      col("id"),
      posexplode(bandKeys(col("sig"), numBands, rowsPerBand)).as(Seq("band", "bucket")))

  /** Intra-bucket candidate pairs (id_a < id_b, deduped across bands) from
    * a banded frame, in ONE exchange: group each (band, bucket) to its
    * sorted member-id array (map-side partial aggregation batches ids per
    * key before the shuffle), then emit the pairs from the aggregated
    * arrays. The equivalent bucket SELF-JOIN shuffles the banded frame
    * TWICE (the two sides alias distinct attribute ids, so exchange reuse
    * never fires — SCALING §15.8) and sorts both sides under
    * sort-merge. Measured at the ×1000 tier (8 alternating fresh-JVM
    * legs, `bench_artifacts/cand_oneshuffle_ab_r18.json`): WALL PARITY
    * with the join — the saved exchange read buys back what the
    * sort-based aggregation fallback costs at ~10⁷ grouping keys — but
    * the stage's shuffle-scratch writes halve (one banded-sized exchange
    * instead of two), which is why this form takes the ABOVE-pivot side
    * of [[minhashNearDups]]' size pivot: §15's iteration-scoped scratch
    * discipline, not a wall claim (below the pivot the join's lower
    * fixed cost wins — sf0.1 same-window A/B 1.23× on the keepers
    * row). An
    * `idAPredicate` (the recall meters' anchor set) restricts the
    * SMALLER pair id INSIDE the emission transform, before the explode,
    * preserving the meters' O(anchors) candidate volume.
    * Pair-set-identical to the join by construction (bucket members are
    * distinct ids; sorted ascending, so (ids(i), ids(j)) with i<j is
    * exactly x.id < y.id) — pinned by `CandidatePairParitySpec`.
    * Mass-duplicate buckets (every member pairwise identical) make ANY
    * candidate listing output-quadratic — the join streamed where this
    * builds a per-bucket id array first — but the pipeline order already
    * neutralizes them: exact dedup runs before near-dup, and it is
    * precisely identical docs that land 64/64 identical minhashes.
    */
  private[graft] def bandedCandidates(
      banded: DataFrame, idAPredicate: Option[Column => Column]): DataFrame = {
    val ids = col("ids")
    val n = size(ids)
    val idxs = sequence(lit(0), n - lit(2))
    val keptIdxs = idAPredicate.fold(idxs)(p =>
      filter(idxs, i => p(element_at(ids, i + 1))))
    banded
      .groupBy("band", "bucket")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .where(n > 1)
      .select(explode(flatten(transform(keptIdxs, i =>
        transform(slice(ids, i + 2, n),
          b => struct(element_at(ids, i + 1).as("id_a"), b.as("id_b"))))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** The two-exchange bucket self-join: the BELOW-pivot side of
    * [[minhashNearDups]]' candidate-path size pivot (lowest fixed cost
    * while the corpus is small — AQE broadcasts one side at sf tiers),
    * and the parity oracle / control leg of the ×1000 A/B.
    */
  private[graft] def bandedCandidatesJoin(
      banded: DataFrame, idAPredicate: Option[Column => Column]): DataFrame = {
    val xSide = idAPredicate.fold(banded)(p => banded.where(p(col("id"))))
    xSide.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** 64-bit SimHash of the document's tokens: per bit, sum +1/−1 votes of
    * each token's xxhash64 bit, take the sign. Near-dups then differ in few
    * bits (small Hamming distance).
    *
    * Single-column expression form (nested HOFs, interpreted) — kept for
    * expression-level use; prefer [[simhashSignatures]] for whole-table
    * signatures (codegen'd explode+aggregate, ~6× faster).
    */
  def simhash(textCol: String) = {
    val toks = TextOps.tokens(col(textCol))
    val votes = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(
        acc,
        transform(
          sequence(lit(0), lit(63)),
          i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(1) === 1, 1)
            .otherwise(-1)),
        (a, b) => a + b))
    // fold sign bits back into one BIGINT
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, i) => struct(v.as("v"), i.as("i"))),
      lit(0L),
      (acc, s) => when(s.getField("v") > 0,
        acc.bitwiseOR(call_function("shiftleft", lit(1L), s.getField("i")))).otherwise(acc))
  }

  /** SimHash signatures as a (id, sig BIGINT) DataFrame in the scale shape:
    * explode tokens → hash once per token → `numBits` conditional-sum
    * aggregates (map-side combining, codegen) → sign-fold into one BIGINT.
    * Identical values to [[simhash]] at the defaults (same votes, same sign
    * rule). `hashFn`/`numBits` let an oracle-checked variant use the
    * cross-engine [[TextOps.portableHash56]] (56 usable bits).
    */
  def simhashSignatures(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numBits: Int = 64,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(numBits >= 1 && numBits <= 64)
    val exploded = Parallelism.widen(documents)
      .select(col(idCol).as("id"), explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("id"), hashFn(col("t")).as("h"))
    val voteCols = (0 until numBits).map { i =>
      sum(when(call_function("shiftright", col("h"), lit(i)).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$i")
    }
    val sigExpr = (0 until numBits).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    exploded
      .groupBy("id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("id"), sigExpr.as("sig"))
  }

  /** SimHash near-dup pairs: bucket by the 4 16-bit quarters of the simhash
    * (a pair within Hamming distance 3 shares at least one intact quarter —
    * pigeonhole), then verify `bit_count(xor) <= maxHammingDistance`.
    */
  def simhashNearDups(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxHammingDistance: Int = 3): DataFrame = {
    val sigs = simhashSignatures(documents, textCol, idCol)
    val banded = sigs.select(
      col("id"), col("sig"),
      explode(
        transform(
          sequence(lit(0), lit(3)),
          q => struct(
            q.as("q"),
            call_function("shiftright", col("sig"), q * 16).bitwiseAND(0xFFFFL).as("piece"))))
        .as("qp"))
      .select(col("id"), col("sig"), col("qp.q").as("q"), col("qp.piece").as("piece"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.q") === col("y.q") &&
          col("x.piece") === col("y.piece") &&
          col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHammingDistance)
  }

  /** Exact n-gram Jaccard similarity for pairs above a threshold, using
    * shared-RARE-shingle candidate generation: explode (doc, shingle-hash),
    * DROP shingles whose document frequency exceeds `maxDocFrequency`
    * (stop-shingles carry no near-dup signal but each contributes O(df²)
    * candidate pairs — on a low-entropy corpus the unfiltered inverted index
    * degenerates to all-pairs), self-join the remaining postings, then
    * verify candidates with EXACT Jaccard over the full shingle sets.
    *
    * Scale shape — TWO plans behind one contract, picked by input size
    * (the ×1000 probe autopsy, SCALING §12.9):
    *
    * Below `kernelMinBytes` of source bytes (plan statistics, no job),
    * the classic ONE-ACTION join plan runs: inverted index → df-capped
    * active shingles → posting self-join → string-array Jaccard verify.
    * At fixture scale the whole pipeline executes in one job and its
    * cost is dominated by fixed per-action overhead, so fewer actions
    * win; AQE broadcasts every small side.
    *
    * Above it, the SORTED-RUN KERNEL: df=1 shingles — the overwhelming
    * majority of postings on any high-entropy corpus — can never form a
    * pair, so pair-postings are emitted directly from one hash exchange
    * by shingle hash (sized ~4M postings/task so the sort never spills)
    * + one radix-eligible single-column sort + a bounded run-length
    * pass; verification runs on hashed postings restricted to candidate
    * docs ([[verifyJaccardHashed]]) and the (id, ARRAY<STRING>) shingle
    * frame is never materialized or cached. Both plans produce the
    * identical pair set and bit-identical jaccard doubles (spec-pinned
    * against each other and a brute-force oracle); the gate exercises
    * the join plan at sf fixtures and the `dedup_ngram_kernel` query
    * pins the kernel against the same DuckDB oracle.
    *
    * Recall note: a pair sharing only stop-shingles is missed — at any
    * reasonable cap such pairs are far below near-dup thresholds anyway.
    *
    * @param idAPredicate when set, restricts the PAIR LISTING to pairs
    *   whose canonical smaller id (`id_a`) satisfies the predicate — the
    *   filter is pushed into candidate generation (the x-side postings),
    *   so the candidate join and exact-Jaccard verify shrink with the
    *   sample instead of filtering after the fact. Used by recall meters
    *   that estimate pair recall over a deterministic hash sample of
    *   anchor documents; similarity values are unaffected.
    * @param kernelMinBytes input-size pivot to the sorted-run kernel;
    *   0 forces the kernel, Long.MaxValue forces the join plan.
    */
  def ngramJaccardPairs(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxDocFrequency: Int = 100,
      minSharedShingles: Int = 2,
      idAPredicate: Option[Column => Column] = None,
      preShingled: Option[DataFrame] = None,
      kernelMinBytes: Long = KernelMinBytes): DataFrame =
    if (planBytes(preShingled.getOrElse(documents)) < BigInt(kernelMinBytes))
      ngramJaccardPairsJoin(documents, textCol, idCol, shingleSize, threshold,
        maxDocFrequency, minSharedShingles, idAPredicate, preShingled)
    else
      ngramJaccardPairsKernel(documents, textCol, idCol, shingleSize, threshold,
        maxDocFrequency, minSharedShingles, idAPredicate, preShingled)

  /** Input-size pivot between [[ngramJaccardPairsJoin]] (one action, AQE
    * broadcasts, string-array verify — wins while fixed per-action cost
    * dominates) and the sorted-run kernel (bounded state, no spill, no
    * array cache — wins once data cost dominates). Measured endpoints:
    * the WARM join plan beats the kernel everywhere up to the ×100 tier
    * (84 MB of source text: ~10 s in-suite vs ~14 s — the kernel's three
    * actions and object-pipeline stages don't amortize), and the kernel
    * wins 6× at the ×1000 tier (827 MB: 91 s vs 548 s with a 5.4 GB sort
    * spill and a ~36 GB scratch footprint). 256 MB ≈ the geometric mean
    * of the proven endpoints; the `dedup_ngram_kernel` gate/bench row
    * keeps the kernel hash-checked and timed at EVERY tier regardless of
    * which side of the pivot the default path takes.
    */
  val KernelMinBytes: Long = 256L << 20

  /** Source size from plan statistics — file bytes for a scan, row-count ×
    * width for a local/cached relation; never runs a job. Unknown sizes
    * surface as huge defaults, which safely select the kernel.
    */
  private def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The one-action join plan (see [[ngramJaccardPairs]]). */
  private def ngramJaccardPairsJoin(
      documents: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int,
      threshold: Double,
      maxDocFrequency: Int,
      minSharedShingles: Int,
      idAPredicate: Option[Column => Column],
      preShingled: Option[DataFrame]): DataFrame = {
    // persisted: feeds the inverted index AND both sides of the verify
    // join — without the cache the shingle computation runs 3×. A meter
    // composing this with the LSH tier shares ONE shingle frame.
    val sh = preShingled.getOrElse(
      shingleFrame(documents, textCol, idCol, shingleSize).persist())
    val inverted = sh.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sh_hash"))
    // active shingles: discriminative (df <= cap) AND pair-capable
    // (df >= 2 — a shingle seen in one document cannot link a pair)
    val active = inverted.groupBy("sh_hash").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFrequency)
      .select("sh_hash")
    val postings = inverted.join(active, "sh_hash")
    val xPostings = idAPredicate.fold(postings)(p => postings.where(p(col("id"))))
    val candidates = xPostings.as("x")
      .join(postings.as("y"),
        col("x.sh_hash") === col("y.sh_hash") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared_rare"))
      .where(col("shared_rare") >= minSharedShingles)
      .select("id_a", "id_b")
    // verify with exact Jaccard over the FULL shingle sets (the df cap only
    // gates candidate generation, never the similarity value)
    val verified = candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // eager-materialize the (small) verified pair set, then free the
    // shingle cache — same no-session-leak contract as minhashNearDups
    verified.persist().count()
    if (preShingled.isEmpty) sh.unpersist(blocking = false)
    verified
  }

  /** The sorted-run kernel (see [[ngramJaccardPairs]]). */
  private def ngramJaccardPairsKernel(
      documents: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int,
      threshold: Double,
      maxDocFrequency: Int,
      minSharedShingles: Int,
      idAPredicate: Option[Column => Column],
      preShingled: Option[DataFrame]): DataFrame = {
    // (id, n, h): one row per DISTINCT shingle per doc, with the doc's
    // distinct-shingle count carried from the scan so the verify stage
    // needs no second per-doc aggregate. Persisted (compact fixed-width
    // columnar, ~20 B/row) because the candidate aggregate and the verify
    // restriction each scan it; spills cleanly at any corpus size.
    val base = preShingled match {
      case Some(sh) => sh
      case None => shingleFrame(documents, textCol, idCol, shingleSize)
    }
    val inverted = base
      .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
      .select(col("id"), col("n"), xxhash64(col("s")).as("h"))
      .persist()
    // Pair-postings in ONE exchange + ONE sort: hash-partition by shingle,
    // sort each partition by (h, id), then a streaming run-length pass
    // emits, per shingle run of length 2..cap, the run's ordered id pairs
    // (id_a < id_b by the sort). This replaces the df aggregate (a hash
    // map over EVERY distinct shingle — hundreds of millions of
    // near-unique keys that spill), the active-shingle join, and the
    // posting self-join of the textbook formulation; df=1 shingles (the
    // overwhelming majority on a high-entropy corpus) stream through
    // without emitting anything. Task memory is bounded by cap+1 buffered
    // ids REGARDLESS of a stop-shingle's true df — runs past the cap are
    // drained, not buffered. mapPartitions is justified: no built-in
    // expresses bounded-state run-length emission (collect_list is
    // unbounded; a window pass buffers whole groups and evaluates cap
    // lead columns per posting).
    val spark0 = inverted.sparkSession
    import spark0.implicits._
    val cap = maxDocFrequency
    // Materializing the postings cache with a count FIRST serves two
    // purposes: the shingle scan runs exactly once (uncounted, AQE's
    // concurrently-materialized subtrees race the lazy cache and
    // recompute it), and the count sizes the pair-emission exchange so
    // each task's posting slice sorts inside execution memory — at the
    // session default width a 10×-tier slice spilled ~5 GB per run
    // (measured); ~4M postings/task ≈ 128 MB of sort rows does not.
    val nPostings = inverted.count()
    val parts = math.max(
      spark0.conf.get("spark.sql.shuffle.partitions").toInt,
      ((nPostings + 3999999L) / 4000000L).toInt)
    // One sorted RDD shuffle replaces the repartition+sortWithinPartitions
    // Dataset pipeline (opt r19): the exchange width is the SAME
    // nPostings-derived `parts` (the load-bearing ×1000 sizing), the sort
    // key is still h alone, but the emission now runs inside the candidate
    // aggregate's own job — no AQE stage-materialization jobs for the
    // exchange, no ExpressionEncoder round-trip around the run-length
    // pass, and Kryo on the two-long records instead of the object
    // pipeline's row codec.
    val postingsRdd = {
      val shuffled = new org.apache.spark.rdd.ShuffledRDD[Long, Long, Long](
        inverted.select(col("h"), col("id")).queryExecution.toRdd
          .map(r => (r.getLong(0), r.getLong(1))),
        new HPartitioner(parts))
      shuffled.setKeyOrdering(implicitly[Ordering[Long]])
      shuffled.setSerializer(kryoFor(spark0.sparkContext))
      shuffled
    }
    val pairPostings = spark0.createDataFrame(
      postingsRdd.mapPartitions { it =>
        new Iterator[(Long, Long)] {
          // current run: first cap+1 ids (a longer run is a stop-shingle
          // and emits nothing, so ids past cap are counted, not stored)
          private val run = new Array[Long](cap + 1)
          private var runH = 0L
          private var runLen = 0
          private var started = false
          // completed run being emitted (a copy, so the next run can
          // start filling `run` while its predecessor's pairs drain)
          private var emit: Array[Long] = null
          private var i = 0
          private var j = 1
          private def finishRun(): Unit =
            if (started && runLen >= 2 && runLen <= cap) {
              emit = java.util.Arrays.copyOf(run, runLen)
              java.util.Arrays.sort(emit) // id_a < id_b within the run
              i = 0; j = 1
            }
          private def fill(): Unit = {
            while (emit == null && it.hasNext) {
              val (h, id) = it.next()
              if (!started) { started = true; runH = h; run(0) = id; runLen = 1 }
              else if (h == runH) {
                if (runLen <= cap) run(runLen) = id
                runLen += 1
              } else {
                finishRun()
                runH = h; run(0) = id; runLen = 1
              }
            }
            if (emit == null && !it.hasNext && started) { finishRun(); started = false }
          }
          def hasNext: Boolean = { if (emit == null) fill(); emit != null }
          def next(): (Long, Long) = {
            if (!hasNext) throw new NoSuchElementException
            val pair = (emit(i), emit(j))
            j += 1
            if (j >= emit.length) { i += 1; j = i + 1 }
            if (i >= emit.length - 1) emit = null
            pair
          }
        }
      })
      .toDF("id_a", "id_b")
      // strict < mirrors the classic self-join's x.id < y.id: a 64-bit
      // hash collision INSIDE one document would otherwise emit (id, id)
      .where(col("id_a") < col("id_b"))
    // candidate = pair sharing >= minSharedShingles active shingles: a
    // codegen'd count-aggregate prunes the random-collision tail BEFORE
    // the Jaccard verify. id_a is always the pair's smaller id, so an
    // id_a sample predicate applies here and shrinks everything
    // downstream (the emission itself is already O(active postings)).
    val xPostings = idAPredicate.fold(pairPostings)(p => pairPostings.where(p(col("id_a"))))
    val candidates = xPostings
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_rare"))
      .where(col("shared_rare") >= minSharedShingles)
      .select("id_a", "id_b")
    // verify with exact Jaccard over the FULL shingle sets (the df cap only
    // gates candidate generation, never the similarity value); the helper
    // returns the result materialized, so the postings cache frees here —
    // same no-session-leak contract as minhashNearDups
    val verified = verifyJaccardHashed(inverted, candidates, threshold)
    inverted.unpersist(blocking = false)
    verified
  }

  /** Exact Jaccard verification of candidate pairs over hashed postings —
    * the verify stage of [[ngramJaccardPairs]]'s large-input path.
    * ([[minhashNearDups]] verifies differently: `array_intersect` over the
    * [[hashedShingles]] arrays of each candidate pair.)
    *
    * `inverted` is (id, n, h): one row per distinct shingle per document,
    * `n` the document's distinct-shingle count, `h` the 64-bit shingle
    * hash. |A∩B| is a count of shared hashes and |A∪B| = n_a + n_b −
    * |A∩B|, so the Jaccard value is the exact shingle-set Jaccard (the
    * integer counts, hence the IEEE division, are identical to the
    * string-array form absent a 64-bit collision INSIDE one candidate
    * pair's shingle sets — the same ~2⁻⁶⁴ acceptance candidate generation
    * already makes by bucketing on the hash).
    *
    * Scale shape: the full posting list is first restricted to candidate
    * documents (AQE broadcasts the candidate-id set when small; a shuffled
    * semi-join otherwise) — the ONLY full-width pass. Every join after
    * that moves O(candidates × shingles-per-doc) rows, independent of
    * corpus size, and no shingle STRING ever leaves the scan projection.
    * Pairs whose sets share nothing (possible from LSH bucket collisions)
    * keep jaccard = 0 via the left join, exactly like the array form.
    */
  private def verifyJaccardHashed(
      inverted: DataFrame,
      candidatesIn: DataFrame,
      threshold: Double): DataFrame = {
    // The candidate set and the restricted postings each feed THREE
    // downstream subtrees; under AQE each un-cached occurrence re-executes
    // its whole subtree (the exchanges differ by aliasing, so reuse never
    // kicks in) — measured as a cascade of recomputed broadcast stages.
    // Materialize each ONCE; both are O(candidates)-small. The candidate
    // count is NOT just a race barrier — it is what gives the planner
    // accurate stats for the restriction join: with the cache
    // unmaterialized, candIds' size is unknown (the run-length pass is an
    // opaque RDD), the join plans as SMJ, and the FULL posting set
    // shuffles (measured: 3.3 GB re-shuffled at the ×1000 tier, the exact
    // pass this restriction exists to avoid). Materialized first, the
    // cached relation's size picks the broadcast. This helper only runs
    // on the large-input path, where two extra actions are noise.
    val candidates = candidatesIn.persist()
    candidates.count()
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id")))
      .distinct()
    val invC = inverted.join(candIds, "id").persist()
    invC.count()
    val nDoc = invC.groupBy("id").agg(first(col("n")).as("n"))
    val shared = candidates
      .join(invC.select(col("id").as("id_a"), col("h")), "id_a")
      .join(invC.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
    val verified = candidates
      .join(nDoc.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(nDoc.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .join(shared, Seq("id_a", "id_b"), "left")
      .withColumn("jaccard",
        coalesce(col("shared"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("shared"), lit(0L))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // materialize the (small: true near-dups only) result eagerly, then
    // free the internals — callers may unpersist the returned frame
    verified.persist().count()
    candidates.unpersist(blocking = false)
    invC.unpersist(blocking = false)
    verified
  }

  /** Embedding-cosine near-duplicates via random-hyperplane LSH: bucket on
    * the sign-bit signature of `numPlanes` deterministic pseudo-random
    * hyperplanes, then verify exact cosine ≥ threshold inside buckets.
    * Multi-probe across `numTables` independent sign prefixes keeps recall
    * high without widening buckets.
    */
  def embeddingNearDups(
      embeddings: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dim: Int = 64,
      threshold: Double = 0.95,
      numPlanes: Int = 12,
      numTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val base = Parallelism.widen(embeddings).select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.norm(col(vecCol)).as("n"))
    val sigs = Similarity.withHyperplaneSignatures(base, "v", dim, numPlanes, numTables, seed)
    // id-only bands: the pair-dedup exchange moves 16-byte rows, not vectors
    val banded = sigs.select(col("id"), explode(col("sigs")).as("ts"))
      .select(col("id"), col("ts.table").as("t"), col("ts.sig").as("sig"))
    val pairs = banded.as("x")
      .join(banded.as("y"),
        col("x.t") === col("y.t") &&
          col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")), "id_b")
      .withColumn("cosine",
        when(col("n_a") === 0.0 || col("n_b") === 0.0, 0.0)
          .otherwise(VectorFunctions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Anchor-linked embedding near-dups — the 100 TB form of
    * [[embeddingNearDups]]. Pair LISTING is output-bound quadratic on any
    * dup-dense corpus no matter how candidates are generated (a bucket of
    * B mutual near-dups emits B² pairs; measured on the clustered
    * synthetic scale tier, EVERY pair clears cosine 0.3, so the pair
    * query's result set is n²/2 by construction). A dedup pipeline never
    * needs the full pair set — it needs CONNECTIVITY: each vector is
    * verified only against its bucket's minimum-id member (the anchor),
    * emitting ≤ numTables (id, anchor_id) edges per vector. Components /
    * keep-lists come out of [[connectedComponents]] /
    * [[nearDedupKeepers]] over these edges exactly as over pairs, while
    * the output and the verify join stay O(n·numTables) at ANY dup
    * density. Members of a tight near-dup bucket all link to the same
    * anchor, so the component survives; chain-shaped borderline
    * similarity can split across anchors — the multi-table probes are the
    * mitigation (a different anchor per table), and the pair tier remains
    * the exact baseline.
    */
  def embeddingNearDupAnchors(
      embeddings: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dim: Int = 64,
      threshold: Double = 0.95,
      numPlanes: Int = 12,
      numTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val base = Parallelism.widen(embeddings).select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.norm(col(vecCol)).as("n"))
    val sigs = Similarity.withHyperplaneSignatures(base, "v", dim, numPlanes, numTables, seed)
    val banded = sigs.select(col("id"), explode(col("sigs")).as("ts"))
      .select(col("id"), col("ts.table").as("t"), col("ts.sig").as("sig"))
    // one anchor per (table, bucket): the min id — deterministic, and a
    // single groupBy pass over n·numTables 16-byte rows
    val anchors = banded.groupBy("t", "sig").agg(min(col("id")).as("id_b"))
    val links = banded.join(anchors, Seq("t", "sig"))
      .where(col("id") =!= col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
    links
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b")), "id_b")
      .withColumn("cosine",
        when(col("n_a") === 0.0 || col("n_b") === 0.0, 0.0)
          .otherwise(VectorFunctions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Keep-list under near-dedup: drops every doc that has a near-dup with a
    * smaller id (connected via the pairs produced by `minhashNearDups`).
    */
  def nearDedupKeepers(documents: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    documents.join(
      pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Connected components of an undirected pair graph — the cluster-
    * resolution step after near-dup PAIR generation. Near-duplicate
    * similarity is not transitive (A≈B, B≈C does not imply A≈C), so a
    * keep-one-per-cluster policy needs the transitive closure of the pair
    * relation, not the pairs themselves.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — each round is two
    * groupBy/join passes over the edge set and the round count is
    * O(log² n) independent of component DIAMETER, unlike naive label
    * propagation whose round count is the longest chain. No graph state
    * ever touches the driver (the per-round fixpoint check is a count +
    * set-difference emptiness test), so the same code runs on a 100 TB
    * edge set. Each round's result is `localCheckpoint`ed: the iteration
    * would otherwise stack joins into an unbounded lineage, the same
    * failure mode the ALS kernel avoids with checkpointing — and each
    * retired round's now-dead shuffle files are DELETED at the next cut
    * (iteration-scoped scratch, the ALS wall-3 discipline), so the loop's
    * disk high-water is one round's working set, not O(rounds).
    *
    * Returns `(id, cluster_id)` for every node incident to at least one
    * edge; `cluster_id` is the component's minimum node id. Nodes with no
    * edges are their own singleton clusters — callers add them with a
    * left join + coalesce (see the `dedup_clusters` query). The returned
    * frame is cached and filled in the call, and nothing else the call
    * persisted outlives it: `unpersist()` it (or `catalog.clearCache()`)
    * when done, as with [[minhashNearDups]]' result.
    */
  /** Ledger of the most recent [[connectedComponents]] call on this JVM —
    * spec observability only (asserting on the concrete reaped ids keeps
    * the checks immune to shuffles other suites create in the shared test
    * SparkContext). Last-writer-wins under concurrent calls.
    */
  @volatile private[graft] var lastCcLedgerForTest: ShuffleLedger = _

  def connectedComponents(
      pairs: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIterations: Int = 25): DataFrame = {
    // The iterate rounds run as ONE RDD pipeline each (opt round 19; the
    // prior DataFrame rounds were re-planned by Catalyst every round and
    // paid ~4 AQE stage-materialization jobs per round on top of the cut's
    // runJob — at the sf tiers the ~80 ms/job scheduling floor made those
    // jobs, not data, the loop's dominant cost: dedup_clusters measured 62
    // jobs, and the suite-wide 8-core-beats-32 inversion traced to exactly
    // this shape). Pair GENERATION stays a Catalyst plan (AQE does real
    // work there); the loop needs none of it — each round is now three
    // sorted shuffles inside a single job:
    //
    //   A  sym edges keyed (node, neighbor), partitioned by node, sorted —
    //      the first row of a node's run IS its min neighbor, so the
    //      large-star emission streams with O(1) task state (no
    //      neighbor-list buffering: a 10⁹-degree hub costs nothing more
    //      than a long run, where a groupByKey formulation would OOM);
    //   B  large-star output keyed (larger endpoint, min), same streaming
    //      shape for the small-star emission (consecutive-equal dedup in
    //      the sorted run replaces the old afterLarge distinct);
    //   C  pair-keyed sort whose consecutive-equal dedup is the old
    //      canonical distinct, feeding the cut directly.
    //
    // Fewer bytes move too: the old rounds shuffled the symmetric edge set
    // into BOTH a groupBy and a join-back per star (~2× the edges per
    // star); the sorted-run form shuffles each edge set once per star.
    // Shuffle records go through Kryo (two longs), not the default Java
    // serialization.
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val ledger = new ShuffleLedger(sc, Seq.empty)
    lastCcLedgerForTest = ledger
    val kryo = kryoFor(sc)

    // Scale-adaptive reduce width from the LIVE edge count (each round's
    // fingerprint carries it for free): ~2M 16-byte edges ≈ 32 MB raw per
    // partition (opt guide §2.2's fewer-larger-partitions band), floored
    // so mid-size rounds still spread across the cores. Never a constant:
    // sf0.1 rounds run 1 task; a 100 TB edge set gets O(edges/2M) tasks.
    def partsFor(n: Long): Int = {
      val bySize = (n + (2L << 20) - 1) / (2L << 20)
      val byCores = math.min(sc.defaultParallelism.toLong, (n + 65535L) / 65536L)
      math.max(1L, math.max(bySize, byCores)).toInt
    }
    def sortedByNode(rdd: RDD[(Long, Long)], parts: Int): RDD[(Long, Long)] = {
      val shuffled = new org.apache.spark.rdd.ShuffledRDD[(Long, Long), Unit, Unit](
        rdd.map((_, ())), new Dedup.NodePartitioner(parts))
      shuffled.setKeyOrdering(implicitly[Ordering[(Long, Long)]])
      shuffled.setSerializer(kryo)
      shuffled.map(_._1)
    }
    def sortedByPair(rdd: RDD[(Long, Long)], parts: Int): RDD[(Long, Long)] = {
      val shuffled = new org.apache.spark.rdd.ShuffledRDD[(Long, Long), Unit, Unit](
        rdd.map((_, ())), new Dedup.PairPartitioner(parts))
      shuffled.setKeyOrdering(implicitly[Ordering[(Long, Long)]])
      shuffled.setSerializer(kryo)
      shuffled.map(_._1)
    }
    // one large-star + small-star round over the canonical edge SET,
    // still exactly Kiveris et al.'s alternation:
    //   large-star: every neighbor v > u re-links to m = min(Γ(u) ∪ {u})
    //   small-star: u > its neighbors; u and all of them re-link to the min
    def round(edges: RDD[(Long, Long)], parts: Int): RDD[(Long, Long)] = {
      val sym = edges.flatMap(e => Iterator((e._1, e._2), (e._2, e._1)))
      val afterLarge = sortedByNode(sym, parts).mapPartitions { it =>
        new Iterator[(Long, Long)] {
          // run state: current node u and its min m (first neighbor of the
          // sorted run); pending holds the next emission
          private var runU = 0L
          private var runM = 0L
          private var started = false
          private var pending: (Long, Long) = null
          private def fill(): Unit = {
            while (pending == null && it.hasNext) {
              val (u, v) = it.next()
              if (!started || u != runU) {
                started = true
                runU = u
                runM = math.min(u, v) // sorted run: first neighbor is min Γ(u)
              }
              // emit (larger endpoint v, min) — canonical since m ≤ u < v;
              // rows with v < u carry no large-star emission
              if (v > runU) pending = (v, runM)
            }
          }
          def hasNext: Boolean = { if (pending == null) fill(); pending != null }
          def next(): (Long, Long) = {
            if (!hasNext) throw new NoSuchElementException
            val p = pending; pending = null; p
          }
        }
      }
      // small-star over (w = larger endpoint, x = neighbor < w) runs: the
      // run's first distinct x is the min m; every distinct x re-links to
      // m and so does w itself. Consecutive-equal skips dedup the
      // afterLarge multiset inside the same sorted pass.
      val smallOut = sortedByNode(afterLarge, parts).mapPartitions { it =>
        new Iterator[(Long, Long)] {
          private var runW = 0L
          private var runM = 0L
          private var lastX = 0L
          private var started = false
          private var wPending = false // (m, w) still to emit for this run
          private var pending: (Long, Long) = null
          private def fill(): Unit = {
            while (pending == null && it.hasNext) {
              val (w, x) = it.next()
              if (!started || w != runW) {
                if (started && wPending) pending = (runM, runW)
                started = true
                runW = w
                runM = x // sorted run: first value is min, and < w always
                lastX = x
                wPending = true
                if (pending != null) return
              } else if (x != lastX) {
                lastX = x
                pending = (runM, x) // canonical: runM < x (sorted, deduped)
              }
            }
            if (pending == null && !it.hasNext && started && wPending) {
              pending = (runM, runW)
              wPending = false
              started = false
            }
          }
          def hasNext: Boolean = { if (pending == null) fill(); pending != null }
          def next(): (Long, Long) = {
            if (!hasNext) throw new NoSuchElementException
            val p = pending; pending = null; p
          }
        }
      }
      // cross-partition dedup: the round's result is a canonical edge SET
      sortedByPair(smallOut, parts).mapPartitions { it =>
        new Iterator[(Long, Long)] {
          private var last: (Long, Long) = null
          private var pending: (Long, Long) = null
          private def fill(): Unit = {
            while (pending == null && it.hasNext) {
              val p = it.next()
              if (last == null || p != last) { last = p; pending = p }
            }
          }
          def hasNext: Boolean = { if (pending == null) fill(); pending != null }
          def next(): (Long, Long) = {
            if (!hasNext) throw new NoSuchElementException
            val p = pending; pending = null; p
          }
        }
      }
    }

    // Scratch lifecycle, two tiers — the ALS kernel's wall-3 discipline
    // (SCALING §15.2/§15.5) applied to the engine's other unbounded
    // iterative loop. (1) Executor STORAGE: a round's checkpoint blocks
    // are superseded once the next fixpoint test has read them, so the
    // previous round's RDD is unpersisted explicitly. (2) Shuffle
    // SCRATCH: a round's three sorted shuffles are dead the moment its
    // cut materializes (the local checkpoint truncates lineage and has no
    // recompute path), but nothing deletes them until JVM exit — on a
    // 100 TB edge set an O(log² n)-round loop would accumulate
    // O(rounds × edges) of dead scratch, the exact failure shape the
    // ×1000 ALS fit hit as wall 3. Each round is swept through the same
    // [[ShuffleLedger]] the ALS kernel uses. Round 0 is deliberately NOT
    // tracked: its lineage includes the CALLER's upstream shuffles (pair
    // generation), which may back other live frames — the ledger only
    // ever deletes shuffles this loop's own rounds introduced.
    //
    // Set fingerprint = (count, XOR of a 64-bit edge hash): exact,
    // order-independent, and overflow-free — ids may be hash-derived longs
    // (~2^62, this module's own xxhash64 keys), so a SUM-based fingerprint
    // would overflow and THROW under ANSI mode. Equal sets always give
    // equal fingerprints (no false "changed" → no missed fixpoint); a
    // 2^-64-probability xor collision only triggers the exact subtract
    // confirmation, which remains the arbiter. Computed IN the cut's
    // materializing runJob (opt round 18) — per-result-partition folds, so
    // task retries cannot double-count the way an accumulator would. The
    // hash is Catalyst's own xxhash64(u, v) (XXH64, seed 42 then chained),
    // so fingerprint values stay bit-identical to the original aggregate's.
    def cut(rdd: RDD[(Long, Long)], track: Boolean): (Long, Long) = {
      if (track) ledger.track(rdd)
      rdd.localCheckpoint()
      val perPart = sc.runJob(rdd, (it: Iterator[(Long, Long)]) => {
        var n = 0L
        var x = 0L
        while (it.hasNext) {
          val e = it.next()
          x ^= org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
            e._2,
            org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(e._1, 42L))
          n += 1L
        }
        (n, x)
      })
      perPart.foldLeft((0L, 0L)) { case ((n1, x1), (n2, x2)) => (n1 + n2, x1 ^ x2) }
    }

    // round 0: canonical undirected form — (min, max), self-loops dropped,
    // deduped — through the caller's own Catalyst plan (pair generation
    // keeps its AQE sizing), then into (u, v) longs
    val canon0 = pairs
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    var edges: RDD[(Long, Long)] =
      canon0.queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    var edgesFp = cut(edges, track = false)
    var done = edgesFp._1 == 0L
    var iter = 0
    while (!done && iter < maxIterations) {
      val parts = partsFor(edgesFp._1)
      val afterSmall = round(edges, parts)
      val afterFp = cut(afterSmall, track = true)
      // fixpoint, two tiers: an unchanged (count, xor-hash) fingerprint is
      // a near-certain set equality computed for free inside the cut's
      // materializing pass. Only then does the exact set-difference
      // confirmation run (it used to run EVERY round and dominated round
      // cost at the ×100 tier); a fingerprint collision just costs that
      // one confirmation and iterates on, so exactness is unconditional.
      done = afterFp == edgesFp && afterSmall.subtract(edges, parts).isEmpty()
      edgesFp = afterFp
      // this round's cut has materialized and the fixpoint test above was
      // the retired round's last reader: sweep the round's dead shuffle
      // files now (everything tracked that the new cut cannot reach), then
      // drop the superseded checkpoint blocks
      ledger.sweep(Seq(afterSmall))
      edges.unpersist(blocking = false)
      edges = afterSmall
      iter += 1
    }
    // Fail LOUDLY at the round cap: before the fixpoint, edges are a
    // partially-collapsed forest and the min-over-neighbors labeling
    // below would silently assign non-component minima — wrong answers,
    // not slow ones. The alternation converges in O(log² n) rounds, so
    // the default cap of 25 covers any realistic graph (a 20M-node
    // chain — worst diameter — needs ~9); hitting it means the caller
    // should raise maxIterations, not receive bad clusters.
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not reach its fixpoint in $maxIterations rounds; " +
        "raise maxIterations (round count is O(log² n) in nodes)")
    // at the fixpoint edges form stars (root=min ↔ member): every node's
    // label is the min over its incident edge endpoints and itself
    val labels = edges
      .flatMap(e => Iterator((e._1, e._2), (e._2, e._1)))
      .reduceByKey(math.min(_, _), partsFor(edgesFp._1))
      .map { case (id, mv) => (id, math.min(mv, id)) }
    // the last round's cut is the labels' only source (a local checkpoint
    // has no recompute path), so the labels are materialized here and the
    // cut released in the call: the caller owns one cached frame and frees
    // it with `unpersist()` or `catalog.clearCache()`
    val out = spark.createDataFrame(labels).toDF("id", "cluster_id").persist()
    out.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    edges.unpersist(blocking = false)
    out
  }

  /** Partitions a (node, x) composite key by node only, so one sorted
    * shuffle gives per-node runs whose first element is the node's minimum
    * — the O(1)-state streaming form of groupBy+min+join-back.
    */
  private final class NodePartitioner(parts: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = {
      val u = key.asInstanceOf[(Long, Long)]._1
      val mod = java.lang.Long.hashCode(u) % parts
      if (mod < 0) mod + parts else mod
    }
  }

  /** Partitions by the full (u, v) pair — the dedup shuffle. The hash is
    * XXH64 chained over u then v, as in the connected-components
    * fingerprint: a linear mix such as `31·hash(u) + hash(v)` sends every
    * `(u, u + 1)` key to one partition when `parts` divides 32.
    */
  private[ops] final class PairPartitioner(parts: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[(Long, Long)]
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
        k._2, org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k._1, 42L))
      java.lang.Math.floorMod(h, parts.toLong).toInt
    }
  }

  /** Partitions a bare long shingle-hash key — the pair-emission shuffle. */
  private final class HPartitioner(parts: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = {
      val mod = java.lang.Long.hashCode(key.asInstanceOf[Long]) % parts
      if (mod < 0) mod + parts else mod
    }
  }

  /** Content-hash index of a corpus — the running state an INCREMENTAL
    * dedup pipeline carries between daily batches. md5 (not sha2) so the
    * index is replayable by any engine; 128 bits is collision-safe at any
    * corpus size.
    */
  def exactHashIndex(documents: DataFrame, textCol: String = "text"): DataFrame =
    documents.select(md5(col(textCol)).as("content_hash")).distinct()

  /** Incremental exact dedup: keep only the new-batch documents whose
    * content hash is absent from the existing corpus index — the
    * daily-ingest shape (dedup today's crawl against everything already
    * kept, without rescanning the corpus text). A left-anti join on the
    * 16-byte hash: broadcast when the index fits, shuffled hash-anti-join
    * otherwise — either way the corpus TEXT is never read again.
    */
  def incrementalKeepers(
      newDocs: DataFrame,
      index: DataFrame,
      textCol: String = "text"): DataFrame =
    newDocs.join(index, md5(newDocs(textCol)) === index("content_hash"), "left_anti")

  /** Bloom-prefiltered incremental dedup — the 100 TB shape of
    * [[incrementalKeepers]]: one distributed `bloom_filter_agg` pass
    * builds a bloom filter of the corpus content hashes (bit-OR merge —
    * order-independent, deterministic), the filter ships to the batch
    * side as a plan literal (a broadcast in effect; a few MB represents
    * hundreds of millions of documents), and the exact index join runs
    * ONLY on rows the bloom cannot rule out. Bloom filters have no false
    * negatives, so bloom-rejected rows are definitely new and skip the
    * join; false positives are removed by the exact verify — the result
    * is IDENTICAL to [[incrementalKeepers]], which is what lets the gate
    * oracle-check this path with the same SQL.
    */
  def incrementalKeepersBloom(
      newDocs: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      expectedItems: Long = 100000L,
      numBits: Long = 1L << 20): DataFrame = {
    // BloomFilterAggregate/MightContain are Catalyst-internal (used by the
    // optimizer's runtime-filter injection, not in the SQL registry) —
    // constructed directly, the same justified bridge DotProductExpr uses
    val bloomAgg = org.apache.spark.sql.GraftSqlShims.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.GraftSqlShims.expression(xxhash64(md5(col(textCol)))),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    val bloomBytes = corpus
      .agg(bloomAgg.as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bloomBytes == null) return newDocs // empty corpus: everything is new
    val mightContain = org.apache.spark.sql.GraftSqlShims.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bloomBytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftSqlShims.expression(xxhash64(md5(col(textCol))))))
    val definitelyNew = newDocs.where(!mightContain)
    val confirmedNew = incrementalKeepers(
      newDocs.where(mightContain), exactHashIndex(corpus), textCol)
    definitelyNew.unionByName(confirmedNew)
  }

  /** Persisted state of an INCREMENTAL near-dup pipeline — the near-dup
    * analogue of [[exactHashIndex]]: one NARROW row per corpus document
    * carrying everything a future batch needs. `buckets` holds one
    * banded-LSH bucket key per band (the same band hashing
    * [[minhashNearDups]] uses) for candidate generation; `sh` holds the
    * xxhash64 image of the distinct shingle set for the exact-Jaccard
    * verify. ~1 KB/doc regardless of text size: a daily batch dedups
    * against this frame WITHOUT ever re-reading corpus text. Built once,
    * O(corpus) — a pipeline writes it to storage (bucketed by id, or the
    * exploded (band, bucket) form partitioned by band) and appends each
    * kept batch's own rows to keep the state current.
    */
  def minhashIndex(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      numBands: Int = 16,
      shingleSize: Int = 3,
      family: MinhashFamily = XxHash64Minhash): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    family match {
      case XxHash64Minhash =>
        // One row-wise projection instead of the join below, so each
        // document is read and shingled once. `text IS NOT NULL` is the
        // family's `size(sh) > 0` rule: ShinglesExpr never yields an empty
        // array for non-null text (fewer tokens than `shingleSize` yield
        // the whole text as one shingle).
        shingleFrame(documents.where(col(textCol).isNotNull), textCol, idCol, shingleSize)
          .select(
            col("id"),
            bandKeys(minhash(col("sh"), numHashes), numBands, rowsPerBand).as("buckets"),
            hashedShingles(col("sh")).as("sh"))
      case _ =>
        val shingled = shingleFrame(documents, textCol, idCol, shingleSize)
        family.signatures(shingled, numHashes)
          .select(col("id"), bandKeys(col("sig"), numBands, rowsPerBand).as("buckets"))
          .join(shingled.select(col("id"), hashedShingles(col("sh")).as("sh")), "id")
    }
  }

  /** Incremental NEAR-dup dedup: keep only the new-batch documents with no
    * verified near-duplicate in the existing corpus, consulting ONLY the
    * corpus's [[minhashIndex]] — the daily-ingest shape of
    * [[minhashNearDups]]. Batch-side signatures/bands/shingles are derived
    * fresh (O(batch) text reads); candidates come from a (band, bucket)
    * equi-join of the batch's bands against the stored bucket keys (at
    * 100 TB the stored index is partitioned by band, so the join prunes to
    * the touched buckets); the verify computes exact Jaccard between the
    * batch's hashed shingle sets and the STORED ones. Corpus text is never
    * re-read or re-shingled. Within-batch near-dups are deliberately kept
    * — dedup of the batch against itself is [[minhashNearDups]] +
    * [[nearDedupKeepers]] on the batch alone, composed by the caller.
    */
  def incrementalNearDupKeepers(
      newDocs: DataFrame,
      index: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numHashes: Int = 64,
      numBands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      family: MinhashFamily = XxHash64Minhash): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    val shingled = shingleFrame(newDocs, textCol, idCol, shingleSize).persist()
    val batchBands = bandedFrame(family.signatures(shingled, numHashes), numBands, rowsPerBand)
    val corpusBands = index.select(
      col("id").as("id_b"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val candidates = batchBands.as("x")
      .join(corpusBands.as("y"), Seq("band", "bucket"))
      .select(col("x.id").as("id_a"), col("id_b"))
      .distinct()
    val batchHashed = shingled.select(col("id").as("id_a"), hashedShingles(col("sh")).as("sh_a"))
    val matched = candidates
      .join(batchHashed, "id_a")
      .join(index.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a").as(idCol))
      .distinct()
    // materialize the (small: matched batch ids only) set eagerly so the
    // batch shingle cache frees here rather than leaking past the call
    matched.persist().count()
    shingled.unpersist(blocking = false)
    newDocs.join(matched, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: for each corpus document, how many of its
    * distinct `shingleSize`-gram shingles also occur anywhere in
    * `benchmark` (the held-out eval set), as count, fraction, and a
    * verdict at `threshold`. Pretraining pipelines run exactly this gate
    * so eval answers don't leak into training data.
    *
    * Scale shape: the benchmark shingle set is tiny relative to a training
    * corpus (MBs vs TBs), so it is deduped and BROADCAST — the corpus side
    * is one narrow scan + a per-doc aggregate, with no shuffle of corpus
    * text and no repartitioning. Shingles compare by 64-bit hash so the
    * broadcast ships 8-byte keys, not strings.
    */
  def contaminationStats(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    def sh(df: DataFrame) = Parallelism.widen(df).select(
      col(idCol).as("id"),
      explode(array_distinct(TextOps.shingles(col(textCol), shingleSize))).as("s"))
    val corpSh = sh(corpus).select(col("id"), xxhash64(col("s")).as("h"))
    val benchSh = sh(benchmark).select(xxhash64(col("s")).as("h")).distinct()
    val totals = corpSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val hits = corpSh.join(broadcast(benchSh), "h")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    totals.join(hits, Seq("id"), "left")
      .select(
        col("id"),
        col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        col("n_overlap").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("overlap_frac") >= threshold)
  }

  /** Distinct stride-1 `spanWords`-word window hashes per document:
    * `(id, h)` rows, `h` = the portable 56-bit md5-prefix hash of the
    * span text so an external SQL engine replays it exactly. A document
    * shorter than `spanWords` words contributes its whole text as one
    * span. Span TEXT never leaves the narrow projection — only the
    * 8-byte hash and the doc id are shuffled by downstream consumers.
    */
  def spanHashes(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      spanWords: Int = 16): DataFrame =
    // spans ARE stride-1 word shingles at n = spanWords (including the
    // whole-text-when-shorter edge), so the codegen shingle kernel
    // applies: zero-copy byte-slice spans, hash in codegen post-explode —
    // replaces a transform() HOF that did O(spanWords) interpreted
    // concat_ws(slice()) string work per span per document
    Parallelism.widen(documents)
      .select(col(idCol).as("id"),
        explode(TextOps.shingles(col(textCol), spanWords)).as("s"))
      .select(col("id"), TextOps.portableHash56(col("s")).as("h"))
      .distinct()

  /** Exact duplicate-span detection (the exact-substring dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): document pairs sharing at least one verbatim run of
    * `spanWords` words, with the count of distinct shared spans. Catches
    * verbatim quotation/mirroring that whole-document MinHash misses when
    * the surrounding text differs.
    *
    * Scale shape: stride-1 spans are O(total tokens) rows — unavoidable
    * for exact-substring semantics — but each row is (id, 8-byte hash),
    * never span text. Spans occurring in only one document die in the
    * first aggregate; spans in more than `maxDf` documents (tag soup,
    * templated runs) are capped OUT before the self-join, so candidate
    * volume is Σ df² over 2 ≤ df ≤ maxDf — never all-pairs.
    */
  def duplicateSpanPairs(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      spanWords: Int = 16,
      maxDf: Int = 50): DataFrame = {
    // persisted: referenced by the df gate AND both sides of the pair
    // join — without it the plan re-scans and re-explodes the corpus four
    // times (released by the harness's per-query clearCache, as with the
    // other persisted dedup intermediates)
    val d = spanHashes(documents, textCol, idCol, spanWords).persist()
    val inDf = d.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDf)
      .select("h")
    val capped = d.join(inDf, "h")
    capped.as("a")
      .join(capped.as("b"), "h")
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_spans"))
  }

  /** Disjoint `chunkSize`-word chunks of each document as
    * `(id, idx, chunk)` rows — the structural unit for cross-document
    * boilerplate removal ([[removeBoilerplate]]). Splits on single space
    * so an external SQL engine's `str_split` replays it byte-identically.
    * Chunking is one narrow pass per document (no shuffle).
    */
  def chunkify(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      chunkSize: Int = 8): DataFrame = {
    val ws = split(col(textCol), " ")
    val chunks = transform(
      sequence(lit(0), ceil(size(ws) / lit(chunkSize.toDouble)).cast("int") - 1),
      i => concat_ws(" ", slice(ws, i * chunkSize + 1, lit(chunkSize))))
    Parallelism.widen(documents)
      .select(col(idCol).as("id"), posexplode(chunks).as(Seq("idx", "chunk")))
  }

  /** Cross-document boilerplate removal (the C4/RefinedWeb line-dedup
    * pass, on fixed word windows since the fixture corpus has no line
    * structure): a chunk that occurs in ≥ `minDocs` distinct documents is
    * boilerplate (headers, navigation, license blurbs) and is stripped
    * from every document; the survivors are reassembled in original order.
    * Output: `(id, n_chunks, n_kept, clean_text)` — one row per input
    * document, `clean_text` empty when everything was boilerplate.
    *
    * Scale shape: chunking is narrow; the frequency count shuffles only
    * (chunk, id) with map-side partial combine; the frequent set is small
    * BY DEFINITION (each member occurs ≥ minDocs times, so distinct
    * boilerplate ≤ corpus_chunks / minDocs, and real boilerplate is a few
    * thousand strings even on a web-scale crawl) and is BROADCAST into a
    * left-anti join; kept text then shuffles exactly once to reassemble.
    */
  def removeBoilerplate(
      documents: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      chunkSize: Int = 8,
      minDocs: Int = 2): DataFrame = {
    // persisted: feeds both the frequency gate and the anti-join — without
    // it the corpus is re-scanned and re-chunked per consumer (released by
    // the harness's per-query clearCache, as with the other persisted
    // dedup intermediates)
    val chunks = chunkify(documents, textCol, idCol, chunkSize).persist()
    val frequent = chunks
      .groupBy("chunk")
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select("chunk")
    val kept = chunks.join(broadcast(frequent), Seq("chunk"), "left_anti")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("idx"), col("chunk")))),
            x => x.getField("chunk")),
          " ").as("clean_text"))
    val totals = documents.select(
      col(idCol).as("id"),
      ceil(size(split(col(textCol), " ")) / lit(chunkSize.toDouble))
        .cast("bigint").as("n_chunks"))
    totals.join(kept, Seq("id"), "left")
      .select(
        col("id"),
        col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
