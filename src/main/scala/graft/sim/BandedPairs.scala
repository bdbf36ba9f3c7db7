package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded candidate-pair core shared by every LSH / pigeonhole
  * family (MinHash bands, SimHash and pHash 12-bit blocks, SRP
  * bands × rows): rows are keyed by a `cell` (band id + bucket value),
  * cells holding more than `cap` rows are dropped as degenerate, and
  * candidates are the id pairs sharing a kept cell. Hash families are
  * parameters of this one search shape (Continuously Adaptive
  * Similarity Search, SIGMOD 2020), so a plan fix lands here once.
  *
  * The one plan rule the core encodes: the hot-cell count and the pair
  * stream must consume IDENTICAL rows below the banding exchange, so
  * the planner reuses one scan + one shuffle for both (ReusedExchange).
  * Two details make that hold without changing any result:
  *  - occupancy is `count(id) + count_if(id IS NULL)` — equal to the
  *    oracles' `COUNT(*)`, but it references the id, so column pruning
  *    cannot strip the id off the count branch (`count(lit(1))` does,
  *    and `count(struct(id))` is rewritten to `count(1)`);
  *  - the pair predicate, and any family verify predicate joined into
  *    it, is wrapped in `coalesce(…, false)`: a NULL id or hash never
  *    pairs, but nothing null-intolerant remains for the optimizer to
  *    infer an `isnotnull` filter from and push below the exchange on
  *    the pair branch only.
  * Consumers joining the pair ids back to their source do so null-safe
  * (`<=>`) for the same reason. */
private[graft] object BandedPairs {

  /** Cells of `banded` whose occupancy exceeds `cap` — at most
    * rows/cap entries, so the list broadcasts. */
  def hotCells(banded: DataFrame, id: String, cell: Seq[String],
               cap: Int): DataFrame =
    banded.groupBy(cell.map(col): _*)
      .agg((count(col(id)) + count_if(col(id).isNull)).as("occ"))
      .filter(col("occ") > cap)
      .select(cell.map(col): _*)

  /** `banded` without the rows of the `hot` cells (broadcast anti-join). */
  def dropCells(banded: DataFrame, hot: DataFrame, cell: Seq[String]): DataFrame =
    banded.join(broadcast(hot), cell, "left_anti")

  /** `banded` without its cells of occupancy > `cap`. */
  def dropHot(banded: DataFrame, id: String, cell: Seq[String], cap: Int): DataFrame =
    dropCells(banded, hotCells(banded, id, cell, cap), cell)

  /** Same-cell pairs `a.id < b.id` over the kept cells of `banded`,
    * further restricted by `verify` (over `a.`/`b.` columns). The result
    * is the raw self-join with sides aliased `a` and `b`; a pair sharing
    * several kept cells appears once per cell, so callers deduplicate. */
  def pairs(banded: DataFrame, id: String, cell: Seq[String], cap: Int,
            verify: Column = lit(true)): DataFrame = {
    val kept = dropHot(banded, id, cell, cap)
    kept.as("a").join(kept.as("b"),
      cell.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
        coalesce(col(s"a.$id") < col(s"b.$id") && verify, lit(false)))
  }

  /** (doc_a, doc_b, hamming) pairs of a 60-bit hash column `hash` over a
    * (doc_id, hash) frame at Hamming distance ≤ 4 — found EXACTLY by
    * pigeonhole banding: the hash splits into 5 disjoint 12-bit blocks,
    * any pair differing in ≤ 4 bits agrees on at least one block, so
    * candidates come from block-equality joins (never all-pairs) and the
    * exact Hamming verify keeps no false positives. A qualifying pair is
    * lost only when every block it agrees on holds > `cap` rows. */
  def hamming60Pairs(sigs: DataFrame, hash: String, cap: Int): DataFrame = {
    val h = col(hash)
    val blocks = sigs.select(col("doc_id"), h,
      posexplode(array((0 until 5).map(i => shiftright(h, 12 * i).bitwiseAND(lit(4095L))): _*))
        .as(Seq("block", "block_bits")))
    val hamming = bit_count(col(s"a.$hash").bitwiseXOR(col(s"b.$hash"))).cast("long")
    pairs(blocks, "doc_id", Seq("block", "block_bits"), cap, hamming <= 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
  }

  /** Mask of an r-bit SRP band, 1 ≤ r ≤ 64 (an unsigned shift, so
    * r = 64 needs no special case: `1L << 64` wraps to 1 and would mask
    * every bucket to 0, degenerating the join to all-pairs). */
  def srpMask(rows: Int): Long = -1L >>> (64 - rows)

  /** Band `band`'s bucket of a 64-bit SRP signature: bits
    * [band·rows, band·rows + rows). */
  def srpBucketOf(sig: Long, band: Int, rows: Int): Long =
    (sig >>> (band * rows)) & srpMask(rows)

  /** Column form of [[srpBucketOf]]. */
  def srpBucket(sig: Column, band: Column, rows: Int): Column =
    call_function("shiftrightunsigned", sig, band * rows).bitwiseAND(lit(srpMask(rows)))

  /** `sigs` (carrying a 64-bit `sig`) exploded to one row per band, with
    * its `band` id and `bucket`. */
  def srpBands(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= 64,
      s"need bands >= 1, rows >= 1, bands*rows <= 64; got $bands x $rows")
    sigs.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bucket", srpBucket(col("sig"), col("band"), rows))
  }
}
