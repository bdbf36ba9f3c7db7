package graft

import graft.sim.BandedPairs
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** The band-bucket cap is the safety valve of the simhash pigeonhole
  * join: each block keys only 6-7 bits, so a low-entropy corpus piles
  * docs into shared buckets and candidates grow O(N²) without it
  * (measured 12.6× runtime for 10× docs before the cap existed). */
class SimhashCapSpec extends SparkSpec {
  import spark.implicits._

  test("bucket cap keeps a single-simhash pile from exploding the join") {
    // 200 identical docs (one simhash, every block bucket hot) plus one
    // genuine duplicate pair with its own distinct text
    val docs = (1 to 200).map(i =>
      (i.toLong, "data query spark table row column key value join filter")) ++
      Seq((301L, "the quick brown fox jumps over the lazy dog tonight"),
          (302L, "the quick brown fox jumps over the lazy dog tonight"))
    val d = docs.toDF("doc_id", "text")

    val uncapped = BandedPairs.hamming60Pairs(TextOps.simhashOver(d), "simhash60", Int.MaxValue).count()
    val capped = BandedPairs.hamming60Pairs(TextOps.simhashOver(d), "simhash60", 50)
    assert(uncapped > 19000, s"expected ~C(200,2) pairs uncapped, got $uncapped")
    // the hot pile is dropped wholesale (the documented recall
    // tradeoff: such piles are exact-dedup territory, not banding
    // territory), while the small-bucket genuine pair survives
    val cappedRows = capped.collect()
    assert(cappedRows.length < 50,
      s"cap did not bound the join: ${cappedRows.length} pairs")
    assert(cappedRows.exists(r =>
      r.getLong(0) == 301L && r.getLong(1) == 302L && r.getLong(2) == 0L),
      "the non-hot duplicate pair must still be found")
  }
}
