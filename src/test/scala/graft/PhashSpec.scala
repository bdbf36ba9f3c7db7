package graft

import graft.multimodal.Multimodal
import graft.sim.BandedPairs
import org.apache.spark.sql.functions._

/** The perceptual-hash (dHash) payload dedup: gradient-sign hashing of
  * the strided thumbnail, pigeonhole banding for candidates, exact
  * Hamming verify — and the bucket cap as the low-entropy safety valve
  * (the SimhashCapSpec posture applied to the multimodal family). */
class PhashSpec extends SparkSpec {
  import spark.implicits._

  // payload long enough for the 8×8 grid; varied bytes so the gradient
  // signs carry entropy
  private def payload(seed: Int): String =
    (0 until 96).map(i => ('a' + ((i * 7 + seed * 13 + i * i * seed) % 26)).toChar)
      .mkString

  test("identical payloads hash identically and pair at Hamming 0") {
    val d = Seq(
      (1L, payload(3)), (2L, payload(3)),       // exact clone pair
      (3L, payload(5)), (4L, payload(9)))       // unrelated
      .toDF("doc_id", "text")
    val hashes = Multimodal.phashOver(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) >= 0L, "60-bit hash must be non-negative")
    val pairs = BandedPairs.hamming60Pairs(Multimodal.phashOver(d), "phash60", 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)), s"clone pair missing from $pairs")
    assert(pairs.forall { case (a, b, _) => (a, b) == ((1L, 2L)) },
      s"unrelated payloads must not pair: $pairs")
  }

  test("a single-byte payload edit stays within the Hamming-4 pairing radius") {
    // one changed byte flips at most its two adjacent gradient signs —
    // dHash's robustness claim, machine-checked
    val base = payload(4)
    val edited = base.updated(40, if (base(40) == 'z') 'a' else 'z')
    val d = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val pairs = BandedPairs.hamming60Pairs(Multimodal.phashOver(d), "phash60", 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.length == 1 && pairs.head._3 <= 2L,
      s"edited payload should pair at Hamming <= 2, got $pairs")
  }

  test("short payloads (< one 8x8 grid) are excluded, not mis-hashed") {
    val d = Seq((1L, "short"), (2L, payload(1))).toDF("doc_id", "text")
    val ids = Multimodal.phashOver(d).select("doc_id").as[Long].collect()
    assert(ids.toSeq == Seq(2L))
  }

  test("native DHash60 == the HOF/oracle formulation, incl. multibyte payloads") {
    // the registered op hashes with the native single-pass expression;
    // the DuckDB oracle replays the ascii(substr(...)) HOF — this pins
    // the two together, on exactly the inputs where they could drift:
    // multibyte chars (code-point vs byte indexing), astral-plane chars
    // (surrogate pairs), constant and periodic payloads, and the real
    // length-stride interaction of a varied corpus
    val adv = Seq(
      (1L, "é" * 100),                            // 2-byte chars
      (2L, "日本語テキスト" * 20),                  // 3-byte chars
      (3L, ("a" * 32) + ("é" * 32) + ("𝕏" * 8)),  // mixed incl. astral
      (4L, (0 until 200).map(i => ('!' + i % 90).toChar).mkString),
      (5L, "x" * 64),                              // constant payload
      (6L, "ab" * 64),                             // period-2 payload
      (7L, payload(11)), (8L, payload(12)), (9L, payload(13)))
      .toDF("doc_id", "text")
    val mismatches = Multimodal.phashOver(adv).as("n")
      .join(Multimodal.phashOverHof(adv).as("h"), "doc_id")
      .filter(col("n.phash60") =!= col("h.phash60")).count()
    assert(mismatches == 0L)
  }

  test("bucket cap keeps a constant-payload pile from exploding the join") {
    // 150 identical payloads: every block bucket is hot; with a small
    // cap the pile drops wholesale while a distinct small pair survives
    val pile = (1 to 150).map(i => (i.toLong, payload(2)))
    val other = Seq((301L, payload(6)), (302L, payload(6)))
    val d = (pile ++ other).toDF("doc_id", "text")
    val sh = Multimodal.phashOver(d)
    val uncapped = BandedPairs.hamming60Pairs(sh, "phash60", Int.MaxValue).count()
    assert(uncapped > 11000, s"expected ~C(150,2)+1 uncapped, got $uncapped")
    val capped = BandedPairs.hamming60Pairs(sh, "phash60", 50).collect()
    assert(capped.length < 50, s"cap did not bound the join: ${capped.length}")
    assert(capped.exists(r =>
      r.getLong(0) == 301L && r.getLong(1) == 302L && r.getLong(2) == 0L),
      "the non-hot duplicate pair must still be found")
  }

  test("generated media piles land within Hamming 4 and the pair detector recalls them") {
    // the planted-near-dup contract of DataGen's media piles (ids
    // [b+10, b+13) per 50): each member's dHash sits within Hamming <=
    // 2*edits of its base, and every eligible (base, member) pair
    // surfaces in the registered detector's output — measured recall
    // 1.0 on the planted structure, not incidental collisions
    val docs = graft.datagen.DataGen.documents(spark, 500)
      .select("doc_id", "text")
    val hashes = Multimodal.phashOver(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = BandedPairs.hamming60Pairs(
      Multimodal.phashOver(docs), "phash60", Multimodal.PhashBucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).flatMap { p =>
      val b = p * 50L + 10
      Seq(11, 12).map(o => (b, p * 50L + o))
    }.filter { case (b, m) => hashes.contains(b) && hashes.contains(m) }
    assert(planted.size >= 15,
      s"most media-pile members should be phash-eligible, got ${planted.size}/20")
    planted.foreach { case (b, m) =>
      val ham = java.lang.Long.bitCount(hashes(b) ^ hashes(m))
      assert(ham <= 4, s"pile base $b member $m at Hamming $ham")
      assert(pairs.contains((b, m)), s"planted pair ($b, $m) not recalled")
    }
  }
}
