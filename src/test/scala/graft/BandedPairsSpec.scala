package graft

import graft.multimodal.Multimodal
import graft.sim.{BandedPairs, Similarity}
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** The cell contract of the shared banded candidate-pair core, driven
  * through every join-form family. Each family gets a pile of identical
  * inputs, so every cell it bands into holds the whole pile: occupancy
  * is the pile size, NULL ids included (the oracles' `COUNT(*)`). */
class BandedPairsSpec extends SparkSpec {
  import spark.implicits._

  private val text = "data query spark table row column key value join filter"
  private val payload =
    (0 until 96).map(i => ('a' + (i * 7 + 13 + i * i) % 26).toChar).mkString
  private val vec = Array(0.5f, 0.25f, -0.125f, 0.75f, -0.5f, 0.3f, 0.1f, -0.2f)

  /** family → (pile of these ids, cap) → its pair frame, and the output
    * schema the registered query has. */
  private val families: Seq[(String, (Seq[Option[Long]], Int) => DataFrame,
      Seq[(String, DataType)])] = Seq(
    ("minhash", (ids, cap) => TextOps.minhashPairsOverDocs(
        ids.map(i => (i, text)).toDF("doc_id", "text"), cap),
      Seq("doc_a" -> LongType, "doc_b" -> LongType, "est_jaccard" -> DoubleType)),
    ("simhash", (ids, cap) => BandedPairs.hamming60Pairs(
        TextOps.simhashOver(ids.map(i => (i, text)).toDF("doc_id", "text")),
        "simhash60", cap),
      Seq("doc_a" -> LongType, "doc_b" -> LongType, "hamming" -> LongType)),
    ("phash", (ids, cap) => BandedPairs.hamming60Pairs(
        Multimodal.phashOver(ids.map(i => (i, payload)).toDF("doc_id", "text")),
        "phash60", cap),
      Seq("doc_a" -> LongType, "doc_b" -> LongType, "hamming" -> LongType)),
    ("srp", (ids, cap) => Similarity.annLshNearDupPairsOver(
        ids.map(i => (i, vec)).toDF("vec_id", "embedding"), 8, 8, 0.8, cap),
      Seq("vec_a" -> LongType, "vec_b" -> LongType, "cosine" -> DoubleType)))

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val pile = Seq(Some(1L), Some(2L), Some(3L))
  private val allPairs = Set((1L, 2L), (1L, 3L), (2L, 3L))

  test("a cell of exactly cap rows is kept, one of cap + 1 rows is dropped") {
    families.foreach { case (name, run, _) =>
      assert(pairsOf(run(pile, 3)) == allPairs, s"$name dropped a cell at the cap")
      assert(pairsOf(run(pile, 2)).isEmpty, s"$name kept a cell above the cap")
    }
  }

  test("a NULL id counts toward cell occupancy and never pairs") {
    // 3 non-NULL ids + 1 NULL in one cell: occupancy 4 > cap 3, so the
    // cell is dropped (the oracle's COUNT(*) rule); at cap 4 it is kept
    // and only the non-NULL ids pair
    val withNull = pile :+ None
    families.foreach { case (name, run, _) =>
      assert(pairsOf(run(withNull, 3)).isEmpty,
        s"$name did not count the NULL id toward occupancy")
      val kept = run(withNull, 4).collect()
      assert(kept.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
        s"$name paired a NULL id: ${kept.toSeq}")
      assert(kept.map(r => (r.getLong(0), r.getLong(1))).toSet == allPairs, name)
    }
  }

  test("an empty input gives an empty output with the family's schema") {
    families.foreach { case (name, run, schema) =>
      val out = run(Seq.empty, 3)
      assert(out.schema.fields.map(f => f.name -> f.dataType).toSeq == schema,
        s"$name schema: ${out.schema}")
      assert(out.count() == 0L, name)
    }
  }
}
