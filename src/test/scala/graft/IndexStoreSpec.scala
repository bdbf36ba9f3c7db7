package graft

import graft.sim.{IndexStore, Pq}
import org.apache.spark.sql.functions._

/** The persisted-index store's contract: build once, serve the stored
  * artifact, and NEVER serve a stale one — a collection that changed
  * under the same directory must be detected by the fingerprint and
  * trigger a rebuild (the failure mode that would silently break the
  * oracle's training-replay equality). */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(dir: String, shift: Float): Unit =
    (0 until 64).map { i =>
      (i.toLong, (0 until 64).map(d => (i * 64 + d) / 4096.0f + shift), s"l${i % 3}")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The catalog table a served bucketed handle reads. */
  private def catalogTableOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation
        if r.catalogTable.isDefined => r.catalogTable.get.identifier.table
    }.getOrElse(fail(s"not served from the catalog:\n${df.queryExecution.analyzed}"))

  /** Bucket count of the served table's scan — the planner's view. */
  private def bucketsOf(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.bucketSpec.map(_.numBuckets)
          case _ => None
        }
    }.flatten

  private def bucketedStore(dir: String, fp: String)
                           (build: => Map[String, org.apache.spark.sql.DataFrame]) =
    IndexStore.loadOrBuild(spark, dir, "bucket_probe", "v1", fp, Seq("t"),
      bucketBy = Map("t" -> "k"))(build)("t")

  private def rows(from: Long) = Map("t" ->
    spark.range(from, from + 40).select(col("id").as("k"), (col("id") * 3).as("v")))

  test("a changed collection under the same path rebuilds the index") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore").toString
    writeCorpus(dir, 0.0f)
    val v1 = canon(Pq.index(spark, dir).codes)
    // same bytes → fingerprint hit → served artifact identical
    assert(canon(Pq.index(spark, dir).codes) == v1)
    // regenerate the collection IN PLACE (same row count, same vec_ids,
    // different components) — count+key checksums alone would miss it;
    // the component checksum must not
    writeCorpus(dir, 0.25f)
    val v2 = canon(Pq.index(spark, dir).codes)
    val fresh = canon(Pq.buildIndex(spark, dir).codes)
    assert(v2 == fresh, "served index must equal a fresh build on the new collection")
    // and the codebooks really differ across the two collection vintages
    val cb2 = canon(Pq.index(spark, dir).codebook)
    writeCorpus(dir, 0.0f)
    assert(canon(Pq.index(spark, dir).codebook) != cb2,
      "reverting the collection must revert the served codebook")
  }

  test("fingerprint distinguishes component changes at fixed count and keys") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-fp").toString
    writeCorpus(dir, 0.0f)
    val f0 = IndexStore.embeddingsFingerprint(spark, dir)
    writeCorpus(dir, 0.25f)
    assert(IndexStore.embeddingsFingerprint(spark, dir) != f0)
  }

  test("fingerprint sees a change confined to one non-zero dimension") {
    // regression: a first-component-only content checksum passed any
    // in-place regeneration that left dim 0 untouched — the
    // file-status fingerprint catches EVERY rewrite because parquet
    // writers mint fresh part-file names
    val dir = java.nio.file.Files.createTempDirectory("idxstore-fp1").toString
    def write(bump: Float): Unit =
      (0 until 64).map { i =>
        (i.toLong,
          (0 until 64).map(d =>
            (i * 64 + d) / 4096.0f + (if (d == 7) bump else 0.0f)),
          s"l${i % 3}")
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(0.0f)
    val f0 = IndexStore.embeddingsFingerprint(spark, dir)
    write(0.5f)
    assert(IndexStore.embeddingsFingerprint(spark, dir) != f0,
      "a dim-7-only edit must change the fingerprint")
  }

  test("fingerprint sees a dimension permutation at fixed component sums") {
    // swapping two components per row would fool a plain component-sum
    // checksum; the rewrite itself must invalidate
    val dir = java.nio.file.Files.createTempDirectory("idxstore-fpperm").toString
    def write(swap: Boolean): Unit =
      (0 until 64).map { i =>
        val base = (0 until 64).map(d => (i * 64 + d) / 4096.0f)
        val emb = if (swap) base.updated(0, base(1)).updated(1, base(0)) else base
        (i.toLong, emb, s"l${i % 3}")
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(swap = false)
    val f0 = IndexStore.embeddingsFingerprint(spark, dir)
    write(swap = true)
    assert(IndexStore.embeddingsFingerprint(spark, dir) != f0,
      "a component swap must change the fingerprint")
  }

  test("serve memo evicts superseded vintages, keeps this session's other indexes") {
    // within one long-lived session a collection rewrite changes the
    // fingerprint; the superseded entry can never hit again and must
    // not pin its DataFrame plans — while a MISS on one index must not
    // evict this session's memo for other indexes (nor, by the same
    // rule, a live sibling session's — liveness is read off the stored
    // handles, only stopped apps are swept).
    val dir = java.nio.file.Files.createTempDirectory("idxstore-memo").toString
    def build = Map("t" -> spark.range(3).toDF("v"))
    IndexStore.loadOrBuild(spark, dir, "memo_probe", "v1", "fpA", Seq("t"))(build)
    assert(IndexStore.servedKeys.exists(k => k._3 == "memo_probe" && k._5 == "fpA"))
    IndexStore.loadOrBuild(spark, dir, "memo_probe", "v1", "fpB", Seq("t"))(build)
    val vintages = IndexStore.servedKeys.filter(k =>
      k._2 == dir && k._3 == "memo_probe").map(_._5)
    assert(vintages == Set("fpB"),
      s"superseded vintage must be evicted on insert, got $vintages")
    IndexStore.loadOrBuild(spark, dir, "memo_probe2", "v1", "fpC", Seq("t"))(build)
    assert(IndexStore.servedKeys.exists(k =>
      k._2 == dir && k._3 == "memo_probe" && k._5 == "fpB"),
      "a miss on another index must not evict this session's live entries")
  }

  test("the served bucketed fact equals the fact build row for row") {
    val served = warehouse.Warehouse.fact(spark, sf)
    assert(bucketsOf(served).contains(spark.sparkContext.defaultParallelism),
      "the fact must be served as a bucketed table")
    assert(canon(served) == canon(warehouse.Warehouse.buildFact(spark, sf)))
  }

  test("a new session re-registers a bucketed table from the manifest without rebuilding") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-bkt").toString
    val first = bucketedStore(dir, "fpA")(rows(0))
    val want = canon(first)
    assert(bucketsOf(first).contains(spark.sparkContext.defaultParallelism))
    // what a new session lacks: this JVM's serve memo and the catalog entry
    IndexStore.forgetServed(dir)
    spark.sql(s"DROP TABLE ${catalogTableOf(first)}")
    val again = bucketedStore(dir, "fpA")(fail("a committed vintage must not rebuild"))
    assert(canon(again) == want)
    assert(bucketsOf(again) == bucketsOf(first),
      "the bucket count comes from the manifest")
  }

  test("a stale manifest rebuilds, and the served table sees only the new files") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-bkt-stale").toString
    val old = bucketedStore(dir, "fpA")(rows(0))
    val oldFiles = old.inputFiles.toSet
    val fresh = bucketedStore(dir, "fpB")(rows(1000))
    assert(canon(fresh) == canon(rows(1000)("t")))
    assert(fresh.inputFiles.toSet.intersect(oldFiles).isEmpty,
      "the rebuilt vintage must not list the replaced one's files")
    assert(catalogTableOf(fresh) == catalogTableOf(old),
      "a rebuild re-registers the same catalog entry instead of adding one")
  }

  test("a bucketed table holding a non-bucket file refuses to serve") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-bkt-stray").toString
    val served = bucketedStore(dir, "fpA")(rows(0))
    val part = java.nio.file.Paths.get(new java.net.URI(served.inputFiles.head))
    java.nio.file.Files.copy(part, part.resolveSibling("part-00000-stray.snappy.parquet"))
    IndexStore.forgetServed(dir)
    val e = intercept[IllegalStateException] {
      bucketedStore(dir, "fpA")(fail("a committed vintage must not rebuild"))
    }
    assert(e.getMessage.contains("part-00000-stray.snappy.parquet"), e.getMessage)
  }
}
