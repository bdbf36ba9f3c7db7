package perfbench

import graft.{Bench, Sessions, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Serving harness: builds a workload's stores from cold, then runs its
  * ops in a closed loop and writes what it measured as JSON.
  *
  * It calls only the library's public entry points ([[SparkEntry]]'s
  * registry, the store builders, [[Sessions.local]] with its defaults)
  * and reads only Spark's listener events and executed plans.
  *
  * Usage: Harness serve <dataDir> <workDir> <seed> <seconds> <trace 0|1> <setups>
  * runs serve_headline and writes workDir/harness.json. Per workload:
  *   - each setup copies dataDir to a fresh directory and builds the
  *     workload's stores from it (the store is keyed on the data
  *     directory, so no setup is served from an earlier one);
  *   - after the first setup, one warm-up pass against its store, whose
  *     outputs go to workDir/results/<op>.jsonl for the oracle check;
  *   - timed passes in an op order drawn from the seed, until the
  *     seconds run out. With trace 1, the first half of the time runs
  *     untraced passes and the second half traced ones: a job group
  *     and a span around each op, and the op's executed plan read for
  *     broadcast sizes. A traced run then tours the corpus layers once
  *     (one cold store build, one traced pass, and one select +
  *     aggregate per native SQL function).
  * Usage: Harness oracles <outFile> writes the oracle SQL the checks use.
  */
object Harness {

  final case class Workload(ops: Seq[String], stores: Seq[(String, (SparkSession, String) => Any)])

  val headline: Workload = Workload(Bench.headline, Seq(
    "warehouse" -> { (s: SparkSession, d: String) =>
      graft.warehouse.Warehouse.fact(s, d).count()
      graft.warehouse.Warehouse.dimDate(s, d).count()
      graft.warehouse.Warehouse.dimCustomer(s, d).count()
      graft.warehouse.Warehouse.dimPayment(s, d).count()
    }))

  val corpus: Workload = Workload(Seq(
      "dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_containment_pairs",
      "winnow_overlap_pairs", "bloom_decontamination", "multimodal_phash_pairs",
      "bm25_search", "hybrid_rrf_search", "ivf_search", "pq_search_rerank",
      "pack_sequences_bpe", "corpus_curation"), Seq(
      "bpe_vocab" -> ((s: SparkSession, d: String) => graft.text.TextOps.bpeSourceTokenAccounting(s, d).count()),
      "bm25" -> ((s: SparkSession, d: String) => graft.text.Relevance.bm25Search(s, d).count()),
      "ivf" -> ((s: SparkSession, d: String) => graft.sim.Ivf.index(s, d)),
      // the delta-assign op trains and stores the base-slice centroids
      // while its DataFrame is constructed
      "ivf_base" -> ((s: SparkSession, d: String) => graft.sim.Ivf.deltaAssign(s, d)),
      "pq" -> ((s: SparkSession, d: String) => graft.sim.Pq.index(s, d))))

  /** One select + aggregate per registered native SQL function. */
  val functionProbes: Seq[(String, String, String)] = Seq(
    ("minhash_sig", "documents", "minhash_sig(split(text, ' '))"),
    ("simhash_sig", "documents", "simhash_sig(split(text, ' '))"),
    ("word_shingles", "documents", "word_shingles(split(text, ' '))"),
    ("winnow_fp", "documents", "winnow_fp(text)"),
    ("srp_sig", "embeddings", "srp_sig(embedding)"),
    ("qdot", "embeddings", "qdot(embedding, embedding)"),
    ("text_stats_sig", "documents", "text_stats_sig(text)"))

  /** A traced interval; kept in memory and written when the run ends. */
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit =
    if (args(0) == "oracles") writeOracles(args(1)) else serve(args.tail)

  private def writeOracles(out: String): Unit = {
    val sql = SparkEntry.oracleSql ++ Map(
      "pipeline.published_corpus" -> graft.text.Curation.publishedCorpusSql)
    Files.writeString(Paths.get(out), sql.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))
  }

  private def serve(args: Array[String]): Unit = {
    val Array(dataDir, workDir, seedS, secondsS, traceS, setupsS) = args
    val traced = traceS == "1"
    val spark = Sessions.local(cores = Runtime.getRuntime.availableProcessors())
    progress("session ready")
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val run = new Run(spark, counters, dataDir, workDir, seedS.toLong)
    val phases =
      Seq(run.phase("serve_headline", headline, setupsS.toInt, secondsS.toDouble, traced)) ++
        // a traced run also tours the corpus layers once
        (if (traced) Seq(run.phase("serve_corpus", corpus, 1, 0.0, traced = true)) else Nil)
    Counters.drain(counters)
    progress("listener drained")
    val spans = run.spans.map(s =>
      s"""{"name":${q(s.name)},"parent":${q(s.parent)},"s":${(s.endNs - s.startNs) / 1e9}}""")
    val json = s"""{"cores":${run.cores},"old_gen_peak_bytes":${Counters.oldGenPeakBytes},""" +
      s""""spans":${spans.mkString("[", ",", "]")},"phases":{${phases.map(_.apply()).mkString(",")}}}"""
    Files.writeString(Paths.get(s"$workDir/harness.json"), json)
    spark.stop()
  }

  /** One harness process: shared session, listener and span buffer. */
  final class Run(spark: SparkSession, counters: Counters, dataDir: String,
                  workDir: String, seed: Long) {
    val cores: Int = spark.sparkContext.defaultParallelism
    val spans: ArrayBuffer[Span] = ArrayBuffer.empty[Span]
    private val sc = spark.sparkContext
    private val rnd = new scala.util.Random(seed)
    private var copies = 0

    private def span[T](n: String, parent: String)(f: => T): T = {
      val s = System.nanoTime()
      try f finally spans += Span(n, parent, s, System.nanoTime())
    }
    private def grouped[T](g: String)(f: => T): T = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }

    /** Runs one workload; returns a thunk that renders its JSON once the
      * listener has drained. `seconds` 0 means exactly one timed pass
    * and no warm-up. */
    def phase(name: String, wl: Workload, nSetups: Int, seconds: Double,
              traced: Boolean): () => String = {
      // warm-up pass; its outputs are the ones checked against the oracle.
      // A one-pass tour has no warm-up: its single pass is checked.
      val digests = scala.collection.mutable.Map.empty[String, String]
      val warmupFailures = ArrayBuffer.empty[String]
      def record(op: String, rows: Array[Row]): Unit = {
        digests(op) = digest(rows)
        Files.createDirectories(Paths.get(s"$workDir/results"))
        Files.write(Paths.get(s"$workDir/results/$op.jsonl"), rows.map(_.json).toSeq.asJava)
      }
      def warmup(dir: String): Unit = grouped(s"$name/warmup") {
        wl.ops.foreach { op =>
          try record(op, SparkEntry.queries(op)(spark, dir).collect())
          catch {
            case e: Throwable =>
              warmupFailures += op
              System.err.println(s"[perfbench] warm-up $op failed: ${e.getClass.getName}: ${e.getMessage}")
          }
        }
        progress(s"$name warm-up")
      }

      // set-up: cold store builds, each from a fresh copy of the inputs.
      // The ops serve from the first; the warm-up runs right after it,
      // so later set-ups measure a build in a warm JVM.
      val setups = ArrayBuffer.empty[Double]
      val storeSeconds = ArrayBuffer.empty[(String, Double)]
      val storeRoot = Paths.get(graft.sim.IndexStore.root)
      val storeBytesBefore = dirBytes(storeRoot)
      var serveDir = dataDir
      for (i <- 1 to nSetups) {
        copies += 1
        val dir = copyDir(dataDir, s"$workDir/data-$copies")
        val t0 = System.nanoTime()
        grouped(s"$name/setup:$i")(span(s"setup:$i", name) {
          wl.stores.foreach { case (store, build) =>
            val s = System.nanoTime()
            build(spark, dir)
            storeSeconds += store -> (System.nanoTime() - s) / 1e9
          }
        })
        setups += (System.nanoTime() - t0) / 1e9
        progress(s"$name setup $i")
        if (i == 1) {
          serveDir = dir
          if (seconds > 0) warmup(dir)
        }
      }
      val storeBytes = (dirBytes(storeRoot) - storeBytesBefore) / nSetups

      // timed passes: the first half of the time untraced, the rest traced
      final case class OpRun(op: String, seconds: Double, constructSeconds: Double,
                             ok: Boolean, broadcastBytes: Long)
      final case class Pass(traced: Boolean, seconds: Double, ops: Seq[OpRun])
      val passes = ArrayBuffer.empty[Pass]
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      while (passes.isEmpty || elapsed < seconds || (traced && !passes.exists(_.traced))) {
        val tracedPass = traced && elapsed >= seconds / 2
        val order = rnd.shuffle(wl.ops)
        val idx = passes.size
        val passName = s"$name/pass:$idx"
        System.gc()
        val p0 = System.nanoTime()
        val ops = grouped(passName) {
          order.map { op =>
            def run(): OpRun = {
              val t0 = System.nanoTime()
              try {
                val df = SparkEntry.queries(op)(spark, serveDir)
                val t1 = System.nanoTime()
                val rows = df.collect()
                val t2 = System.nanoTime()
                if (seconds == 0) record(op, rows)
                OpRun(op, (t2 - t0) / 1e9, (t1 - t0) / 1e9, digests.get(op).contains(digest(rows)),
                  if (tracedPass) broadcastBytes(df.queryExecution.executedPlan) else 0L)
              } catch {
                case e: Throwable =>
                  System.err.println(s"[perfbench] $op failed: ${e.getClass.getName}: ${e.getMessage}")
                  OpRun(op, (System.nanoTime() - t0) / 1e9, 0.0, ok = false, 0L)
              }
            }
            if (tracedPass) grouped(s"$passName/op:$op")(span(op, passName)(run())) else run()
          }
        }
        val passSeconds = (System.nanoTime() - p0) / 1e9
        if (tracedPass) spans += Span(passName, name, p0, p0 + (passSeconds * 1e9).toLong)
        if (tracedPass && name == "serve_corpus") functionProbes.foreach { case (fn, table, e) =>
          grouped(s"$passName/fn:$fn")(span(fn, s"$passName/functions") {
            spark.read.parquet(s"$serveDir/$table.parquet")
              .selectExpr(s"CAST(hash($e) AS BIGINT) AS h").agg(Map("h" -> "sum")).collect()
          })
        }
        passes += Pass(tracedPass, passSeconds, ops)
        progress(s"$passName")
      }

      () => {
        val groups = counters.snapshot
        // a group's counters include those of the groups nested under it
        def gjson(group: String): String = {
          val t = new GroupCounters
          groups.filter { case (g, _) => g == group || g.startsWith(group + "/") }.values.foreach(t.add)
          t.toJson
        }
        val passJson = passes.zipWithIndex.map { case (p, i) =>
          val ops = p.ops.map(o =>
            s"""{"op":${q(o.op)},"s":${o.seconds},"construct_s":${o.constructSeconds},""" +
              s""""ok":${o.ok},"broadcast_bytes":${o.broadcastBytes}}""")
          s"""{"traced":${p.traced},"s":${p.seconds},"counters":${gjson(s"$name/pass:$i")},""" +
            s""""ops":${ops.mkString("[", ",", "]")}}"""
        }
        s"""${q(name)}:{"setup_s":${setups.mkString("[", ",", "]")},""" +
          s""""stores":${storeSeconds.map { case (k, v) => s"[${q(k)},$v]" }.mkString("[", ",", "]")},""" +
          s""""store_bytes":$storeBytes,""" +
          s""""warmup_failures":${warmupFailures.map(q).mkString("[", ",", "]")},""" +
          s""""passes":${passJson.mkString("[", ",", "]")}}"""
      }
    }
  }

  /** Seconds since JVM start, logged at each phase boundary. */
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.1f s $what")

  /** Sum of BroadcastExchange `dataSize` over an executed plan and its
    * subqueries, looking through adaptive stages. */
  private def broadcastBytes(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case r: ReusedExchangeExec => Nil
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).collect { case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum
  }

  /** Order-insensitive digest of a result. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def copyDir(from: String, to: String): String = {
    val src = Paths.get(from)
    val it = Files.walk(src)
    try it.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally it.close()
    to
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val it = Files.walk(p)
      try it.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally it.close()
    }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
