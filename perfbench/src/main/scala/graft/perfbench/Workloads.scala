package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.dedup.Dedup
import graft.multimodal.Media
import graft.similarity.Knn

/** What one run of a workload needs: its session, inputs, seed,
  * scratch directory and the operation recorder. */
final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long,
    seconds: Double, ops: Ops, expected: Expected)

/** A workload: what its set-up adds to session start, and its timed
  * phase of passes over a fixed list of operations. The first pass of
  * a run is cold (fresh JVM); the passes after it are warm, and those
  * from `firstMeasured` on are measured. */
trait Workload {
  /** The warm-up scan that ends every set-up. */
  def warmup(spark: SparkSession, data: String, work: String): Unit
  /** The first measured pass: 1, or more where the JIT is still
    * settling in the passes after the cold one. */
  def firstMeasured: Int
  /** The measured passes a run makes at least. */
  def measuredPasses: Int
  /** The timed phase: whole passes until `seconds` have passed, at
    * least `firstMeasured + measuredPasses`. Returns each pass's wall
    * time. */
  def run(c: Ctx): Seq[Double]
  /** The kind of operation the run record's latency figures cover. */
  def opKind: String
  /** Per-layer figures only the workload itself can time, taken after
    * the timed phase of a traced run. */
  def extras(c: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Map[String, Workload] = Map("merge" -> Merge, "corpus" -> Corpus)

  /** Full scan of `tables` under `dir`: absorbs JVM, codegen and
    * parquet warm-up before the first timed operation. */
  def warmScan(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => Fingerprint.of(spark.read.parquet(s"$dir/$t.parquet")))

  def deleteTree(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
    finally walk.close()
  }

  /** `xs` in an order drawn from `seed`. */
  def shuffled[A](xs: Seq[A], seed: Long): Seq[A] = new scala.util.Random(seed).shuffle(xs)

  /** Runs registry queries as operations, each one action (its
    * fingerprint) checked against the expected file. */
  def runQueries(c: Ctx, names: Seq[String]): Unit = names.foreach { n =>
    val q = SparkEntry.queries(n)
    c.ops.run("query", n, Trace.layerOfQuery(n)) {
      c.expected.check(n, Fingerprint.of(q(c.spark, c.data)))
    }
  }

  /** Runs `pass` (given its index) until `seconds` have passed since
    * `t0`, at least `min` times. Returns each pass's wall time. */
  def passes(c: Ctx, t0: Long, min: Int)(pass: Int => Unit): Seq[Double] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.size < min || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val p0 = System.nanoTime()
      c.ops.pass = times.size
      pass(times.size)
      times += (System.nanoTime() - p0) / 1e9
    }
    times.toSeq
  }
}

/** `corpus`: a cold build of shared corpus indexes, then passes over
  * queries that read them, plain queries of the other corpus modules,
  * and a TPC-H and an events query that touch no corpus index (the
  * `queries` module, the in-run control). Each index a query builds
  * for itself (g9's co-purchase pairs, for one) has no other consumer
  * here, so the seeded query order cannot move work between queries. */
object Corpus extends Workload {
  /** Index builds (steps of the repo bench's artifact phase), in
    * dependency order, with the module of each. */
  val steps: Seq[(String, String, (SparkSession, String) => Unit)] = Seq(
    ("sig_index", "dedup", (s, d) => Dedup.sigIndex(s, d).count()),
    ("d2_pairs", "dedup", (s, d) => Dedup.d2Pairs(s, d).count()),
    ("shingle_sets", "dedup", (s, d) => Dedup.shingleSets(s, d).count()),
    ("s1_exact", "similarity", (s, d) => Knn.s1Brute(s, d).count()),
    ("mm_tower", "multimodal", (s, d) => Media.warmXmodalTower(s, d)))
  val queries: Seq[String] = Seq(
    "d2_minhash_lsh", "d4_ngram_jaccard", "s1_knn_brute", "s20_mips_topk",
    "t1_lang_id", "t11_contamination", "g9_degree_dist", "mm5_xmodal",
    "q3_shipping_priority", "e3_event_funnel")

  def warmup(spark: SparkSession, data: String, work: String): Unit =
    Workloads.warmScan(spark, data, Seq("documents", "embeddings", "lineitem", "orders", "events"))

  /** The first pass is the cold build plus the queries; later passes
    * run the queries only, each pass in its own seeded order. A query
    * pass is short and single queries vary, so measure two. Skipping
    * a settling pass as merge does narrowed their spread little here
    * and cost a pass. */
  val firstMeasured = 1
  val measuredPasses = 2
  def run(c: Ctx): Seq[Double] =
    Workloads.passes(c, System.nanoTime(), firstMeasured + measuredPasses) { p =>
      if (p == 0) steps.foreach { case (step, layer, build) =>
        c.ops.run("build", step, layer) { build(c.spark, c.data); true }
      }
      Workloads.runQueries(c, Workloads.shuffled(queries, c.seed * 1000003L + p))
    }
  def opKind = "query"
}
