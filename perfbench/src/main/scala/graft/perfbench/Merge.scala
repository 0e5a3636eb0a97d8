package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.merge.{MergeConfig, MergeMain, MergeOps, Orchestrator}
import graft.sources.AtomicSnapshot
import java.nio.file.{Files, Paths}

/** `merge`: `MergeMain.run`, the CLI users run, over two parquet
  * instances `run.py` carves from the base tables by a seeded split
  * (`instances.py`) into the run's work directory. Each pass runs
  * `--dry-run`, then a publish into a fresh output directory, and
  * checks the published output. */
object Merge extends Workload {
  val Tables: Seq[String] = Seq("customer", "orders", "lineitem")
  private val IdCol = Map("customer" -> "c_custkey", "orders" -> "o_orderkey", "lineitem" -> "l_lineid")

  def src(work: String) = s"$work/instances/src"
  def dest(work: String) = s"$work/instances/dest"

  def config(work: String, out: String): String =
    s"""{"source": {"path": "${src(work)}", "location": "instanceB"},
       | "destination": {"path": "${dest(work)}"},
       | "output": "$out", "generateNewUuids": false,
       | "tables": [
       |  {"name": "customer", "idCol": "c_custkey", "mode": "consolidate",
       |   "naturalKey": ["c_name"], "selfFks": ["referred_by"], "uuidCol": "c_uuid"},
       |  {"name": "orders", "idCol": "o_orderkey", "mode": "move",
       |   "naturalKey": ["o_orderkey"], "fks": {"o_custkey": "customer"}},
       |  {"name": "lineitem", "idCol": "l_lineid", "mode": "move",
       |   "naturalKey": ["l_orderkey", "l_linenumber"], "fks": {"l_orderkey": "orders"}}]}
       |""".stripMargin

  private def writeConfig(work: String, name: String, out: String): String = {
    val p = Paths.get(work, s"$name.json")
    Files.writeString(p, config(work, out))
    p.toString
  }

  def warmup(spark: SparkSession, data: String, work: String): Unit = {
    Workloads.warmScan(spark, src(work), Tables)
    Workloads.warmScan(spark, dest(work), Tables)
  }

  /** Row count and max id of each dest table. */
  private def destStats(spark: SparkSession, work: String): Map[String, (Long, Long)] =
    Tables.map { t =>
      val r = spark.read.parquet(s"${dest(work)}/$t.parquet").agg(count(lit(1)), max(col(IdCol(t)))).head()
      t -> (r.getLong(0), r.getLong(1))
    }.toMap

  /** Output checks of one publish; the first that fails, if any. */
  def check(spark: SparkSession, out: String, dryLines: Seq[String], lines: Seq[String],
            destOf: Map[String, (Long, Long)]): Option[String] = {
    def read(t: String) = spark.read.parquet(s"$out/$t.parquet")
    val inserted = lines.map(_.split("\t")).map(f => f(0) -> f(4).toLong).toMap
    def sameReport() = Option.when(dryLines.sorted != lines.sorted)(
      s"dry-run report ${dryLines.mkString("|")} != actual ${lines.mkString("|")}")
    // one aggregate per table: all rows, and the src rows (the new
    // ones) with their ids
    def adds(t: String) = {
      val (n, (destRows, destMax)) = (inserted(t), destOf(t))
      val id = when(col("instance") === "src", col(IdCol(t)))
      val r = read(t).agg(count(lit(1)), count(id), countDistinct(id),
        coalesce(min(id), lit(destMax + 1)), coalesce(max(id), lit(destMax))).head()
      Option.when(r.toSeq != Seq(destRows + n, n, n, destMax + 1, destMax + n))(
        s"$t: (rows, new rows, distinct new ids, min, max) = (${r.mkString(", ")}), expected " +
          s"$destRows dest rows + $n new with ids ${destMax + 1} to ${destMax + n}")
    }
    def noOrphans() = {
      val orphans = MergeOps.orphanCheck(Seq(
        ("orders.o_custkey", read("orders"), "o_custkey", read("customer"), "c_custkey"),
        ("lineitem.l_orderkey", read("lineitem"), "l_orderkey", read("orders"), "o_orderkey"),
        ("customer.referred_by", read("customer"), "referred_by", read("customer"), "c_custkey")))
        .filter(col("orphan_count") > 0).collect()
      Option.when(orphans.nonEmpty)(s"orphans in the output: ${orphans.mkString(",")}")
    }
    val checks: Seq[() => Option[String]] = Seq(() => sameReport()) ++
      Tables.map(t => () => adds(t)) :+ (() => noOrphans())
    checks.iterator.flatMap(_()).nextOption()
  }

  /** The second pass is run and checked but not measured: the JIT is
    * still settling in it, and over ten runs its wall time spread two
    * to three times as wide as the third pass's. */
  val firstMeasured = 2
  val measuredPasses = 1
  /** Each pass: `--dry-run`, then a publish into a fresh directory,
    * then the output checks (untimed). */
  def run(c: Ctx): Seq[Double] = {
    val destOf = destStats(c.spark, c.work)
    val dryCfg = writeConfig(c.work, "dry", s"${c.work}/out-dry")
    val checks = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val passes = Workloads.passes(c, t0, firstMeasured + measuredPasses) { p =>
      val out = s"${c.work}/out-$p"
      val cfg = writeConfig(c.work, s"pass-$p", out)
      var dry = Seq.empty[String]
      var actual = Seq.empty[String]
      c.ops.run("dryrun", "merge --dry-run", "merge") {
        dry = MergeMain.run(Array(dryCfg, "--dry-run"), c.spark); true
      }
      c.ops.run("publish", "merge", "merge") {
        actual = MergeMain.run(Array(cfg), c.spark); true
      }
      val k0 = System.nanoTime()
      val problem =
        try check(c.spark, out, dry, actual, destOf)
        catch { case e: Exception => Some(e.toString) }
      problem.foreach(c.ops.failLast)
      Workloads.deleteTree(Paths.get(out))
      checks += (System.nanoTime() - k0) / 1e9
    }
    passes.zip(checks).map { case (p, k) => p - k }
  }
  def opKind = "publish"

  /** The merge layer's public primitives, timed one by one on the same
    * instances (traced runs only). */
  override def extras(c: Ctx): Map[String, Double] = {
    val cfg = MergeConfig.fromJson(config(c.work, s"${c.work}/out-prims"))
    def reader(dir: String)(t: String): DataFrame = c.spark.read.parquet(s"$dir/$t.parquet")
    val s = reader(src(c.work)) _
    val d = reader(dest(c.work)) _
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      body
      name -> (System.nanoTime() - t0) / 1e9
    }
    val specs = cfg.tables
    val relations = specs.flatMap(t => (t.fks.toSeq ++ t.selfFks.map(_ -> t.name)).map {
      case (fk, parent) => (s"${t.name}.$fk", s(t.name), fk, s(parent), IdCol(parent))
    })
    val integrity = timed("merge.integrity_s") { MergeOps.orphanCheck(relations).collect(); () }
    var salted = specs
    val salt = timed("merge.salt_audit_s") { salted = Orchestrator.autoSaltFks(specs, s) }
    var merged = Map.empty[String, Orchestrator.MergedTable]
    val idmap = timed("merge.idmap_s") {
      merged = Orchestrator.run(salted, s, d, cfg.source.location)
      Tables.foreach(t => Fingerprint.of(merged(t).idMap))
    }
    val uuid = timed("merge.uuid_s") {
      Fingerprint.of(Orchestrator.uuidRemapReport(s("customer"), d("customer"), "c_custkey", "c_uuid", false))
    }
    val publish = timed("sources.publish_s") {
      Tables.foreach(t => AtomicSnapshot.publish(merged(t).merged, s"${c.work}/out-prims/$t.parquet"))
    }
    Map(integrity, salt, idmap, uuid, publish)
  }

}
