package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** The benchmark JVM. `run.py` builds the classpath and starts it once
  * per run:
  *
  *   Main --workload <merge|corpus|tables> --seed <n> --seconds <s>
  *        --trace <0|1> --data <dir> --work <dir> --cpus <n>
  *        --expected <dir> --records <dir> --commit <id>
  *
  * The last stdout line is the result: `correct`, `attempted`,
  * `failed` and the end-to-end metrics (untraced) or the per-layer
  * metrics (traced). A JSON run record with every sample goes to the
  * records directory. Two more modes serve the benchmark itself:
  * `--generate <dir>` writes the base tables and `--record <file>`
  * writes the fingerprint of every registry query over them.
  */
object Main {
  private val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        if (a.contains("generate")) generate(a("generate"), a("cpus").toInt)
        else if (a.contains("record")) record(a)
        else bench(a)
      } catch { case e: Throwable =>
        e.printStackTrace()
        1
      }
    System.out.flush()
    // graft and Spark may leave non-daemon pools behind
    sys.exit(code)
  }

  private def generate(dir: String, cpus: Int): Int = {
    val tmp = s"$dir.tmp"
    val spark = Session.start(cpus, tmp)
    try DataGen.write(spark, DataGen.BenchScale, tmp) finally spark.stop()
    Workloads.deleteTree(Paths.get(tmp, "spark-local"))
    Workloads.deleteTree(Paths.get(tmp, "warehouse"))
    Files.move(Paths.get(tmp), Paths.get(dir))
    0
  }

  /** Fingerprints of every non-merge registry query, one per line. */
  private def record(a: Map[String, String]): Int = {
    val spark = Session.start(a("cpus").toInt, a("work"))
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => Trace.layerOfQuery(n) == "merge" }
      .map { case (n, q) => s"$n\t${Fingerprint.of(q(spark, a("data")))}" }
    Files.writeString(Paths.get(a("record")), lines.mkString("", "\n", "\n"))
    spark.stop()
    0
  }

  private def bench(a: Map[String, String]): Int = {
    val workload = Workloads.all(a("workload"))
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, several times: session start and the warm-up scan. The
    // first counts from JVM start; each later one restarts the session.
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = if (i == 1) jvmStart else {
        spark.stop()
        System.currentTimeMillis()
      }
      spark = Session.start(cpus, work)
      val t1 = System.currentTimeMillis()
      workload.warmup(spark, a("data"), work)
      val t2 = System.currentTimeMillis()
      System.err.println(f"[perfbench] set-up $i: session ${(t1 - t0) / 1e3}%.2f s, " +
        f"warm-up ${(t2 - t1) / 1e3}%.2f s")
      (t2 - t0) / 1e3
    }

    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val ops = new Ops(trace)
    val ctx = Ctx(spark, a("data"), work, seed, a("seconds").toDouble, ops,
      Expected.load(a("expected")))
    val t0 = System.nanoTime()
    val passes = workload.run(ctx)
    val timedSecs = (System.nanoTime() - t0) / 1e9
    val storage = spark.sparkContext.getRDDStorageInfo
    val cachedMb = storage.map(r => r.memSize + r.diskSize).sum / 1048576.0

    // the first pass is cold; the warm figures come from the measured
    // passes. The cold pass is one sample of a fresh JVM's JIT
    // warm-up, too noisy to bound, so it stays in the record and the
    // traced metrics.
    val firstMeasured = workload.firstMeasured
    val opSamples = ops.samples(workload.opKind, fromPass = firstMeasured)
    val endToEnd = Seq(
      "setup_s" -> Stats.median(setups),
      "pass_s" -> Stats.median(passes.drop(firstMeasured)))
    val buildTimes = ops.all.filter(_.kind == "build").map(o => s"build.${o.name}_s" -> o.seconds)
    val dryRuns = ops.samples("dryrun", fromPass = firstMeasured)
    val perLayer: Seq[(String, Double)] =
      if (!traced) Nil
      else {
        // the trace covers the timed phase only; the extras are timed apart
        val layers = trace.get.finish()
        val extras = workload.extras(ctx)
        val measured = layers ++ extras ++ buildTimes ++ Seq(
          "build.total_s" -> buildTimes.map(_._2).sum,
          "merge.dryrun_s" -> (if (dryRuns.isEmpty) 0.0 else Stats.median(dryRuns)),
          "operators.memo_frames" -> storage.length.toDouble,
          "operators.memo_mb" -> cachedMb,
          "trace.coverage" -> Trace.Layers.map(l => layers(s"$l.busy_s")).sum / ops.all.map(_.seconds).sum) ++
          (endToEnd :+ ("cold_s" -> passes.head)).map { case (k, v) => s"traced.$k" -> v }
        PerLayerNames.map(n => n -> measured.toMap.getOrElse(n, 0.0))
      }

    val attempted = ops.attempted
    val failed = ops.failed
    val tail = Stats.tailPercentile(opSamples.size)
    val record = Seq(
      "workload" -> q(a("workload")), "seed" -> seed.toString, "seconds" -> a("seconds"),
      "trace" -> a("trace"), "cpus" -> cpus.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> q(System.getProperty("java.version")), "spark" -> q(spark.version),
      "commit" -> q(a.getOrElse("commit", "unknown")),
      "setup_s" -> arr(setups), "cold_s" -> num(passes.head), "passes_s" -> arr(passes),
      "timed_s" -> num(timedSecs),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failed_ratio" -> num(failed.toDouble / math.max(attempted, 1)),
      "cached_mb" -> num(cachedMb),
      "op_kind" -> q(workload.opKind), "op_samples" -> opSamples.size.toString,
      "op_p50_s" -> num(Stats.median(opSamples)),
      "op_tail" -> tail.fold("null")(p => s"""{"percentile":$p,"value_s":${num(Stats.percentile(opSamples, p))}}"""),
      "ops_per_s" -> num(opSamples.size / math.max(opSamples.sum, 1e-9)),
      "warm_median_s" -> obj(ops.all.map(_.kind).distinct.map(k => k -> num(Stats.median(ops.samples(k, firstMeasured))))),
      "index_build_s" -> num(buildTimes.map(_._2).sum),
      "metrics" -> obj((endToEnd ++ perLayer).map { case (k, v) => k -> num(v) }),
      "ops" -> ops.all.map(o => obj(Seq("kind" -> q(o.kind), "name" -> q(o.name),
        "layer" -> q(o.layer), "pass" -> o.pass.toString, "s" -> num(o.seconds), "ok" -> o.ok.toString))).mkString("[", ",", "]"),
      "trace" -> trace.fold("null")(_.toJson))
    a.get("records").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, s"${a("workload")}-seed$seed-trace${a("trace")}.json"),
        obj(record) + "\n")
    }
    System.err.println(f"[perfbench] ${a("workload")} seed $seed: setups ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"${passes.size} passes in $timedSecs%.1f s, $attempted ops, $failed failed, cached $cachedMb%.1f MB")
    val shown = if (traced) perLayer else endToEnd
    val units = (EndToEndUnits ++ perLayer.map { case (k, _) => k -> unitOf(k) }).toMap
    val metrics = obj(shown.map { case (k, v) => k -> obj(Seq("value" -> num(v), "unit" -> q(units(k)))) })
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metrics}""")
    spark.stop()
    0
  }

  private val EndToEndUnits = Map("setup_s" -> "s", "pass_s" -> "s")

  /** Every per-layer metric, in BENCHMARK.json's order. */
  val PerLayerNames: Seq[String] =
    Trace.Layers.flatMap(l => Trace.PerLayer.map(m => s"$l.$m")) ++
      Seq("merge.integrity_s", "merge.salt_audit_s", "merge.idmap_s", "merge.uuid_s", "merge.dryrun_s",
        "sources.publish_s", "sources.read_mb", "sources.write_mb",
        "operators.memo_frames", "operators.memo_mb") ++
      Corpus.steps.map { case (s, _, _) => s"build.${s}_s" } ++ Seq("build.total_s") ++
      Seq("traced.setup_s", "traced.cold_s", "traced.pass_s", "trace.coverage")

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_mb")) "MB"
    else if (name == "trace.coverage") "ratio" else "count"

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def arr(vs: Seq[Double]) = vs.map(num).mkString("[", ",", "]")
  private def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
}
