package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val dir = Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Session.start(2, dir)

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("the fingerprint keeps a Window that count() prunes") {
    val df = spark.range(200).withColumn("running", sum(col("id")).over(Window.orderBy("id")))
    def windows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case w: WindowNode => w }.size
    val counted = df.groupBy().count()
    assert(windows(counted.queryExecution.optimizedPlan) == 0)
    assert(windows(Fingerprint.frame(df).queryExecution.optimizedPlan) == 1)
    val changed = df.withColumn("running", col("running") + 1)
    assert(Fingerprint.of(df) != Fingerprint.of(changed))
    assert(Fingerprint.of(df) == Fingerprint.of(df.orderBy(desc("id"))))
    assert(Fingerprint.of(df).rows == 200)
  }

  test("a throwing operation counts as failed and is never timed as fast") {
    val ops = new Ops(None)
    ops.run("query", "slow", "queries") { Thread.sleep(20); true }
    ops.run("query", "throws", "queries") { throw new IllegalStateException("boom") }
    ops.run("query", "wrong", "queries") { false }
    ops.run("publish", "checked later", "merge") { true }
    ops.failLast("published rows do not add up")
    assert(ops.attempted == 4)
    assert(ops.failed == 3)
    assert(ops.samples("query").size == 1)
    assert(ops.samples("query").head >= 0.02)
    assert(ops.samples("publish").isEmpty)
  }

  test("the percentile rule leaves at least 10 samples beyond") {
    (1 to 400).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      Stats.tailPercentile(n) match {
        case Some(p) => assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
        case None    => assert(n < 40, s"n=$n has a p75 with 10 beyond")
      }
    }
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Nil).isNaN)
  }

  test("call sites map to the module of their first graft frame") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.perfbench.Fingerprint$.of(Fingerprint.scala:40)",
      "graft.functions.DetHash$.apply(DetHash.scala:9)",
      "graft.sources.AtomicSnapshot$.publish(AtomicSnapshot.scala:50)",
      "graft.merge.MergeConfig$.execute(MergeConfig.scala:500)").mkString("\n")
    assert(Trace.layerOfCallSite(site).contains("sources"))
    assert(Trace.layerOfCallSite("graft.queries.GraphQueries$.g1(GraphQueries.scala:1)").contains("graph"))
    assert(Trace.layerOfCallSite("graft.queries.Tpch$.q1(Tpch.scala:1)").contains("queries"))
    assert(Trace.layerOfCallSite("graft.perfbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Trace.layerOfQuery("mm5_xmodal") == "multimodal")
    assert(Trace.layerOfQuery("c1_curation") == "text")
    assert(Trace.layerOfQuery("e3_event_funnel") == "queries")
  }
}
