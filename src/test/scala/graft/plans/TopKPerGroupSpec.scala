package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerGroupSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (1 to 5000).map(i =>
      (s"g${rnd.nextInt(40)}", i.toLong, rnd.nextDouble()))
      .toDF("grp", "id", "score")
      .repartition(7) // groups scattered across input partitions
  }

  test("matches window row_number for k=3 on 40 groups") {
    import spark.implicits._
    val df = fixture
    val expected = df
      .withColumn("rn", row_number().over(
        Window.partitionBy($"grp").orderBy($"score".desc, $"id")))
      .filter($"rn" <= 3).drop("rn")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val got = TopKPerGroup(df, Seq("grp"), Seq(("score", false), ("id", true)), 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
  }

  test("k=1 reproduces the grouped_search top-1 semantics") {
    import spark.implicits._
    val df = fixture
    val viaAgg = df.groupBy($"grp")
      .agg(max_by(struct($"id", $"score"), struct($"score", -$"id")).as("t"))
      .select($"grp", $"t.id".as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val viaOp = TopKPerGroup(df, Seq("grp"), Seq(("score", false), ("id", true)), 1)
      .select($"grp", $"id")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(viaOp.sameElements(viaAgg))
  }

  test("plan shows the custom exec with one clustering exchange, no sort") {
    import spark.implicits._
    val df = TopKPerGroup(fixture, Seq("grp"), Seq(("score", false)), 2)
    df.collect() // materialize so AQE's final plan is visible
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup "), plan.take(600))
    assert(plan.contains("Exchange hashpartitioning"), "group clustering shuffle")
    assert(!plan.contains("Sort "), s"no per-partition sort expected:\n${plan.take(600)}")
  }

  test("hash mode auto-spills past the group budget and stays exact (no flag)") {
    import spark.implicits._
    // 5000 distinct groups vs a budget of 100 forces many spill runs per
    // partition; result must still be exactly the window-function answer
    val df = (1 to 20000).map(i =>
      (s"g${i % 5000}", i.toLong, ((i * 2654435761L) % 1000).toDouble))
      .toDF("grp", "id", "score")
      .repartition(3)
    spark.conf.set(TopKPerGroupStrategy.GroupBudgetKey, "100")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep the exec findable
    try {
      val topk = TopKPerGroup(df, Seq("grp"), Seq(("score", false), ("id", true)), 2)
      val got = topk.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      val expected = df
        .withColumn("rn", row_number().over(
          Window.partitionBy($"grp").orderBy($"score".desc, $"id")))
        .filter($"rn" <= 2).drop("rn")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted
      assert(got.length == expected.length)
      assert(got.sameElements(expected))
      // the spill really happened, and it was accounted in SQL metrics
      val exec = topk.queryExecution.executedPlan.collectFirst {
        case t: TopKPerGroupExec => t
      }.getOrElse(fail("TopKPerGroupExec not found in executed plan"))
      assert(exec.metrics("spillCount").value > 0, "expected spilled runs")
      assert(exec.metrics("spillBytes").value > 0, "expected spill bytes accounted")
    } finally {
      spark.conf.unset(TopKPerGroupStrategy.GroupBudgetKey)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("works via the SQL-extensions-configured session too") {
    // SparkSpec's session is built with spark.sql.extensions=GraftExtensions,
    // so the strategy is already injected; construction must not depend on
    // the experimental-methods fallback.
    import spark.implicits._
    val out = TopKPerGroup(fixture, Seq("grp"), Seq(("id", true)), 1)
    assert(out.count() == 40)
  }
}
