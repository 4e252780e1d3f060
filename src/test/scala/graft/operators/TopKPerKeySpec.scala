package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The whole-operator extension surface: custom LogicalPlan + Strategy
  * + two-phase SparkPlan (org.apache.spark.sql.graft.TopKPerKey),
  * reachable through ScaleOps.topKPerKey. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = {
    val rnd = new scala.util.Random(7)
    (0 until 2000).map(i => (i.toLong, s"k${rnd.nextInt(25)}", rnd.nextDouble()))
  }.toDF("id", "key", "score")

  test("matches the window row_number composition on a total order") {
    val got = ScaleOps.topKPerKey(rows, Seq("key"),
      Seq($"score".desc, $"id"), k = 3)
      .select("id").as[Long].collect().toSet
    val expect = rows.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy($"score".desc, $"id")))
      .filter($"rn" <= 3).select("id").as[Long].collect().toSet
    assert(got == expect && got.size == 75) // 25 keys × 3
  }

  test("plans as partial heap -> key Exchange -> final heap, no sort") {
    val df = ScaleOps.topKPerKey(rows, Seq("key"), Seq($"score".desc, $"id"), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val fin = plan.indexOf("TopKPerKeyFinal")
    val ex = plan.indexOf("Exchange", fin)
    val part = plan.indexOf("TopKPerKeyPartial", ex)
    assert(fin >= 0 && ex > fin && part > ex,
      s"expected Final above Exchange above Partial:\n$plan")
    assert(!plan.contains("Sort"), s"top-k must not sort:\n$plan")
    assert(!plan.contains("Window"), s"custom node fell back to Window:\n$plan")
  }

  test("k >= group size degenerates to the whole group; asc default order") {
    val tiny = Seq((1L, "a", 5.0), (2L, "a", 1.0), (3L, "b", 2.0))
      .toDF("id", "key", "score")
    val all = ScaleOps.topKPerKey(tiny, Seq("key"), Seq($"score", $"id"), 10)
    assert(all.count() == 3)
    val best = ScaleOps.topKPerKey(tiny, Seq("key"), Seq($"score", $"id"), 1)
      .select("id").as[Long].collect().toSet
    assert(best == Set(2L, 3L)) // ascending: the LOWEST score per key
  }

  test("bounded-memory partial phase: emit-and-reset flushes stay exact") {
    val expect = rows.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy($"score".desc, $"id")))
      .filter($"rn" <= 3).select("id").as[Long].collect().toSet
    // cap of 3 in-memory keys vs 25 distinct keys: the partial phase
    // must flush repeatedly; every flush is a superset filter, so the
    // final phase still produces the exact top-k
    for (cap <- Seq(1, 3)) {
      val got = org.apache.spark.sql.graft.TopKPerKey(rows,
        Seq(col("key")), Seq($"score".desc, $"id"), k = 3, maxKeysInMemory = cap)
        .select("id").as[Long].collect().toSet
      assert(got == expect, s"cap=$cap")
    }
  }

  test("strategy registers via TopKPerKey.ensureStrategy, idempotently") {
    org.apache.spark.sql.graft.TopKPerKey.ensureStrategy(spark)
    org.apache.spark.sql.graft.TopKPerKey.ensureStrategy(spark)
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(s.experimental.extraStrategies
      .count(_ == org.apache.spark.sql.graft.TopKPerKeyStrategy) == 1)
    // and the operator still plans correctly afterwards
    assert(ScaleOps.topKPerKey(rows, Seq("key"), Seq($"score", $"id"), 2)
      .count() == 50)
  }
}
