package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** The whole-operator Catalyst extension ([[graft.plans.TopKPerGroup]]):
  * the row_number window + rank filter pattern must be rewritten to the
  * native heap operator — same rows, same rank attribute, no WindowExec,
  * partial stage before the one exchange — and must refuse the shapes it
  * can't prove (non-literal k, rank published without a bound).
  */
class TopKPlanSpec extends SparkSpec {

  /** Materialized physical plan as text (the extension must work WITH
    * AQE on, whose QueryStage wrappers are leaf nodes — collect first,
    * then render the final adaptive plan; string matching sees through
    * every wrapper).
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    // keep only the adaptive Final Plan section (the string otherwise
    // repeats every node under "== Initial Plan ==")
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def topkNodes(plan: String): Int =
    "TopKPerGroup \\[".r.findAllIn(plan).length

  /** 1000 rows, 7 groups, total order via unique v. */
  private def fixture(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 1000).map { i =>
      (i % 7, (i * 2654435761L) % 100003, s"payload_$i")
    }.toDF("g", "v", "payload")
  }

  private def topk(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("payload"))
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  test("rewritten plan: no WindowExec, partial+final heap, rank preserved") {
    withExtSession { s =>
      val q = topk(fixture(s), 5)
      val plan = finalPlan(q)
      assert(topkNodes(plan) == 2, s"expected partial+final TopKPerGroupExec:\n$plan")
      // exactly one final stage (the one that publishes the rank attr)
      assert("rnk#\\d+: int".r.findAllIn(plan).length == 1, plan)
      assert(!plan.contains("Window"), s"WindowExec must be gone:\n$plan")
      // equivalence against the un-rewritten window on the shared session
      val got = q.collect().map(r => (r.getInt(0), r.getLong(1),
        r.getString(2), r.getInt(3))).sortBy(identity).toSeq
      val exp = topk(fixture(spark), 5).collect().map(r => (r.getInt(0),
        r.getLong(1), r.getString(2), r.getInt(3))).sortBy(identity).toSeq
      assert(got == exp)
      assert(got.size == 35 && got.count(_._4 == 1) == 7)
    }
  }

  test("k beyond group size, k = 1, and global (no partition) top-k") {
    withExtSession { s =>
      assert(topk(fixture(s), 400).count() == 1000) // groups are ~143 rows
      assert(topk(fixture(s), 1).count() == 7)
      val w = Window.orderBy(col("v").desc, col("payload"))
      val g = fixture(s).withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
      assert(topkNodes(finalPlan(g)) == 2)
      val exp = fixture(spark).orderBy(col("v").desc, col("payload"))
        .limit(3).collect().map(_.getLong(1)).toSeq
      assert(g.orderBy(col("rnk")).collect().map(_.getLong(1)).toSeq == exp)
    }
  }

  test("residual conjuncts survive; unsupported shapes stay windows") {
    withExtSession { s =>
      val q = topk(fixture(s), 5).filter(col("g") =!= 3)
      // rank bound + residual: still rewritten, residual applied
      assert(topkNodes(finalPlan(q)) == 2)
      assert(q.collect().forall(_.getInt(0) != 3) && q.count() == 30)
      // rank published with NO upper bound → no rewrite
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("payload"))
      val unbounded = fixture(s).withColumn("rnk", row_number().over(w))
        .filter(col("rnk") > 2)
      assert(topkNodes(finalPlan(unbounded)) == 0)
      assert(unbounded.count() == 1000 - 14)
      // rank() (not row_number) → no rewrite
      val rk = fixture(s).withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 5)
      assert(topkNodes(finalPlan(rk)) == 0)
      // floating-point partition key → no rewrite (byte-equality groups
      // would split 0.0 / -0.0 where WindowExec normalizes them); the
      // window path must also produce ONE group for the two zeros
      import s.implicits._
      val fl = Seq((0.0, 1L), (-0.0, 2L), (-0.0, 3L), (1.5, 4L))
        .toDF("gd", "v")
      val wf = Window.partitionBy(col("gd")).orderBy(col("v"))
      val flq = fl.withColumn("rnk", row_number().over(wf))
        .filter(col("rnk") <= 2)
      assert(topkNodes(finalPlan(flq)) == 0,
        "float partition key must refuse the rewrite")
      assert(flq.count() == 3) // {0.0,-0.0,-0.0} one group → 2 rows + 1.5's 1
    }
  }

  test("byte-budget overflow degrades to the spilling sort path, same rows") {
    withExtSession { s =>
      import s.implicits._
      // group cardinality ≫ the (deliberately tiny) task budget: 997
      // groups across 4 partitions, unique v per row → total order
      def wide(sess: SparkSession): DataFrame = {
        import sess.implicits._
        (0 until 5000).map { i =>
          (i % 997, (i * 2654435761L) % 100003, s"p$i")
        }.toDF("g", "v", "payload")
      }
      def run(df: DataFrame): Seq[(Int, Long, String, Int)] = {
        val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("payload"))
        df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
            r.getInt(3))).sortBy(identity).toSeq
      }
      val saved = graft.plans.TopKPerGroup.fallbackBytes
      val viaFallback =
        try {
          graft.plans.TopKPerGroup.fallbackBytes = 1L // overflow on row 1
          // the rewrite still fires (fallback is a runtime degrade, not
          // a plan change)
          val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("payload"))
          val q = wide(s).withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 3)
          assert(topkNodes(finalPlan(q)) == 2)
          run(wide(s))
        } finally graft.plans.TopKPerGroup.fallbackBytes = saved
      val viaHeap = run(wide(s))
      val viaWindow = run(wide(spark)) // extension-free session: WindowExec
      assert(viaFallback == viaHeap, "fallback path diverged from heap path")
      assert(viaFallback == viaWindow, "fallback path diverged from WindowExec")
      assert(viaFallback.size == 997 * 3 &&
        viaFallback.count(_._4 == 1) == 997)
    }
  }

  test("TopK helper goes native under the extension and matches itself") {
    withExtSession { s =>
      val ext = graft.etl.TopK.topK(fixture(s), Seq(col("g")),
        col("v"), col("payload"), 4)
      assert(topkNodes(finalPlan(ext)) == 2)
      val got = ext.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(3)))
        .sortBy(identity).toSeq
      val exp = graft.etl.TopK.topK(fixture(spark), Seq(col("g")),
        col("v"), col("payload"), 4).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(3))).sortBy(identity).toSeq
      assert(got == exp && got.size == 28)
    }
  }
}
