package graft

/** Post-execution plan-audit main: EXECUTE the named queries and print
  * the FINAL adaptive physical plan — what AQE actually ran, not the
  * initial static plan [[Explain]] shows.
  *
  * Exists for the cluster-topology guard drill (round 16): the
  * broadcast-twilight-zone guard is a LOGICAL-plan hint
  * (`NO_BROADCAST_HASH`, PlanBridge), and AQE re-plans joins at runtime
  * from observed stage statistics — the one seam where a logical hint
  * could in principle be lost. Running under
  * `SPARK_GRAFT_MASTER=local-cluster[...]` (real executor JVMs, real
  * broadcast transport) with AQE on and printing the final plan turns
  * "the hint is logical, so it should survive" into a read-off-the-
  * artifact fact: the guarded joins must appear as SortMergeJoin /
  * ShuffledHashJoin in the `== Final Plan ==` section.
  *
  * The plan is finalized by executing the read-side plan's RDD and
  * counting rows (driver holds only the count — safe at any scale;
  * a noop write would finalize a separate write-side QueryExecution
  * whose plan object this main couldn't reach).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_MASTER=... \
  *          spark-submit --class graft.ExplainFinal <jar> t76_... t52_...
  */
object ExplainFinal {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.build(Session.Role.ExplainFinal, "graft-explain-final")
    spark.sparkContext.setLogLevel("WARN")
    val wanted = args.toSet
    // `_ppjoin_plan`: the t52 join tree DIRECTLY via the lazy
    // ppJoinPairsPlan seam — the registry's t52 routes through the
    // shared-artifact contract, so its own plan is just a parquet scan
    // of the materialized pair table and the guarded verify joins are
    // invisible to a plan dump of the entry. The registry's EXACT input
    // via the shared builder (r16 verdict #3) — the drilled plan is the
    // shipped plan; the loop calls the seam's release hook.
    val seam = QueryRun.Entry("_ppjoin_plan", s => graft.etl.Dedup.ppJoinPairsPlan(
      graft.queries.TextQueries.ppJoinBase(s, sfDir), "doc_id", "toks", 4, 5))
    val entries = QueryRun.select(wanted, sfDir) ++
      Seq(seam).filter(e => wanted(e.name))
    QueryRun.run(spark, entries)(
      act = { (name, build) =>
        println(s"\n========== $name ==========")
        val qe = build().queryExecution
        val rows = qe.executedPlan.execute().count()
        println(s"rows: $rows")
        println(qe.executedPlan.toString)
      },
      failed = (_, e) => println(s"EXPLAIN-FINAL FAILED: ${e.getMessage}"))
    spark.stop()
  }
}
