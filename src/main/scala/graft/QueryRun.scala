package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one select-run-clean loop behind Bench, Verify, Explain and
  * ExplainFinal: each entry runs inside its own try, is materialised by
  * the caller's action (a noop write, a parquet dump, a formatted
  * explain, an executed-plan count), and its cached and persisted data
  * is released before the next entry runs.
  */
object QueryRun {

  /** A named frame builder. `build` returns the frame plus a hook that
    * frees whatever the build itself persisted; the loop calls it once,
    * after the action, whether or not the action succeeded.
    */
  final case class Entry(name: String,
                         build: SparkSession => (DataFrame, () => Unit))

  /** Registry entries sorted by name; all of them when `wanted` is empty. */
  def select(wanted: Set[String], sfDir: String): Seq[Entry] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .map { case (n, fn) => Entry(n, s => (fn(s, sfDir), () => ())) }

  /** Run `entries` in order: `act` gets the name and a thunk building the
    * frame (so a caller can time the build), `failed` reports a throw,
    * `after(i, name)` runs once the entry's data is released. Returns each
    * entry's action result, None where it failed.
    */
  def run[A](spark: SparkSession, entries: Seq[Entry])(
      act: (String, () => DataFrame) => A,
      failed: (String, Throwable) => Unit,
      after: (Int, String) => Unit = (_, _) => ()): Seq[(String, Option[A])] =
    entries.zipWithIndex.map { case (e, i) =>
      var release: () => Unit = () => ()
      val out =
        try {
          try Some(act(e.name, () => { val (df, r) = e.build(spark); release = r; df }))
          finally release()
        } catch { case t: Throwable => failed(e.name, t); None }
      // free this entry's persisted/checkpointed data so later entries
      // don't run under earlier entries' memory pressure
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      after(i, e.name)
      e.name -> out
    }
}
