package graft
import org.apache.spark.sql.SparkSession

/** SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v Spark confs — the
  * generic experiment seam (event logs for the failure-injection run,
  * RocksDB state store for the streaming drills, etc.) so one-off runs
  * never need a code edit. Its one caller is [[Session.spec]], which
  * applies these confs last, over every role's table: blank segments
  * from doubled or trailing semicolons are skipped, and a segment
  * without '=' fails loudly instead of misconfiguring the session.
  */
object ExtraConf {
  def apply(env: Map[String, String] = sys.env): Seq[(String, String)] =
    env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap {
      _.split(';').map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          // empty key ('=v') or empty value ('a=') would no-op or
          // misconfigure silently via builder.config("", v) — same loud
          // failure as a missing '=' (the fail-loud parse contract)
          case Array(k, v) if k.trim.nonEmpty && v.trim.nonEmpty =>
            k.trim -> v.trim
          case _ => sys.error(
            s"bad SPARK_GRAFT_EXTRA_CONF entry (expected k=v with " +
              s"non-empty key and value): '$kv'")
        }
      }
    }

  /** SPARK_GRAFT_STATE_STORE=rocksdb: streaming state in the RocksDB
    * provider (native, local-disk-backed, changelog+snapshot files in
    * the checkpoint) instead of the default HDFS-backed provider, which
    * keeps EVERY live state row on-heap per executor. At sf-scale the
    * default is fine; at 100 TB a hot stream's watermark-bounded state
    * exceeds executor memory and RocksDB is the standard production
    * answer. One env seam so both stream roles of [[Session]] run on
    * either store without a code edit; returns the confs that select
    * the store (none for the default HDFS provider).
    */
  def stateStore(env: Map[String, String] = sys.env): Map[String, String] =
    env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs").toLowerCase match {
      case "rocksdb" => Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"),
        // changelog checkpointing: per-batch deltas instead of full
        // snapshot uploads — the production setting for low-latency
        // commits (snapshots still taken in the background for resume)
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true")
      case "hdfs" => Map.empty
      // a typo ('rocksbd') would silently run the default HDFS provider
      // while stamping the bogus name into the published state_store
      // JSON field — mislabeled store-comparison artifacts. Fail loud.
      case other => sys.error(
        s"bad SPARK_GRAFT_STATE_STORE value '$other' " +
          "(expected hdfs or rocksdb)")
    }

  /** Resolve the ACTIVE state-store label from the session's FINAL
    * providerClass conf — [[stateStore]] returns the env-requested
    * store, but a later generic [[apply]] override of providerClass
    * (SPARK_GRAFT_EXTRA_CONF) would change the real store while the
    * requested name still gets published. Call this after the session
    * is built and print THIS in any store-comparison JSON line.
    */
  def activeStateStore(spark: SparkSession): String =
    spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "HDFSBackedStateStoreProvider") match {
      case c if c.endsWith("RocksDBStateStoreProvider") => "rocksdb"
      case c if c.endsWith("HDFSBackedStateStoreProvider") => "hdfs"
      case c => c // a custom provider: publish the class name verbatim
    }
}
