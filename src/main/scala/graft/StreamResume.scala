package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-PROCESS streaming restart-resume drill (dev/stream_resume.sh):
  * the recovery claim StreamingSpec's in-JVM stop-restart tests can't
  * make — state-store and file-source offsets surviving a JVM exit.
  *
  * Phases (each `runMain graft.StreamResume <sfDir> <workDir> <phase>`
  * is its OWN JVM):
  *   - `prepare`: probe rows (1/10 of documents, shingled, event-time
  *     ts = epoch + doc_id) written as K parquet files — the file
  *     source's micro-batch boundaries (`maxFilesPerTrigger = 1`);
  *   - `interrupted`: stream the probes through
  *     [[graft.streaming.StreamOps.nearDupSplitProbeStream]] against the
  *     static LSH index, parquet sink + checkpoint, and STOP after half
  *     the files — then the JVM exits;
  *   - `resume`: a NEW JVM, same sink + checkpoint — the file-source
  *     offset log must skip the already-committed batches and the
  *     watermark/dedup state must reload from the state store;
  *   - `check`: resumed sink contents ≡ the batch twin (t77's oracle
  *     discipline: same function on a batch frame — every probe row
  *     contributes its pairs exactly once, so set equality is the
  *     exactly-once proof: a replayed batch would duplicate pairs, a
  *     dropped batch would lose them).
  */
object StreamResume {
  private val epoch = 1700000000L

  private def session(): SparkSession = {
    // SPARK_GRAFT_STATE_STORE=rocksdb: the resume drill must also pass
    // on the disk-backed store — cross-process state reload is exactly
    // where the providers differ (snapshot+changelog vs delta files)
    val spark = Session.build(Session.Role.StreamResume, "graft-stream-resume")
    // log the ACTIVE store (final providerClass conf), not the requested
    // label — an EXTRA_CONF providerClass override must not desync them
    System.err.println(s"[resume] state store: " +
      ExtraConf.activeStateStore(spark))
    spark
  }

  private def shingled(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.{Tables, TextAnalysis}
    Tables.spread(Tables.documents(spark, sfDir))
      .withColumn("_toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        graft.functions.Portable.tokenShingles(col("_toks"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  private def probes(spark: SparkSession, sfDir: String): DataFrame =
    shingled(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("ts", timestamp_micros(
        (lit(epoch) + col("doc_id")) * 1000000L))

  private def ixBands(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.etl.Dedup
    Dedup.bandTable(
      Dedup.minhashSignatures(shingled(spark, sfDir), "doc_id", "sh", 15),
      "doc_id", numBands = 3, rowsPerBand = 5)
  }

  private def startQuery(spark: SparkSession, work: String) = {
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sh",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val sfDir = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/sfdir.txt")).trim
    val stream = spark.readStream.schema(probeSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/input")
    // delay wider than the probe set's event-time spread (doc_id range
    // in seconds): file mtime ties can reorder same-write part files,
    // and a reordered batch must bound state, not drop rows — the check
    // phase pins set-equality against the batch twin, which drops none
    val out = graft.streaming.StreamOps.nearDupSplitProbeStream(
      stream, ixBands(spark, sfDir), shingled(spark, sfDir),
      k = 15, numBands = 3, rowsPerBand = 5, maxBucket = 3, threshold = 0.8,
      watermarkDelay = "3 hours")
    out.writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append").start()
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: graft.StreamResume <sfDir> <workDir> prepare|interrupted|resume|check")
    val Array(sfDir, work, phase) = args
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    phase match {
      case "prepare" =>
        val k = sys.env.getOrElse("SPARK_GRAFT_RESUME_FILES", "8").toInt
        // range-partition by doc_id so event time (epoch + doc_id) is
        // monotone across micro-batches — arrival order matches event
        // order, as a real feed's would; the watermark advances batch
        // over batch instead of marking most of the input late
        probes(spark, sfDir).repartitionByRange(k, col("doc_id"))
          .write.mode("overwrite").parquet(s"$work/input")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$work/sfdir.txt"), sfDir)
        val n = spark.read.parquet(s"$work/input").count()
        println(s"[resume] prepared $n probe rows in $k files")
      case "interrupted" =>
        val half = sys.env.getOrElse("SPARK_GRAFT_RESUME_FILES", "8").toInt / 2
        val q = startQuery(spark, work)
        var batches = 0
        // a failed query stops making progress — surface its exception
        // instead of spinning forever; the deadline catches the silent
        // variant (e.g. a source that never produces a batch)
        val deadline = System.nanoTime() + 5L * 60 * 1000000000L
        while (batches < half) {
          Thread.sleep(200)
          q.exception.foreach(e => throw e)
          if (System.nanoTime() > deadline)
            sys.error(s"[resume] interrupted phase stalled: only $batches" +
              s"/$half non-empty batches after 5 minutes")
          val p = q.recentProgress
          batches = p.count(_.numInputRows > 0)
        }
        // stop WITHOUT processAllAvailable — mid-stream, then JVM exit
        q.stop()
        println(s"[resume] interrupted after $batches non-empty batches " +
          s"(committed offsets stay in $work/ckpt)")
      case "resume" =>
        val q = startQuery(spark, work)
        q.processAllAvailable()
        q.stop()
        println("[resume] drained remaining input from the checkpoint")
      case "check" =>
        // localCheckpoint both sides before exceptAll: nesting the
        // stream-op's dedup plan inside except's rewrite trips an
        // attribute-rebinding internal error (jaccard#N not found);
        // materialized legs compare plain LogicalRDDs
        val got = spark.read.parquet(s"$work/out")
          .select(col("a"), col("b"), col("jaccard"))
          .localCheckpoint(true)
        val expected = graft.streaming.StreamOps.nearDupSplitProbeStream(
          probes(spark, sfDir), ixBands(spark, sfDir), shingled(spark, sfDir),
          k = 15, numBands = 3, rowsPerBand = 5, maxBucket = 3,
          threshold = 0.8)
          .select(col("a"), col("b"), col("jaccard"))
          .localCheckpoint(true)
        val extra = got.exceptAll(expected).count()
        val missing = expected.exceptAll(got).count()
        val n = got.count()
        println(s"[resume] rows=$n extra=$extra missing=$missing")
        if (extra != 0 || missing != 0) {
          println("[resume] RESUME-EQUALITY FAILED")
          spark.stop()
          sys.exit(1)
        }
        println("[resume] RESUME-EQUALITY OK: interrupted+resumed ≡ batch twin")
    }
    spark.stop()
  }
}
