package graft.sources

import java.nio.charset.{Charset, CharacterCodingException, CodingErrorAction, StandardCharsets}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned fan-out sink (reference fan_out_by_storeid.py:36–48;
  * SURVEY.md §2.1 S5/S6): split rows of each source into
  * `out/{key}/{srcName}.csv`, optionally replaying meta prefix rows and a
  * UTF-8 BOM (`utf-8-sig`) at the top of every output file.
  *
  * One job does the whole write. Each row is rendered to its CSV line by
  * Spark's own `to_csv` and tagged with `monotonically_increasing_id()`;
  * the rows are then hash-partitioned by key and sorted by (key, id), so
  * every key lands in exactly one task with its rows in input order. The
  * task walks its rows once, streaming each key into one file: prefix and
  * BOM, header, rows — constant memory, the reference's O(1)-rows
  * contract (SURVEY.md §4). Driver work is one `mkdirs` and one `delete`.
  *
  * Each output file is created exactly once, and never through the
  * checksummed local filesystem: Hadoop's local FS without `libhadoop`
  * forks a `chmod` process for every permissioned create (twice under
  * `LocalFileSystem`: data file and `.crc` sidecar), and at the
  * reference's file sizes those forks, not the rows, would dominate the
  * cost of every extra create per key.
  */
object FanOut {

  /** Fan out `df` by `keyCol` into `outDir/{key}/{srcName}.csv`; returns
    * the number of keys written.
    *
    * Blank/whitespace keys are dropped (fan_out_by_storeid.py:35–37).
    * `prefixRows` (meta rows from [[HeaderScan]]) and `bom` reproduce the
    * reference's per-file prefix replay + utf-8-sig output.
    *
    * A key containing '/' nests directories (`US/East` →
    * `outDir/US/East/src.csv`) — byte-identical to the reference's
    * `os.path.join(out, key)`, and flagged by the same verify pass in
    * both systems (the depth-1 read glob won't see it). Callers wanting
    * path-safe keys sanitize before writing, as they would there.
    *
    * `encoding` selects the OUTPUT charset and `lineSep` the output
    * line terminator (the reference writes output in the input's
    * encoding — one `--encoding` for both, fan_out_by_storeid.py:14/:42
    * — and its `csv.writer` terminates rows with CRLF); the defaults
    * stay UTF-8 + LF (this library's documented normalize stance —
    * COVERAGE.md). Pass `encoding = "big5", lineSep = "\r\n"` for
    * byte-identical reference output (FanOutSpec pins it). `bom` is
    * the utf-8-sig marker and therefore requires UTF-8 output.
    *
    * Retry-safe: each (task attempt, key) streams into its own temp file
    * under `outDir/_staging_{srcName}` and commits it by rename after the
    * key's last row, so a retried or speculative attempt never
    * interleaves bytes with another — the last rename wins whole-file.
    * Orphaned temps go with the staging directory, which the driver
    * deletes once the job has returned.
    */
  def write(
      df: DataFrame,
      keyCol: String,
      outDir: String,
      srcName: String,
      prefixRows: Seq[String] = Nil,
      bom: Boolean = false,
      encoding: String = "UTF-8",
      lineSep: String = "\n"): Long = {
    val spark = df.sparkSession
    require(!bom || Charset.forName(encoding) == StandardCharsets.UTF_8,
      s"bom (utf-8-sig) requires UTF-8 output, got $encoding")
    val cleaned = df
      .withColumn(keyCol, trim(col(keyCol)))
      .filter(col(keyCol).isNotNull && col(keyCol) =!= "")
    val head = (if (bom) "\uFEFF" else "") + prefixRows.map(_ + lineSep).mkString +
      csvHeader(cleaned.schema, spark.conf.get("spark.sql.session.timeZone")) + lineSep
    // the id is taken BEFORE the shuffle, so sorting by it restores the
    // input order of each key's rows; hash partitioning keeps every key
    // in one task (AQE only coalesces such partitions, never splits them)
    val rows = cleaned
      .select(col(keyCol).as("k"), to_csv(struct(col("*"))).as("line"),
        monotonically_increasing_id().as("id"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "id")
      .select("k", "line")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(hconf)
    val staging = new Path(s"$outDir/_staging_$srcName")
    // also creates outDir, so an input without a single keyed row still
    // leaves the (empty) layout root the verifier lists
    fs.mkdirs(staging)
    val bconf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    try {
      rows.rdd.mapPartitions { it =>
        Iterator(writeKeys(bconf.value.value, outDir, srcName, head, encoding, lineSep,
          it.map(r => (r.getString(0), r.getString(1)))))
      }.collect().sum
    } finally {
      fs.delete(staging, true)
      bconf.destroy()
    }
  }

  /** The header line `df.write.option("header", true).csv` writes for
    * `schema` (same generator, same options), without its terminator.
    */
  private def csvHeader(schema: StructType, timeZone: String): String = {
    val options = new CSVOptions(Map("header" -> "true"), false, timeZone)
    val w = new java.io.CharArrayWriter
    val gen = new UnivocityGenerator(schema, w, options)
    gen.writeHeaders()
    gen.flush()
    w.toString.stripSuffix(options.lineSeparatorInWrite.getOrElse("\n"))
  }

  /** Hadoop `Configuration` isn't `java.io.Serializable`; it IS a Hadoop
    * `Writable`, so ship it to tasks via writeObject/readFields (the same
    * trick Spark uses internally for its own config broadcasts).
    */
  private[sources] class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Task side: stream one partition's (key, line) rows — sorted by key —
    * into one committed file per key; returns the number of keys. Runs
    * on executors — keep driver state out of here.
    */
  private def writeKeys(
      conf: org.apache.hadoop.conf.Configuration,
      outDir: String,
      srcName: String,
      head: String,
      encoding: String,
      lineSep: String,
      rows: Iterator[(String, String)]): Long = {
    // the raw FS under LocalFileSystem: no .crc sidecar, and no forked
    // chmod per create
    val fs = new Path(outDir).getFileSystem(conf) match {
      case local: LocalFileSystem => local.getRawFileSystem
      case other => other
    }
    // Strict transcode: the reference Python opens the sink with the
    // target codec and raises UnicodeEncodeError on any unmappable
    // character (fan_out_by_storeid.py's `open(..., encoding=enc)`
    // default errors='strict'). Java's String.getBytes(Charset) instead
    // REPLACEs with '?' — silent corruption. REPORT restores the loud
    // failure contract; the message carries the key so a 1000-task run
    // points at the offending partition, not a stack of anonymous bytes.
    val strictEnc = Charset.forName(encoding).newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    def encodeStrict(key: String, s: String): Array[Byte] =
      try {
        val bb = strictEnc.encode(java.nio.CharBuffer.wrap(s))
        val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
      } catch {
        case e: CharacterCodingException =>
          throw new java.io.IOException(
            s"fan-out: row for key '$key' contains characters not " +
              s"representable in $encoding (strict output-encoding, " +
              s"matching the reference's UnicodeEncodeError contract): " +
              s"${s.take(120)}", e)
      }
    val attempt = TaskContext.get().taskAttemptId()
    val buffered = rows.buffered
    var keys = 0L
    while (buffered.hasNext) {
      val key = buffered.head._1
      keys += 1
      val tmp = new Path(s"$outDir/_staging_$srcName/$attempt-$keys.tmp")
      val out = fs.create(tmp, true)
      try {
        out.write(encodeStrict(key, head))
        while (buffered.hasNext && buffered.head._1 == key)
          out.write(encodeStrict(key, buffered.next()._2 + lineSep))
      } finally out.close()
      commit(fs, tmp, new Path(s"$outDir/$key/$srcName.csv"))
    }
    keys
  }

  /** Move a finished temp onto its destination. Rename FIRST; only
    * delete a pre-existing dest when the rename refuses to clobber. A
    * committed destination is therefore never removed before its
    * replacement exists, so two live speculative/retried attempts can't
    * strand the key fileless.
    */
  private def commit(fs: FileSystem, tmp: Path, dest: Path): Unit = {
    fs.mkdirs(dest.getParent)
    if (!fs.rename(tmp, dest)) {
      if (fs.exists(dest)) fs.delete(dest, false)
      if (!fs.rename(tmp, dest)) {
        // lost the delete→rename window to a concurrent attempt that
        // committed identical content — fine as long as dest exists;
        // anything else is a real failure
        fs.delete(tmp, false)
        if (!fs.exists(dest))
          throw new java.io.IOException(s"fan-out: rename $tmp -> $dest failed")
      }
    }
    // a layout first written through the checksummed FS keeps a sidecar
    // that no longer matches: drop it, so the layout is exactly the
    // reference's plain files and later Hadoop reads don't fail on it
    val crc = new Path(dest.getParent, s".${dest.getName}.crc")
    if (fs.exists(crc)) fs.delete(crc, false)
  }

  /** Read a fan-out layout back: `outDir/{key}/{srcName}.csv` for every
    * key directory, with the key recovered from the directory name (the
    * content invariant verify_fanout.py checks). All-string schema.
    *
    * Mirrors the verifier's per-file header re-scan (verify_fanout.py:
    * 69–79) without a per-file driver loop: ONE file's head is scanned for
    * the prefix/header structure (every file written by [[write]] shares
    * it), then the whole glob is read as text distributed and the
    * prefix/header lines are dropped by content. Meta lines don't contain
    * the key column and the header line's key cell is the column name
    * itself, so neither can collide with a data row (whose key cell is a
    * non-blank key value).
    *
    * Limitation (inherent to any line-oriented CSV read): quoted cells
    * with embedded newlines aren't reassembled. The reference's BI
    * exports don't produce them; switch to Spark's `multiLine` CSV
    * reader per file if a source ever does.
    */
  def read(spark: SparkSession, outDir: String, srcName: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = fs.listStatus(new Path(outDir)).filter(_.isDirectory)
      .map(d => new Path(d.getPath, s"$srcName.csv")).find(fs.exists)
      .getOrElse(throw new IllegalArgumentException(
        s"no $srcName.csv under $outDir/*/"))
    val info = HeaderScan.scanHeader(spark, first.toString, keyCol)
      .getOrElse(throw new IllegalArgumentException(
        s"key column '$keyCol' not found in $first"))
    val schema = StructType(info.columns.map(c => StructField(c, StringType)))
    val prefixSet = info.prefixRows.toSet
    // srcName is user input: escape glob metacharacters so "data[1]"
    // reads back literally. The key regex extracts the PARENT DIRECTORY
    // generically instead of anchoring on srcName — the glob already
    // restricts the file set, and input_file_name() URI-encodes
    // characters like '[' so a literal srcName anchor would not match.
    val srcGlob = srcName.replaceAll("([\\[\\]{}*?\\\\])", "\\\\$1")
    spark.read.text(s"$outDir/*/$srcGlob.csv")
      .select(col("value").as("_line"),
        regexp_extract(input_file_name(), ".*/([^/]+)/[^/]+$", 1).as("_dir_key"))
      .withColumn("_line", regexp_replace(col("_line"), "^﻿", ""))
      // Prefix/meta lines are dropped by CONTENT equality: a line-split
      // text scan has no per-file line offsets, so position-based
      // skipping (the reference's pandas skiprows) isn't expressible
      // shuffle-free. Known limitation: a DATA row whose full CSV text
      // byte-equals a replayed meta line is dropped with it — reachable
      // only when a key cell equals the meta line's first cell AND every
      // other cell matches; the reference's dated report headers don't
      // collide with data rows in practice. A caller needing exactness
      // under adversarial keys should read per-file with positional skip.
      .filter(!col("_line").isin(prefixSet.toSeq: _*))
      .select(from_csv(col("_line"), schema, Map.empty[String, String]).as("r"),
        // input_file_name is URI-percent-encoded; url_decode additionally
        // treats '+' as space (form encoding), so protect literal '+'
        // (never raw in a URI) by pre-escaping it
        url_decode(regexp_replace(col("_dir_key"), "\\+", "%2B")).as("_dir_key"))
      .select(col("r.*") +: Seq(col("_dir_key")): _*)
      // null-SAFE header drop: a ragged data row null-fills the key cell,
      // and `null =!= header` is null (row silently dropped) — but that
      // row is exactly a content violation the verifier must see
      .filter(coalesce(col(keyCol), lit("")) =!= keyCol)
  }
}
