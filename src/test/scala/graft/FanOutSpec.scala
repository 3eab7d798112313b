package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.etl.VerifyOps
import graft.sources.{FanOut, HeaderScan}

/** Fan-out sink round-trip + header-scanning ingest + the verify_fanout
  * invariants (reference fan_out_by_storeid.py / verify_fanout.py).
  */
class FanOutSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private val S = "商店序號"

  test("FanOut.write → read round-trip: layout, prefix replay, BOM, blanks dropped") {
    val out = tmpDir("fanout").toString
    val df = Seq(
      ("s1", "a", "1"), ("s2", "b", "2"), ("s1", "c", "3"),
      ("  ", "dropped", "4"), (" s2 ", "d", "5"))
      .toDF(S, "v1", "v2")
    FanOut.write(df, S, out, "srcA",
      prefixRows = Seq("Established At Year,2025,2024"), bom = true)

    // exact {key}/{src}.csv layout
    val s1 = new java.io.File(s"$out/s1/srcA.csv")
    assert(s1.isFile, "expected out/s1/srcA.csv")
    assert(new java.io.File(s"$out/s2/srcA.csv").isFile)
    assert(!new java.io.File(out).listFiles().exists(_.getName.trim.isEmpty))

    // BOM + meta prefix + header + rows
    val raw = Files.readString(s1.toPath)
    assert(raw.startsWith("﻿"), "utf-8-sig BOM")
    val lines = raw.stripPrefix("﻿").split("\n").toSeq
    assert(lines.head == "Established At Year,2025,2024")
    assert(lines(1).split(",").map(_.trim).contains(S))

    // read back: key recovered from directory, content invariant holds
    val back = FanOut.read(spark, out, "srcA", S)
    assert(back.count() == 4) // blank-key row dropped, " s2 " trimmed
    assert(VerifyOps.contentViolations(back, S).count() == 0)
    val sum = VerifyOps.summary(
      back.select(col(S), lit("srcA").as("src")), back, S, Seq("srcA"))
      .collect()(0)
    assert(sum.getLong(0) == 0 && sum.getLong(1) == 0 &&
      sum.getLong(2) == 0 && sum.getLong(3) == 2)
  }

  test("output-encoding big5 + CRLF: byte-identical to the reference's contract") {
    // the reference writes output in the INPUT encoding with csv.writer
    // (CRLF terminator, fan_out_by_storeid.py:42). Reproduce its exact
    // bytes for one store: prefix rows + header + the store's rows, all
    // big5-encoded, CRLF-terminated.
    val out = tmpDir("fanout_b5").toString
    val df = Seq(("s1", "台北", "100"), ("s2", "高雄", "200"),
      ("s1", "門市", "300")).toDF(S, "城市", "額")
    FanOut.write(df, S, out, "srcB5",
      prefixRows = Seq("報表年度,2025,2024"),
      encoding = "big5", lineSep = "\r\n")
    val big5 = java.nio.charset.Charset.forName("big5")
    val got = Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/s1/srcB5.csv"))
    // what the reference's split_csv_file writes for store s1 (same
    // column order, same cells — simple cells need no csv quoting)
    val expected = (s"報表年度,2025,2024\r\n$S,城市,額\r\n" +
      "s1,台北,100\r\ns1,門市,300\r\n").getBytes(big5)
    assert(java.util.Arrays.equals(got, expected),
      s"big5 bytes differ:\n got=${new String(got, big5)}\n " +
        s"want=${new String(expected, big5)}")
    // and the bytes really are big5, not utf-8 (台 is 2 bytes in big5,
    // 3 in utf-8 — a utf-8 write would change the file length)
    assert(new String(got, big5).contains("台北"))
    assert(!new String(got, java.nio.charset.StandardCharsets.UTF_8)
      .contains("台北"))
  }

  test("output-encoding strict: unmappable character fails loud, not as '?'") {
    // the reference's open(..., encoding='big5') raises UnicodeEncodeError
    // on unmappable input (errors='strict' default); Java's
    // String.getBytes(Charset) would silently substitute '?'. Pin the
    // loud-failure contract: an emoji (not in big5) aborts the write with
    // an error naming the key and the charset.
    val out = tmpDir("fanout_strict").toString
    val df = Seq(("s1", "ok", "1"), ("s2", "🚀", "2")).toDF(S, "v", "n")
    val ex = intercept[org.apache.spark.SparkException] {
      FanOut.write(df, S, out, "srcX", encoding = "big5", lineSep = "\r\n")
    }
    val msg = Option(ex.getCause).map(_.toString).getOrElse("") + ex.getMessage
    assert(msg.contains("big5") && msg.contains("s2"),
      s"expected strict-encoding error naming key s2 and big5, got: $msg")
  }

  test("multi-part keys: distributed concat keeps one header and all rows") {
    val out = tmpDir("fanout_mp").toString
    // 8 input partitions × 3 keys: every key's rows arrive from several
    // input partitions and must still land in one file with one header
    val df = spark.range(600)
      .select(concat(lit("k"), pmod(col("id"), lit(3))).as(S),
        col("id").cast("string").as("v"))
      .repartition(8)
    FanOut.write(df, S, out, "srcM", prefixRows = Seq("Meta,1"), bom = true)
    (0 to 2).foreach { k =>
      val raw = Files.readString(new java.io.File(s"$out/k$k/srcM.csv").toPath)
      assert(raw.startsWith("﻿Meta,1\n"))
      val lines = raw.stripPrefix("﻿").split("\n").toSeq
      assert(lines.count(_.startsWith(S)) == 1, "exactly one header after concat")
      assert(lines.length == 2 + 200, s"k$k: meta + header + 200 rows")
    }
    val back = FanOut.read(spark, out, "srcM", S)
    assert(back.count() == 600)
    assert(VerifyOps.contentViolations(back, S).count() == 0)

    // one input partition, no prefix: still a correct layout
    val out2 = tmpDir("fanout_rn").toString
    FanOut.write(df.coalesce(1), S, out2, "srcR")
    val back2 = FanOut.read(spark, out2, "srcR", S)
    assert(back2.count() == 600 &&
      VerifyOps.contentViolations(back2, S).count() == 0)
  }

  test("input order: each key's rows keep their input order across partitions") {
    val out = tmpDir("fanout_order").toString
    // 7 input partitions of 10 rows; values sort differently as strings
    // ("10" < "2"), so only the input order reproduces the expected bytes
    val df = spark.range(0, 70, 1, 7)
      .select(concat(lit("k"), pmod(col("id"), lit(3))).as(S),
        col("id").cast("string").as("v"))
    FanOut.write(df, S, out, "srcO", prefixRows = Seq("Meta,1"), bom = true)
    (0 to 2).foreach { k =>
      val expected = ("\uFEFFMeta,1\n" + s"$S,v\n" +
        (0 until 70).filter(_ % 3 == k).map(i => s"k$k,$i\n").mkString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val got = Files.readAllBytes(java.nio.file.Paths.get(s"$out/k$k/srcO.csv"))
      assert(java.util.Arrays.equals(got, expected), s"k$k:\n${new String(got, "UTF-8")}")
    }
  }

  /** Every file and directory under `root`, relative, hidden ones included. */
  private def listing(root: String): Set[String] = {
    val r = java.nio.file.Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(_ != r).map(r.relativize(_).toString).toSet
    finally walk.close()
  }

  test("nothing left behind: only {key}/{src}.csv under outDir") {
    val out = tmpDir("fanout_clean").toString
    val df = spark.range(0, 60, 1, 4)
      .select(concat(lit("k"), pmod(col("id"), lit(3))).as(S),
        col("id").cast("string").as("v"))
    FanOut.write(df, S, out, "srcP", prefixRows = Seq("Meta,1"), bom = true)
    FanOut.write(df, S, out, "srcQ")
    val keys = Seq("k0", "k1", "k2")
    assert(listing(out) == (keys ++ keys.flatMap(k => Seq(s"$k/srcP.csv", s"$k/srcQ.csv"))).toSet)
  }

  test("rewrite over a layout with a stale sidecar replaces every file whole") {
    val out = tmpDir("fanout_rewrite").toString
    val stale = "x" * 500 + "\n"
    Seq("s1", "s2").foreach { k =>
      Files.createDirectories(java.nio.file.Paths.get(s"$out/$k"))
      Files.writeString(java.nio.file.Paths.get(s"$out/$k/src.csv"), stale)
    }
    Files.writeString(java.nio.file.Paths.get(s"$out/s1/.src.csv.crc"), "stale")
    val df = Seq(("s1", "a"), ("s2", "b"), ("s1", "c")).toDF(S, "v")
    FanOut.write(df, S, out, "src")
    assert(Files.readString(java.nio.file.Paths.get(s"$out/s1/src.csv")) == s"$S,v\ns1,a\ns1,c\n")
    assert(Files.readString(java.nio.file.Paths.get(s"$out/s2/src.csv")) == s"$S,v\ns2,b\n")
    assert(listing(out) == Set("s1", "s2", "s1/src.csv", "s2/src.csv"))
  }

  test("header and rows match df.write.csv line for line: ',' and '\"' cells") {
    val out = tmpDir("fanout_hdr").toString
    val ref = tmpDir("fanout_hdr_ref").resolve("csv").toString
    val df = Seq(("s1", "x,y", "say \"hi\"", null), ("s1", "", "plain", "z"))
      .toDF(S, "a,b", "say \"c\"", "d\"e,f")
    FanOut.write(df, S, out, "srcH")
    df.coalesce(1).write.option("header", true).csv(ref)
    val part = new java.io.File(ref).listFiles().filter(_.getName.endsWith(".csv")).head
    assert(Files.readAllLines(java.nio.file.Paths.get(s"$out/s1/srcH.csv")) ==
      Files.readAllLines(part.toPath))
  }

  test("a source column named _gk round-trips") {
    val out = tmpDir("fanout_gk").toString
    val df = Seq(("s1", "g1", "1"), ("s2", "g2", "2")).toDF(S, "_gk", "v")
    FanOut.write(df, S, out, "srcG")
    val back = FanOut.read(spark, out, "srcG", S)
    assert(back.columns.toSeq == Seq(S, "_gk", "v", "_dir_key"))
    assert(back.select(S, "_gk", "v").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sorted.toSeq == Seq(("s1", "g1", "1"), ("s2", "g2", "2")))
  }

  test("returned key count equals the distinct trimmed keys") {
    val out = tmpDir("fanout_count").toString
    val df = Seq("s1", " s1 ", "s2", "  ", null, "s3 ", "s2").map(k => (k, "v"))
      .toDF(S, "v").repartition(3)
    assert(FanOut.write(df, S, out, "srcC") == 3L)
  }

  test("special-character keys round-trip: space, percent, plus, hash") {
    val out = tmpDir("fanout_sp").toString
    val df = Seq(("a b", "1"), ("50%", "2"), ("x+y", "3"), ("s#1", "4"))
      .toDF(S, "v")
    FanOut.write(df, S, out, "src")
    // exact on-disk layout uses the literal keys
    assert(Seq("a b", "50%", "x+y", "s#1").forall(k =>
      new java.io.File(s"$out/$k/src.csv").isFile))
    val back = FanOut.read(spark, out, "src", S)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
    assert(back.select(S).collect().map(_.getString(0)).sorted.toSeq ==
      Seq("50%", "a b", "s#1", "x+y"))
  }

  test("metacharacter src names round-trip: regex and glob specials are literal") {
    val out = tmpDir("fanout_meta").toString
    val df = Seq(("s1", "1"), ("s2", "2")).toDF(S, "v")
    val src = "report(2024)[v1]"
    FanOut.write(df, S, out, src)
    assert(new java.io.File(s"$out/s1/$src.csv").isFile)
    val back = FanOut.read(spark, out, "report(2024)[v1]", S)
    assert(back.count() == 2)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
  }

  test("fileSetCheckPairs: a store absent from a source is not 'missing'") {
    val present = Seq(("s1", "a"), ("s2", "a"), ("s1", "b"))
      .toDF(S, "src")
    // expected mirrors the INPUT content: s2 never appeared in source b
    val expected = Seq(("s1", "a"), ("s2", "a"), ("s1", "b"))
      .toDF(S, "src")
    assert(VerifyOps.fileSetCheckPairs(present, expected, S).count() == 0)
    // an input pair with no output file IS missing; an output file with
    // no input pair IS extra
    val expected2 = expected.unionAll(Seq(("s2", "b")).toDF(S, "src"))
    val present2 = present.unionAll(Seq(("s3", "a")).toDF(S, "src"))
    val problems = VerifyOps.fileSetCheckPairs(present2, expected2, S)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    assert(problems.toSeq == Seq(("s2", "missing", "b"), ("s3", "extra", "a")))
  }

  test("VerifyOps: missing/extra file sets and injected content violation") {
    val present = Seq(("s1", "a.csv"), ("s1", "b.csv"), ("s2", "a.csv"))
      .toDF(S, "src")
    val sets = VerifyOps.fileSetCheck(present, S, Seq("a.csv", "b.csv"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(sets == Set(("s2", "missing", "b.csv")))
    val extra = VerifyOps.fileSetCheck(present, S, Seq("a.csv"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(extra == Set(("extra", "b.csv")))

    val bad = Seq(("s1", "s1"), ("s9", "s1")).toDF(S, "_dir_key")
    assert(VerifyOps.contentViolations(bad, S).count() == 1)

    val presence = VerifyOps.presence(
      Seq("d1" -> Seq("s1", "s2").toDF(S), "d2" -> Seq("s2").toDF(S)),
      S, "s1").orderBy("dataset").collect()
    assert(presence(0).getBoolean(2) && !presence(1).getBoolean(2))
  }

  test("VerifyOps.violationSamples: at most k per file, ranked, counted") {
    // file s1: 8 violations (v1..v8), file s2: 2, file s3: clean
    val rows =
      (1 to 8).map(i => (f"v$i", "s1")) ++
        Seq(("w1", "s2"), ("w2", "s2"), ("s3", "s3"))
    val back = rows.toDF(S, "_dir_key")
    val out = VerifyOps.violationSamples(back, S, k = 5)
      .collect().map(r => (r.getString(1), r.getString(0), r.getInt(2), r.getLong(3)))
    assert(out.count(_._1 == "s1") == 5) // bounded at k
    assert(out.filter(_._1 == "s1").map(_._2).sorted.toSeq ==
      Seq("v1", "v2", "v3", "v4", "v5")) // first k by key order
    assert(out.filter(_._1 == "s1").forall(_._4 == 8L)) // full count survives
    assert(out.count(_._1 == "s2") == 2 && !out.exists(_._1 == "s3"))
  }

  test("composed per-store KPI emission: config 23-1 → {store}/23-1.csv with BOM") {
    // the reference's aggregate_by_store.py:225–233 end-to-end shape:
    // KPI frame → one utf-8-sig CSV per store directory
    val binds = Seq(("1", "2025", "01", "10"), ("1", "2024", "02", "5"),
      ("2", "2025", "03", "8")).toDF(S, "年度", "月份", "總綁定")
    val cum = Seq(("1", "50"), ("2", "20")).toDF(S, "累計至今推薦人綁定人數")
    val mem = Seq(("1", "200"), ("2", "80")).toDF(S, "總會員數")
    val out = tmpDir("kpi_emit").toString
    val kpi = graft.etl.Kpi.config23_1(binds, cum, mem)
    FanOut.write(kpi, S, out, "23-1", bom = true)
    val f1 = Files.readString(new java.io.File(s"$out/1/23-1.csv").toPath)
    assert(f1.startsWith("﻿"), "utf-8-sig BOM")
    val lines = f1.stripPrefix("﻿").split("\n").toSeq
    assert(lines.length == 2, "header + exactly one KPI row per store")
    assert(lines.head.split(",").head == S)
    assert(lines(1).startsWith("1,10.0,100.00%,25.00%"), lines(1))
    assert(new java.io.File(s"$out/2/23-1.csv").isFile)
  }

  test("HeaderScan: meta rows, quoted cells, warn-skip, distributed read") {
    val dir = tmpDir("hscan")
    Files.writeString(dir.resolve("good.csv"),
      "Report Title,, \n" +
        "Established At Year,2025,2024\n" +
        s"\"$S\",\"name, quoted\",金額\n" +
        "s1,\"Ace, Inc\",\"1,234\"\n" +
        "s2,Bob,99\n")
    Files.writeString(dir.resolve("nokey.csv"), "a,b\n1,2\n")

    val scanned = HeaderScan.scanHeader(spark, dir.resolve("good.csv").toString)
    assert(scanned.isDefined)
    val info = scanned.get
    assert(info.prefixRows.length == 2 && info.skipLines == 3)
    assert(info.columns == Seq(S, "name, quoted", "金額"))
    assert(HeaderScan.scanHeader(spark, dir.resolve("nokey.csv").toString).isEmpty)

    val frames = HeaderScan.readDirFrames(spark, dir.toString)
    assert(frames.length == 1) // nokey.csv warn-skipped
    val rows = frames.head._2.orderBy(S).collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "Ace, Inc") // quoted comma survives
    assert(rows(0).getString(2) == "1,234") // stays string — typing is lazy
  }

  test("HeaderScan + FanOut end-to-end: messy export split per store") {
    val dir = tmpDir("h2f")
    val out = tmpDir("h2fout").toString
    Files.writeString(dir.resolve("export.csv"),
      s"meta,row\n$S,月份,總綁定\ns1,01,10\ns2,202502,20\ns1,3,30\n")
    val Seq((info, df)) = HeaderScan.readDirFrames(spark, dir.toString)
    FanOut.write(df.drop("_src"), S, out, "export", prefixRows = info.prefixRows)
    val back = FanOut.read(spark, out, "export", S)
    assert(back.count() == 3)
    assert(VerifyOps.contentViolations(back, S).count() == 0)
    val firstLine = Files.readAllLines(
      java.nio.file.Paths.get(s"$out/s1/export.csv")).get(0)
    assert(firstLine == "meta,row") // prefix replayed into every store file
  }
}
