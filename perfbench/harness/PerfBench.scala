package graft.cli

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.HostSentinel
import graft.etl.{Kpi, VerifyOps}
import graft.sources.{CsvGen, FanOut, HeaderScan}

/** Timing harness for the reference workflow (perfbench/README.md).
  *
  * `PerfBench <workload> <inputDir> <workDir> <seed> <seconds> <trace> <result.json>`
  *
  * Untraced passes call the user-facing `graft.cli` mains in README order,
  * each of which builds and stops its own session. Traced passes replay
  * the same library calls in the same order with a span around each one
  * and a [[PerfListener]] on every session. The result file holds raw
  * timings and counters; `perfbench/run.py` checks outputs and derives
  * the reported metrics.
  */
object PerfBench {

  private final class ExitTrapped(val status: Int) extends SecurityException(s"exit($status)")

  private final class NoExit extends SecurityManager {
    override def checkExit(status: Int): Unit = throw new ExitTrapped(status)
    override def checkPermission(p: java.security.Permission): Unit = ()
    override def checkPermission(p: java.security.Permission, ctx: AnyRef): Unit = ()
  }

  /** Run a main with its stdout captured and `sys.exit` turned into a
    * status; returns (exit status, stdout).
    */
  private def capture(body: => Unit): (Int, String) = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, UTF_8)
    System.setSecurityManager(new NoExit)
    val status =
      try { Console.withOut(ps)(body); 0 }
      catch { case e: ExitTrapped => e.status }
      finally System.setSecurityManager(null)
    val out = buf.toString(UTF_8)
    System.err.print(out)
    (status, out)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def setListener(on: Boolean): Unit =
    if (on) System.setProperty("spark.extraListeners", classOf[PerfListener].getName)
    else System.clearProperty("spark.extraListeners")

  // ---------------------------------------------------------------- workloads

  /** One workload: a pass writes into a fresh output directory and
    * returns per-stage wall seconds; failures are counted, not thrown.
    */
  private trait Workload {
    /** Warm pass wall on a 4-core box; sets how many passes fit a run. */
    def nominalPassS: Double
    def prepare(): Unit = ()
    def untraced(out: String, calls: Calls): Seq[(String, Double)]
    def traced(out: String, calls: Calls): Seq[(String, Double)]
  }

  /** Attempted/failed main invocations plus the lines the checks need. */
  private final class Calls {
    var attempted = 0
    var failed = 0
    val notes = mutable.ArrayBuffer.empty[String]
    def run(what: String)(body: => Boolean): Unit = {
      attempted += 1
      val ok = try body catch {
        case scala.util.control.NonFatal(e) =>
          notes += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          false
      }
      if (!ok) { failed += 1; notes += s"$what failed" }
    }
  }

  private final class FanoutWorkload(in: String, cfg: CsvGen.Config) extends Workload {
    private val key = HeaderScan.defaultKeyCol
    val nominalPassS = 12.5

    /** CsvGen draws the meta prefix per file by coin flip; the benchmark
      * generates one file per derived seed and keeps exactly half with a
      * prefix, so the finalize mix (concat versus rename) is the same for
      * every seed.
      */
    override def prepare(): Unit = {
      val dir = Paths.get(in)
      Files.createDirectories(dir)
      val want = mutable.Map(true -> cfg.nFiles / 2, false -> (cfg.nFiles - cfg.nFiles / 2))
      var i = 0
      while (want.values.sum > 0) {
        val one = Files.createTempDirectory(dir.getParent, "gen")
        CsvGen.generate(one, cfg.copy(nFiles = 1, seed = cfg.seed * 1000 + i))
        val f = one.resolve("data_00.csv")
        val prefixed = Files.readAllLines(f, UTF_8).get(0).startsWith("Report Generated")
        if (want(prefixed) > 0) {
          want(prefixed) -= 1
          Files.move(f, dir.resolve(f"data_$i%02d.csv"))
        }
        deleteTree(one.toFile)
        i += 1
      }
    }

    def untraced(out: String, calls: Calls): Seq[(String, Double)] = {
      val (_, tf) = timed(calls.run("FanOutMain") {
        FanOutMain.main(Array("--input-dir", in, "--output-dir", out)); true
      })
      val (_, tv) = timed(calls.run("VerifyFanoutMain") {
        val (status, stdout) = capture(VerifyFanoutMain.main(
          Array("--input-dir", in, "--output-dir", out)))
        status == 0 && stdout.contains("[OK] fan-out verified")
      })
      Seq("fanout" -> tf, "verify" -> tv)
    }

    /** FanOutMain and VerifyFanoutMain's library calls, in their order. */
    def traced(out: String, calls: Calls): Seq[(String, Double)] = {
      val (_, tf) = timed(calls.run("FanOutMain") {
        Trace.span("cli.fanout") {
          val spark = Args.session("graft-fanout")
          Trace.attach(spark.sparkContext)
          val frames = Trace.span("sources.scan")(HeaderScan.readDirFrames(spark, in, key))
          Trace.count("sources.scan.files", frames.length)
          frames.foreach { case (info, df) =>
            val src = Args.srcBase(new Path(info.path).getName)
            Trace.span("sources.fanout_write") {
              FanOut.write(df.drop("_src"), key, out, src, prefixRows = info.prefixRows)
            }
          }
          Trace.detach()
          spark.stop()
        }
        true
      })
      val (_, tv) = timed(calls.run("VerifyFanoutMain") {
        Trace.span("cli.verify") {
          val spark = Args.session("graft-verify-fanout")
          Trace.attach(spark.sparkContext)
          import spark.implicits._
          val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val frames = Trace.span("sources.scan")(HeaderScan.readDirFrames(spark, in, key))
          Trace.count("sources.scan.files", frames.length)
          val srcNames = frames.map { case (info, _) => Args.srcBase(new Path(info.path).getName) }
          val bad = Trace.span("etl.verify_sets") {
            val expected = frames.zip(srcNames).map { case ((_, df), s) =>
              df.select(trim(col(key)).as(key)).filter(col(key) =!= "")
                .distinct().withColumn("src", lit(s))
            }.reduce(_ unionAll _)
            val present = fs.listStatus(new Path(out)).filter(_.isDirectory).toSeq
              .flatMap(d => fs.listStatus(d.getPath).map(f => (d.getPath.getName, f.getPath.getName)))
              .filter(_._2.toLowerCase.endsWith(".csv"))
              .map { case (k, f) => (k, Args.srcBase(f)) }
            val problems = VerifyOps.fileSetCheckPairs(present.toDF(key, "src"), expected, key).cache()
            val n = problems.filter(col("kind") === "missing").count() +
              problems.filter(col("kind") === "extra").count()
            val wKind = org.apache.spark.sql.expressions.Window
              .partitionBy(col("kind")).orderBy(col(key), col("src"))
            problems.withColumn("_r", row_number().over(wKind)).filter(col("_r") <= 10)
              .orderBy(col("kind"), col(key), col("src")).collect()
            problems.unpersist()
            n
          }
          val violations = Trace.span("etl.verify_content") {
            srcNames.map { s =>
              Trace.span("sources.read") {
                VerifyOps.contentViolations(FanOut.read(spark, out, s, key), key).count()
              }
            }.sum
          }
          Trace.detach()
          spark.stop()
          bad + violations == 0
        }
      })
      Seq("fanout" -> tf, "verify" -> tv)
    }
  }

  private final class KpiWorkload(in: String) extends Workload {
    val nominalPassS = 18.0
    private val configs = Seq("23-1", "23-2", "24-1", "24-2", "25-1", "25-2")
    private val generic = readLines(s"$in/generic.args").head.split(" ").toSeq
    private val stores = readLines(s"$in/presence_stores.txt")
    // PresenceMain's six datasets (its registry is private to it)
    private val PresenceFiles = Seq("區間綁定推薦人人數.csv", "累計至今綁定推薦人人數.csv",
      "14-1.會員成長趨勢_新增註冊會員數卡片.csv", "門市首購人數_月份.csv",
      "門市首購人數_門市.csv", "各門市累計綁定人數.csv")

    def untraced(out: String, calls: Calls): Seq[(String, Double)] = {
      val (_, ta) = timed {
        (configs.map(c => Seq("--config", c)) :+ generic).foreach { flags =>
          calls.run(s"AggregateMain ${flags.head}") {
            AggregateMain.main((flags ++ Seq("--input-dir", in, "--output-dir", out)).toArray)
            true
          }
        }
      }
      val (_, tp) = timed(stores.foreach { s =>
        calls.run(s"PresenceMain $s") {
          val (status, stdout) = capture(PresenceMain.main(Array("--store", s, "--input-dir", in)))
          stdout.linesIterator.filter(_.startsWith("[")).foreach(l => calls.notes += s"presence $s $l")
          status == 0
        }
      })
      Seq("aggregate" -> ta, "presence" -> tp)
    }

    private object Plans extends AdaptiveSparkPlanHelper

    /** AggregateMain's calls for one config: compute, then the BOM write. */
    private def aggregate(cfg: String, out: String, calls: Calls)(
        compute: (String => DataFrame) => (DataFrame, String)): Unit =
      calls.run(s"AggregateMain $cfg") {
        Trace.span("cli.aggregate") {
          val spark = Args.session("graft-aggregate")
          Trace.attach(spark.sparkContext)
          val (result, keyCol) = Trace.span(s"etl.kpi.$cfg") {
            val (r, k) = compute(f => Args.readAllString(spark, f))
            if (cfg.startsWith("25-"))
              Trace.count("plans.topk_per_group.nodes", Plans.collect(r.queryExecution.executedPlan) {
                case p if p.getClass.getSimpleName == "TopKPerGroupExec" => p
              }.length.toDouble)
            r.persist()
            r.select(k).distinct().count()
            (r, k)
          }
          Trace.span("sources.kpi_write")(FanOut.write(result, keyCol, out, cfg, bom = true))
          result.unpersist()
          Trace.detach()
          spark.stop()
        }
        true
      }

    def traced(out: String, calls: Calls): Seq[(String, Double)] = {
      val agg = s"$in/aggregate"
      val binds = s"$agg/區間綁定推薦人人數.csv"
      val cum = s"$agg/累計至今綁定推薦人人數.csv"
      val mem = s"$agg/14-1.會員成長趨勢_新增註冊會員數卡片.csv"
      val fpMonth = s"$agg/門市首購人數_月份.csv"
      val fpBranch = s"$agg/門市首購人數_門市.csv"
      val branchBinds = s"$agg/各門市累計綁定人數.csv"
      val S = Kpi.S
      val (_, ta) = timed {
        aggregate("23-1", out, calls)(rd => (Kpi.config23_1(rd(binds), rd(cum), rd(mem)), S))
        aggregate("23-2", out, calls)(rd => (Kpi.config23_2(rd(binds)), S))
        aggregate("24-1", out, calls)(rd => (Kpi.config24_1(rd(binds), rd(cum), rd(mem)), S))
        aggregate("24-2", out, calls)(rd => (Kpi.config24_2(rd(fpMonth), rd(binds)), S))
        aggregate("25-1", out, calls)(rd => (Kpi.config25_1(rd(fpBranch), rd(branchBinds)), S))
        aggregate("25-2", out, calls)(rd => (Kpi.config25_2(rd(fpBranch), rd(branchBinds)), S))
        val g = generic.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
        aggregate(g("input-file").stripSuffix(".csv"), out, calls)(rd =>
          (Kpi.generic(rd(s"$in/${g("input-file")}"), g("store-col"), g("month-col"),
            g("target-col"), g("months").split(",").toSeq), g("store-col")))
      }
      val (_, tp) = timed(stores.foreach { s =>
        calls.run(s"PresenceMain $s") {
          Trace.span("cli.presence") {
            val spark = Args.session("graft-presence")
            Trace.attach(spark.sparkContext)
            Trace.span("etl.presence") {
              val datasets = PresenceFiles.filter(f => new File(s"$agg/$f").exists)
                .map(f => f -> Args.readAllString(spark, s"$agg/$f"))
              VerifyOps.presence(datasets, Kpi.S, s).collect()
            }
            Trace.detach()
            spark.stop()
          }
          true
        }
      })
      Seq("aggregate" -> ta, "presence" -> tp)
    }
  }

  // ----------------------------------------------------------------- helpers

  private def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p), UTF_8).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap and open-file peaks, sampled every 20 ms while traced. */
  private final class Sampler extends Thread("perfbench-sampler") {
    setDaemon(true)
    @volatile var heapPeak = 0L
    @volatile var fdPeak = 0
    @volatile var running = true
    private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    override def run(): Unit = while (running) {
      heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed)
      fdPeak = math.max(fdPeak, Option(new File("/proc/self/fd").list()).fold(0)(_.length))
      Thread.sleep(20)
    }
  }

  /** Janino compile count and summed milliseconds (the histogram keeps
    * every sample until it holds 1028).
    */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  private def json(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case x => json(x.toString)
  }

  // -------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, seedS, secondsS, traceS, resultPath) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val threads = Runtime.getRuntime.availableProcessors()

    val w: Workload = workload match {
      case "fanout_small_files" => new FanoutWorkload(in, CsvGen.Config(
        nFiles = 2, minRows = 1000, maxRows = 10000, nStores = 150, seed = seed,
        minCols = 3, maxCols = 10))
      case "kpi_store" => new KpiWorkload(in)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()

    val sentinelPre = HostSentinel.measure(threads)
    setListener(trace)
    val setup = (1 to 5).map { _ =>
      timed { Args.session("perfbench-setup").stop() }._2
    }

    val calls = new Calls
    val sampler = new Sampler
    var passNo = 0
    def pass(traced: Boolean): (Double, Seq[(String, Double)], String) = {
      passNo += 1
      val out = s"$work/out_$passNo"
      setListener(traced)
      Trace.on = traced
      Trace.pass = passNo
      val (stages, wall) = timed(if (traced) w.traced(out, calls) else w.untraced(out, calls))
      Trace.on = false
      val prev = new File(s"$work/out_${passNo - 1}")
      if (prev.exists()) deleteTree(prev)
      (wall, stages, out)
    }

    // The first pass runs cold (JIT, codegen, class loading) and doubles
    // as the warm-up. The timed passes that follow fill `seconds` at the
    // workload's nominal warm pass time; the count is fixed, not read off
    // a clock, so every run of a workload does the same work.
    val (firstPass, _, _) = pass(traced = false)
    val plain = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)])]
    val tracedPasses = mutable.ArrayBuffer.empty[(Int, Double, Long, Double)]
    var lastOut = ""
    if (trace) sampler.start()
    val rounds = math.max(1, (seconds / (w.nominalPassS * (if (trace) 2 else 1))).toInt)
    for (_ <- 1 to rounds) {
      // traced and untraced passes alternate which goes first, so the
      // overhead estimate does not always hand the warmer slot to one side
      def plainPass(): Unit = {
        val (wall, stages, out) = pass(traced = false)
        plain += ((wall, stages))
        lastOut = out
      }
      def tracedPass(): Unit = {
        val (n0, ms0) = codegen()
        val (tw, _, out) = pass(traced = true)
        val (n1, ms1) = codegen()
        tracedPasses += ((passNo, tw, n1 - n0, (ms1 - ms0) / 1e3))
        lastOut = out
      }
      if (!trace) plainPass()
      else if (plain.length % 2 == 0) { plainPass(); tracedPass() }
      else { tracedPass(); plainPass() }
    }
    sampler.running = false
    setListener(false)
    val sentinelPost = HostSentinel.measure(threads)

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val perPass = tracedPasses.map { case (p, wall, compiles, compileS) =>
          passLayers(p, wall, compiles, compileS)
        }
        perPass.flatMap(_.keys).distinct.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++
          Map(
            "jvm.heap_peak_mb" -> sampler.heapPeak / 1048576.0,
            "jvm.fds_peak" -> sampler.fdPeak.toDouble)
      }
    val stageNames = plain.head._2.map(_._1)
    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "threads" -> threads,
      "setup_s" -> setup,
      "first_pass_s" -> firstPass,
      "wall_s" -> plain.map(_._1).toSeq,
      "stage_s" -> stageNames.map(n => n -> plain.map(_._2.toMap.apply(n)).toSeq).toMap,
      "traced_wall_s" -> tracedPasses.map(_._2).toSeq,
      "passes" -> passNo,
      "attempted" -> calls.attempted,
      "failed" -> calls.failed,
      "notes" -> calls.notes.toSeq,
      "out_dir" -> lastOut,
      "layers" -> layers,
      "jobs_by_site" -> (if (!trace) Map.empty[String, Int] else
        PerfListener.allJobs.groupBy(_.site).map { case (k, v) => k -> v.length }),
      "sentinel" -> Map("pre_st_ms" -> sentinelPre.stMs, "pre_mt_ms" -> sentinelPre.mtMs,
        "post_st_ms" -> sentinelPost.stMs, "post_mt_ms" -> sentinelPost.mtMs))
    Files.writeString(Paths.get(resultPath), json(result), UTF_8)
  }

  /** Per-layer numbers of one traced pass, from its spans and counters. */
  private def passLayers(p: Int, wall: Double, compiles: Long, compileS: Double): Map[String, Double] = {
    val spans = Trace.spans.filter(_.pass == p)
    val byName = spans.groupBy(_.name)
    def ids(name: String): Set[Int] = byName.getOrElse(name, Nil).flatMap(Trace.subtree).toSet
    def secs(name: String): Double = byName.getOrElse(name, Nil).map(_.seconds).sum
    def jobs(name: String): Double = {
      val i = ids(name); PerfListener.allJobs.count(j => i(j.span)).toDouble
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (n <- Seq("sources.scan", "sources.fanout_write", "sources.read", "sources.kpi_write",
        "etl.verify_sets", "etl.verify_content", "etl.presence")) {
      val c = PerfListener.counters(ids(n))
      m(s"$n.s") = secs(n)
      m(s"$n.calls") = byName.getOrElse(n, Nil).length.toDouble
      m(s"$n.jobs") = jobs(n)
      m(s"$n.tasks") = c.tasks.toDouble
      m(s"$n.driver_s") = secs(n) - PerfListener.jobSeconds(ids(n))
      m(s"$n.exec_cpu_s") = c.cpuNs / 1e9
    }
    m("etl.verify.jobs") = jobs("etl.verify_sets") + jobs("etl.verify_content")
    byName.keys.filter(_.startsWith("etl.kpi.")).foreach { n =>
      val c = PerfListener.counters(ids(n))
      m(s"$n.s") = secs(n)
      m(s"$n.stages") = c.stages.toDouble
      m(s"$n.shuffle_bytes") = (c.shuffleRead + c.shuffleWrite).toDouble
    }
    val all = PerfListener.counters(spans.map(_.id).toSet)
    m("spark.jobs") = PerfListener.allJobs.count(j => spans.exists(_.id == j.span)).toDouble
    m("spark.stages") = all.stages.toDouble
    m("spark.tasks") = all.tasks.toDouble
    m("spark.shuffle_read_bytes") = all.shuffleRead.toDouble
    m("spark.shuffle_write_bytes") = all.shuffleWrite.toDouble
    m("spark.spill_bytes") = all.spill.toDouble
    m("spark.executor_run_s") = all.runMs / 1e3
    m("spark.executor_cpu_s") = all.cpuNs / 1e9
    m("spark.gc_s") = all.gcMs / 1e3
    m("spark.codegen_compiles") = compiles.toDouble
    m("spark.codegen_compile_s") = compileS
    m("trace.pass_s") = wall
    // share of the pass that the library-call spans cover
    val top = spans.filter(_.parent == -1).map(_.id).toSet
    m("trace.span_cover_ratio") = spans.filter(s => top(s.parent)).map(_.seconds).sum / wall
    Trace.counts.foreach { case ((q, n), v) => if (q == p) m(n) = v }
    m.toMap
  }
}
