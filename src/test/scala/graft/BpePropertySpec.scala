package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.Bpe

/** Property test for the multi-round BPE trainer: the distributed
  * pipeline (string-encoded segmentations, replace-based merge, top-1
  * argmax) must agree round-for-round with a direct in-memory reference
  * implementation of Sennrich-style BPE (symbol vectors, explicit
  * left-to-right non-overlapping merge) on arbitrary word histograms —
  * including corpora that dry up (no adjacent pair left) before the
  * round budget.
  */
class BpePropertySpec extends SparkSpec {

  /** In-memory reference BPE over a word histogram: returns the merge
    * schedule and the per-round segmentation history (round 0 = the
    * character split; round k = after k merges) keyed by word.
    */
  private def mergeSeq(s: Vector[String], p: (String, String)): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == p._1 && s(i + 1) == p._2) {
        b += s(i) + s(i + 1); i += 2
      } else { b += s(i); i += 1 }
    }
    b.result()
  }

  private def refBpeFull(hist: Map[String, Long], rounds: Int)
      : (Seq[(Int, String, String, Long)], Seq[Map[String, Vector[String]]]) = {
    // segmentations keyed by WORD (they concatenate back to it), so
    // distinct words keep distinct keys through any merge sequence
    var segs: Map[String, Vector[String]] = hist
      .filter(_._1.length >= 2)
      .map { case (w, _) => (w, w.map(_.toString).toVector) }
    val cnt = hist
    val out = Seq.newBuilder[(Int, String, String, Long)]
    val history = Seq.newBuilder[Map[String, Vector[String]]]
    history += segs
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val pc = collection.mutable.Map[(String, String), Long]()
      for ((w, s) <- segs if s.length >= 2; i <- 0 until s.length - 1)
        pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + cnt(w)
      if (pc.isEmpty) done = true
      else {
        val ((s1, s2), f) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((r, s1, s2, f))
        segs = segs.map { case (w, s) => (w, mergeSeq(s, (s1, s2))) }
        history += segs
        r += 1
      }
    }
    (out.result(), history.result())
  }

  private def refBpe(
      hist: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] =
    refBpeFull(hist, rounds)._1

  private val word: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
      .map(_.mkString))

  private val corpus: Gen[Map[String, Long]] =
    Gen.choose(1, 25)
      .flatMap(n => Gen.listOfN(n, Gen.zip(word, Gen.choose(1L, 9L))))
      .map(_.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) })

  test("distributed trainer ≡ in-memory reference BPE on random histograms") {
    import spark.implicits._
    // deterministic sampling (no scalatest-scalacheck bridge in the
    // offline cache): materialize the generator at fixed seeds
    val hists = Gen.listOfN(25, corpus)
      .apply(Gen.Parameters.default, Seed(7L)).get
    hists.foreach { hist =>
      val df = hist.toSeq.toDF("w", "cnt")
      val got = Bpe.train(df, rounds = 3).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val exp = refBpe(hist, rounds = 3)
      assert(got == exp, s"hist=$hist")
    }
  }

  test("deep schedules: distributed ≡ reference at 12 merge rounds") {
    import spark.implicits._
    // a repetition-heavy corpus that sustains many merges (t67 runs 10
    // on the real corpus; this pins the loop well past that depth)
    val hist = Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L,
      "aabbcc" -> 3L, "cabcab" -> 2L, "abc" -> 9L, "ab" -> 6L)
    val got = Bpe.train(hist.toSeq.toDF("w", "cnt"), rounds = 12).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val exp = refBpe(hist, rounds = 12)
    assert(got == exp && got.length >= 10,
      s"schedule too shallow (${got.length}) or diverged")
    // several late merges must consume EARLIER merge outputs (the
    // sequential dependency a one-shot pair count cannot express)
    assert(got.exists { case (r, s1, s2, _) =>
      r > 3 && (s1.length > 1 || s2.length > 1) })
  }

  test("round k's segmentation is a refinement of round k-1's") {
    // every round-k symbol must be the concatenation of CONSECUTIVE
    // round-(k-1) symbols — merging can only coarsen, never re-cut.
    // Pinned on the reference history; the distributed trainer emits
    // the identical merge schedule (previous tests), and segmentation
    // is a deterministic function of the schedule, so the property
    // transfers.
    val hists = Gen.listOfN(15, corpus)
      .apply(Gen.Parameters.default, Seed(11L)).get
    (hists :+ Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L))
      .foreach { hist =>
        val (_, history) = refBpeFull(hist, rounds = 12)
        history.sliding(2).foreach {
          case Seq(prev, cur) =>
            cur.foreach { case (w, seg) =>
              val fine = prev(w)
              // walk seg against fine: each coarse symbol must equal the
              // concatenation of the next 1..n fine symbols
              var i = 0
              seg.foreach { sym =>
                var acc = new StringBuilder
                while (acc.length < sym.length && i < fine.length) {
                  acc ++= fine(i); i += 1
                }
                assert(acc.toString == sym,
                  s"round-k symbol '$sym' is not a run of round-(k-1) " +
                    s"symbols $fine (word $w)")
              }
              assert(i == fine.length, s"leftover fine symbols in $w")
            }
          case _ => ()
        }
      }
  }

  test("segment (apply) reproduces training segmentation; covers unseen words") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hist = Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L,
      "aabbcc" -> 3L, "ab" -> 6L)
    val (schedule, history) = refBpeFull(hist, rounds = 8)
    val merges = schedule.map { case (_, s1, s2, _) => (s1, s2) }
    val unseen = Seq("cab", "x", "aabc", "abcabcabc", "zzz")
    val words = (hist.keys.toSeq ++ unseen).toDF("w")
    val got = words
      .select(col("w"), Bpe.segment(col("w"), merges).as("seg"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    // a trained word segments exactly as the final training round left it
    history.last.foreach { case (w, seg) =>
      assert(got(w) == seg, s"trained word $w: ${got(w)} != $seg")
    }
    // an unseen word segments by greedily replaying the ordered merges
    unseen.foreach { w =>
      val exp = merges.foldLeft(w.map(_.toString).toVector)(mergeSeq)
      assert(got(w) == exp, s"unseen word $w: ${got(w)} != $exp")
    }
    // segments always concatenate back to the word
    got.foreach { case (w, seg) => assert(seg.mkString == w) }
  }

  test("trainLocal ≡ train round-for-round on arbitrary histograms") {
    import spark.implicits._
    val hists = Gen.listOfN(25, corpus)
      .apply(Gen.Parameters.default, Seed(13L)).get
    hists.foreach { hist =>
      val dist = Bpe.train(hist.toSeq.toDF("w", "cnt"), rounds = 4).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val local = Bpe.trainLocal(hist.toSeq, rounds = 4)
      assert(local == dist, s"hist=$hist")
    }
    // duplicate histogram words sum (train feeds every row into the
    // pair-count sum; a last-wins map would diverge)
    val dup = Seq(("abab", 3L), ("abab", 4L), ("ab", 2L))
    val dupDist = Bpe.train(dup.toDF("w", "cnt"), rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(Bpe.trainLocal(dup, rounds = 3) == dupDist)
    assert(dupDist.head._4 == 16L, // (3+4) docs × 2 'ab' pairs + 2 × 1
      s"duplicate words did not sum: ${dupDist.head}")
  }

  test("trainLocal tie-break is UTF-8 byte order (supplementary plane)") {
    import spark.implicits._
    // x = U+E000 (BMP, UTF-8 EE 80 80), y = U+10000 (supplementary,
    // UTF-16 surrogates D800 DC00, UTF-8 F0 90 80 80). Java String
    // order: y < x (surrogate code unit D800 < E000); UTF-8 byte order
    // (Spark UTF8String, DuckDB): x < y (EE < F0). A tied argmax
    // between pairs (x,x) and (y,y) must resolve the UTF-8 way.
    val x = "\uE000"
    val y = new String(Character.toChars(0x10000))
    val hist = Seq((x + x, 1L), (y + y, 1L))
    val dist = Bpe.train(hist.toDF("w", "cnt"), rounds = 1).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val local = Bpe.trainLocal(hist, rounds = 1).map(t => (t._2, t._3))
    assert(local == dist)
    assert(local == Seq((x, x)),
      s"tie resolved by UTF-16 code units, not UTF-8 bytes: $local")
  }

  test("trainLocal is prefix-consistent: train(b) == train(maxB).take(b)") {
    // BPE's greedy argmax at round r depends only on rounds < r, so a
    // budget-b schedule IS the first b rows of any longer train on the
    // same histogram. t80's vocab-size curve leans on this to train
    // ONCE at the max budget and prefix-sweep the smaller points — this
    // pin is what makes that consolidation hash-safe.
    val hist = Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L,
      "aabbcc" -> 3L, "cabcab" -> 2L, "abc" -> 9L, "ab" -> 6L).toSeq
    val full = Bpe.trainLocal(hist, rounds = 12)
    (1 to full.length).foreach { b =>
      assert(Bpe.trainLocal(hist, rounds = b) == full.take(b),
        s"prefix inconsistency at budget $b")
    }
  }

  test("segmentWords kernel ≡ segment fold at every vocab-size prefix") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hist = Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L,
      "aabbcc" -> 3L, "cabcab" -> 2L, "abc" -> 9L, "ab" -> 6L)
    val (schedule, _) = refBpeFull(hist, rounds = 12)
    val all = schedule.map { case (_, s1, s2, _) => (s1, s2) }
    val words = (hist.keys.toSeq ++
      Seq("cab", "x", "aabc", "abcabcabc", "zzz", "ccba")).toDF("w")
    // every prefix of the schedule is a valid smaller vocabulary; the
    // kernel must agree with the plan fold at each of them
    (0 to all.length).foreach { k =>
      val merges = all.take(k)
      val fold = words.select(col("w"), Bpe.segment(col("w"), merges).as("seg"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val kern = Bpe.segmentWords(words, merges)
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      assert(kern == fold, s"kernel diverged from fold at vocab prefix $k")
    }
  }

  test("segmentWords kernel at a 100+-merge schedule (production regime)") {
    import spark.implicits._
    // a histogram that sustains >100 merges: structured long words over
    // a 6-letter alphabet with heavy repetition
    val rnd = new scala.util.Random(19)
    val hist = (1 to 160).map { i =>
      val stem = Seq.fill(3 + rnd.nextInt(3))("abcdef" (rnd.nextInt(6))).mkString
      (stem * (2 + rnd.nextInt(3)), 1L + rnd.nextInt(9))
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq
    val schedule = Bpe.trainLocal(hist, rounds = 120)
    assert(schedule.length >= 100,
      s"fixture too shallow: only ${schedule.length} merges")
    val merges = schedule.map(t => (t._2, t._3))
    val words = (hist.map(_._1) ++ Seq("abcdef", "aaaabbbb", "zz")).distinct.toDF("w")
    val kern = Bpe.segmentWords(words, merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    // reference: ordered replay of every merge as a left-to-right scan
    words.collect().map(_.getString(0)).foreach { w =>
      val exp = merges.foldLeft(w.map(_.toString).toVector)(mergeSeq)
      assert(kern(w) == exp, s"word $w: ${kern(w)} != $exp")
      assert(kern(w).mkString == w)
    }
  }

  test("trainToVocab: merge budget = vocabSize - base alphabet") {
    import spark.implicits._
    val hist = Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L,
      "aabbcc" -> 3L)
    val df = hist.toSeq.toDF("w", "cnt")
    // base alphabet {a, b, c} = 3; target 8 → exactly 5 merges
    val merges = Bpe.trainToVocab(df, vocabSize = 8).collect()
    assert(merges.length == 5)
    assert(merges.map(_.getInt(0)).sorted.toSeq == (1 to 5))
    // a target below the alphabet is a contract violation, not 0 rounds
    assertThrows[IllegalArgumentException] {
      Bpe.trainToVocab(df, vocabSize = 3)
    }
    // a dried-up corpus stops early: "ab"x1 supports exactly 1 merge
    val tiny = Seq(("ab", 1L)).toDF("w", "cnt")
    assert(Bpe.trainToVocab(tiny, vocabSize = 10).collect().length == 1)
  }

  test("trainLocalToVocab ≡ trainToVocab: same budget, same schedule") {
    import spark.implicits._
    val hist = Map("abcabc" -> 7L, "abcab" -> 4L, "bcbcbc" -> 5L,
      "aabbcc" -> 3L)
    val dist = Bpe.trainToVocab(hist.toSeq.toDF("w", "cnt"), vocabSize = 8)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val local = Bpe.trainLocalToVocab(hist.toSeq, vocabSize = 8)
    assert(local == dist && local.length == 5)
    // codepoint-counted base alphabet: a supplementary-plane char is
    // ONE symbol (2 UTF-16 code units) on both paths
    val supp = new String(Character.toChars(0x10000))
    val histS = Seq((supp + supp, 2L), ("ab", 1L))
    val distS = Bpe.trainToVocab(histS.toDF("w", "cnt"), vocabSize = 5)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(Bpe.trainLocalToVocab(histS, vocabSize = 5) == distS)
    // below-alphabet target is a contract violation on both paths
    assertThrows[IllegalArgumentException] {
      Bpe.trainLocalToVocab(hist.toSeq, vocabSize = 3)
    }
  }

  test("aaa-style overlap merges left-to-right, not greedily re-paired") {
    import spark.implicits._
    // "aaa"×2: round 1 pair (a,a) freq 4 (two positions × cnt 2); merge
    // gives [aa, a] — round 2 pair (aa, a) freq 2
    val df = Seq(("aaa", 2L)).toDF("w", "cnt")
    val got = Bpe.train(df, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)))
  }

  test("collectHistogram enforces the driver-size bound: over-bound fails " +
    "loudly pointing at the distributed trainer, under-bound round-trips") {
    import spark.implicits._
    val hist = (1 to 10).map(i => (s"w$i", i.toLong)).toDF("w", "cnt")
    // under the bound: the full histogram comes back, content-equal
    val got = Bpe.collectHistogram(hist, maxRows = 10).toMap
    assert(got == (1 to 10).map(i => (s"w$i", i.toLong)).toMap)
    // over the bound: capped collect (at most bound+1 rows ever leave
    // the executors), loud failure naming the distributed path
    val e = intercept[IllegalArgumentException] {
      Bpe.collectHistogram(hist, maxRows = 5)
    }
    assert(e.getMessage.contains("trainToVocab"))
    assert(e.getMessage.contains("NOT driver-sized"))
  }

  test("a zero or negative histogram count is rejected up front, naming " +
    "the word, by trainLocal and collectHistogram") {
    import spark.implicits._
    // unchecked, such a count breaks the maintained pair map's
    // zero-removal invariant and surfaces rounds later as an opaque
    // NoSuchElementException
    for (bad <- Seq(0L, -2L)) {
      val hist = Seq(("abcd", 5L), ("bcd", bad), ("cd", 1L))
      val e = intercept[IllegalArgumentException](Bpe.trainLocal(hist, 3))
      assert(e.getMessage.contains("'bcd'") && e.getMessage.contains(s"$bad"),
        e.getMessage)
      val c = intercept[IllegalArgumentException](
        Bpe.collectHistogram(hist.toDF("w", "cnt")))
      assert(c.getMessage.contains("'bcd'"), c.getMessage)
    }
    // positive counts still train
    assert(Bpe.trainLocal(Seq(("abcd", 5L), ("bcd", 1L)), 3).nonEmpty)
  }
}
