package graft

import org.apache.spark.sql.functions._

import graft.etl.{Dedup, MediaDecode, TextAnalysis => T, TopK}
import graft.functions.Portable

/** Text-analysis, dedup, similarity, and media-stub operators on literal
  * frames — unit-level complements to the DuckDB-oracle gate.
  */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq("x").toDF("_").select(c.as("v")).collect()(0).get(0)

  test("tokens / subwordCount / tokenEstimate") {
    assert(one(T.tokens(lit("  The  quick  Fox "))) ==
      Seq("the", "quick", "fox"))
    assert(one(T.tokens(lit(""))) == Seq())
    // "don't stop2" → d|on|'|t + st|o|p|2 = 8 greedy subword pieces
    assert(one(T.subwordCount(T.tokens(lit("don't stop2")))) == 8L)
    assert(one(T.tokenEstimate(lit("abcdefgh"))) == 2L) // 8/4
    assert(one(T.tokenEstimate(lit("abcdefghi"))) == 3L) // ceil(9/4)
  }

  test("cjkRatio and langId branches") {
    assert(one(T.cjkRatio(lit("中文測試"))) == 1.0)
    assert(one(T.cjkRatio(lit("ab中文"))) == 0.5)
    assert(one(T.langId(lit("這是一段完全中文的句子"))) == "zh")
    assert(one(T.langId(lit("the cat and the dog of the house"))) == "en")
    assert(one(T.langId(lit("le chat et la maison de paris"))) == "fr")
    assert(one(T.langId(lit("zzz qqq xxx"))) == "und")
    // tie between en and fr resolves to priority order (en first)
    assert(one(T.langId(lit("the le"))) == "en")
  }

  test("qualityScore stays in [0,1] and orders sensibly") {
    val junk = one(T.qualityScore(lit("!!! ??? ,,, ;;;"))).asInstanceOf[Double]
    val prose = one(T.qualityScore(lit(
      "The quick brown fox jumps over the lazy dog and runs into the woods"
    ))).asInstanceOf[Double]
    assert(junk >= 0.0 && junk <= 1.0)
    assert(prose >= 0.0 && prose <= 1.0)
    assert(prose > junk)
  }

  test("fingerprints: order-sensitive poly, content md5") {
    val ab = one(T.polyFingerprint(T.tokens(lit("alpha beta"))))
    val ba = one(T.polyFingerprint(T.tokens(lit("beta alpha"))))
    assert(ab != ba) // position-sensitive
    assert(one(T.polyFingerprint(T.tokens(lit("")))) == 0L)
    assert(one(T.md5Fingerprint(lit(" Alpha  Beta "))) ==
      one(T.md5Fingerprint(lit("alpha beta")))) // normalized content hash
  }

  test("Portable: hash60 range/determinism, shingles, jaccard, cosine") {
    val h1 = one(Portable.hash60(lit("abc"), 0)).asInstanceOf[Long]
    val h2 = one(Portable.hash60(lit("abc"), 1)).asInstanceOf[Long]
    assert(h1 >= 0 && h1 < (1L << 60) && h1 != h2)
    assert(h1 == one(Portable.hash60(lit("abc"), 0)))
    assert(one(Portable.charShingles(lit("ABCa"), 3)) == Seq("abc", "bca"))
    assert(one(Portable.charShingles(lit("ab"), 3)) == Seq())
    assert(one(Portable.tokenShingles(T.tokens(lit("a b c")), 2)) ==
      Seq("a_b", "b_c"))
    assert(one(Portable.jaccard(array(lit("a"), lit("b")),
      array(lit("b"), lit("c")))) == 1.0 / 3.0)
    assert(one(Portable.jaccard(array().cast("array<string>"),
      array().cast("array<string>"))) == null)
    val cos = one(Portable.cosine(
      array(lit(1.0), lit(0.0)), array(lit(1.0), lit(1.0)))).asInstanceOf[Double]
    assert(math.abs(cos - 1.0 / math.sqrt(2)) < 1e-12)
    assert(one(Portable.cosine(
      array(lit(0.0), lit(0.0)), array(lit(1.0), lit(1.0)))) == null)
  }

  test("jaccard distinct-input contract: equals jaccardGeneral on distinct " +
    "arrays, diverges on duplicates") {
    // property sample: random DISTINCT arrays — the fast one-set-build
    // identity |∪| = |a|+|b|−|∩| must match the explicit array_union
    // formulation bit-exactly (the contract every shingle builder meets)
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 60).map { i =>
      def arr() = Seq.fill(rnd.nextInt(12))(s"s${rnd.nextInt(10)}").distinct
      (i, arr(), arr())
    }.toDF("i", "a", "b")
    val diff = pairs.select(
        Portable.jaccard(col("a"), col("b")).as("fast"),
        Portable.jaccardGeneral(col("a"), col("b")).as("gen"))
      .filter(not(col("fast") <=> col("gen")))
    assert(diff.count() == 0)
    // and the reason the contract exists: duplicates break the size
    // identity — [a,a] vs [a] are the same SET (jaccard 1.0) but the
    // fast variant's |a|+|b|−|∩| over-counts the union and reports 0.5
    assert(one(Portable.jaccard(array(lit("a"), lit("a")),
      array(lit("a")))) == 0.5)
    assert(one(Portable.jaccardGeneral(array(lit("a"), lit("a")),
      array(lit("a")))) == 1.0)
  }

  test("jaccardSorted ≡ jaccard on sorted distinct arrays (long and string), " +
    "null-element and empty edges") {
    // the r18 verify-stage kernel swap: IntersectCountSorted's merge
    // scan must reproduce array_intersect's count bit-exactly on every
    // input verifyJaccard can feed it — random distinct arrays, both
    // element types, including empties (null jaccard) and disjoint sets
    val rnd = new scala.util.Random(41)
    def sarr() = Seq.fill(rnd.nextInt(14))(s"s${rnd.nextInt(12)}").distinct
    val sp = (1 to 80).map(i => (i, sarr(), sarr())).toDF("i", "a", "b")
      .select(sort_array(col("a")).as("a"), sort_array(col("b")).as("b"))
    val sdiff = sp.select(
        Portable.jaccardSorted(col("a"), col("b")).as("fast"),
        Portable.jaccard(col("a"), col("b")).as("ref"))
      .filter(not(col("fast") <=> col("ref")))
    assert(sdiff.count() == 0)
    def larr() = Seq.fill(rnd.nextInt(14))(rnd.nextInt(12).toLong).distinct
    val lp = (1 to 80).map(i => (i, larr(), larr())).toDF("i", "a", "b")
      .select(sort_array(col("a")).as("a"), sort_array(col("b")).as("b"))
    val ldiff = lp.select(
        Portable.jaccardSorted(col("a"), col("b")).as("fast"),
        Portable.jaccard(col("a"), col("b")).as("ref"))
      .filter(not(col("fast") <=> col("ref")))
    assert(ldiff.count() == 0)
    // empty ∩ empty → null (union 0), same as jaccard
    assert(one(Portable.jaccardSorted(array().cast("array<string>"),
      array().cast("array<string>"))) == null)
    // null elements count as equal (array_intersect set semantics);
    // sort_array places them first — [null,a] ∩ [null,b] = {null}
    val withNull = Seq(1).toDF("i").select(
      Portable.jaccardSorted(
        sort_array(array(lit("a"), lit(null).cast("string"))),
        sort_array(array(lit("b"), lit(null).cast("string")))).as("v"),
      Portable.jaccard(
        array(lit(null).cast("string"), lit("a")),
        array(lit(null).cast("string"), lit("b"))).as("ref"))
      .collect()(0)
    assert(withNull.get(0) == withNull.get(1))
    // DUPLICATE elements are a CONTRACT VIOLATION (every shingle builder
    // emits distinct sets — list_distinct / .distinct), and the two
    // kernels diverge on them SILENTLY (r18 ADVICE #2, documented here
    // so a future builder regression surfaces loudly): the merge scan
    // counts min(multiplicity) matches — [a,a] ∩ [a,a] counts 2 —
    // while array_intersect counts each VALUE once — count 1. Neither
    // is "the" Jaccard of the multiset; the divergence is the tripwire.
    val dup = Seq(1).toDF("i").select(
      Portable.jaccardSorted(
        array(lit("a"), lit("a")), array(lit("a"), lit("a"))).as("sorted"),
      Portable.jaccard(
        array(lit("a"), lit("a")), array(lit("a"), lit("a"))).as("hash"))
      .collect()(0)
    assert(dup.getDouble(0) == 1.0,   // 2 / (2 + 2 - 2): min-multiplicity
      s"merge-scan kernel on duplicates changed: ${dup.getDouble(0)}")
    assert(dup.getDouble(1) == 1.0 / 3.0, // 1 / (2 + 2 - 1): value-once
      s"hash kernel on duplicates changed: ${dup.getDouble(1)}")
  }

  test("packChar3: injective codepoint packing, verify parity on packed arrays") {
    // full-codepoint fields, BMP and supplementary plane both: two
    // shingles sharing a UTF-16 high surrogate must still pack apart
    val tricky = Seq("abc", "abd", "bac", "aéz", "a中b", "😀ab", "😀ac",
      "😀😁a", "😁😀a", "zzz", "zz ", " zz")
    val packs = tricky.toDF("s")
      .select(Portable.packChar3(col("s")).as("p")).as[Long].collect()
    assert(packs.distinct.length == tricky.length,
      s"collision: ${tricky.zip(packs)}")
    // parity: jaccard over packed arrays == jaccard over the strings
    // (injectivity ⇒ identical intersection counts) — the t08 contract
    val rnd = new scala.util.Random(13)
    val docs = (1L to 30L).map { id =>
      (id, Seq.fill(20)(f"${('a' + rnd.nextInt(3)).toChar}${('a' + rnd.nextInt(3)).toChar}${('a' + rnd.nextInt(3)).toChar}").distinct)
    }.toDF("doc_id", "sh")
    val cand = docs.as("x").join(docs.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val onStrings = Dedup.verifyJaccard(docs, "doc_id", "sh", cand, 0.0)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val packed = docs.select(col("doc_id"),
      transform(col("sh"), Portable.packChar3(_)).as("sh"))
    val onPacked = Dedup.verifyJaccard(packed, "doc_id", "sh", cand, 0.0)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(onStrings == onPacked && onStrings.nonEmpty)
  }

  test("verifyJaccard length prefilter is invisible: output equals the " +
    "unfiltered join+jaccard+filter reference at every threshold") {
    // r19: verifyJaccard drops pairs whose best-achievable jaccard
    // (min size at full containment) fails round(·,6) >= threshold
    // BEFORE running the intersection kernel — this pin proves the
    // prefilter never changes the declared output. Sets of varied
    // sizes (3..20 over a 6-value universe) force heavy length
    // mismatch, so the prefilter actually fires; both element types.
    val rnd = new scala.util.Random(99)
    val rows = (1L to 40L).map { id =>
      val n = 3 + rnd.nextInt(18)
      (id, Seq.fill(n)(f"${('a' + rnd.nextInt(6)).toChar}x${('a' + rnd.nextInt(6)).toChar}").distinct)
    }
    // exact duplicates of two random docs guarantee survivors at 0.9
    val strings = (rows ++ Seq((41L, rows(4)._2), (42L, rows(17)._2)))
      .toDF("doc_id", "sh")
    // the packed-long leg runs the sorted merge-scan kernel, the string
    // leg the hash-set kernel (every shingle is 3 chars: packChar3-able)
    val packed = strings.select(col("doc_id"),
      transform(col("sh"), Portable.packChar3(_)).as("sh"))
    val cand = strings.as("x").join(strings.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    for (docs <- Seq(strings, packed); thr <- Seq(0.0, 0.3, 0.6, 0.9)) {
      val got = Dedup.verifyJaccard(docs, "doc_id", "sh", cand, thr)
        .orderBy("doc_a", "doc_b").collect().toSeq
      // unfiltered reference: the declared semantics, no prefilter
      val ref = cand
        .join(docs.select(col("doc_id").as("a"), col("sh").as("_ra")), Seq("a"))
        .join(docs.select(col("doc_id").as("b"), col("sh").as("_rb")), Seq("b"))
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          round(Portable.jaccard(col("_ra"), col("_rb")), 6).as("jaccard"))
        .filter(col("jaccard") >= thr)
        .orderBy("doc_a", "doc_b").collect().toSeq
      val leg = docs.schema("sh").dataType.simpleString
      assert(got == ref, s"prefilter changed output at threshold $thr on $leg")
      assert(ref.nonEmpty, s"degenerate fixture at threshold $thr on $leg")
    }
  }

  test("Dedup: LSH candidates find near-dups, verification filters them") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely unrelated text about spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
      .withColumn("sh", Portable.charShingles(col("text"), 5))
    val sig = Dedup.minhashSignatures(docs, "doc_id", "sh", 12)
    assert(sig.count() == 3 && sig.columns.length == 13)
    val cand = Dedup.bandCandidates(sig, "doc_id", numBands = 6,
      rowsPerBand = 2, maxBucket = 10)
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    val verified = Dedup.verifyJaccard(docs, "doc_id", "sh", cand, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified == Set((1L, 2L)))
  }

  test("Dedup: maxBucket cap drops pathologically hot buckets") {
    // 20 identical docs → every band bucket has 20 members
    val docs = (1L to 20L).map(i => (i, "same same same text"))
      .toDF("doc_id", "text")
      .withColumn("sh", Portable.charShingles(col("text"), 3))
    val sig = Dedup.minhashSignatures(docs, "doc_id", "sh", 8)
    val capped = Dedup.bandCandidates(sig, "doc_id", 4, 2, maxBucket = 5)
    assert(capped.count() == 0) // all buckets over the cap → no quadratic join
    val open = Dedup.bandCandidates(sig, "doc_id", 4, 2, maxBucket = 50)
    assert(open.count() == 20L * 19 / 2)
  }

  test("resolveClusters: min-label propagation finds component reps") {
    // components: {1,2,3,4} (chain), {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (2L, 4L))
      .toDF("a", "b")
    val out = Dedup.resolveClusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a long chain exercises multi-round convergence
    val chain = (1L to 20L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    val reps = Dedup.resolveClusters(chain).select("cluster_rep")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(reps == Seq(1L))
  }

  test("TopK: deterministic under ties, k bound per group") {
    val df = Seq(
      ("g1", "b", 1.0), ("g1", "a", 1.0), ("g1", "c", 2.0), ("g1", "d", 0.5),
      ("g2", "x", 9.0))
      .toDF("g", "id", "m")
    val top2 = TopK.topK(df, Seq(col("g")), col("m"), col("id"), 2)
      .orderBy("g", "rnk").collect()
    assert(top2.map(_.getString(1)).toSeq == Seq("c", "a", "x"))
    val bot2 = TopK.bottomK(df, Seq(col("g")), col("m"), col("id"), 2)
      .orderBy("g", "rnk").collect()
    assert(bot2.map(_.getString(1)).toSeq == Seq("d", "a", "x"))
  }

  test("redactPii scrubs emails, dash phones, IPv4s; counts pre-redaction") {
    val s = "mail a.b_c%x@ex-1.co.uk or 555-123-4567 at 10.0.0.1 end"
    assert(one(T.redactPii(lit(s))) ==
      "mail [EMAIL] or [PHONE] at [IP] end")
    assert(one(T.piiCount(lit(s), T.emailRe)) == 1L)
    assert(one(T.piiCount(lit(s), T.phoneRe)) == 1L)
    assert(one(T.piiCount(lit(s), T.ipv4Re)) == 1L)
    // non-matches stay put: spaced phone, 5-group dotted number's tail
    assert(one(T.redactPii(lit("call 555 123 4567"))) == "call 555 123 4567")
    // word boundaries: digits glued to letters aren't an IP
    assert(one(T.piiCount(lit("v1.2.3.4x"), T.ipv4Re)) == 0L)
  }

  test("tokenBigrams keeps multiplicity and order") {
    assert(one(T.tokenBigrams(T.tokens(lit("a b a b")))) ==
      Seq("a_b", "b_a", "a_b"))
    assert(one(T.tokenBigrams(T.tokens(lit("solo")))) == Seq())
    assert(one(T.tokenBigrams(T.tokens(lit("")))) == Seq())
  }

  test("resolveClusters: converges on chains, throws past the budget") {
    import spark.implicits._
    val chain = (1L to 6L).sliding(2).map(w => (w(0), w(1))).toSeq
    val resolved = graft.etl.Dedup.resolveClusters(chain.toDF("a", "b"))
      .orderBy("doc_id").collect()
    assert(resolved.forall(_.getLong(1) == 1L)) // one cluster, min rep
    // diameter 5 needs ~5 propagation rounds — budget 2 must refuse
    // loudly rather than return non-minimal reps
    assertThrows[IllegalStateException] {
      graft.etl.Dedup.resolveClusters(chain.toDF("a", "b"), maxIter = 2).collect()
    }
  }

  test("MediaDecode: real ImageIO pipeline decodes a planted PNG") {
    val px = Array.tabulate(24)(i => ((3 + i * 17) % 256).toByte)
    val png = MediaDecode.encodePngGray(6, 4, px)
    val df = MediaDecode.decodePipeline(spark,
      Seq((1L, png)).toDF("doc_id", "media"))
    val r = df.collect()(0)
    assert(r.getInt(1) == 6 && r.getInt(2) == 4 && r.getInt(3) == 24)
    val sum = px.map(_ & 0xff).map(_.toLong).sum
    assert(r.getDouble(4) == math.rint(sum / (24 * 255.0) * 1e6) / 1e6)
  }

  test("ppJoinPairs is EXACT: equals brute force on seeded random sets") {
    // 60 random sets over a small universe (forced overlaps), plus
    // handcrafted edge pairs: identical sets, a pair at exactly J = 0.8
    // (|A|=|B|=9, i=8 → 8/10), and one just below (7/9 ≈ 0.78)
    val rnd = new scala.util.Random(42)
    val universe = (0 until 40).map(i => s"w$i")
    val sets: Seq[(Long, Seq[String])] =
      (0L until 60L).map { id =>
        val n = 3 + rnd.nextInt(10)
        id -> rnd.shuffle(universe).take(n).sorted
      } ++ Seq(
        100L -> (0 until 9).map(i => s"e$i"),
        101L -> (0 until 9).map(i => s"e$i"),                  // J = 1
        102L -> ((0 until 8).map(i => s"e$i") :+ "e_x"),       // i=8, J=0.8
        103L -> ((0 until 7).map(i => s"e$i") :+ "e_y" :+ "e_z")) // i=7, J<0.8
    def brute: Set[(Long, Long, Long, Long)] = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      i = sa.toSet.intersect(sb.toSet).size.toLong
      u = sa.size + sb.size - i
      if 9 * i >= 4 * (sa.size + sb.size)
    } yield (ia, ib, i, u)).toSet
    val df = Dedup.ppJoinPairs(
      sets.toDF("id", "sh"), "id", "sh", num = 4, den = 5)
    val got = df.as[(Long, Long, Long, Long)].collect().toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    // the J=0.8 boundary pair is present, the 0.78 pair is not
    assert(got.exists(p => p._1 == 100L && p._2 == 102L))
    assert(!got.exists(p => (p._1, p._2) == (100L, 103L)))
  }

  test("ppJoinPairs canonicalizes input: duplicate elements and order don't matter") {
    // the contract is SET similarity: [a,a,b] means {a,b}, and [b,a]
    // must collapse-group with [a,b] — without normalization duplicates
    // double-count the intersection (inter_n > union_n, nonsense) and
    // permuted duplicates defeat the collapse
    val sets = Seq(
      1L -> Seq("a", "a", "b"),
      2L -> Seq("b", "a"),
      3L -> Seq("a", "b", "c", "c"))
    val got = Dedup.ppJoinPairs(
        sets.toDF("id", "sh"), "id", "sh", num = 3, den = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    // as sets: {a,b} vs {a,b} J=1; {a,b} vs {a,b,c} J=2/3 ≥ 3/5
    assert(got == Set((1L, 2L, 2L, 2L), (1L, 3L, 2L, 3L), (2L, 3L, 2L, 3L)),
      s"set semantics violated: $got")
  }
}
