package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** A word and its subword segmentation — [[Bpe.segmentWords]]'s row
  * type (top-level so its product Encoder resolves).
  */
case class WordSeg(w: String, seg: Seq[String])

/** Multi-round BPE training over a weighted word histogram (the t67
  * operator's core, factored out so BpePropertySpec can drive it over
  * arbitrary histograms against an in-memory reference implementation).
  *
  * Input: `(w, cnt)` — the distinct-word histogram, the ONLY
  * corpus-sized relation (Sennrich et al. 2016; SentencePiece). Each of
  * the `rounds` iterations counts adjacent symbol pairs weighted by
  * `cnt`, picks the (freq DESC, s1 ASC, s2 ASC) argmax via a top-1
  * TakeOrderedAndProject, and merges it everywhere before the next
  * round — the sequential dependency that makes BPE training iterative.
  *
  * Segmentations ride as space-delimited symbol strings with sentinel
  * spaces (" t h e "); words are whitespace-free by the tokenizer
  * contract, so a space can never occur inside a symbol. Merging is a
  * greedy left-to-right FOLD over the symbol array: append each symbol,
  * and when the last two equal (s1, s2) replace them with s1s2. This is
  * exactly BPE's scan-and-skip merge — [a,a,a,a] → [aa][aa] — and the
  * fold can never re-merge its own output as a left operand because the
  * merged symbol s1s2 is strictly longer than s1. (A plain
  * `replace(" s1 s2 " → " s1s2 ")` is WRONG here: consecutive
  * occurrences share their sentinel space, so string replace consumes
  * the separator the next match needs and [a,a,a,a] comes out
  * [aa,a,a] — caught by BpePropertySpec against the in-memory
  * reference.) Words reduced to one symbol stop contributing pairs.
  * Each round's segmentation is eagerly barriered (the pageRankMicro
  * lineage discipline); `policy` picks the barrier's placement
  * ([[CheckpointPolicy]] — Local default, Reliable for cluster runs
  * that must survive executor loss across a long merge schedule).
  *
  * Returns `(round, s1, s2, freq)` — one row per round that still had
  * a candidate pair (a dried-up corpus yields fewer than `rounds`
  * rows).
  */
object Bpe {

  def train(hist: DataFrame, rounds: Int,
            policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    // rounds = 0 would reach the empty out.reduce and throw an opaque
    // collection error; reject it at the API boundary instead
    require(rounds >= 1, s"BPE training needs at least 1 round, got $rounds")
    var seg = policy.barrier(hist.filter(length(col("w")) >= 2)
      .select(col("cnt"),
        concat(lit(" "),
          expr("array_join(transform(sequence(1, length(w)), " +
            "i -> substring(w, i, 1)), ' ')"),
          lit(" ")).as("seg")))
    val rows = Seq.newBuilder[(Int, String, String, Long)]
    var dried = false
    var r = 1
    while (r <= rounds && !dried) {
      val syms = seg
        .withColumn("sy",
          expr("slice(split(seg, ' '), 2, size(split(seg, ' ')) - 2)"))
        .filter(size(col("sy")) >= 2)
      val pairCounts = syms
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(element_at(sy, i) AS s1, element_at(sy, i + 1) AS s2))"))
          .as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum(col("cnt")).as("freq"))
      // The round's argmax is ONE ROW by construction (top-1
      // TakeOrderedAndProject) — collect it instead of barriering a
      // 1-row frame and broadcast-joining it into the merge plan (the
      // r18 change, guide §1.2): same one job per round, but the merge
      // fold now carries the pair as LITERALS (whole-stage codegen'd,
      // exactly [[segment]]'s fold shape), the dried-up check is a
      // local isEmpty instead of a scan, and the output schedule is a
      // local literal relation instead of `rounds` checkpointed 1-row
      // RDDs re-read by every consumer. A 1-row scalar collect is the
      // same driver boundary class as resolveClusters' convergence
      // count — never data-sized.
      val bestRows = pairCounts
        .orderBy(col("freq").desc, col("s1").asc, col("s2").asc)
        .limit(1).collect()
      // dried-up corpus (no adjacent pair left): stop the driver loop —
      // output semantics are unchanged (later rounds could only emit
      // empty frames) but a vocab-size target far past the corpus's
      // merge capacity no longer pays for dead rounds.
      if (bestRows.isEmpty) dried = true
      else {
        val s1 = bestRows(0).getString(0)
        val s2 = bestRows(0).getString(1)
        val freq = bestRows(0).getLong(2)
        seg = seg
          .withColumn("sy",
            expr("slice(split(seg, ' '), 2, size(split(seg, ' ')) - 2)"))
          .withColumn("sy2",
            aggregate(col("sy"), array().cast("array<string>"), (acc, x) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(s1) && x === lit(s2),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(s1 + s2))))
                .otherwise(concat(acc, array(x)))))
          .select(col("cnt"),
            concat(lit(" "), array_join(col("sy2"), " "), lit(" ")).as("seg"))
        seg = policy.barrier(seg)
        rows += ((r, s1, s2, freq))
      }
      r += 1
    }
    IterStats.record("bpe_train_rounds", r - 1)
    // the merge schedule is vocabulary-budget-sized (one row per round)
    // — a local literal relation, same shape the old per-round
    // checkpointed 1-row frames unioned to
    val session = hist.sparkSession
    import session.implicits._
    rows.result().toDF("round", "s1", "s2", "freq")
      .select(col("round"), col("s1"), col("s2"), col("freq"))
  }

  /** Driver-side BPE trainer over a COLLECTED word histogram — the
    * production tokenizer-build reality (SentencePiece, HF tokenizers):
    * the only corpus-sized stage of BPE training is the word-histogram
    * aggregation, which stays distributed in the caller; the trainer's
    * own state is VOCABULARY-sized (distinct words × their current
    * segmentations) and every real tokenizer trains it on one node. At
    * 30k merges a driver loop over an in-memory histogram runs in
    * seconds where the per-round distributed plan ([[train]]) would pay
    * 30k job-scheduling barriers for vocabulary-sized work — [[train]]
    * remains the right form when the histogram itself is too large to
    * collect (no practical text corpus is: web-scale word vocabularies
    * are ~10⁷–10⁸ rows, and the t65/t67 scale argument applies).
    *
    * Same semantics as [[train]], bit-exactly — argmax (freq DESC,
    * s1 ASC, s2 ASC in UNSIGNED UTF-8 BYTE order, matching Spark's
    * UTF8String binary ordering and DuckDB's default collation — a
    * UTF-16 code-unit compare would flip ties between supplementary-
    * plane symbols and BMP chars ≥ U+E000), greedy left-to-right
    * scan-and-skip merge, dried-corpus early stop. Duplicate histogram
    * words are summed first ([[train]] feeds every row into the pair-
    * count sum; a last-wins toMap would diverge on them). Pinned by
    * BpePropertySpec (trainLocal ≡ train round-for-round on arbitrary
    * histograms, including a supplementary-plane tie fixture);
    * exercised under the DuckDB oracle as t75's trainer.
    */
  def trainLocal(hist: Seq[(String, Long)],
                 rounds: Int): Seq[(Int, String, String, Long)] = {
    require(rounds >= 1, s"BPE training needs at least 1 round, got $rounds")
    hist.foreach { case (w, c) => requireCount(w, c) }
    // duplicate words contribute additively, exactly as train's sum
    val cnt: Map[String, Long] = hist.groupMapReduce(_._1)(_._2)(_ + _)
    // INCREMENTAL pair maintenance (r19, the HF-tokenizers/SentencePiece
    // trainer shape): the r18 form rebuilt the whole pair-count map AND
    // re-merged EVERY word every round — O(rounds × Σ|word symbols|),
    // the term that makes a 30k-merge × 10⁷-word production build
    // infeasible on one node. This form builds the counts once and then
    // touches, per round, ONLY the words that contain the merged pair
    // (found via an exact pair → words occurrence index): per round the
    // cost is one argmax scan of the pair map (the same scan the
    // rebuild form also paid) plus the touched words' re-segmentation —
    // O(merges × touched), not O(merges × V). Measured on a synthetic
    // 10⁵-word × 500-merge build: see OPTIMIZATION_r19.md.
    //
    // EXACTNESS: the maintained map is inductively identical to the
    // rebuilt one — delWord subtracts every adjacency of a touched
    // word's OLD segmentation, addWord adds every adjacency of its NEW
    // one, untouched words contribute unchanged counts, and entries at
    // zero are REMOVED (the rebuilt map simply lacks them, and a
    // zero-count pair must never win an argmax round). The argmax
    // comparator (freq DESC, s1 ASC, s2 ASC in unsigned UTF-8 byte
    // order) and the dried-corpus stop (empty pair map) are byte-for-
    // byte the r18 logic; BpePropertySpec pins trainLocal ≡ train
    // round-for-round on arbitrary histograms.
    val segs = collection.mutable.HashMap.empty[String, Array[String]]
    cnt.keysIterator.filter(_.length >= 2)
      .foreach(w => segs(w) = splitCodepoints(w))
    val pc = collection.mutable.HashMap.empty[(String, String), Long]
    val occ = collection.mutable
      .HashMap.empty[(String, String), collection.mutable.HashSet[String]]
    def addWord(w: String, s: Array[String]): Unit = {
      val c = cnt(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        pc.updateWith(p)(v => Some(v.getOrElse(0L) + c))
        occ.getOrElseUpdate(p, collection.mutable.HashSet.empty) += w
        i += 1
      }
    }
    def delWord(w: String, s: Array[String]): Unit = {
      val c = cnt(w)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        // .get fails loudly on a bookkeeping bug — the maintained map
        // missing a live adjacency means the ≡-rebuild induction broke
        pc.updateWith(p) { v =>
          val nv = v.get - c
          if (nv == 0L) None else Some(nv)
        }
        occ.get(p).foreach { set =>
          set -= w
          if (set.isEmpty) occ.remove(p)
        }
        i += 1
      }
    }
    segs.foreach { case (w, s) => addWord(w, s) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      if (pc.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        pc.foreach { e =>
          if (best == null) best = e
          else {
            val ((a, b), n) = e
            val ((ba, bb), bn) = best
            if (n > bn || (n == bn &&
                (utf8Lt(a, ba) || (a == ba && utf8Lt(b, bb))))) best = e
          }
        }
        val ((s1, s2), f) = best
        out += ((r, s1, s2, f))
        // snapshot: addWord/delWord mutate the occurrence index
        val touched = occ.get((s1, s2)).map(_.toArray)
          .getOrElse(Array.empty[String])
        for (w <- touched) {
          val s = segs(w)
          delWord(w, s)
          val ns = mergePair(s, s1, s2)
          segs(w) = ns
          addWord(w, ns)
        }
        r += 1
      }
    }
    IterStats.record("bpe_trainlocal_rounds", r - 1)
    out.result()
  }

  /** Last driver-safe word-histogram size for [[collectHistogram]]:
    * 2×10⁷ rows ≈ 2–3 GB of collected Rows (short word string + count)
    * — inside the harness driver heap with headroom, and past the
    * upper edge of real web-scale word vocabularies' useful-collect
    * range. A histogram larger than this belongs on the distributed
    * [[trainToVocab]] / [[train]] path, which never collects it.
    */
  val histLocalMaxRows: Long = 20000000L

  /** THE boundary between the distributed corpus and the driver-side
    * [[trainLocal]] trainer: collect a `(word, count)` histogram frame
    * with the bound ENFORCED, not trusted (r17 VERDICT #2 — the
    * [[graft.etl.Dedup.verifyJaccard]] `probeBounded` treatment for the
    * BPE stack). The collect itself is capped — `limit(bound+1)` caps
    * the rows that ever leave the executors, so an over-bound corpus
    * costs one aborted batch, never an OOM'd driver — and the failure
    * points the caller at the distributed trainer. "Vocabulary-sized"
    * was previously a comment at three call sites; this helper is that
    * comment made executable, and the only sanctioned way to hand a
    * histogram to [[trainLocal]]/[[trainLocalToVocab]].
    *
    * `hist` needs columns (`w` string, `cnt` long) — the shape the
    * t75/t79/t80 aggregations produce.
    */
  def collectHistogram(
      hist: DataFrame,
      maxRows: Long = histLocalMaxRows): Seq[(String, Long)] = {
    require(maxRows >= 1, s"maxRows must be >= 1, got $maxRows")
    val capped = math.min(maxRows, Int.MaxValue - 8L).toInt
    val rows = hist.select(col("w"), col("cnt"))
      .limit(capped + 1).collect()
    require(rows.length <= capped,
      s"word histogram exceeds $capped rows — it is NOT driver-sized, " +
        "and trainLocal's vocabulary-sized contract is violated. Train " +
        "distributed instead (Bpe.trainToVocab / Bpe.train keep the " +
        "histogram on the cluster), or pre-cap the vocabulary " +
        "(frequency floor / top-k) before collecting.")
    rows.map { r =>
      val w = r.getString(0)
      require(!r.isNullAt(1), s"word histogram count for '$w' is null")
      requireCount(w, r.getLong(1))
      (w, r.getLong(1))
    }.toSeq
  }

  /** Histogram counts must be positive: a zero or negative count breaks
    * [[trainLocal]]'s zero-removal invariant on the maintained pair map
    * and would surface rounds later as an opaque NoSuchElementException.
    */
  private def requireCount(w: String, c: Long): Unit =
    require(c > 0, s"word histogram count for '$w' must be > 0, got $c")

  /** Unsigned UTF-8 byte comparison — Spark's UTF8String binary order
    * and DuckDB's default VARCHAR collation, which Java's String
    * compareTo (UTF-16 code units) disagrees with for supplementary-
    * plane vs BMP-≥-U+E000 characters.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val xi = x(i) & 0xff
      val yi = y(i) & 0xff
      if (xi != yi) return xi < yi
      i += 1
    }
    x.length < y.length
  }

  /** Greedy left-to-right scan-and-skip merge of (s1, s2) over a symbol
    * sequence — the single merge semantics every BPE surface here shares
    * ([[train]]'s fold expression, [[segment]]'s plan fold, the
    * [[segmentWords]] kernel, [[trainLocal]]).
    */
  private def mergePair(s: Array[String], s1: String, s2: String): Array[String] = {
    val b = Array.newBuilder[String]
    var last: String = null
    var i = 0
    while (i < s.length) {
      if (last != null && last == s1 && s(i) == s2) {
        last = s1 + s2
      } else {
        if (last != null) b += last
        last = s(i)
      }
      i += 1
    }
    if (last != null) b += last
    b.result()
  }

  /** Codepoint split — mirrors the plan-side
    * `transform(sequence(1, length(w)), i -> substring(w, i, 1))`
    * (Spark's length/substring count codepoints).
    */
  private def splitCodepoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** The APPLY half of the tokenizer (train/apply asymmetry — e19's
    * build/probe contract for subword vocabularies): segment a word
    * column with an ORDERED merge list, replaying each merge as the
    * same greedy left-to-right fold [[train]] uses, so a word present
    * in the training histogram segments EXACTLY as round R left it and
    * an unseen word segments the way the trained tokenizer would.
    *
    * The merge list rides in the PLAN as literals — right for a
    * 10-merge table (zero per-row interpretation cost, whole-stage
    * codegen), structurally wrong at a production vocabulary's 30k
    * merges (a 30k-deep fold of aggregate() expressions is not a
    * plan). That regime is [[segmentWords]]: broadcast merge table +
    * mapPartitions kernel, property-pinned equal to this fold wherever
    * both run. Callers of either should segment the DISTINCT word
    * table and join back (vocabulary-sized work, the t65/t67 scale
    * argument), not call this per token occurrence.
    */
  def segment(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))) {
      case (seg, (s1, s2)) =>
        aggregate(seg, array().cast("array<string>"), (acc, x) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === lit(s1) && x === lit(s2),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(s1 + s2))))
            .otherwise(concat(acc, array(x))))
    }

  /** Ordered-replay segmentation of ONE word against a rank table —
    * the per-row kernel of [[segmentWords]], equivalent to replaying
    * every merge in schedule order as a [[mergePair]] scan but costing
    * O(len² ) rank lookups instead of O(merges × len):
    *
    * keep a rank CURSOR c (initially 0). Each step scans the word's
    * adjacent pairs for the minimal merge rank ≥ c present; if none,
    * stop; else apply that merge (full scan-and-skip) and advance c
    * past it. This simulates the ordered replay exactly — for every
    * rank q in [c, r*) the pair is absent from the current state, so
    * replay's step q is a no-op there too — and never revisits a rank,
    * which matters when a later merge RECREATES an earlier merge's
    * pair (possible only via symbol-string collisions: (a,bc) and
    * (ab,c) both yield "abc"); replay ignores it, and so does the
    * cursor. NOT the HuggingFace min-rank priority loop, which WOULD
    * revisit and diverge from [[segment]] in exactly that edge case.
    *
    * `rank` maps a pair to its ascending schedule positions (a pair
    * can appear twice in a schedule via the same collision mechanism).
    */
  private[graft] def segmentWordLocal(
      w: String, rank: collection.Map[(String, String), Array[Int]]): Array[String] = {
    var s = splitCodepoints(w)
    var cursor = 0
    var done = false
    while (!done && s.length >= 2) {
      var bestRank = Int.MaxValue
      var b1: String = null
      var b2: String = null
      var i = 0
      while (i < s.length - 1) {
        rank.get((s(i), s(i + 1))) match {
          case Some(rs) =>
            // smallest schedule position >= cursor (rs is ascending,
            // almost always length 1)
            var j = 0
            while (j < rs.length && rs(j) < cursor) j += 1
            if (j < rs.length && rs(j) < bestRank) {
              bestRank = rs(j); b1 = s(i); b2 = s(i + 1)
            }
          case None => ()
        }
        i += 1
      }
      if (b1 == null) done = true
      else {
        s = mergePair(s, b1, b2)
        cursor = bestRank + 1
      }
    }
    s
  }

  /** The production-vocabulary APPLY kernel: segment a word column
    * with an ordered merge table of ANY size — the regime where
    * [[segment]]'s fold-the-merges-into-the-plan form stops being a
    * plan (a real tokenizer has ~30k merges). The merge table is
    * BROADCAST once per executor (a 30k-row merge list is a few
    * hundred KB); each partition builds the pair→ranks lookup once and
    * runs the [[segmentWordLocal]] cursor replay per word — pure map
    * parallelism, no shuffle, linear in rows at any scale (the
    * MediaDecode batching shape). Callers segment the DISTINCT word
    * table and join back (vocabulary-sized work, the t65/t67 scale
    * argument).
    *
    * Semantics are IDENTICAL to [[segment]] — BpePropertySpec pins
    * kernel ≡ fold for every vocab-size prefix of a trained schedule,
    * on trained and unseen words — and t75 runs it under the DuckDB
    * oracle at a 100-merge schedule.
    *
    * BROADCAST LIFETIME: the merge-table broadcast is captured by the
    * returned DataFrame's plan and is NOT explicitly destroyed here —
    * destroying it after this call would break the (lazy) consumer.
    * Spark's ContextCleaner reference-tracks broadcasts, so each one
    * is unpersisted asynchronously once the returned frame (and any
    * plan derived from it) becomes unreachable on the driver; a
    * long-lived session that calls this repeatedly while HOLDING the
    * results (e.g. a prefix sweep keeping every frame) accumulates one
    * executor-side block per live frame — drop the references (or
    * `broadcast.destroy()` via your own lifecycle) when done.
    *
    * Returns `(wordCol, outCol)` — the input word column and its
    * segmentation as array<string>.
    */
  def segmentWords(words: DataFrame, merges: Seq[(String, String)],
                   wordCol: String = "w", outCol: String = "seg"): DataFrame = {
    val session = words.sparkSession
    val bc = session.sparkContext.broadcast(merges.toArray)
    val segged = words.select(col(wordCol)).as(Encoders.STRING)
      .mapPartitions { it =>
        val ms = bc.value
        val rank = collection.mutable.HashMap.empty[(String, String), Array[Int]]
        var i = 0
        while (i < ms.length) {
          val p = ms(i)
          rank.updateWith(p) {
            case Some(a) => Some(a :+ i) // ascending by construction
            case None    => Some(Array(i))
          }
          i += 1
        }
        it.map(w => WordSeg(w, segmentWordLocal(w, rank).toSeq))
      }(Encoders.product[WordSeg])
    segged.toDF(wordCol, outCol)
  }

  /** Run merges to a VOCABULARY-SIZE target — the stop condition a real
    * tokenizer build uses (SentencePiece/HF `vocab_size`): the final
    * vocabulary is the distinct initial symbols (single characters of
    * the histogram words) plus ONE new symbol per completed merge, so
    * the merge budget is `vocabSize − |base alphabet|`. One tiny
    * driver-side scalar (a distinct-count over the character explode —
    * alphabet-sized, not corpus-sized) picks the round count; training
    * stops early if the corpus dries up first, in which case the
    * achievable vocabulary is smaller than the target (the returned
    * merge table's row count says by how much).
    *
    * CAVEAT (symbol collisions): the budget assumes each merge adds ONE
    * new vocabulary symbol, but two different merges can produce the
    * SAME symbol string — (a, bc) and (ab, c) both yield "abc" — so the
    * achieved distinct-symbol vocabulary can fall short of `vocabSize`
    * even when the corpus does not dry up. The returned merge table
    * exposes the shortfall: distinct `concat(s1, s2)` over its rows is
    * the real added-symbol count. Collisions are rare on natural text
    * (both parenthesizations of one string must independently win an
    * argmax round); callers that need the target hit exactly should
    * re-invoke with the shortfall added to `vocabSize`.
    */
  def trainToVocab(hist: DataFrame, vocabSize: Int,
                   policy: CheckpointPolicy = CheckpointPolicy.Local): DataFrame = {
    val base = hist
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("c"))
      .distinct().count()
    require(vocabSize > base,
      s"vocabSize $vocabSize must exceed the base alphabet ($base symbols)")
    train(hist, (vocabSize - base).toInt, policy)
  }

  /** [[trainToVocab]] on the [[trainLocal]] path — the same
    * vocab-size stop condition (merge budget = vocabSize − |base
    * alphabet|, codepoint-counted like the distributed explode) for
    * the collected-histogram trainer a production 30k-vocab build
    * uses. Pinned ≡ [[trainToVocab]] by BpePropertySpec; the same
    * symbol-collision shortfall caveat applies.
    */
  def trainLocalToVocab(hist: Seq[(String, Long)],
                        vocabSize: Int): Seq[(Int, String, String, Long)] = {
    val base = baseAlphabetLocal(hist)
    require(vocabSize > base,
      s"vocabSize $vocabSize must exceed the base alphabet ($base symbols)")
    trainLocal(hist, vocabSize - base)
  }

  /** Distinct initial symbols (codepoints) of the histogram words — the
    * base-alphabet term of the vocab-size budget (vocabSize =
    * |alphabet| + merges). Public so callers sweeping merge BUDGETS can
    * report the corresponding vocabulary targets (t80's tokenizer
    * selection curve) with the same codepoint counting the trainers use.
    */
  def baseAlphabetLocal(hist: Seq[(String, Long)]): Int =
    hist.iterator.flatMap(w => splitCodepoints(w._1)).toSet.size
}
