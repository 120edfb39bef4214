package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Multimodal, RobustStats, Sampling, Similarity}

/** Dedup / similarity / text / multimodal operators, validated against exact
  * oracles computed in-process (brute force) on small data.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "sphinx of black quartz judge my vow"),
    (5L, "completely different text about spark and scala engines")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per normalized text") {
    val kept = Dedup.dropExactDuplicates(docs).select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 4L, 5L))
  }

  test("minhash LSH finds the same near-dup pairs as brute force") {
    val brute = Dedup.bruteForceJaccardPairs(docs, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDuplicates(docs, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(brute.contains((0L, 3L)), "exact dup pair must be found")
    assert(brute.contains((0L, 1L)), "near dup pair must be found")
    // LSH verifies candidates with exact jaccard → no false positives;
    // with 128 hashes / 32 bands at j>=0.5, recall here must be total
    assert(lsh == brute)
  }

  /** Force each of the three exact ngramJaccardPairs plans via its dispatch
    * knobs: (maxDenseJoinRows, directDensityFactor). */
  private val ngramPlans = Seq(
    ("count", 5e8, Double.PositiveInfinity),
    ("prefix", 0.0, Double.PositiveInfinity),
    ("direct", 5e8, 0.0))

  test("prefix-filtered ngram jaccard equals brute force (exact, with scores)") {
    // brute-force word-bigram jaccard, computed independently of the operator
    def bigrams(text: String): Set[String] = {
      val w = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
      if (w.length < 2) Set.empty else w.sliding(2).map(_.mkString(" ")).toSet
    }
    val local = docs.as[(Long, String)].collect()
    val brute = (for {
      (ia, ta) <- local; (ib, tb) <- local if ia < ib
      (ga, gb) = (bigrams(ta), bigrams(tb)) if ga.nonEmpty && gb.nonEmpty
      j = ga.intersect(gb).size.toDouble / ga.union(gb).size if j >= 0.5
    } yield (ia, ib, math.round(j * 10000) / 10000.0)).toSet
    assert(brute.exists(p => p._1 == 0L && p._2 == 3L), "exact dup pair expected in fixture")
    // both exact plans (count-based dense, prefix-filtered AllPairs) must
    // agree with brute force INCLUDING scores — force each via the Σdf² knob
    for ((plan, denseLimit, densityFactor) <- ngramPlans) {
      val got = Dedup.ngramJaccardPairs(docs, threshold = 0.5, n = 2,
          maxDenseJoinRows = denseLimit, directDensityFactor = densityFactor)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got == brute, s"plan $plan must be exact; got $got vs $brute")
    }
  }

  test("ngram jaccard: degenerate docs (empty, one-word) never pair, never crash") {
    val weird = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "word"), (4L, "   "), (5L, "word")
    ).toDF("doc_id", "text")
    for ((plan, denseLimit, densityFactor) <- ngramPlans) {
      val got = Dedup.ngramJaccardPairs(weird, threshold = 0.5, n = 2,
          maxDenseJoinRows = denseLimit, directDensityFactor = densityFactor)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      // docs with <2 words have no bigram set: J is undefined, so they are
      // excluded — including the identical one-word docs 3 and 5
      assert(got == Set((0L, 1L)), s"plan $plan: only the real pair may surface; got $got")
    }
  }

  test("ngram jaccard: corpus with NO n-grams at all returns empty, no NPE") {
    // every doc < n words → zero gram rows → the Σdf² statistic aggregates
    // over an empty frame (NULL sum); regression for the coalesce guard
    val allShort = Seq((0L, "word"), (1L, ""), (2L, "x")).toDF("doc_id", "text")
    for ((plan, denseLimit, densityFactor) <- ngramPlans) {
      val got = Dedup.ngramJaccardPairs(allShort, threshold = 0.5, n = 2,
          maxDenseJoinRows = denseLimit, directDensityFactor = densityFactor)
      assert(got.count() == 0, s"plan $plan: all-short corpus must yield no pairs")
    }
  }

  test("ngram jaccard: pair at exactly J = t survives double-arithmetic boundaries") {
    // B's 8 bigrams are a subset of A's 10 → J = 8/10 = exactly the 0.8
    // threshold; both plans must keep a pair sitting right on the gate.
    val subset = Seq(
      (0L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 x y"),
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9")
    ).toDF("doc_id", "text")
    for ((plan, denseLimit, densityFactor) <- ngramPlans) {
      val got = Dedup.ngramJaccardPairs(subset, threshold = 0.8, n = 2,
          maxDenseJoinRows = denseLimit, directDensityFactor = densityFactor)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got == Set((0L, 1L, 0.8)),
        s"boundary pair must survive (plan $plan); got $got")
    }
    // Adversarial float case: t = 1/91 with |A| = 273 grams makes t·sz in
    // doubles land ABOVE the rational product (3.0000000000000004), so an
    // unguarded size filter / prefix ceil drops this exactly-on-boundary
    // pair (B ⊂ A, J = 3/273 = 1/91). Regression for the −1e-9 guards.
    val big = (0 to 273).map(i => s"w$i").mkString(" ")
    val sub = (0 to 3).map(i => s"w$i").mkString(" ")
    val adversarial = Seq((0L, big), (1L, sub)).toDF("doc_id", "text")
    for ((plan, denseLimit, densityFactor) <- ngramPlans) {
      val got = Dedup.ngramJaccardPairs(adversarial, threshold = 1.0 / 91, n = 2,
          maxDenseJoinRows = denseLimit, directDensityFactor = densityFactor)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == Set((0L, 1L)),
        s"float-boundary pair must survive (plan $plan); got $got")
    }
  }

  // --- directed containment (asymmetric near-dup) --------------------------

  private def bruteContainment(rows: Seq[(Long, String)], t: Double,
                               n: Int): Set[(Long, Long, Double)] = {
    def grams(text: String): Set[String] = {
      val w = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
      if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
    }
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia != ib
      (ga, gb) = (grams(ta), grams(tb)) if ga.nonEmpty && gb.nonEmpty
      c = ga.intersect(gb).size.toDouble / ga.size if c >= t
    } yield (ia, ib, math.round(c * 10000) / 10000.0)).toSet
  }

  test("containment pairs equal brute force on both lanes, including scores") {
    val local = docs.as[(Long, String)].collect().toSeq
    val brute = bruteContainment(local, 0.5, 2)
    assert(brute.nonEmpty, "fixture must contain contained pairs")
    for ((plan, denseLimit) <- Seq(("count", 5e8), ("prefix", 0.0))) {
      val got = Dedup.containmentPairs(docs, threshold = 0.5, n = 2,
          maxDenseJoinRows = denseLimit)
        .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size, s"plan $plan emitted duplicate pairs")
      assert(got.toSet == brute, s"plan $plan must be exact; got ${got.toSet} vs $brute")
    }
  }

  test("containment finds subset docs jaccard misses; boundary C = t survives") {
    // quote ⊂ host with |host| ≫ |quote|: C(quote→host) = 1, J ≈ 4/65 —
    // the asymmetric pair class this operator exists for
    val quote = "alpha beta gamma delta epsilon"
    val host = quote + " " + (1 to 60).map(i => s"f$i").mkString(" ")
    val df = Seq((0L, quote), (1L, host)).toDF("doc_id", "text")
    for (denseLimit <- Seq(5e8, 0.0)) {
      val c = Dedup.containmentPairs(df, threshold = 0.9, n = 2,
          maxDenseJoinRows = denseLimit)
        .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)].collect().toSet
      assert(c == Set((0L, 1L, 1.0)), s"subset doc must be contained; got $c")
    }
    assert(Dedup.ngramJaccardPairs(df, threshold = 0.9, n = 2).count() == 0L,
      "jaccard must miss the asymmetric pair")
    // exact C = t boundary (8 of A's 10 bigrams shared) must survive on
    // both lanes, in both directions
    val boundary = Seq(
      (0L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 x y"),
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    for (denseLimit <- Seq(5e8, 0.0)) {
      val got = Dedup.containmentPairs(boundary, threshold = 0.8, n = 2,
          maxDenseJoinRows = denseLimit)
        .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)].collect().toSet
      assert(got == Set((0L, 1L, 0.8), (1L, 0L, 1.0)), s"boundary pairs; got $got")
    }
    // adversarial rational boundary (t·sz overshoots in doubles): C(big→sub)
    // = 3/273 = exactly 1/91 — regression for the −1e-9 ceil/size guards
    val big = (0 to 273).map(i => s"w$i").mkString(" ")
    val sub = (0 to 3).map(i => s"w$i").mkString(" ")
    val adv = Seq((0L, big), (1L, sub)).toDF("doc_id", "text")
    for (denseLimit <- Seq(5e8, 0.0)) {
      val got = Dedup.containmentPairs(adv, threshold = 1.0 / 91, n = 2,
          maxDenseJoinRows = denseLimit)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == Set((0L, 1L), (1L, 0L)), s"float-boundary pairs; got $got")
    }
  }

  test("containment: degenerate docs never pair, empty corpus never crashes") {
    val weird = Seq((0L, "a b c d"), (1L, "a b c d"), (2L, ""), (3L, "x"))
      .toDF("doc_id", "text")
    for (denseLimit <- Seq(5e8, 0.0)) {
      val got = Dedup.containmentPairs(weird, threshold = 0.5, n = 2,
          maxDenseJoinRows = denseLimit)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got == Set((0L, 1L), (1L, 0L)), s"got $got")
      assert(Dedup.containmentPairs(
        Seq((0L, "x"), (1L, "")).toDF("doc_id", "text"),
        threshold = 0.5, n = 2, maxDenseJoinRows = denseLimit).count() == 0L)
    }
  }

  test("hot-bucket salting: salted band join is multiset-identical to the plain join") {
    // one bucket holds a flood (every doc shares it), another is cold;
    // cap=4 forces the salt to engage on the flood bucket only
    val flood = (0L until 40L).map(i => (0, 7L, i)) ++ Seq((0, 99L, 100L), (0, 99L, 101L))
    val idx = flood.toDF("band", "bucket", "doc_id")
    val l = idx.select($"band", $"bucket", $"doc_id".as("id_a"))
    val r = idx.select($"band", $"bucket", $"doc_id".as("id_b"))
    val plain = l.join(r, Seq("band", "bucket"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val salted = Dedup.saltedBandJoin(l, r, "id_a", salt = 4, cap = 4L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(salted == plain, "salted join must preserve the exact pair multiset")
    // and the fixture genuinely engages the hot path
    assert(flood.groupBy(x => (x._1, x._2)).exists(_._2.size > 4))

    // asymmetric case: a hot bucket on the RIGHT only (a few new docs
    // probing a huge historical bucket) — salting orientation flips to
    // salt-right/replicate-left; multiset must still be identical
    val tinyLeft = Seq((0, 7L, 500L), (0, 7L, 501L), (0, 99L, 502L))
      .toDF("band", "bucket", "id_new")
    val bigRight = ((0L until 40L).map(i => (0, 7L, i)) :+ ((0, 99L, 100L)))
      .toDF("band", "bucket", "id_old")
    val plainAsym = tinyLeft.join(bigRight, Seq("band", "bucket"))
      .select($"id_new", $"id_old").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val rightHot = Dedup.hotBuckets(bigRight, cap = 4L)
    assert(!rightHot.isEmpty, "fixture must have a right-hot bucket")
    val saltedAsym = Dedup.saltedBandJoin(tinyLeft, bigRight, "id_new",
        salt = 4, cap = 4L, rightIdCol = Some("id_old"),
        rightHotOpt = Some(rightHot))
      .select($"id_new", $"id_old").as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(saltedAsym == plainAsym,
      "right-hot salted join must preserve the exact pair multiset")
  }

  test("template-flood probe: both probe lanes equal brute force on new docs") {
    // adversarial single-template corpus: 100 identical docs (every band
    // bucket is hot) + distinct tails. The default budgets take the
    // BROADCAST lane (batch index broadcast, no salt machinery); a zero
    // index-broadcast budget forces the salted shuffle fallback (cap 8 so
    // salting engages on BOTH the vs-corpus and the vs-self join) AND the
    // semi-join prune fallback. Both lanes must equal brute force.
    val template = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = ((0L until 100L).map(i => (i, template)) ++
      Seq((200L, "one fully distinct document body with its own words"),
          (201L, "another unrelated text that matches nothing else here")))
      .toDF("doc_id", "text")
    val newDocs = docs.filter($"doc_id" % 5 === 0)
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val index = Dedup.lshIndex(corpus)
    val bcastLane = Dedup.incrementalNearDuplicates(newDocs, corpus, index,
        threshold = 0.5, skewSalt = 4, skewCap = 8L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val saltedLane = Dedup.incrementalNearDuplicates(newDocs, corpus, index,
        threshold = 0.5, skewSalt = 4, skewCap = 8L,
        maxIndexBroadcastBytes = 0L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val brute = Dedup.bruteForceJaccardPairs(docs, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    assert(bcastLane == brute,
      s"broadcast lane: missing=${brute -- bcastLane} extra=${bcastLane -- brute}")
    assert(saltedLane == brute,
      s"salted fallback lane: missing=${brute -- saltedLane} extra=${saltedLane -- brute}")
  }

  test("ngram direct branch: over-budget broadcast falls back to posting plan, same result") {
    // every doc shares the same 4 bigrams (df ≈ n per gram → Σdf² ≈ G·n²),
    // so the density dispatch picks the DIRECT broadcast nested-loop branch
    // under the default byte budget...
    val dense = (0L until 12L).map { i =>
      (i, "alpha beta gamma delta " + (if (i % 2 == 0) "epsilon" else "zeta"))
    }.toDF("doc_id", "text")
    val direct = Dedup.ngramJaccardPairs(dense, threshold = 0.5, n = 2)
    assert(direct.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "fixture must engage the direct branch under the default budget")
    // ...and with a 1-byte budget the branch must be refused: no BNLJ
    // anywhere in the plan, identical pairs from the count-based fallback
    val guarded = Dedup.ngramJaccardPairs(dense, threshold = 0.5, n = 2,
      maxDirectBroadcastBytes = 1L)
    assert(!guarded.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "over-budget corpus must not plan a broadcast nested-loop join")
    val a = direct.select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val b = guarded.select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty, s"fallback must be result-identical: $a vs $b")
  }

  test("editdist direct lane: over-budget key table forces the prefix plan, same result") {
    val rnd = new scala.util.Random(11)
    // tiny alphabet → dense gram universe → the dispatch picks DIRECT
    val keys = (0L until 40L).map(i =>
      (i, (0 until 12).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)).toDF("doc_id", "key")
    val direct = Dedup.editDistancePairs(keys, maxDist = 1)
    assert(!direct.queryExecution.executedPlan.toString.contains("collect_list"),
      "fixture must engage the direct banded lane (no prefix collect_list) under the default budget")
    val guarded = Dedup.editDistancePairs(keys, maxDist = 1,
      maxDirectKeyBytes = 1L)
    assert(guarded.queryExecution.executedPlan.toString.contains("collect_list"),
      "over-budget key table must route through the prefix plan")
    val a = direct.select($"id_a", $"id_b", $"dist").as[(Long, Long, Long)].collect().toSet
    val b = guarded.select($"id_a", $"id_b", $"dist").as[(Long, Long, Long)].collect().toSet
    assert(a == b, s"fallback must be result-identical: missing=${a -- b} extra=${b -- a}")
  }

  test("edit-distance pairs equal brute-force thresholded levenshtein (exact, with distances)") {
    // fixture stresses every routing path: exact dups, typo pairs, short
    // strings (no real q-grams), a degenerate-repetitive long string whose
    // distinct-gram count voids the prefix lemma, empty strings, and a
    // seeded random tail with planted perturbations
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    val base = (0 until 30).map(i => (100L + i, randStr(20 + rnd.nextInt(30))))
    val perturbed = base.take(8).map { case (id, s) =>
      val i = rnd.nextInt(s.length)
      (id + 1000L, s.substring(0, i) + ('a' + rnd.nextInt(6)).toChar + s.substring(math.min(i + 1, s.length)))
    }
    val fixture = Seq(
      (0L, "the quick brown fox"), (1L, "the quick brown fax"), // dist 1
      (2L, "the quick brown fox"),                              // exact dup of 0
      (3L, "ab"), (4L, "ba"), (5L, "b"),                        // short zone
      (6L, "ababababababababababababab"),                      // repetitive: 2 distinct grams
      (7L, "babababababababababababab"),                       // dist 2 from 6 (del front, add back)
      (8L, ""), (9L, "x")
    ) ++ base ++ perturbed
    val df = fixture.toDF("doc_id", "key")
    for (k <- Seq(0, 1, 2, 3)) {
      val brute = (for {
        (ia, sa) <- fixture; (ib, sb) <- fixture if ia < ib
        d = lev(sa, sb) if d <= k
      } yield (ia, ib, d.toLong)).toSet
      // force BOTH exact plans via the dispatch knob: 0 → prefix-filtered
      // (with its lemma-void fallback lane), +∞ → direct banded
      for (factor <- Seq(0.0, Double.PositiveInfinity)) {
        val got = Dedup.editDistancePairs(df, maxDist = k,
            directJoinFactor = factor)
          .select($"id_a", $"id_b", $"dist").as[(Long, Long, Long)].collect().toSet
        assert(got == brute, s"k=$k factor=$factor: got ${got.size} pairs vs " +
          s"brute ${brute.size}: missing=${brute -- got} extra=${got -- brute}")
      }
    }
  }

  test("minhash pairs are per-pair deterministic: standalone slice == filtered full list") {
    // the warmed ingest artifacts (hist assignments, new-batch probe pairs)
    // rest on this: LSH candidacy, the estimate prune, and exact verify are
    // all per-PAIR decisions, so running the pipeline on a SLICE of the
    // corpus yields exactly the full list restricted to that slice
    val slice = docs.filter($"doc_id" % 5 =!= 0)
    val fromFull = Dedup.minhashNearDuplicates(docs, threshold = 0.5)
      .filter($"id_a" % 5 =!= 0 && $"id_b" % 5 =!= 0)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val standalone = Dedup.minhashNearDuplicates(slice, threshold = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(standalone == fromFull,
      s"missing=${fromFull -- standalone} extra=${standalone -- fromFull}")
  }

  test("incremental cluster update equals clustering the cumulative graph from scratch") {
    // edges: chain 1-2-3; pair 4-5; singleton 9 appears via a self-contained
    // old component; new batch merges the chain with 4-5 (bridge 3-4), adds
    // a brand-new pair 7-8, and touches 9 into the big component
    val oldPairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (9L, 10L)).toDF("id_a", "id_b")
    val newPairs = Seq((3L, 4L), (7L, 8L), (9L, 1L)).toDF("id_a", "id_b")
    val all = oldPairs.unionByName(newPairs)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"cluster_id").as[(Long, Long)].collect().toMap
    val fromScratch = asMap(Dedup.clusterNearDuplicates(all))
    val incremental = asMap(
      Dedup.updateClusters(Dedup.clusterNearDuplicates(oldPairs), newPairs))
    assert(incremental == fromScratch,
      s"incremental $incremental != scratch $fromScratch")
    // an untouched old component must survive the update unchanged
    val untouched = asMap(Dedup.updateClusters(
      Dedup.clusterNearDuplicates(oldPairs), Seq((7L, 8L)).toDF("id_a", "id_b")))
    assert(untouched(4L) == 4L && untouched(5L) == 4L && untouched(9L) == 9L)
  }

  test("leakage-free split: every near-dup cluster lands wholly in one split") {
    // chain 10-11-12 is one component; 20-21 another; 0..5 singletons
    val ids = ((0L to 5L) ++ Seq(10L, 11L, 12L, 20L, 21L)).map(i => Tuple1(i))
    val docsDf = ids.toDF("doc_id")
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    for (pct <- Seq(0, 10, 50, 100)) {
      val out = Dedup.leakageFreeSplit(docsDf, pairs, testPct = pct)
        .select($"doc_id", $"cluster_id", $"split").as[(Long, Long, String)].collect()
      assert(out.length == ids.length, "every input doc must get a split")
      // constant split (and canonical cluster id) within each component
      val byCluster = out.groupBy(_._2)
      assert(byCluster(10L).map(_._1).toSet == Set(10L, 11L, 12L))
      assert(byCluster(20L).map(_._1).toSet == Set(20L, 21L))
      for ((_, members) <- byCluster)
        assert(members.map(_._3).toSet.size == 1, s"mixed split in a cluster: $members")
      if (pct == 0) assert(out.forall(_._3 == "train"))
      if (pct == 100) assert(out.forall(_._3 == "test"))
    }
  }

  test("greedy chunk packing matches a reference fold (overflow starts a pack, oversize chunk stands alone)") {
    import graft.operators.TextChunking
    // (doc, chunk_idx, tokens): doc 1 packs [40,60] [70] [200] [10,90] at
    // budget 100 — an overflow boundary, an exactly-full pack, an oversize
    // chunk alone, and a restart after it; doc 2 is a single chunk
    val chunks = Seq(
      (1L, 0, 40), (1L, 1, 60), (1L, 2, 70), (1L, 3, 200), (1L, 4, 10), (1L, 5, 90),
      (2L, 0, 100)
    ).toDF("doc_id", "chunk_idx", "n_chunk_tokens")
    val got = TextChunking.packChunks(chunks, budgetTokens = 100)
      .select($"doc_id", $"chunk_idx", $"pack_id").as[(Long, Int, Int)].collect().toSet
    val expect = Set((1L, 0, 0), (1L, 1, 0), (1L, 2, 1), (1L, 3, 2), (1L, 4, 3), (1L, 5, 3),
                     (2L, 0, 0))
    assert(got == expect, s"got $got")
    // invariant on the real chunk stream: no pack exceeds the budget unless
    // it is a single oversize chunk, and pack ids are contiguous from 0
    val real = TextChunking.packChunks(
      TextChunking.chunk(docs, chunkTokens = 4, overlap = 0), budgetTokens = 6)
    val sums = real.groupBy($"doc_id", $"pack_id")
      .agg(sum($"n_chunk_tokens").as("s"), count(lit(1)).as("c"))
      .as[(Long, Int, Long, Long)].collect()
    assert(sums.forall { case (_, _, s, c) => s <= 6 || c == 1 })
    for ((_, packs) <- sums.groupBy(_._1))
      assert(packs.map(_._2).sorted.toSeq == (0 until packs.length).toSeq)
  }

  test("vocab overlap: identical slices give jaccard 1, disjoint vocabularies give 0") {
    import graft.operators.CorpusModel
    val x = Seq((1L, "alpha beta gamma alpha"), (2L, "beta delta")).toDF("doc_id", "text")
    val y = Seq((3L, "zz yy xx"), (4L, "ww vv")).toDF("doc_id", "text")
    val same = CorpusModel.vocabOverlap(x, x, k = 10)
      .select($"n_top_a", $"n_top_b", $"n_common", $"vocab_jaccard")
      .as[(Long, Long, Long, Double)].head()
    assert(same == ((4L, 4L, 4L, 1.0)))
    val disjoint = CorpusModel.vocabOverlap(x, y, k = 10)
      .select($"n_common", $"vocab_jaccard").as[(Long, Double)].head()
    assert(disjoint == ((0L, 0.0)))
    // k truncates deterministically: top-1 of x is "alpha" (count 2) vs
    // top-1 of a slice where "beta" wins on the tie-break
    val k1 = CorpusModel.vocabOverlap(x, x.filter($"doc_id" === 2L), k = 1)
      .select($"n_common").as[Long].head()
    assert(k1 == 0L, "top-1 sets {alpha} and {beta} must not overlap")
  }

  test("tiered sample: per-row pct boundaries (0 drops, 100 keeps, tiers reproducible)") {
    val df = (0L until 200L).map(i => (i, i % 3)).toDF("id", "tier")
    assert(Sampling.tieredSample(df, "id", lit(0)).count() == 0)
    assert(Sampling.tieredSample(df, "id", lit(100)).count() == 200)
    // tier pct column: kept set == hashSample of each tier separately
    val pct = when($"tier" === 0, lit(100)).when($"tier" === 1, lit(30)).otherwise(lit(0))
    val got = Sampling.tieredSample(df, "id", pct).select($"id").as[Long].collect().toSet
    val expect = (0L until 200L).filter { i =>
      val p = if (i % 3 == 0) 100 else if (i % 3 == 1) 30 else 0
      java.lang.Math.floorMod(i * Sampling.Knuth, 100L) < p
    }.toSet
    assert(got == expect)
  }

  test("ngram jaccard prefix plan: Zipf head gram does not flood candidate generation") {
    // every doc shares one stopword-ish tail gram (df = n) while the rest of
    // each doc is unique filler; sizes span 2..41 so most pairs are
    // size-incompatible at t=0.5. Naive per-gram fan-out on the hot key
    // would be n·(n−1)/2 pairs; rarest-first prefixes (hot grams sort last,
    // falling OUT of prefixes) plus the in-join size/positional filters
    // must keep the candidate set at a small fraction of that.
    val n = 40
    val docs = (0 until n).map { i =>
      val fillers = (0 to i).map(j => s"f${i}x$j").mkString(" ")
      (i.toLong, s"$fillers zz yy")
    }.toDF("doc_id", "text")
    val norm = docs.select(col("doc_id").as("id"),
        split(functions.TextAnalysis.normalized(col("text")), " ").as("w"))
      .select(col("id"), array_distinct(expr(
        "transform(sequence(0, size(w) - 2), i -> concat_ws(' ', slice(w, i + 1, 2)))")).as("g"))
      .filter(size(col("g")) > 0)
    val sizes = norm.select(col("id"), size(col("g")).as("sz"))
    val posting = norm.select(col("id"), size(col("g")).as("sz"),
                              explode(col("g")).as("gram"))
    val gramDf = posting.groupBy("gram").agg(count(lit(1)).as("df"))
    val hotDf = gramDf.agg(max("df")).as[Long].head()
    assert(hotDf == n, s"fixture must have one gram in every doc (df=$hotDf)")
    val cands = Dedup.prefixFilteredCandidates(posting, gramDf, sizes, 0.5).count()
    val naiveHot = n.toLong * (n - 1) / 2
    assert(cands <= naiveHot / 10,
      s"head-gram flood not suppressed: $cands candidates vs naive $naiveHot")
    // and the full pairs result on this fixture is exact (empty here: no
    // pair reaches J >= 0.5)
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5, n = 2,
      maxDenseJoinRows = 0.0).count()
    assert(pairs == 0, s"no fixture pair reaches the threshold; got $pairs")
  }

  test("ngram jaccard prefix filter: threshold sweep stays exact") {
    def pairsAt(t: Double) =
      Dedup.ngramJaccardPairs(docs, threshold = t, n = 2)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // thresholds shrink the prefix (fewer postings) but must never lose a pair
    val loose = pairsAt(0.3); val mid = pairsAt(0.5); val tight = pairsAt(0.99)
    assert(mid.subsetOf(loose) && tight.subsetOf(mid), "monotone in threshold")
    assert(tight.contains((0L, 3L)), "identical docs survive any threshold <= 1")
  }

  test("simhash: identical texts collide, near-dups within small hamming") {
    // 16 chunks → 4-bit blocks: the pigeonhole guarantee (full recall) holds
    // for any maxHamming < 16, so finding (0,1) is principled, not luck
    val pairs = Dedup.simhashNearDuplicates(docs, maxHamming = 12, chunks = 16)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 3L)) == 0, "exact dup → identical simhash")
    assert(m.contains((0L, 1L)), "one-word change → small hamming distance")
    assert(m((0L, 1L)) == 11, "md5-derived word hashes give a pinned distance")
  }

  test("srp-bucketed ANN achieves high recall vs brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.srpBucketedTopK(emb, queries, 5, dim = 64)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"SRP recall $recall too low")
  }

  test("IVF recall grows with nprobe and reaches exactness at full probing") {
    // the synthetic embeddings are barely clustered (max pairwise cosine
    // ~0.5), so absolute recall at small nprobe is data-limited — the
    // operator contract is monotone recall and exactness at nprobe = #cells
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(emb, queries, 5, nprobe)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      brute.intersect(got).size.toDouble / brute.size
    }
    val (r3, r6) = (recall(3), recall(6))
    assert(r3 > 0.2, s"nprobe=3 recall $r3 — must beat random-cell levels")
    assert(r6 >= r3, s"recall must be monotone in nprobe ($r3 -> $r6)")
    val nCells = emb.select($"label").distinct().count().toInt
    val full = Similarity.ivfTopK(emb, queries, 5, nprobe = nCells)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute, "nprobe = #cells must equal brute force")
  }

  test("IVF disk layout: probe scan PRUNES to the probed cell partitions") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // 2 queries × 3 probes ≤ 6 of the 10 cells — pruning must be visible
    val queries = emb.filter($"vec_id" < 2)
    val dir = tmpDir("ivf_layout")
    Similarity.writeIvfLayout(emb, dir)
    val nprobe = 3
    val disk = Similarity.ivfTopKFromLayout(spark, dir, queries, 5, nprobe)
    // identical results to the in-memory lane over the same corpus
    val mem = Similarity.ivfTopK(emb, queries, 5, nprobe)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(disk.orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq === mem)
    // the re-rank scan must carry a PartitionFilters IN-list on the cell
    // column — i.e. the layout read is partition PRUNING, not a full scan
    val plan = disk.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains(dir.replace("file:", "")) || l.contains("PartitionFilters"))
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    assert(plan.contains("label") && plan.contains(" IN ("),
      s"probed-cell IN-list missing from scan:\n$scanLine\n$plan")
    // and the pruned file set is a strict subset: probed cells < total cells
    val nCells = emb.select($"label").distinct().count()
    val probedCells = disk.queryExecution.executedPlan.toString
    val listed = new java.io.File(dir).listFiles().count(_.getName.startsWith("label="))
    assert(listed == nCells, "layout must have one directory per cell")
    // 2 queries × 3 probes touch at most 6 cell dirs of the 10
    val m = """PartitionFilters: \[[^\]]*IN \(([^)]*)\)""".r
      .findFirstMatchIn(probedCells)
    assert(m.nonEmpty, "IN-list not found in PartitionFilters")
    val probedCount = m.get.group(1).split(",").length
    assert(probedCount < nCells,
      s"probe must prune: $probedCount probed vs $nCells cells")
  }

  test("incremental IVF: update == real partitioned append; exact at full probe") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val hist = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val queries = emb.filter($"vec_id" < 8)
    val dir = tmpDir("ivf_hist_layout")
    Similarity.writeIvfLayout(hist, dir)
    val cent = Similarity.ivfCentroidTable(hist) // FROZEN quantizer
    // (a) the maintenance-write equivalence: ivfAssign + partitionBy-append
    // into the layout directory is the real index UPDATE; probing the
    // appended layout must equal the in-frame incremental operator, cell
    // for cell, rank for rank
    val inc = Similarity.ivfIncrementalTopK(spark, dir, batch, queries,
        k = 5, nprobe = 3, centroids = Some(cent))
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    Similarity.ivfAssign(batch, cent)
      .write.mode("append").partitionBy("label").parquet(dir)
    val appended = Similarity.ivfTopKFromLayout(spark, dir, queries,
        k = 5, nprobe = 3, centroids = Some(cent))
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(inc === appended,
      "incremental probe must equal the probe over the appended layout")
    // (b) exactness: at nprobe = #cells the updated index answers exactly
    // the brute-force top-k over the UNION corpus — nothing was lost or
    // duplicated by the cross-snapshot update
    val nCells = hist.select($"label").distinct().count().toInt
    val dir2 = tmpDir("ivf_hist_layout2")
    Similarity.writeIvfLayout(hist, dir2)
    val full = Similarity.ivfIncrementalTopK(spark, dir2, batch, queries,
        k = 5, nprobe = nCells, centroids = Some(cent))
      .select($"query_id", $"rank", $"neighbor_id").collect().map(_.toSeq).toSeq
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"rank", $"neighbor_id").collect().map(_.toSeq).toSeq
    assert(full.toSet === brute.toSet,
      "full-probe incremental must equal union brute force")
  }

  test("ivfAssign under a frozen quantizer sends each centroid to its own cell") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cent = Similarity.ivfCentroidTable(emb.filter($"vec_id" % 5 =!= 0))
    // a batch made of the centroids themselves: cosine(c, c) = 1 is the
    // unique maximum, so assignment must be the identity on cells — UNLESS a
    // regen produces two identical centroid vectors, where the pinned
    // tie-break (lowest cell id) correctly folds them into one cell. Guard
    // by asserting identity only over centroids that are pairwise distinct,
    // so a degenerate regen fails (or skips) for the right reason.
    val centVecs = cent.select($"__cell".as[Long], $"__cv".as[Seq[Double]])
      .collect().toMap
    val dupCells = centVecs.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(_.keys).toSet
    val centBatch = cent.select($"__cell".as("vec_id"), $"__cv".as("embedding"))
    val got = Similarity.ivfAssign(centBatch, cent)
      .select($"vec_id", $"label").as[(Long, Long)].collect().toMap
    got.foreach { case (id, cell) =>
      if (dupCells.contains(id))
        assert(centVecs(cell) === centVecs(id),
          s"duplicate-vector centroid $id -> cell $cell with a different vector")
      else assert(id == cell, s"centroid $id -> cell $cell") }
  }

  test("phash60: native == in-process reference; chunk join == brute force") {
    // native vs reference on arbitrary bytes (incl. non-ASCII, empty)
    val rnd = new scala.util.Random(41)
    val blobs = (0 until 60).map(i => Array.fill(rnd.nextInt(400))(rnd.nextInt(256).toByte)) :+
      Array.emptyByteArray
    def ref(bytes: Array[Byte]): Long = {
      val n = bytes.length
      if (n == 0) return 0L
      val s = new Array[Long](60); val c = new Array[Long](60); var tot = 0L
      bytes.zipWithIndex.foreach { case (x, i) =>
        val v = (x & 0xff).toLong; s(i % 60) += v; c(i % 60) += 1; tot += v
      }
      (0 until 60).foldLeft(0L) { (h, j) =>
        if (c(j) > 0 && s(j) * n > tot * c(j)) h | (1L << j) else h
      }
    }
    val got = blobs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("media_id", "content")
      .select($"media_id", graft.functions.NativeExprs.phash60($"content").as("h"))
      .as[(Long, Long)].collect().toMap
    blobs.zipWithIndex.foreach { case (b, i) => assert(got(i.toLong) == ref(b), s"blob $i") }
    // operator vs brute force over the real corpus's synthetic media
    val media = Multimodal.syntheticMediaTable(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    val pairs = Multimodal.phashNearDuplicates(media, maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    val hashes = media.select($"media_id",
        graft.functions.NativeExprs.phash60($"content").as("h"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(pairs == brute, "pigeonhole candidates must recover every pair to Hamming 3")
    assert(brute.nonEmpty, "fixture must actually contain perceptual near-dups")
  }

  test("mixtureSample: exact per-group targets, subset stability, partition independence") {
    val df = (1 to 200).map(i => (i.toLong, if (i % 4 == 0) "rare" else "common"))
      .toDF("id", "src")
    def targets(kCommon: Int, kRare: Int) =
      Seq(("common", kCommon.toLong), ("rare", kRare.toLong)).toDF("src", "k")
    def ids(kc: Int, kr: Int, parts: Int) =
      Sampling.mixtureSample(df.repartition(parts), "src", "id", targets(kc, kr))
        .select($"id").as[Long].collect().toSet
    val s1 = ids(30, 10, 4)
    assert(Sampling.mixtureSample(df, "src", "id", targets(30, 10))
      .groupBy("src").count().as[(String, Long)].collect().toMap ==
      Map("common" -> 30L, "rare" -> 10L), "exact per-group counts")
    // shrinking a target keeps a SUBSET (stable hash order)
    assert(ids(10, 5, 4).subsetOf(s1), "smaller sample nests inside larger")
    // partitioning must not change the kept set
    assert(ids(30, 10, 17) == s1, "partition independence")
    // a target above the group size keeps the whole group
    assert(ids(1000, 1000, 4).size == 200, "oversized target keeps everything")
  }

  test("chunkLevelDedup: cross-doc rule, intra-doc repeats kept, digest contract") {
    // chunks planted directly (the operator is chunk-granular): "shared"
    // appears in docs 1+2 (duplicated), "solo" only in doc 1, "twice"
    // twice WITHIN doc 3 (intra-doc repeat — kept by the cross-doc rule)
    val chunks = Seq(
      (1L, 0, "shared boilerplate"), (1L, 1, "solo content"),
      (2L, 0, "shared boilerplate"), (2L, 1, "other content"),
      (3L, 0, "twice"), (3L, 1, "twice"), (3L, 2, "tail")
    ).toDF("doc_id", "chunk_idx", "chunk_text")
    val got = Dedup.chunkLevelDedup(chunks)
      .select($"doc_id", $"n_chunks", $"n_dup_chunks")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (3L, 0L)),
      s"cross-doc duplication rule: $got")
    // digest covers exactly the kept indexes, in order
    val md5Doc1 = Dedup.chunkLevelDedup(chunks).filter($"doc_id" === 1)
      .select($"kept_md5").as[String].head()
    val expect = Seq("1").mkString(",") // chunk 0 dropped, chunk 1 kept
    assert(md5Doc1 == java.security.MessageDigest.getInstance("MD5")
      .digest(expect.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // partition independence
    val got13 = Dedup.chunkLevelDedup(chunks.repartition(13))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got13 == got)
    // the real corpus actually exercises the dup path (planted dup docs)
    val real = Dedup.chunkLevelDedup(graft.operators.TextChunking.chunk(
        Tables.documents(spark, "/root/testdata/sf0.001"), 64, 16))
      .agg(sum($"n_dup_chunks")).as[Long].head()
    assert(real > 0, "corpus fixture must contain duplicated chunks")
  }

  test("incrementalChunkDedup == full chunkLevelDedup restricted to batch docs") {
    // the incremental rule (in-corpus-index OR ≥2 distinct batch docs) is
    // exactly the global ≥2-distinct-docs rule evaluated for batch docs —
    // pin the equivalence on the real corpus
    val chunks = graft.operators.TextChunking.chunk(
      Tables.documents(spark, "/root/testdata/sf0.001"), 64, 16).cache()
    val hist = chunks.filter($"doc_id" % 5 =!= 0)
      .select(md5($"chunk_text".cast("binary")).as("__d")).distinct()
    val batch = chunks.filter($"doc_id" % 5 === 0)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_chunks", $"n_dup_chunks", $"kept_md5")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val inc = toMap(Dedup.incrementalChunkDedup(batch, hist))
    val full = toMap(Dedup.chunkLevelDedup(chunks))
      .view.filterKeys(_ % 5 == 0).toMap
    assert(inc == full, "incremental probe must reproduce the global rule")
    assert(inc.values.exists(_._2 > 0), "fixture must exercise the dup path")
    chunks.unpersist()
  }

  test("domainCappedSample: cap binds before targets; subsets; partition independence") {
    // one flooded domain (d0: 160 rows) inside group "web"; two small
    // domains (d1, d2: 20 each) split across "web" and "books"
    val rows = (1 to 160).map(i => (i.toLong, "d0", "web")) ++
      (161 to 180).map(i => (i.toLong, "d1", "web")) ++
      (181 to 200).map(i => (i.toLong, "d2", "books"))
    val df = rows.toDF("id", "dom", "src")
    val targets = Seq(("web", 40L), ("books", 15L)).toDF("src", "k")
    def sample(cap: Int, parts: Int) =
      Sampling.domainCappedSample(df.repartition(parts), "dom", cap, "src", "id", targets)
    val kept = sample(25, 4).select($"id", $"dom", $"src").as[(Long, String, String)].collect()
    // cap enforcement: the flooded domain contributes at most `cap` rows,
    // so "web" lands at min(k=40, 25 + 20) and d0 can never eat the budget
    val byDom = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("d0") <= 25, s"cap must bind on the flooded domain: $byDom")
    assert(byDom.getOrElse("d1", 0) > 0, "small domain must survive the flood")
    assert(kept.count(_._3 == "web") == 40 && kept.count(_._3 == "books") == 15,
      "per-group targets still exact on the capped survivors")
    // subset stability in BOTH knobs: shrinking the cap or the targets nests
    val ids25 = kept.map(_._1).toSet
    val ids10 = sample(10, 4).select($"id").as[Long].collect().toSet
    assert(ids10.subsetOf(ids25), "smaller cap nests inside larger")
    val smaller = Sampling.domainCappedSample(df, "dom", 25, "src", "id",
        Seq(("web", 12L), ("books", 6L)).toDF("src", "k"))
      .select($"id").as[Long].collect().toSet
    assert(smaller.subsetOf(ids25), "smaller targets nest inside larger")
    // partitioning must not change the kept set
    assert(sample(25, 17).select($"id").as[Long].collect().toSet == ids25,
      "partition independence")
  }

  test("winsorizedStats: matches an in-process sort-and-clip reference; outliers tamed") {
    val rnd = new scala.util.Random(31)
    val rows: Seq[(String, java.lang.Double)] =
      (for (g <- Seq("a", "b"); _ <- 1 to 97)
         yield (g, java.lang.Double.valueOf(rnd.nextInt(1000) / 4.0))) ++
      Seq(("a", java.lang.Double.valueOf(1e9)),          // wild outliers
          ("a", java.lang.Double.valueOf(-1e9)),
          ("b", java.lang.Double.valueOf(5e8)),
          ("a", null))                                   // excluded outright
    val df = rows.toDF("k", "v")
    val out = RobustStats.winsorizedStats(df, "k", "v", 0.05, 0.95)
      .collect().map(r => r.getString(0) -> r).toMap
    // reference: plain Scala on the non-null values
    val byKey = rows.collect { case (g, v) if v != null => (g, v.doubleValue) }
      .groupBy(_._1)
    byKey.foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      def at(q: Double) = sorted(math.ceil(q * n - 1e-9).toLong.toInt - 1)
      val (lo, hi) = (at(0.05), at(0.95))
      val clipped = sorted.map(v => math.min(math.max(v, lo), hi))
      val r = out(g)
      assert(r.getLong(1) == n.toLong, s"$g n")
      assert(r.getDouble(2) == lo && r.getDouble(3) == hi, s"$g bounds")
      assert(r.getLong(4) == sorted.count(v => v < lo || v > hi).toLong, s"$g n_clipped")
      assert(math.abs(r.getDouble(5) - clipped.sum) < 1e-6, s"$g wins_sum")
      // the 1e9 outliers must not reach the winsorized mean
      assert(math.abs(r.getDouble(6)) < 1000.0, s"$g mean tamed")
    }
  }

  test("null-text rows: span removal empties them, phash treats them as hash 0, winsorize q=0 clips at min") {
    val withNull = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
                       (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val spans = Dedup.removeDuplicatedSpans(withNull, 8)
      .filter($"doc_id" >= 3L).select($"n_tokens", $"cleaned_md5")
      .as[(Long, String)].collect().toSet
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    assert(spans == Set((0L, emptyMd5)), "null text = empty doc, never NULL output")
    val phPairs = Multimodal.phashNearDuplicates(
        Multimodal.syntheticMediaTable(withNull), maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(phPairs.contains((3L, 4L)), "two null-content rows are hamming-0 dups")
    // qLo = 0.0: lower bound clamps to the group minimum, nothing nulls out
    val w0 = graft.operators.RobustStats.winsorizedStats(
        Seq(("g", 1.0), ("g", 2.0), ("g", 100.0)).toDF("k", "v"), "k", "v", 0.0, 0.5)
      .select($"lo", $"hi", $"n_clipped", $"wins_sum").collect()(0)
    assert(w0.getDouble(0) == 1.0 && w0.getDouble(1) == 2.0)
    assert(w0.getLong(2) == 1L && w0.getDouble(3) == 5.0)
  }

  test("interDocDupNgramStats: hashed pipeline == string-gram reference, edge docs") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),   // 3 distinct 8-grams, all shared with 2
      (2L, "a b c d e f g h i j"),   // identical twin
      (3L, "q r s t u v w x y z"),   // unique grams
      (4L, "a b c"),                 // shorter than n → 0 grams
      (5L, "x y a b c d e f g h")    // shares exactly one 8-gram with 1/2
    ).toDF("doc_id", "text")
    val out = Dedup.interDocDupNgramStats(corpus, 8)
      .select($"doc_id", $"n_grams", $"n_dup_grams", $"dup_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, d, f) => id -> ((n, d, f)) }.toMap
    // string-gram reference (no hashing): df over the gram strings directly
    val perDoc = corpus
      .select($"doc_id", explode(array_distinct(TextAnalysis.wordNgrams($"text", 8))).as("g"))
    val ref = perDoc.join(perDoc.groupBy("g").count(), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(when($"count" >= 2, 1L).otherwise(0L)).as("d"))
      .select($"doc_id", $"n", $"d").as[(Long, Long, Long)].collect()
      .map { case (id, n, d) => id -> ((n, d, d.toDouble / n)) }.toMap
    assert(out(4L) == ((0L, 0L, 0.0)), "short doc must report zero grams")
    ref.foreach { case (id, exp) => assert(out(id) == exp, s"doc $id") }
    assert(out(1L)._3 == 1.0 && out(2L)._3 == 1.0, "identical twins fully duplicated")
    assert(out(3L)._3 == 0.0, "unique doc has no shared grams")
    assert(out(5L) == ((3L, 1L, 1.0 / 3)), "one of three grams shared")
  }

  test("removeDuplicatedSpans: twins emptied, unique docs untouched, partial span masked") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),   // twin of 2 → every token covered
      (2L, "a b c d e f g h i j"),
      (3L, "q r s t u v w x y z"),   // unique → untouched
      (4L, "a b c"),                 // shorter than n → untouched
      (5L, "x1 y1 a b c d e f g h")  // last 8 tokens shared with 1/2; x1 y1 survive
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, 8)
      .select($"doc_id", $"n_tokens", $"n_removed", $"kept_frac", $"cleaned_md5")
      .collect().map(r => r.getLong(0) -> r).toMap
    def md5Of(sq: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(sq.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getLong(2) == 10L && out(1L).getString(4) == md5Of(""))
    assert(out(2L).getLong(2) == 10L)
    assert(out(3L).getLong(2) == 0L && out(3L).getDouble(3) == 1.0 &&
           out(3L).getString(4) == md5Of("q r s t u v w x y z"))
    assert(out(4L).getLong(2) == 0L && out(4L).getString(4) == md5Of("a b c"))
    // doc 5: words() strips digits → tokens are x, y, a..h; the single
    // 8-gram "a b c d e f g h" is shared → positions 2..9 removed
    assert(out(5L).getLong(1) == 10L && out(5L).getLong(2) == 8L &&
           out(5L).getString(4) == md5Of("x y"))
  }

  test("exactSubstringSpans equals character brute force: boundaries, self-repeats, unicode, nulls") {
    val L = 5
    // BMP-only strings so the brute force's UTF-16 String indexing equals
    // the engine's codepoint indexing (the operator itself is codepoint-
    // based; surrogate-pair parity is covered by the substringsAt parity
    // spec's offset-table lane)
    val corpus = Seq(
      (1L, "xxSHAREDBITzz0123456"),    // "SHAREDBIT" (9 chars) also in doc 2
      (2L, "qrstSHAREDBITklmnopw"),    //   → one span of 9 in each, exact bounds
      (3L, "totally unique prose"),    // clean → zeros
      (4L, "abcd"),                    // shorter than L → zeros
      (5L, null.asInstanceOf[String]), // null → empty doc, zeros
      (6L, "aaaaaaaaaa"),             // periodic self-repeat: every window dup
      (7L, "μμνναβγδεζηвизнз"),       // unicode pair with 8: "αβγδεζη"+ shared?
      (8L, "ppαβγδεζηqq"),            // shares "αβγδεζη" (7 ≥ L) with 7
      (9L, "abXYZVWabXYZVWtail"),     // within-doc repeat "abXYZVW" ×2
      // coverage-merge case: doc 10's windows at starts 1 ("ABCDE") and 3
      // ("CDEFG") are duplicated (in 11 and 12 resp.) but start 2 ("BCDEF")
      // is NOT — the two overlapping coverages [1,5] ∪ [3,7] must merge to
      // ONE maximal span [1,7], never two overlapping spans summing past
      // the text length
      (10L, "ABCDEFGzz"),
      (11L, "mmABCDEmm"),
      (12L, "nnCDEFGnn")
    ).toDF("doc_id", "text")

    // character-granular brute force, straight from the definition
    val texts = corpus.select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val wins = texts.toSeq.flatMap { case (id, s) =>
      (0 to s.length - L).map(i => (s.substring(i, i + L), id, i + 1)) }
    val freq = wins.groupBy(_._1).map { case (w, xs) => w -> xs.size }
    val dupPos = wins.filter(t => freq(t._1) >= 2)
      .groupBy(_._2).map { case (id, xs) => id -> xs.map(_._3).sorted }
    // coverage merge: starts p < q share a span iff q <= p + L (q's window
    // overlaps or abuts p's) — NOT only when starts are adjacent
    def islands(ps: Seq[Int]): Seq[(Int, Int)] =
      ps.foldLeft(Vector.empty[(Int, Int)]) { case (acc, p) =>
        if (acc.nonEmpty && p - acc.last._2 <= L) acc.init :+ (acc.last._1, p)
        else acc :+ (p, p)
      }.map { case (s, e) => (s, e + L - 1) }
    def md5Of(sq: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(sq.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = texts.map { case (id, s) =>
      val sp = islands(dupPos.getOrElse(id, Seq.empty))
      id -> ((s.length.toLong, sp.size.toLong, sp.map(x => x._2 - x._1 + 1L).sum,
              md5Of(sp.map(x => s"${x._1}:${x._2}").mkString(","))))
    }

    val out = Dedup.exactSubstringSpans(corpus, L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5), r.getDouble(4)))).toMap
    assert(out.keySet == texts.keySet)
    for ((id, (nc, ns, dc, dig)) <- want) {
      val (gnc, gns, gdc, gdig, gfrac) = out(id)
      assert(gnc == nc, s"doc $id n_chars")
      assert(gns == ns, s"doc $id n_dup_spans")
      assert(gdc == dc, s"doc $id dup_chars")
      assert(gdig == dig, s"doc $id span_digest")
      assert(gfrac == (if (nc == 0) 0.0 else dc.toDouble / nc), s"doc $id dup_frac")
    }
    // structural sanity of the fixture itself: the shared 9-char block and
    // the within-doc repeat produced real multi-char spans, the periodic
    // run is one full-doc span, and the overlapping-coverage doc merged to
    // ONE span of exactly 7 chars
    assert(want(1L)._3 == 9L && want(2L)._3 == 9L)
    assert(want(6L)._2 == 1L && want(6L)._3 == 10L)
    assert(want(9L)._3 >= 2 * L)
    assert(want(10L)._2 == 1L && want(10L)._3 == 7L)
    // global invariant the coverage merge guarantees: spans never overlap,
    // so duplicated chars can never exceed the document's length
    for ((id, (nc, _, dc, _)) <- want) assert(dc <= nc, s"doc $id dup>len")
  }

  test("exactSubstr candidate stage admits EXACTLY the dup positions under a template flood") {
    val L = 8
    // probe-discipline adversarial shape (CLAUDE.md): many near-identical
    // docs. Every template-prefix window occurs N times (real duplicates —
    // those MUST become candidates), every unique-tail window occurs once
    // (those must NOT — each admitted one ships L chars of text into the
    // verify stage). The 128-bit fingerprint pair keeps collision inflation
    // at ~2^-128-per-pair, so the candidate set equals brute force EXACTLY.
    val prefix = "shared template prose that floods every document alike ok "
    val docs = (0L until 60L).map { i =>
      (i, prefix + f"tail${i}%04d-${i * 7919}%08d unique trailing content $i")
    }.toDF("doc_id", "text")

    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wins = texts.toSeq.flatMap { case (id, s) =>
      (0 to s.length - L).map(i => (s.substring(i, i + L), id, i + 1)) }
    val freq = wins.groupBy(_._1).map { case (w, xs) => w -> xs.size }
    val dupSet = wins.filter(t => freq(t._1) >= 2).map(t => (t._2, t._3)).toSet

    val base = docs.select($"doc_id", coalesce($"text", lit("")).as("s"))
    val cand = Dedup.exactSubstrCandidates(base, L)
      .as[(Long, Int)].collect().toSet
    assert(cand == dupSet,
      s"candidate stage must equal true dup positions: got ${cand.size}, want ${dupSet.size}")
    // flood shape sanity: the corpus IS mostly duplicated prefix, yet the
    // unique tails stay out of the text-shipping stage entirely
    assert(dupSet.size >= 60 * (prefix.length - L + 1))
    assert(cand.size < wins.size, "unique-tail windows must not be candidates")

    // end-to-end under the flood: spans stay within bounds and every doc
    // reports the shared region as duplicated
    val out = Dedup.exactSubstringSpans(docs, L).collect()
    assert(out.length == 60)
    for (r <- out) {
      assert(r.getLong(3) <= r.getLong(1), "dup_chars <= n_chars")
      assert(r.getLong(3) >= prefix.length, "the flooded prefix must be a dup span")
    }
  }

  test("quantized ANN: exact at full candK, high recall at the contract cut") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 8)
    val scales = Similarity.quantScales(emb, dim = 64)
    assert(scales.forall(s => s >= 0.0 && s.isFinite))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // candK covering the whole corpus: candidate set = everything ⇒ the
    // exact re-rank must equal brute force including scores
    val n = emb.count().toInt
    val full = Similarity.quantizedTopK(emb, queries, 5, candK = n, scales)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val bruteFull = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == bruteFull, "full-candK quantized ANN must equal brute force")
    // contract cut: int8 prescreen keeps nearly all true neighbours
    val cut = Similarity.quantizedTopK(emb, queries, 5, candK = 40, scales)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(cut).size.toDouble / brute.size
    assert(recall >= 0.9, s"int8 prescreen recall $recall at candK=40")
  }

  test("PQ ANN: deterministic training, exact at full candK, high recall at the cut") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 8)
    val cb = Similarity.pqTrain(emb, dim = 64, m = 16, k = 32)
    // training is bit-deterministic (fixed sample order, fold order, init)
    val cb2 = Similarity.pqTrain(emb, dim = 64, m = 16, k = 32)
    assert(cb.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq,
      "pqTrain must be bit-reproducible")
    assert(cb.length == 16 && cb.forall(_.length == 32) &&
           cb.forall(_.forall(_.length == 4)))
    assert(cb.flatten.flatten.forall(_.isFinite))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // candK covering the whole corpus ⇒ exact re-rank == brute force
    val n = emb.count().toInt
    val full = Similarity.pqTopK(emb, queries, 5, candK = n, cb)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val bruteFull = Similarity.bruteForceTopK(emb, queries, 5)
      .select($"query_id", $"rank", $"neighbor_id", $"cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == bruteFull, "full-candK PQ ANN must equal brute force")
    // contract cut: 8-byte codes + fixed-point ADC keep the true neighbours
    val cut = Similarity.pqTopK(emb, queries, 5, candK = 40, cb)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(cut).size.toDouble / brute.size
    assert(recall >= 0.9, s"PQ prescreen recall $recall at candK=40")
  }

  test("cosine math matches an in-process oracle") {
    val rows = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val got = rows.crossJoin(rows.select($"vec_id".as("id2"), $"embedding".as("e2")))
      .filter($"vec_id" < $"id2")
      .select(Similarity.cosine($"embedding", $"e2")).as[Double].collect()(0)
    assert(math.abs(got - 0.6) < 1e-6) // float32 inputs: ~1e-8 representation error
  }

  test("language id picks the max-stopword-hit language deterministically") {
    val texts = Seq(
      (1L, "the cat and the dog of it is that"),
      (2L, "el perro y la casa de que los se no un"),
      (3L, "le chien et la maison les des du une"),
      (4L, "der hund und die katze den von zu das mit"),
      (5L, "的 一 是 不 了")).toDF("doc_id", "text")
    val out = texts.select($"doc_id", TextAnalysis.langId($"text").as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "fr", 4L -> "de", 5L -> "zh"))
  }

  test("text functions handle empty and degenerate inputs") {
    val weird = Seq((1L, ""), (2L, "   "), (3L, "!!!"), (4L, "a")).toDF("doc_id", "text")
    val out = weird.select($"doc_id",
      TextAnalysis.tokenCount($"text").as("nt"),
      TextAnalysis.punctRatio($"text").as("pr"),
      TextAnalysis.stopwordRatio($"text").as("sr"),
      TextAnalysis.fingerprintRolling($"text").as("fp"))
      .collect()
    assert(out.length == 4) // no NaN/ANSI crashes; values defined everywhere
    out.foreach { r => assert(!r.anyNull || r.getLong(0) >= 3) }
  }

  test("rolling fingerprint is whitespace-normalization invariant") {
    val t = Seq((1L, "Hello   World"), (2L, "hello world")).toDF("doc_id", "text")
    val fps = t.select(TextAnalysis.fingerprintRolling($"text")).as[Long].collect()
    assert(fps(0) == fps(1))
  }

  test("near-dup clustering == union-find oracle") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterNearDuplicates(pairs)
      .as[(Long, Long)].collect().toMap
    val gotDistributed = Dedup.clusterNearDuplicates(pairs, driverSideMaxBytes = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == gotDistributed, "driver-side and distributed paths must agree")
    // oracle: scala union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L)).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = got.keys.map(k => k -> find(k)).toMap
    assert(got == want) // components {1,2,3,8,9} -> 1 and {5,6} -> 5
    assert(got(9L) == 1L && got(5L) == 5L)
  }

  test("label centroids match an in-process exact mean") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.labelCentroids(emb)
      .filter($"label" === 0 && $"pos" === 0)
      .select($"centroid", $"n_vectors").as[(Double, Long)].collect()(0)
    val rows = emb.filter($"label" === 0)
      .select($"embedding").as[Seq[Float]].collect()
    val want = rows.map(r => BigDecimal(r(0).toString)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / rows.length
    assert(math.abs(got._1 - want) < 1e-9)
    assert(got._2 == rows.length)
  }

  test("chunking: zero-overlap chunks reassemble the document exactly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val chunks = operators.TextChunking.chunk(docs, chunkTokens = 32, overlap = 0)
    val reassembled = chunks
      .groupBy($"doc_id")
      .agg(array_join(transform(
             array_sort(collect_list(struct($"chunk_idx", $"chunk_text"))),
             c => c.getField("chunk_text")), " ").as("re"),
           sum($"n_chunk_tokens").as("n")) // sort INSIDE the agg — collect_list order is unspecified
    val joined = docs.select($"doc_id",
        concat_ws(" ", graft.functions.TextAnalysis.tokens($"text")).as("orig"),
        size(graft.functions.TextAnalysis.tokens($"text")).as("n_orig"))
      .join(reassembled, "doc_id")
    assert(joined.filter($"re" =!= $"orig" || $"n" =!= $"n_orig").count() == 0)
    // overlap: consecutive chunks share exactly `overlap` tokens
    val ov = operators.TextChunking.chunk(docs, chunkTokens = 16, overlap = 4)
      .filter($"doc_id" === 0)
      .orderBy($"chunk_idx").select($"chunk_text").as[String].collect()
    if (ov.length >= 2) {
      val first = ov(0).split(" "); val second = ov(1).split(" ")
      assert(first.takeRight(4).toSeq == second.take(4).toSeq)
    }
  }

  test("hash sampling is partitioning-independent and reproducible") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val a = operators.Sampling.hashSample(ev, "event_id", 10)
      .select($"event_id").as[Long].collect().toSet
    val b = operators.Sampling.hashSample(ev.repartition(13), "event_id", 10)
      .select($"event_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty && a.size < 200, s"sample size ${a.size}")
  }

  test("incremental probe: empty batch and empty corpus yield empty results, no crash") {
    // a daily ingest CAN be empty, and the first-ever batch sees an empty
    // corpus — every lane's metadata aggregates (counts, shingle-byte agg)
    // must tolerate zero rows
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
                   (2L, "totally different words in this one body"))
      .toDF("doc_id", "text")
    val empty = docs.filter($"doc_id" < 0)
    val idx = Dedup.lshIndex(docs)
    assert(Dedup.incrementalNearDuplicates(empty, docs, idx, threshold = 0.5).count() === 0L)
    val emptyIdx = Dedup.lshIndex(empty)
    assert(Dedup.incrementalNearDuplicates(docs, empty, emptyIdx, threshold = 0.5).count() === 0L)
    assert(Dedup.incrementalNearDuplicates(empty, empty, emptyIdx, threshold = 0.5).count() === 0L)
  }

  test("incremental near-dup == full brute force restricted to new docs") {
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val corpus = all.filter($"doc_id" % 5 =!= 0)
    val fresh = all.filter($"doc_id" % 5 === 0)
    val index = Dedup.lshIndex(corpus)
    val got = Dedup.incrementalNearDuplicates(fresh, corpus, index, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val freshIds = fresh.select($"doc_id").as[Long].collect().toSet
    val want = Dedup.bruteForceJaccardPairs(all, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      .filter(p => freshIds(p._1) || freshIds(p._2))
    assert(got == want, s"incremental=${got.size} brute=${want.size}")
    assert(want.nonEmpty, "fixture must exercise at least one cross-batch pair")
    // the persisted-signature fast path (production probe shape) must emit
    // the identical pair set AND identical scores
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val viaSigs = scored(Dedup.incrementalNearDuplicates(fresh, corpus, index,
      threshold = 0.5, corpusSigs = Some(Dedup.lshSignatures(corpus))))
    val recomputed = scored(Dedup.incrementalNearDuplicates(fresh, corpus, index,
      threshold = 0.5))
    assert(viaSigs == recomputed, "persisted-sig probe must match recompute probe")
  }

  test("ngram contamination: contained, overlapping, and clean probes") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"),
      (11L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val probes = Seq(
      (1L, "alpha beta gamma delta epsilon"),          // fully inside corpus doc 10
      (2L, "three four five six seven unknown words here nine ten"), // partial
      (3L, "completely fresh sentence nothing shared at all")        // clean
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(corpus, probes, n = 5)
      .select($"doc_id", $"n_grams", $"n_contaminated")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1, 1L)), "probe 1's single 5-gram is in the corpus")
    assert(got(2L)._2 >= 1 && got(2L)._2 < got(2L)._1, "probe 2 partially overlaps")
    assert(got(3L)._2 == 0L, "probe 3 is clean")
  }

  test("bloom-prefiltered contamination is row-identical to the exact operator") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
    val probes = docs.filter($"doc_id" % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_grams", $"n_contaminated")
        .as[(Long, Int, Long)].collect().toSet
    val exact = rows(Dedup.ngramContamination(corpus, probes, n = 5))
    // default fpp AND an absurdly collision-happy filter: false positives
    // only ever ADD verify work, never change the result
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = rows(Dedup.ngramContaminationBloom(corpus, probes, n = 5,
        expectedGrams = 1L << 16, fpp = fpp))
      assert(bloom == exact, s"fpp=$fpp must not change results")
    }
    assert(exact.exists(_._3 > 0L) && exact.exists(r => r._3 < r._2.toLong),
      "fixture must exercise both contaminated and clean grams")
  }

  test("PII redaction masks emails and long digit runs, leaves prose alone") {
    val rows = Seq(
      (1L, "contact jane.doe+spam@example-mail.co for info"),
      (2L, "card 4111111111111111 and order 12345 shipped"),
      (3L, "plain text with a small number 42")
    ).toDF("doc_id", "text")
    val got = rows.select($"doc_id",
        TextAnalysis.emailCount($"text").as("e"),
        TextAnalysis.longNumberCount($"text").as("n"),
        TextAnalysis.redactPii($"text").as("r"))
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 1 && got(1L)._4 == "contact <email> for info")
    assert(got(2L)._3 == 1 && got(2L)._4 == "card <num> and order 12345 shipped")
    assert(got(3L)._4 == "plain text with a small number 42")
    // idempotent: masking already-masked text changes nothing
    val once = rows.select(TextAnalysis.redactPii($"text").as("t"))
    val twice = once.select(TextAnalysis.redactPii($"t")).as[String].collect()
    assert(twice.toSet == once.as[String].collect().toSet)
  }

  test("rarity-weighted top terms match a hand-computed oracle") {
    val tiny = Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "apple banana")
    ).toDF("doc_id", "text")
    // N=3; df: apple 2, banana 3, cherry 1; score = tf*(N+1)/(df+1)
    val got = graft.operators.CorpusModel.topTermsByRarity(tiny, k = 2)
      .select($"doc_id", $"term", $"tf", $"df", $"score")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    val expected = Set(
      (0L, "apple", 2L, 2L, 2.6667), (0L, "banana", 1L, 3L, 1.0),
      (1L, "cherry", 1L, 1L, 2.0), (1L, "banana", 1L, 3L, 1.0),
      (2L, "apple", 1L, 2L, 1.3333), (2L, "banana", 1L, 3L, 1.0))
    assert(got == expected, s"got $got")
  }

  test("corpus bigram model flags gibberish transitions as rare") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"),
      (2L, "a good sentence reads naturally with common letter patterns"),
      (3L, "another ordinary english sentence for the tiny training corpus"),
      (4L, "qzx jqk vxw zzq xqj wvz qqx")  // gibberish
    ).toDF("doc_id", "text")
    // NB: Laplace smoothing floors p near 1/(prefixTotal+27); on a tiny
    // corpus that is ~0.03, so the test threshold sits above it
    val got = operators.CorpusModel.rareTransitionStats(corpus, rareThreshold = 0.08)
      .select($"doc_id", $"n_transitions", $"n_rare")
      .as[(Long, Int, Int)].collect()
      .map(r => r._1 -> (r._3.toDouble / r._2)).toMap
    assert(got(4L) > got(1L) && got(4L) > got(2L) && got(4L) > got(3L),
      s"gibberish must have the highest rare-transition fraction: $got")
    // empty-alphabet doc: zero transitions, null min
    val empty = operators.CorpusModel.rareTransitionStats(
        corpus.unionByName(Seq((5L, "1234 !!!")).toDF("doc_id", "text")))
      .filter($"doc_id" === 5L)
      .select($"n_transitions", $"min_p".isNull).as[(Int, Boolean)].collect()(0)
    assert(empty == ((0, true)))
  }

  test("multimodal decode plumbing: stub codec through mapPartitions") {
    val media = Multimodal.syntheticMediaTable(
      Seq((1L, "hello"), (2L, "a much longer synthetic media payload")).toDF("doc_id", "text"))
    val decoded = Multimodal.decodeAll(media).toDF()
    assert(decoded.count() == 2)
    val planned = Multimodal.frameSamplePlan(
      Multimodal.resizePlan(decoded, maxSide = 512), stride = 2, maxFrames = 4)
    val row = planned.filter($"media_id" === 2L)
      .select($"n_bytes", $"out_width", $"frame_plan").collect()(0)
    assert(row.getLong(0) == 37L)
    assert(row.getInt(1) <= 512)
    assert(row.getSeq[Int](2).nonEmpty)
    // determinism: same bytes → same stub metadata
    val twice = Multimodal.decodeAll(media).toDF().collect().toSet
    assert(twice == decoded.collect().toSet)
  }
}
