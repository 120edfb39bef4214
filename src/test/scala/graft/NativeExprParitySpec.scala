package graft

import org.apache.spark.sql.functions._
import graft.functions.{NativeExprs, TextAnalysis}
import graft.operators.{Dedup, Similarity}

/** Bit-parity between the native Catalyst expressions and their reference
  * higher-order-function forms, over real table data. */
class NativeExprParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001").cache()
  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").cache()
  // rows whose lower() holds ASCII letters that no ASCII-only lowering
  // finds: U+212A KELVIN SIGN lowers to 'k', U+0130 to 'i' + U+0307
  private val nonAscii = Seq("\u212Aelvin scale", "\u0130stanbul is big",
                             "the \u0130t \u212Aelvin")

  test("minhashSig matches the Scala reference, byte for byte") {
    import graft.functions.MinHashRef
    val rows = docs.select($"doc_id",
        NativeExprs.minhashSig(TextAnalysis.normalized($"text"), 5, 128, 42L).as("sig"),
        TextAnalysis.normalized($"text").as("norm"))
      .as[(Long, Seq[Long], String)].collect()
    rows.foreach { case (id, got, norm) =>
      val want = MinHashRef.signature(norm, 5, 128, 42L)
      assert(got == want.toSeq, s"doc $id signature mismatch")
    }
  }

  test("registeredDomain: native == SQL-function reference, pinned edge cases") {
    val urls = Seq(
      "https://www.site1.co.uk/p/1", "http://a.b.Site7.github.io:8080/p/7?x=1",
      "site3.com", "http://192.168.0.4/x", "https://user:pw@blog.site2.com.au/x#f",
      "https://co.uk/", "https://example.com./y", "http://", "https://..a.com/",
      "ftp://cdn.www.site9.org", "https://s3.amazonaws.com/bucket",
      "https://x.s3.amazonaws.com/bucket", "HTTPS://WWW.EXAMPLE.COM",
      "host.with.many.labels.net", "localhost", "a@b.com", null)
    val df = urls.toDF("url")
    val rows = df.select(
        NativeExprs.registeredDomain($"url").as("native"),
        TextAnalysis.registeredDomainHof($"url").as("ref"))
      .as[(Option[String], Option[String])].collect()
    urls.zip(rows).foreach { case (u, (n, r)) =>
      assert(n == r, s"url '$u': native $n vs reference $r")
    }
    val expect = Map(
      "https://www.site1.co.uk/p/1" -> Some("site1.co.uk"),
      "http://a.b.Site7.github.io:8080/p/7?x=1" -> Some("site7.github.io"),
      "site3.com" -> Some("site3.com"),
      "http://192.168.0.4/x" -> Some("192.168.0.4"),
      "https://user:pw@blog.site2.com.au/x#f" -> Some("site2.com.au"),
      "https://co.uk/" -> Some("co.uk"),
      "https://example.com./y" -> Some("example.com"),
      "http://" -> None,
      "https://..a.com/" -> None,
      "ftp://cdn.www.site9.org" -> Some("site9.org"),
      "https://s3.amazonaws.com/bucket" -> Some("s3.amazonaws.com"),
      "https://x.s3.amazonaws.com/bucket" -> Some("x.s3.amazonaws.com"),
      "HTTPS://WWW.EXAMPLE.COM" -> Some("example.com"),
      "host.with.many.labels.net" -> Some("labels.net"),
      "localhost" -> Some("localhost"),
      "a@b.com" -> Some("b.com"))
    urls.zip(rows).collect { case (u, (n, _)) if u != null =>
      expect.get(u).foreach(e => assert(n == e, s"url '$u': got $n, want $e"))
    }
  }

  test("registeredDomain: native == reference on 400 fuzzed URL-ish strings") {
    val rnd = new scala.util.Random(7)
    val frags = Seq("http://", "https://", "://", "//", "www.", "a.b.", ".",
      "..", "site", "SITE", "co.uk", "github.io", "com", "x", "@", ":", ":8080",
      "/p/1", "?q=1", "#f", "192.168.0.1", "9", "", " ")
    val urls = (0 until 400).map { _ =>
      (0 until rnd.nextInt(6)).map(_ => frags(rnd.nextInt(frags.size))).mkString
    }
    val rows = urls.toDF("url").select(
        NativeExprs.registeredDomain($"url").as("native"),
        TextAnalysis.registeredDomainHof($"url").as("ref"))
      .as[(Option[String], Option[String])].collect()
    urls.zip(rows).foreach { case (u, (n, r)) =>
      assert(n == r, s"fuzz url '$u': native $n vs reference $r")
    }
  }

  test("multiply-shift signature match-fraction estimates jaccard") {
    import graft.functions.MinHashRef
    val texts = docs.limit(60).select(TextAnalysis.normalized($"text"))
      .as[String].collect()
    def shingles(s: String) = s.sliding(5).toSet
    val sigs = texts.map(MinHashRef.signature(_, 5, 128, 42L))
    var maxErr = 0.0
    for (i <- texts.indices; j <- (i + 1) until texts.length) {
      val est = sigs(i).zip(sigs(j)).count { case (a, b) => a == b } / 128.0
      val sa = shingles(texts(i)); val sb = shingles(texts(j))
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      maxErr = math.max(maxErr, math.abs(est - exact))
    }
    assert(maxErr < 0.25, s"worst estimate error $maxErr") // 128 hashes → σ≈0.04
  }

  test("normalizeText native == SQL form") {
    val diff = docs.select(TextAnalysis.normalized($"text").as("a"),
                           TextAnalysis.normalizedHof($"text").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(diff == 0)
    // \u000B (VT) is NOT whitespace under the engine's RE2-aligned \s set
    val weird = Seq("", "  ", "\tA  B\nC ", " x ", "Ün  Zwei",
                    "a\u000Bb  c", "\u000B lead", "Ü\u000Bx").toDF("text")
    val d2 = weird.select(TextAnalysis.normalized($"text").as("a"),
                          TextAnalysis.normalizedHof($"text").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(d2 == 0)
  }

  test("simhash64 native == HOF") {
    val weird = (Seq("", "   ", "THE the", "héllo wörld") ++ nonAscii).toDF("text")
    for (frame <- Seq(docs.select($"text"), weird)) {
      val diff = frame.select(NativeExprs.simhash64($"text").as("a"),
                              Dedup.simhash64Hof($"text").as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(diff == 0)
    }
  }

  test("srpSigs native == per-table HOF signatures") {
    val diff = emb.select(
      NativeExprs.srpSigs($"embedding", 4, 8, 64, 42L).as("a"),
      array((0 until 8).map(t =>
        Similarity.srpSignature($"embedding", 4, 64, 42L + t * 7919L)): _*).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(diff == 0)
  }

  test("cosineSim native == HOF, bit for bit") {
    val pairs = emb.limit(40).select($"vec_id".as("ia"), $"embedding".as("ea"))
      .crossJoin(emb.limit(40).select($"vec_id".as("ib"), $"embedding".as("eb")))
    val diff = pairs.select(NativeExprs.cosineSim($"ea", $"eb").as("a"),
                            Similarity.cosineHof($"ea", $"eb").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(diff == 0)
  }

  test("pcaProject native == literal multiply-add chain, bit for bit") {
    import graft.operators.Pca
    val model = Pca.train(emb, dim = 64, r = 32)
    // whole corpus, every component coordinate compared with NULL-safe
    // equality on the raw doubles (no rounding — the oracle replays the
    // chain bit-exactly, so the native form must too)
    val diff = emb.select(
        NativeExprs.pcaProject($"embedding", model).as("a"),
        Pca.project($"embedding", model).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(diff == 0)
    // null contract: NULL vector and short vector both yield r NULLs,
    // matching array(NULL, ...) from the chain form
    val edge = Seq(
      (1L, None: Option[Seq[Float]]),
      (2L, Some(Seq(1.0f, 2.0f)))).toDF("vec_id", "embedding")
    val got = edge.select(NativeExprs.pcaProject($"embedding", model).as("a"))
      .as[Seq[Option[Double]]].collect()
    got.foreach { a => assert(a.length == 32 && a.forall(_.isEmpty)) }
  }

  test("shingleSet == shingleHashes and jaccard == jaccardOfArrays") {
    val diff = docs.select(
      NativeExprs.shingleSet($"text", 5).as("a"),
      Dedup.shingleHashes($"text", 5).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(diff == 0)
    // non-normalized raw input: both forms must normalize before shingling
    val raw = Seq("Hello   World FOO", "hello world foo", "  A  B  ").toDF("text")
    val rawDiff = raw.select(
      NativeExprs.shingleSet($"text", 5).as("a"),
      Dedup.shingleHashes($"text", 5).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(rawDiff == 0, "shingleSet must normalize like shingleHashes does")
    val pairs = docs.limit(30).select($"doc_id".as("ia"), $"text".as("ta"))
      .crossJoin(docs.limit(30).select($"doc_id".as("ib"), $"text".as("tb")))
    val jdiff = pairs.select(
      NativeExprs.jaccard(NativeExprs.shingleSet($"ta", 5),
                          NativeExprs.shingleSet($"tb", 5)).as("a"),
      Dedup.jaccardOfArrays(Dedup.shingleHashes($"ta", 5),
                            Dedup.shingleHashes($"tb", 5)).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(jdiff == 0)
  }

  test("rawShingleSet == un-normalized HOF shingles (short, empty, non-ascii)") {
    // HOF reference: the same gram/hash definition as Dedup.shingleHashes
    // but over the RAW text — first-occurrence-distinct mod-P xxhash64 of
    // q-char windows, with the whole-string synthetic gram below q chars
    def rawHof(s: org.apache.spark.sql.Column, q: Int) =
      array_distinct(transform(
        sequence(lit(1), greatest(length(s) - lit(q - 1), lit(1))),
        i => pmod(xxhash64(s.substr(i, lit(q))),
                  lit(graft.functions.Dedup31Prime.P))))
    val fixture = Seq(
      "The QUICK  brown fox", // mixed case + runs: raw must NOT normalize
      "ab", "a", "",          // at/below gram width → synthetic whole-string gram
      "ababab",               // repeats → distinct keeps first occurrence order
      "héllo wörld — ünïcode" // non-ascii byte path
    ).toDF("s")
    for (q <- Seq(2, 5)) {
      val diff = fixture.select(
        NativeExprs.rawShingleSet($"s", q).as("a"), rawHof($"s", q).as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(diff == 0, s"raw shingle parity must hold at q=$q")
    }
    // and it must DIFFER from the normalized form on case-variant input
    val n = Seq("Hello World").toDF("s")
      .select(NativeExprs.rawShingleSet($"s", 5).as("a"),
              NativeExprs.shingleSet($"s", 5).as("b"))
      .filter($"a" <=> $"b").count()
    assert(n == 0, "raw form must not normalize")
  }

  test("langId native == HOF") {
    val diff = docs.select(NativeExprs.langId($"text").as("a"),
                           TextAnalysis.langIdHof($"text").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(diff == 0)
    // plus degenerate inputs
    val weird = (Seq("", "   ", "THE THE THE", "el el el 的", "xyzzy") ++ nonAscii)
      .toDF("text")
    val d2 = weird.select(NativeExprs.langId($"text").as("a"),
                          TextAnalysis.langIdHof($"text").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(d2 == 0)
  }

  test("sortedJaccard(sort(a), sort(b)) == jaccard(a, b) incl. dups and empties") {
    val rnd = new scala.util.Random(13)
    val cases = Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(5L, 5L, 5L), Seq(5L)),             // intra-array duplicate runs
      (Seq(1L, 2L, 3L), Seq(3L, 2L, 1L)),
      (Seq(-9L, 0L, 9L), Seq(0L, 0L, 7L, -9L))
    ) ++ (0 until 50).map { _ =>
      (Seq.fill(rnd.nextInt(40))(rnd.nextInt(25).toLong),
       Seq.fill(rnd.nextInt(40))(rnd.nextInt(25).toLong))
    }
    val df = cases.toDF("a", "b")
    val diff = df.select(
        NativeExprs.sortedJaccard(sort_array($"a"), sort_array($"b")).as("s"),
        NativeExprs.jaccard($"a", $"b").as("h"))
      .filter(not($"s" <=> $"h")).count()
    assert(diff == 0)
  }

  test("sortedIntersectGe(sort(a), sort(b), k) == array_intersect count-filter reference") {
    val rnd = new scala.util.Random(29)
    val cases = Seq(
      (Seq.empty[Int], Seq.empty[Int]),
      (Seq.empty[Int], Seq(1, 2)),
      (Seq(5, 5, 5), Seq(5)),                 // intra-array duplicate runs
      (Seq(1, 2, 3), Seq(3, 2, 1)),
      (Seq(-9, 0, 9), Seq(0, 0, 7, -9))
    ) ++ (0 until 80).map { _ =>
      (Seq.fill(rnd.nextInt(50))(rnd.nextInt(30)),
       Seq.fill(rnd.nextInt(50))(rnd.nextInt(30)))
    }
    val df = cases.toDF("a", "b")
    for (slack <- Seq(0, 3, 16)) {
      // reference: distinct-count filter via array_intersect over the
      // UNSORTED arrays (array_distinct pins the distinct-count semantics
      // the merge pass implements for duplicate runs)
      val diff = df.select(
          NativeExprs.sortedIntersectGe(sort_array($"a"), sort_array($"b"),
            slack).as("n"),
          (size(array_intersect($"a", $"b")) >=
            greatest(size(array_distinct($"a")), size(array_distinct($"b")))
              - lit(slack)).as("h"))
        .filter(not($"n" <=> $"h")).count()
      assert(diff == 0, s"slack=$slack")
    }
  }

  test("sortedIntersectGe on array<int> == reference (32-bit verify carry)") {
    val rnd = new scala.util.Random(31)
    val cases = Seq(
      (Seq.empty[Int], Seq.empty[Int]),
      (Seq(5, 5, 5), Seq(5)),
      (Seq(Int.MinValue, -1, 0, Int.MaxValue), Seq(Int.MinValue, 1, Int.MaxValue))
    ) ++ (0 until 80).map { _ =>
      (Seq.fill(rnd.nextInt(50))(rnd.nextInt(30)),
       Seq.fill(rnd.nextInt(50))(rnd.nextInt(30)))
    }
    val df = cases.toDF("a", "b")
    for (slack <- Seq(0, 3, 16)) {
      val diff = df.select(
          NativeExprs.sortedIntersectGe(sort_array($"a"), sort_array($"b"),
            slack).as("n"),
          (size(array_intersect($"a", $"b")) >=
            greatest(size(array_distinct($"a")), size(array_distinct($"b")))
              - lit(slack)).as("h"))
        .filter(not($"n" <=> $"h")).count()
      assert(diff == 0, s"slack=$slack")
    }
    // mismatched / unsupported child types fail at ANALYSIS time, not with a
    // runtime ClassCastException mid-join (the ADVICE r17 hygiene item)
    val mixed = Seq((Seq(1L, 2L), Seq(1, 2))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      mixed.select(NativeExprs.sortedIntersectGe($"a", $"b", 0)).collect()
    }
    val longs = Seq((Seq(1L, 2L), Seq(1L, 2L))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      longs.select(NativeExprs.sortedIntersectGe($"a", $"b", 0)).collect()
    }
    val strings = Seq((Seq("x"), Seq("y"))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      strings.select(NativeExprs.sortedIntersectGe($"a", $"b", 0)).collect()
    }
  }

  test("intDot native == HOF aggregate(zip_with) on random int8 arrays") {
    val rnd = new scala.util.Random(17)
    val cases = (0 until 40).map { _ =>
      (Seq.fill(64)(rnd.nextInt(255) - 127), Seq.fill(64)(rnd.nextInt(255) - 127))
    } :+ ((Seq.empty[Int], Seq.empty[Int]))
    val df = cases.toDF("a", "b")
    val diff = df.select(
        NativeExprs.intDot($"a", $"b").as("n"),
        aggregate(zip_with($"a", $"b", (x, y) => (x.cast("long") * y)),
                  lit(0L), (acc, v) => acc + v).as("h"))
      .filter(not($"n" <=> $"h")).count()
    assert(diff == 0)
  }

  test("maskedConcat native == filter/array_contains HOF reference") {
    val rnd = new scala.util.Random(23)
    val cases = (0 until 50).map { _ =>
      val n = rnd.nextInt(30)
      val toks = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
      val rm = (0 until n).filter(_ => rnd.nextBoolean()).map(identity)
      (toks, rm) // rm ascending by construction
    } ++ Seq((Seq.empty[String], Seq.empty[Int]),      // both empty
             (Seq("a", "b"), Seq.empty[Int]),          // nothing removed
             (Seq("a", "b"), Seq(0, 1)),               // everything removed
             (Seq("a", "b", "c"), Seq(0, 0, 2)))       // duplicate positions tolerated
    val df = cases.toDF("toks", "rm")
    val hof = concat_ws(" ",
      filter(transform($"toks", (t, i) => struct(t.as("t"), i.as("i"))),
             s => not(array_contains($"rm", s("i")))).getField("t"))
    val diff = df.select(NativeExprs.maskedConcat($"toks", $"rm").as("n"), hof.as("h"))
      .filter(not($"n" <=> $"h")).count()
    assert(diff == 0)
  }

  test("bpe encodeChain: matches an in-process merge replay; count consistent") {
    import graft.operators.BpeModel
    val merges = BpeModel.learnMerges(docs, numMerges = 24)
    // in-process reference: apply merges to the symbol array, wrap with Sep
    def encodeRef(word: String): String = {
      var syms = word.map(_.toString).toArray
      for ((a, b) <- merges) {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
      syms.map(s => BpeModel.Sep + s + BpeModel.Sep).mkString
    }
    val words = docs.select(explode(TextAnalysis.words($"text")).as("word"))
      .distinct().limit(300).as[String].collect()
    val enc = words.toSeq.toDF("word")
      .select($"word", BpeModel.encodeChain($"word", merges).as("e"))
      .as[(String, String)].collect().toMap
    words.foreach { w =>
      assert(enc(w) == encodeRef(w), s"encodeChain($w)")
      // symbol count derived from the encoding == the native token count
      val nSyms = enc(w).count(_ == BpeModel.Sep.head) / 2
      assert(nSyms == BpeModel.tokenizeCount(w, merges), s"count($w)")
    }
  }

  test("bpeTokenCount native == replace-chain reference form over real docs") {
    import graft.operators.BpeModel
    val merges = BpeModel.learnMerges(docs, numMerges = 24)
    // reference form: explode words, per-word replace chain, sum per doc
    val ref = docs.select($"doc_id",
        explode(TextAnalysis.words($"text")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"doc_id")
      .agg(sum(BpeModel.tokenCountChain($"word", merges)).as("b"))
    val d = docs.select($"doc_id",
        NativeExprs.bpeTokenCount($"text", merges).as("a"))
      .join(ref, Seq("doc_id"), "left")
      .filter(not($"a" <=> coalesce($"b", lit(0L)))).count()
    assert(d == 0)
    // degenerate inputs
    val weird = (Seq("", "   ", "123 !!!", "AAA aaa AaA", "the") ++ nonAscii)
      .toDF("text")
    val d2 = weird.select(
        NativeExprs.bpeTokenCount($"text", merges).as("a"),
        coalesce(aggregate(transform(TextAnalysis.words($"text"),
          w => BpeModel.tokenCountChain(w, merges)), lit(0L), (acc, x) => acc + x),
          lit(0L)).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(d2 == 0)
  }

  test("stopwordRatio and repetitionRatio native == HOF") {
    val weird = (Seq("", "   ", "the the the", "a b", "spam spam spam spam spam") ++
                 nonAscii).toDF("text")
    for (frame <- Seq(docs.select($"text"), weird)) {
      val d = frame.select(
          NativeExprs.stopwordRatio($"text", TextAnalysis.Stopwords("en")).as("a"),
          TextAnalysis.stopwordRatioHof($"text").as("b"),
          NativeExprs.repetitionRatio($"text").as("c"),
          TextAnalysis.repetitionRatioHof($"text").as("d"))
        .filter(not($"a" <=> $"b") || not($"c" <=> $"d")).count()
      assert(d == 0)
    }
  }

  test("charBigrams native == HOF; rareTransitionStats native == HOF") {
    import graft.operators.CorpusModel
    val weird = Seq("", "a", "A  b!! C", "the quick brown fox").toDF("text")
    for (frame <- Seq(docs.select($"text"), weird)) {
      val d = frame.select(CorpusModel.charBigrams($"text").as("a"),
                           CorpusModel.charBigramsHof($"text").as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(d == 0)
    }
    val native = CorpusModel.rareTransitionStats(docs, rareThreshold = 0.01)
      .as[(Long, Int, Int, Option[Double])].collect().toSet
    val hof = CorpusModel.rareTransitionStatsHof(docs, rareThreshold = 0.01)
      .as[(Long, Int, Int, Option[Double])].collect().toSet
    assert(native == hof)
  }

  test("textStats matches the HOF regex/aggregate reference forms") {
    val stop = TextAnalysis.Stopwords("en")
    val weird = (Seq(
      "", "   ", "the", "THE The tHe", "a#b ... c....d .......",
      "x\ty\nz\u000Bw", "héllo wörld the", "123 45a #tag a.b.c",
      "trailing dots...", "#", "...", "it is a the of and to in you that",
      // VT is a token CHARACTER under the RE2-aligned \s set: "a\u000Bb" is ONE token
      "a\u000Bb two", "\u000B", "the\u000Bthe and"
    ) ++ nonAscii).toDF("text")
    for (frame <- Seq(docs.select($"text"), weird)) {
      val ws = TextAnalysis.words($"text")
      val toks = TextAnalysis.tokens($"text")
      val hof = frame.select(
        size(ws).cast("long").as("n_words"),
        coalesce(aggregate(ws, lit(0L), (a, w) => a + length(w).cast("long")), lit(0L))
          .as("sum_wlen"),
        size(filter(ws, w => array_contains(array(stop.map(lit): _*), w)))
          .cast("long").as("n_stop"),
        size(toks).cast("long").as("n_toks"),
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha_toks"),
        (size(split($"text", "#", -1)).cast("long") - 1L).as("n_hash"),
        (size(split($"text", "\\.\\.\\.", -1)).cast("long") - 1L).as("n_ellipsis"),
        length(regexp_replace($"text", "[^!-/:-@\\[-`{-~]", "")).cast("long")
          .as("n_punct"))
      val native = frame.select(
        NativeExprs.textStats($"text", stop).as("st")).select("st.*")
      assert(native.collect().map(_.toSeq).toSeq ===
             hof.collect().map(_.toSeq).toSeq)
    }
  }

  test("windowHashes native == transform(sequence, xxhash64(substr)) HOF") {
    // non-ASCII rows exercise the codepoint-offset table lane (multi-byte
    // UTF-8 means byte index != codepoint index)
    val weird = Seq("", "ab", "abcdef", "ααββγγδδ", "Ünïcødé wörds hére tøø",
                    "aaaaaaaaaa", "日本語のテキストです").toDF("text")
    for ((frame, k) <- Seq((docs.select($"text"), 12), (weird, 4))) {
      // substring's Scala (col, int, int) overload can't take a Column
      // position — the HOF reference form goes through SQL expr(). The
      // short-text guard must be a CASE, not greatest(): Spark's
      // sequence(1, 0) DESCENDS ([1, 0]), it doesn't produce empty.
      val diff = frame.select(
          NativeExprs.windowHashes($"text", k).as("a"),
          expr(s"CASE WHEN char_length(text) >= $k THEN " +
               s"transform(sequence(1, char_length(text) - ${k - 1}), " +
               s"i -> xxhash64(substring(text, i, $k))) " +
               "ELSE CAST(array() AS array<bigint>) END").as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(diff == 0)
    }
  }

  test("substringsAt native == transform(ps, substring) HOF, incl. non-ASCII") {
    val weird = Seq("", "abc", "abcdefghij", "ααββγγδδεε", "Ünïcødé wörds",
                    "日本語のテキストです").toDF("text")
    for ((frame, k) <- Seq((docs.select($"text"), 10), (weird, 3))) {
      // positions 1..len-k+1 plus a past-the-end probe (must yield the same
      // clamped tail/'' as SQL substring)
      val withPs = frame.withColumn("ps",
        expr(s"transform(sequence(1, greatest(char_length(text) - ${k - 1}, 0) + 2), " +
             "i -> CAST(i AS INT))"))
      val diff = withPs.select(
          NativeExprs.substringsAt($"text", $"ps", k).as("a"),
          expr(s"transform(ps, p -> substring(text, p, $k))").as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(diff == 0)
    }
  }

  test("windowHashes seeded variant == catalyst XxHash64(substring, seed)") {
    // the second fingerprint family of exactSubstringSpans: same windows,
    // independent seed — parity against Spark's own XxHash64 with that seed
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val seed = graft.operators.Dedup.ExactSubstrSeed2
    val k = 6
    val frame = Seq("abcdefghijkl", "ααββγγδδεζηθ", "short", "")
      .toDF("text")
    val ref = ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(ColumnBridge.expression(expr(s"substring(text, pos, $k)"))), seed))
    val diff = frame
      .select($"text", posexplode(NativeExprs.windowHashes($"text", k, seed))
        .as(Seq("pos0", "h")))
      .withColumn("pos", $"pos0" + 1)
      .filter(not($"h" <=> ref)).count()
    assert(diff == 0)
    // and the two families genuinely differ (independent fingerprints)
    val same = frame.filter(length($"text") >= k)
      .select(NativeExprs.windowHashes($"text", k).as("a"),
              NativeExprs.windowHashes($"text", k, seed).as("b"))
      .filter($"a" === $"b").count()
    assert(same == 0)
  }

  test("substringsAt/windowHashes reject wrong-typed inputs at ANALYSIS") {
    // positions are read with ps.getInt: an array<bigint> caller (the
    // natural type of SQL sequence()/array literals) must fail analysis,
    // never read garbage byte offsets (ADVICE r10)
    val df = Seq(("abcdef", Seq(1L, 3L))).toDF("text", "psL")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(NativeExprs.substringsAt($"text", $"psL", 3)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(NativeExprs.windowHashes($"psL", 3)).collect()
    }
    // the blessed shape still analyzes: array<int> positions, string text
    df.select(NativeExprs.substringsAt($"text",
      expr("transform(psL, p -> CAST(p AS INT))"), 3)).collect()
  }

  test("pqEncode/pqLut/pqAdc native == HOF reference forms over the real corpus") {
    import graft.operators.Similarity
    val cb = Similarity.pqTrain(emb, dim = 64, m = 8, k = 16)
    val m = 8; val kc = 16; val sd = 8; val bits = 20
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq) // [m][k][sd]
    val vec = $"embedding".cast("array<double>")
    def sub(mi: org.apache.spark.sql.Column) = slice(vec, mi * lit(sd) + lit(1), lit(sd))
    // HOF encode: per subspace, distances to every centroid (left-assoc
    // aggregate fold = the native loop's order), argmin via first position
    // of the min (ties → lowest index, as native)
    val distsOf = (mi: org.apache.spark.sql.Column) => transform(element_at(cbLit, mi + lit(1)),
      c => aggregate(zip_with(sub(mi), c, (x, y) => (x - y) * (x - y)),
                     lit(0.0), (a, v) => a + v))
    val hofCodes = transform(sequence(lit(0), lit(m - 1)),
      mi => (array_position(distsOf(mi), array_min(distsOf(mi))) - lit(1)).cast("int"))
    val hofLut = flatten(transform(sequence(lit(0), lit(m - 1)),
      mi => transform(element_at(cbLit, mi + lit(1)),
        c => floor(aggregate(zip_with(sub(mi), c, (x, y) => x * y),
                             lit(0.0), (a, v) => a + v)
                   * lit(math.pow(2.0, bits)) + lit(0.5)).cast("long"))))
    val rows = emb.select(
        NativeExprs.pqEncode(vec, cb).as("nc"), hofCodes.as("hc"),
        NativeExprs.pqLut(vec, cb, bits).as("nl"), hofLut.as("hl"))
      .withColumn("na", NativeExprs.pqAdc($"nc", $"nl", kc))
      .withColumn("ha", aggregate(
        zip_with($"hc", sequence(lit(0), lit(m - 1)),
                 (c, mi) => element_at($"hl", mi * lit(kc) + c + lit(1))),
        lit(0L), (a, v) => a + v))
      .as[(Seq[Int], Seq[Int], Seq[Long], Seq[Long], Long, Long)].collect()
    rows.foreach { case (nc, hc, nl, hl, na, ha) =>
      assert(nc == hc, "codes")
      assert(nl == hl, "lut")
      assert(na == ha, "adc score")
    }
    // every code in range; LUT length m·k
    rows.foreach { case (nc, _, nl, _, _, _) =>
      assert(nc.forall(c => c >= 0 && c < kc) && nl.length == m * kc)
    }
    // normalized path (the cosine lane): native normalize=true must equal
    // the HOF forms fed an explicitly unit-normalized vector (same fold
    // order: ascending squared sum, one sqrt, element-wise divide)
    val n2 = aggregate(transform(vec, x => x * x), lit(0.0), (a, v) => a + v)
    val unit = when(n2 > lit(0.0),
                    transform(vec, x => x / sqrt(n2))).otherwise(vec)
    val ndiff = emb.select(
        NativeExprs.pqEncode(vec, cb, normalize = true).as("a"),
        NativeExprs.pqEncode(unit, cb).as("b"),
        NativeExprs.pqLut(vec, cb, bits, normalize = true).as("c"),
        NativeExprs.pqLut(unit, cb, bits).as("d"))
      .filter(not($"a" <=> $"b") || not($"c" <=> $"d")).count()
    assert(ndiff == 0, "normalized native path must equal HOF-normalized input")
  }

  test("htmlExtract: native scanner == independent regex reference; edge fixtures pinned") {
    import graft.functions.HtmlExtractExpr

    /** Independent reference: a REGEX tokenizer pipeline (pre-removal of
      * comments/raw-text elements, `<a>` regions turned into sentinel
      * chars, block-tag matcher walk, inline strip, entity replace), vs the
      * native single-pass char scanner. Known reference limitations, absent
      * from these inputs by construction: quoted '>' inside NON-block
      * inline/raw-text tag attributes, and nested `<a>`. */
    def ref(html: String): (String, Int, Int) = {
      var h = html
      h = h.replaceAll("(?s)<!--.*?-->", "")
      h = h.replaceAll("(?s)<!--.*", "") // unterminated comment
      h = h.replaceAll("(?si)<script\\b[^>]*>.*?</script[^>]*>", "")
      h = h.replaceAll("(?si)<script\\b[^>]*>.*", "") // unclosed raw-text
      h = h.replaceAll("(?si)<style\\b[^>]*>.*?</style[^>]*>", "")
      h = h.replaceAll("(?si)<style\\b[^>]*>.*", "")
      h = h.replaceAll("<[!?][^>]*>", "")
      h = h.replaceAll("(?i)<a(\\s(\"[^\"]*\"|'[^']*'|[^>\"'])*)?>", "\u0001")
      h = h.replaceAll("(?i)</a\\s*>", "\u0002")
      val blockPat = java.util.regex.Pattern.compile(
        "(?i)<(/?)(html|head|body|title|p|div|h[1-6]|ul|ol|li|dl|dt|dd|" +
        "table|thead|tbody|tr|td|th|blockquote|pre|br|hr|article|section|" +
        "main|figure|figcaption|nav|header|footer|aside|form)" +
        "\\b((\"[^\"]*\"|'[^']*'|[^>\"'])*?)(/?)>")
      val entPat = java.util.regex.Pattern.compile(
        "&(amp|lt|gt|quot|apos|nbsp);|&#(\\d{1,8});|&#[xX]([0-9a-fA-F]{1,7});")
      val named = Map("amp" -> "&", "lt" -> "<", "gt" -> ">",
                      "quot" -> "\"", "apos" -> "'", "nbsp" -> "\u00A0")
      def decode(seg: String): String = {
        val m = entPat.matcher(seg); val sb = new StringBuffer
        while (m.find()) {
          val rep =
            if (m.group(1) != null) named(m.group(1))
            else {
              val cp = if (m.group(2) != null) java.lang.Long.parseLong(m.group(2))
                       else java.lang.Long.parseLong(m.group(3), 16)
              if (cp > 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF))
                new String(Character.toChars(cp.toInt))
              else m.group(0)
            }
          m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
        }
        m.appendTail(sb); sb.toString
      }
      var dropDepth = 0; var linkOpen = false
      var kept = 0; var dropped = 0
      val out = collection.mutable.ArrayBuffer.empty[String]
      def emit(seg: String): Unit = {
        val txt = decode(seg.replaceAll(
          "(?s)</?[a-zA-Z](\"[^\"]*\"|'[^']*'|[^>\"'])*>", ""))
        val toks = txt.split("[ \t\n\r\f]+").filter(_.nonEmpty)
        var words = 0; var linkWords = 0
        val w = collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { tok =>
          // link attribution: state just before the token's first real char
          val first = tok.indexWhere(c => c != '\u0001' && c != '\u0002')
          if (first >= 0) {
            var st = linkOpen
            tok.take(first).foreach { c => st = c == '\u0001' }
            words += 1; if (st) linkWords += 1
            w += tok.filter(c => c != '\u0001' && c != '\u0002')
          }
          tok.foreach { c =>
            if (c == '\u0001') linkOpen = true
            else if (c == '\u0002') linkOpen = false
          }
        }
        if (words > 0) {
          if (dropDepth == 0 && words >= 2 && 2 * linkWords <= words) {
            out += w.mkString(" "); kept += 1
          } else dropped += 1
        }
      }
      val m = blockPat.matcher(h)
      var pos = 0
      val dropTags = Set("head", "nav", "header", "footer", "aside", "form")
      while (m.find()) {
        emit(h.substring(pos, m.start()))
        val tag = m.group(2).toLowerCase
        val closing = m.group(1) == "/"
        val selfClosing = m.group(5) == "/"
        if (dropTags(tag) && !selfClosing) {
          if (closing) dropDepth = math.max(0, dropDepth - 1)
          else dropDepth += 1
        }
        pos = m.end()
      }
      emit(h.substring(pos))
      (out.mkString("\n"), kept, dropped)
    }

    // fixture battery: every rule and edge the scanner implements
    val fixtures = Seq(
      "",
      "plain text with no tags at all",
      "   \t\n  ",
      "<p>one</p>",                                  // 1 word → dropped
      "<p>two words</p>",                            // kept
      "<p>UPPER <B>case</B> TAGS</P><DIV>second block here</DIV>",
      "<p>half <a href='#'>link</a></p>",            // 1/2 link → kept
      "<p>one <a href='#'>two linked</a></p>",       // 2/3 link → dropped
      "<nav><p>inside nav dropped</p></nav><p>outside kept fine</p>",
      "<header><div><p>nested in header</p></div></header><p>body text here</p>",
      "text before any tag <p>then a block</p>",
      "<p>a &amp; b &lt;c&gt; &quot;d&quot; &apos;e&apos;</p>",
      "<p>nbsp&nbsp;glues and &#65;&#x42; decode</p>",
      "<p>astral &#x1F600; entity works fine</p>",
      "<p>unknown &bogus; entity and bare & amp stay literal</p>",
      "<p>unterminated &amp entity stays</p>",
      "<p>math: 1 < 2 and 3 > 2 here</p>",
      "<ul><li>alpha one</li><li>beta two</li><li></li></ul>",
      "<table><tr><td>cell one</td><td>cell two</td></tr></table>",
      "line one<br/>line two<br />line three",
      "<p>divided</p><hr/><p>by a rule</p>",
      "<!-- a comment --><p>after comment</p>",
      "ab<!-- glue -->cd joins words",
      "<script>var x = '</notscript>'; if (1 > 0) {}</script><p>after script</p>",
      "<style>p { color: red; }</style><p>after style</p>",
      "<!DOCTYPE html><p>after doctype</p>",
      "<?xml version='1.0'?><p>after pi</p>",
      "<p data-x=\"a>b\">quoted gt attr</p>",
      "<p class='x' id=\"y\" disabled>attrs galore here</p>",
      "<blockquote>a quote block</blockquote><pre>pre formatted text</pre>",
      "<footer>(c) 2026 <a href='#'>terms</a></footer><p>real content text</p>",
      "<form><p>form fields dropped</p></form>",
      "<h1>title text</h1><h2>sub title</h2><p>para text here</p>",
      "<p>tab\tand\nnewline   collapse</p>",
      "<p>trailing space </p><p> leading space</p>",
      "<article><section><p>deeply nested content block</p></section></article>",
      "<p>link <a href='#'>one</a> then <a href='#'>two more</a> words</p>")
    fixtures.foreach { f =>
      val got = HtmlExtractExpr.extract(f)
      val want = ref(f)
      assert((got.text, got.kept, got.dropped) == want, s"fixture: $f")
    }

    // scanner-only edges the regex reference can't express (pinned directly)
    val un = HtmlExtractExpr.extract("<p>unclosed block with words")
    assert(un.text == "unclosed block with words" && un.kept == 1)
    assert(HtmlExtractExpr.extract("<script>never closed").text == "")
    assert(HtmlExtractExpr.extract("<!-- never closed").text == "")
    val stray = HtmlExtractExpr.extract("<p>stray < bracket stays text</p>")
    assert(stray.text == "stray < bracket stays text")

    // parity over the REAL corpus wrapped in the contract plant's template
    val texts = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val w = text.split(" ")
      val half = math.ceil(w.length / 2.0).toInt
      val p1 = w.take(half).mkString(" ")
      val p2 = w.drop(half).mkString(" ")
      val bw = w.take((id % 6).toInt).mkString(" ")
      val html =
        s"""<!DOCTYPE html><html><head><title>t $id</title><style>p { color: #000; }</style><script>var x = '</nope>'; if (1 > 0) x;</script></head><body><header><h1>Doc $id</h1></header><nav><a href="/">home</a> <a href="/a">about us</a> <a href="/c">contact</a></nav><!-- tracking $id --><div class="main"><p>$p1</p><p data-x="a>b">$p2</p></div><p>$bw <a href="#">click here now</a></p><p>a &amp; b &lt;c&gt; &quot;d&quot;&nbsp;e &bogus; &#65;&#x42;</p><ul><li>alpha beta</li><li>gamma delta</li></ul><p>ok</p><footer>(c) 2026 <a href="#">terms</a></footer></body></html>"""
      val got = HtmlExtractExpr.extract(html)
      val want = ref(html)
      assert((got.text, got.kept, got.dropped) == want, s"doc $id")
      assert(got.kept == (if (id % 6 >= 3) 6 else 5), s"doc $id kept count")
    }

    // the EXPRESSION evaluates the shared core (one DataFrame roundtrip)
    val viaDf = Seq("<p>two words</p><nav><p>drop me</p></nav>").toDF("h")
      .select(NativeExprs.htmlExtract($"h").as("e"))
      .select($"e.text", $"e.n_kept", $"e.n_dropped")
      .as[(String, Int, Int)].collect().head
    assert(viaDf == (("two words", 1, 1)))
  }

  test("fixMojibake: repairs single/double cp1252 mojibake, leaves clean text alone") {
    import graft.functions.FixMojibakeExpr.garble
    import graft.functions.NativeExprs.fixMojibake
    def fix(ss: String*): Seq[String] =
      ss.toDF("t").select(fixMojibake($"t")).as[String].collect().toSeq

    // adversarial originals: latin-1 accents, cp1252 0x80-0x9F specials
    // (€ ’ “ ” — a latin-1-only repair misses these), CJK (3-byte UTF-8),
    // an astral emoji (4-byte), mixed scripts
    val originals = Seq("thé café", "naïve — “quoted” text…", "€99 isn’t £80",
                        "日本語のテキスト", "mix Ünïcode et français",
                        "emoji 😀 test", "Ÿ œ ž š crème brûlée")
    originals.foreach { o =>
      assert(fix(garble(o)) == Seq(o), s"single-encode repair of: $o")
      assert(fix(garble(garble(o))) == Seq(o), s"double-encode repair of: $o")
      assert(fix(o) == Seq(o), s"already-correct text must pass through: $o")
      // idempotence: a repaired string is a fixed point
      assert(fix(o).flatMap(f => fix(f)) == Seq(o), s"fix∘fix: $o")
    }
    // ASCII identity (the fast path) and the empty string
    assert(fix("plain ascii, nothing to do.", "") ==
           Seq("plain ascii, nothing to do.", ""))
    // mixed mojibake + already-correct non-ASCII: whole-string strict decode
    // fails → unchanged (the documented ftfy-lite boundary)
    val mixed = "correct é next to mojibake " + garble("é")
    assert(fix(mixed) == Seq(mixed), "mixed clean/garbled must not half-fix")
    // lone continuation-like cp1252 char: not valid UTF-8 → unchanged
    assert(fix("price € only") == Seq("price € only"))
    // the inherent ftfy ambiguity, pinned: a string that IS valid mojibake
    // repairs even if the user 'meant' the literal chars
    assert(fix("Ã©") == Seq("é"))
  }

  test("funnelLevel (all 4 modes) + sequenceCount: GENERATED code == interpreted eval") {
    // FunnelLevelExpr, SequenceCountExpr and CosineSimExpr generate one call
    // into their own Scala method instead of falling back; force the
    // generated path via GenerateMutableProjection (no silent fallback — a
    // codegen bug here fails compilation or this assert) and pin it against
    // the interpreted nullSafeEval: the generated null handling, result
    // type and reference plumbing must agree with eval over randomized,
    // sorted, tie-heavy (t, step) arrays including empties and step-0
    // fillers, and over float/double vector pairs for the cosine.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import graft.functions.{FunnelLevelExpr, SequenceCountExpr}

    val elem = StructType(Seq(StructField("t", LongType, nullable = false),
                              StructField("step", IntegerType, nullable = false)))
    val arrT = ArrayType(elem, containsNull = false)
    val nSteps = 3
    val rng = new scala.util.Random(4242)
    val fixtures: Seq[Array[(Long, Int)]] =
      Seq(Array.empty[(Long, Int)],
          Array((5L, 1)), Array((5L, 2)),
          Array((1L, 1), (1L, 2), (1L, 3)),            // all-tied timestamps
          Array((1L, 1), (2L, 2), (9L, 3)),            // window blown at step 3
          Array((1L, 1), (2L, 2), (3L, 2), (4L, 3))) ++ // dup step 2
      (0 until 300).map { _ =>
        val n = rng.nextInt(14)
        Array.fill(n)((rng.nextInt(12).toLong, rng.nextInt(nSteps + 1)))
          .sortBy(x => (x._1, x._2))                   // caller's (t, step) sort
      }
    def toRow(a: Array[(Long, Int)]): InternalRow =
      new GenericInternalRow(Array[Any](new GenericArrayData(
        a.map { case (t, s) => new GenericInternalRow(Array[Any](t, s)) })))
    val in = BoundReference(0, arrT, nullable = true)
    val exprs = (0 to 3).map(m =>
        (s"funnel mode $m", FunnelLevelExpr(in, nSteps, windowSeconds = 4L, m),
         IntegerType: DataType)) :+
      (("sequenceCount", SequenceCountExpr(in, nSteps), LongType: DataType))
    exprs.foreach { case (label, e, dt) =>
      val proj = GenerateMutableProjection.generate(Seq(e))
      fixtures.zipWithIndex.foreach { case (f, idx) =>
        val row = toRow(f)
        val out = proj(row)
        val gen = if (out.isNullAt(0)) null else out.get(0, dt)
        assert(gen == e.eval(row),
          s"$label fixture $idx: generated $gen != interpreted ${e.eval(row)} " +
            s"for input ${f.mkString(",")}")
      }
      // null input stays null on both paths
      val nullRow = new GenericInternalRow(Array[Any](null))
      assert(proj(nullRow).isNullAt(0) && e.eval(nullRow) == null, s"$label null")
    }

    // CosineSimExpr over float×float, double×double and float×double pairs;
    // unequal lengths and zero vectors score 0.0, a null input stays null
    import graft.functions.CosineSimExpr
    val fArr = ArrayType(FloatType, containsNull = false)
    val dArr = ArrayType(DoubleType, containsNull = false)
    def vec(dt: ArrayType, xs: Seq[Double]): GenericArrayData =
      if (dt.elementType == FloatType) new GenericArrayData(xs.map(_.toFloat).toArray[Any])
      else new GenericArrayData(xs.toArray[Any])
    val vecs: Seq[(Seq[Double], Seq[Double], Option[Double])] =
      Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0), Some(0.0)),   // unequal lengths
          (Seq(0.0, 0.0, 0.0), Seq(0.5, -1.0, 2.0), Some(0.0)), // zero vector
          (Seq.empty, Seq.empty, Some(0.0))) ++
      (0 until 100).map { _ =>
        val n = 1 + rng.nextInt(16)
        (Seq.fill(n)(rng.nextGaussian()), Seq.fill(n)(rng.nextGaussian()), None)
      }
    for ((lt, rt) <- Seq((fArr, fArr), (dArr, dArr), (fArr, dArr))) {
      val e = CosineSimExpr(BoundReference(0, lt, nullable = true),
                            BoundReference(1, rt, nullable = true))
      val proj = GenerateMutableProjection.generate(Seq(e))
      val label = s"cosine ${lt.elementType.simpleString}x${rt.elementType.simpleString}"
      vecs.zipWithIndex.foreach { case ((x, y, expected), idx) =>
        val row = new GenericInternalRow(Array[Any](vec(lt, x), vec(rt, y)))
        val gen = proj(row).getDouble(0)
        val interp = e.eval(row).asInstanceOf[Double]
        assert(java.lang.Double.doubleToRawLongBits(gen) ==
                 java.lang.Double.doubleToRawLongBits(interp),
          s"$label fixture $idx: generated $gen != interpreted $interp")
        expected.foreach(v => assert(gen == v, s"$label fixture $idx: $gen != $v"))
      }
      for (nullRow <- Seq(new GenericInternalRow(Array[Any](null, vec(rt, Seq(1.0)))),
                          new GenericInternalRow(Array[Any](vec(lt, Seq(1.0)), null))))
        assert(proj(nullRow).isNullAt(0) && e.eval(nullRow) == null, s"$label null")
    }
  }
}
