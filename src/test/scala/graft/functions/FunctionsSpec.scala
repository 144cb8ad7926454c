package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("text: tokens, quality, fingerprint, langid") {
    val df = Seq(
      (1L, "the cat and the dog sit in a house that is big"),
      (2L, "el gato y la casa de los perros en una calle"),
      (3L, "zzz qqq")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n") == 12L)
    assert(out(0).getAs[String]("lang") == "en")
    assert(out(1).getAs[String]("lang") == "es")
    assert(out(2).getAs[String]("lang") == "und")
    // fingerprint is token-order independent
    val fp2 = df.filter($"id" === 1)
      .select(TextFunctions.fingerprint(lit("big that dog cat the and sit in a house is")))
      .collect()(0).getString(0)
    assert(out(0).getAs[String]("fp") == fp2)
  }

  test("dedup: exact groups, jaccard, minhash stability, lsh pairs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // exact dup of 1
      (3L, "alpha beta gamma epsilon"), // near dup
      (4L, "totally different words here")
    ).toDF("doc_id", "text")

    val exact = DedupFunctions.exactDupGroups(docs, "doc_id", "text").collect()
    assert(exact.length == 1 && exact(0).getAs[Long]("n_dups") == 2)

    val sh = docs.select(col("doc_id"), TextFunctions.shingles(col("text"), 2).as("sh"))
    val pair = sh.as("a").join(sh.as("b"), col("a.doc_id") === 1 && col("b.doc_id") === 3)
      .select(DedupFunctions.jaccard(col("a.sh"), col("b.sh")))
      .collect()(0).getDouble(0)
    assert(pair > 0.4 && pair < 1.0)

    // identical content → identical minhash signature
    val sigs = docs.select(col("doc_id"),
      DedupFunctions.minhashSignature(TextFunctions.tokens(col("text")), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))

    val pairs = DedupFunctions.lshCandidatePairs(docs, "doc_id",
      TextFunctions.tokens(col("text")), k = 8, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))      // exact dups always collide
    assert(!pairs.contains((1L, 4L)) || pairs.size < 6)
  }

  test("lshBucketStarEdges: same components as pairwise candidates, fewer edges") {
    // 60 docs in ~6 near-dup families (shared token sets) + singletons
    val docs = (1L to 60L).map { i =>
      val fam = i % 6
      val noise = if (i % 3 == 0) s" extra$i" else ""
      (i, s"family $fam shared tokens alpha$fam beta$fam gamma$fam delta$fam$noise")
    }.toDF("doc_id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val cliquePairs = DedupFunctions.lshCandidatePairs(docs, "doc_id", toks, k = 8, bands = 4)
    val starEdges   = DedupFunctions.lshBucketStarEdges(docs, "doc_id", toks, k = 8, bands = 4)
    val nClique = cliquePairs.count()
    val nStar   = starEdges.count()
    assert(nStar < nClique, s"star $nStar should be < clique $nClique")
    // identical connected components from either edge construction
    import graft.operators.ConnectedComponents
    def comp(e: org.apache.spark.sql.DataFrame) =
      ConnectedComponents.clusters(docs.select("doc_id"), "doc_id", e, "id_a", "id_b")
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(comp(starEdges) == comp(cliquePairs))
  }

  test("quantizeInt8: reconstruction within half a step, zero vector safe") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(127.0f, -127.0f, 1.0f, -1.0f))
    ).toDF("id", "vec")
    val rows = df.select(col("id"), col("vec"),
        VectorFunctions.quantizeInt8(col("vec")).as("qz"))
      .select(col("id"), col("vec"), col("qz.scale"), col("qz.q"))
      .as[(Long, Array[Float], Double, Array[Int])].collect()
      .map(r => r._1 -> r).toMap
    val (_, v1, s1, q1) = rows(1L)
    assert(q1.forall(q => q >= -127 && q <= 127))
    v1.zip(q1).foreach { case (x, q) =>
      assert(math.abs(x - q * s1) <= s1 / 2 + 1e-9, s"x=$x q=$q scale=$s1")
    }
    val (_, _, s2, q2) = rows(2L)
    assert(s2 == 0.0 && q2.forall(_ == 0)) // zero vector → zeros, no NaN
    assert(rows(3L)._4.toSeq == Seq(127, -127, 1, -1)) // exact at extremes
  }

  test("tfidfTopTerms: rare terms outrank ubiquitous ones, k respected") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common common rare2"),
      (3L, "common common common")
    ).toDF("doc_id", "text")
    val out = Curation.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, String, Double, Long)].collect()
    assert(out.count(_._1 == 1L) == 2)
    val top1 = out.filter(_._1 == 1L).minBy(_._4)
    assert(top1._2 == "rare1" && top1._3 > 0.0) // df=1 term wins doc 1
    // 'common' appears in every doc → idf = ln(1) = 0
    assert(out.filter(_._2 == "common").forall(_._3 == 0.0))
  }

  test("fuzzyNamePairs: token blocking + levenshtein verify, df cap prunes hot tokens") {
    val rows = Seq(
      (1L, "Acme Corp"), (2L, "acme corpx"), (3L, "acme inc"),
      (4L, "zeta corp"), (5L, "acme corp") // duplicate mention of 1
    ).toDF("id", "name")
    val out = DedupFunctions.fuzzyNamePairs(rows, "name",
        maxDist = 2, maxDf = 3L)
      .as[(String, String, Long)].collect().toSeq
    // catalog dedup: "Acme Corp" and "acme corp" are ONE name; the only
    // pair within lev 2 is (acme corp, acme corpx); (acme inc, lev 4)
    // and (zeta corp, lev 4) verify out
    assert(out == Seq(("acme corp", "acme corpx", 1L)), s"got $out")
    // df cap: 'acme' blocks 3 names; with maxDf = 2 the pair is only
    // reachable through the capped token and must disappear
    assert(DedupFunctions.fuzzyNamePairs(rows, "name",
      maxDist = 2, maxDf = 2L).isEmpty)
    intercept[IllegalArgumentException] {
      DedupFunctions.fuzzyNamePairs(rows, "name", maxDist = 0, maxDf = 1L)
    }
  }

  test("fuzzyNamePairsQgram: recovers single-token pairs the token tier misses") {
    val rows = Seq(
      (1L, "acme"), (2L, "acne"),      // no shared token, lev 1
      (3L, "ab"), (4L, "ac"),          // shorter than q: whole-name grams
      (5L, "unrelatedword")
    ).toDF("id", "name")
    // the token tier misses (acme, acne) by its documented contract
    assert(DedupFunctions.fuzzyNamePairs(rows, "name",
      maxDist = 2, maxDf = 5L).isEmpty)
    // the q-gram tier blocks them on shared 2-grams and verifies lev;
    // "ac" (len = q, grams to itself) also blocks against the longer
    // names CONTAINING that gram — (ac, acme) and (ac, acne) at lev 2.
    // ("ab","ac") share no gram → miss: the documented residual of
    // whole-name gramming for strings shorter than q
    val out = DedupFunctions.fuzzyNamePairsQgram(rows, "name",
        maxDist = 2, q = 2, maxDf = 5L)
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("ac", "acme", 2L), ("ac", "acne", 2L),
      ("acme", "acne", 1L)), s"got $out")
    // length prune: a candidate pair with |len diff| > maxDist never
    // reaches levenshtein — "acme"/"acmewide" share 'ac','cm','me'
    val rows2 = Seq((1L, "acme"), (2L, "acmewidening")).toDF("id", "name")
    assert(DedupFunctions.fuzzyNamePairsQgram(rows2, "name",
      maxDist = 2, q = 2, maxDf = 5L).isEmpty)
  }

  test("contaminationSpans: longest shared token run per (train, eval) pair") {
    val train = Seq(
      (1L, "x x p q r s t y"),   // 5-token run shared with eval 10
      (2L, "p q r only"),        // one shared trigram -> span 3, floored
      (3L, "m n m n m n"),       // periodic text: two diagonals, both run-2
      (4L, "nothing shared here")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "a p q r s t b"),
      (11L, "m n m n")
    ).toDF("doc_id", "text")
    val out = DedupFunctions.contaminationSpans(train, eval,
        "doc_id", "text", n = 3, minSpanTokens = 4)
      .as[(Long, Long, Long)].collect().toSeq
    // doc 1 x eval 10: grams (p q r)(q r s)(r s t) consecutive on one
    // diagonal -> run 3 -> span 3 + 2 = 5; doc 2's single trigram is a
    // span of 3 < 4; doc 3 x eval 11: diagonals 0 and 2 each carry a
    // 2-run -> span 4 (the repeated-gram/multi-diagonal case)
    assert(out == Seq((1L, 10L, 5L), (3L, 11L, 4L)), s"got $out")
    // partitioning-invariant
    val rep = DedupFunctions.contaminationSpans(train.repartition(5),
        eval.repartition(3), "doc_id", "text", n = 3, minSpanTokens = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(rep == out)
    intercept[IllegalArgumentException] {
      DedupFunctions.contaminationSpans(train, eval, "doc_id", "text",
        n = 3, minSpanTokens = 2)
    }
  }

  test("repeatedSpans/removal: ExactSubstr-style corpus-wide span cut") {
    // doc 1 and doc 2 share the 5-token phrase "p q r s t" (cross-doc
    // repeat); doc 3 repeats "u v w" twice WITHIN itself (intra-doc
    // repeat counts, per Lee et al.); doc 4 is clean; docs 5 and 6 are
    // short (< n tokens) exact duplicates (whole-doc gram, span capped
    // at token count).
    val docs = Seq(
      (1L, "a b p q r s t c d"),
      (2L, "e f g p q r s t h"),
      (3L, "u v w k1 k2 k3 k4 u v w"),
      (4L, "all these tokens appear once only zz"),
      (5L, "tiny dup"),
      (6L, "tiny dup")
    ).toDF("doc_id", "text")

    val stats = DedupFunctions.repeatedSpanStats(docs, "doc_id", "text",
        n = 3, minCount = 2L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: grams (p q r)(q r s)(r s t) at positions 2..4 -> one span
    // of 3 + 3 - 1 = 5 tokens; doc 2: same phrase at 3..5 -> 5 tokens;
    // doc 3: "u v w" at 0 and 7 -> two 3-token spans (gap 7 > n=3, no
    // merge); docs 5/6: whole-doc gram repeated -> span capped at 2.
    assert(stats == Seq(
      (1L, 1L, 5L, 5L, 9L),
      (2L, 1L, 5L, 5L, 9L),
      (3L, 2L, 6L, 3L, 10L),
      (5L, 1L, 2L, 2L, 2L),
      (6L, 1L, 2L, 2L, 2L)), s"got $stats")

    val clean = DedupFunctions.removeRepeatedSpans(docs, "doc_id", "text",
        n = 3, minCount = 2L)
      .as[(Long, String)].collect().toMap
    assert(clean(1L) == "a b c d")
    assert(clean(2L) == "e f g h")
    assert(clean(3L) == "k1 k2 k3 k4")
    assert(clean(4L) == "all these tokens appear once only zz") // untouched
    assert(clean(5L) == "" && clean(6L) == "")                  // fully covered
    assert(clean.size == 6)

    // partitioning-invariant
    val rep = DedupFunctions.repeatedSpanStats(docs.repartition(7),
        "doc_id", "text", n = 3, minCount = 2L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rep == stats)

    // overlapping covered ranges merge: "x1 x2 x3 x4" repeated as a
    // block gives consecutive gram starts -> ONE span, not three
    val merged = Seq(
      (1L, "x1 x2 x3 x4 mid y1 y2"),
      (2L, "x1 x2 x3 x4 tail")
    ).toDF("doc_id", "text")
    val m = DedupFunctions.repeatedSpanStats(merged, "doc_id", "text",
        n = 3, minCount = 2L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(m == Seq((1L, 1L, 4L, 4L, 7L), (2L, 1L, 4L, 4L, 5L)), s"got $m")

    intercept[IllegalArgumentException] {
      DedupFunctions.repeatedSpanStats(docs, "doc_id", "text", n = 3,
        minCount = 1L)
    }
  }

  test("repeated-span index: replace/delete/retract shift counts corpus-wide; asOf replays") {
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    val v1 = Seq(
      (1L, "a b p q r s t c d"),
      (2L, "e f g p q r s t h"),   // shares "p q r s t" with doc 1
      (3L, "k1 k2 k3 k4 k5 k6")
    ).toDF("doc_id", "text")
    val path = tmpDir("repspan_idx_spec") + "/idx"
    DedupFunctions.saveRepeatedSpanIndex(v1, "doc_id", "text", path, n = 3)
    val s1 = stats(DedupFunctions.repeatedSpanStatsFromIndex(
      spark, path, n = 3))
    assert(s1 == stats(DedupFunctions.repeatedSpanStats(v1, "doc_id", "text", n = 3)))
    assert(s1.map(_._1) == Seq(1L, 2L))

    // REPLACE doc 2 with text that no longer shares the phrase, and
    // DELETE doc 3 (null text): doc 1's span must disappear too — its
    // grams dropped below the floor when doc 2's old version died
    val delta = Seq((2L, "totally new words here now"), (3L, null))
      .toDF("doc_id", "text")
    DedupFunctions.mergeRepeatedSpanDelta(delta, "doc_id", "text", path, n = 3)
    assert(stats(DedupFunctions.repeatedSpanStatsFromIndex(
      spark, path, n = 3)).isEmpty)
    // time travel: the pre-merge snapshot still shows the shared span
    assert(stats(DedupFunctions.repeatedSpanStatsFromIndex(
      spark, path, n = 3, asOf = 0)) == s1)

    // rebuild the sharing state, then GDPR-retract doc 2: doc 1
    // un-covers again without any segment rewrite
    DedupFunctions.mergeRepeatedSpanDelta(
      Seq((2L, "e f g p q r s t h")).toDF("doc_id", "text"),
      "doc_id", "text", path, n = 3)
    assert(stats(DedupFunctions.repeatedSpanStatsFromIndex(
      spark, path, n = 3)).map(_._1) == Seq(1L, 2L))
    DedupFunctions.retractRepeatedSpanIndex(spark, path,
      Seq(2L).toDF("doc_id"))
    assert(stats(DedupFunctions.repeatedSpanStatsFromIndex(
      spark, path, n = 3)).isEmpty)
  }

  test("persisted kNN graph: changed-lists-only merge, retraction repairs citing lists") {
    val all = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f)),
      (4L, Array(0.99f, 0.01f, 0f, 0f)), // delta, lands inside the x-cluster
      (5L, Array(0f, 0f, 1f, 0f))        // delta, far from everyone
    ).toDF("id", "vec")
    val corpus = all.filter($"id" <= 3)
    val delta = all.filter($"id" >= 4)
    val path = tmpDir("knn_graph_spec") + "/idx"

    VectorFunctions.saveKnnGraph(corpus, "id", "vec", path, k = 2)
    VectorFunctions.mergeKnnGraphDelta(spark, path, corpus, delta,
      "id", "vec", k = 2)
    val live = VectorFunctions.knnGraphEdges(spark, path)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    val fresh = VectorFunctions.knnGraph(all, "id", "vec", k = 2)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(live == fresh)
    // the merge segment carries ONLY the delta ids plus the old lists 4
    // displaced (0 and 1 — the y-cluster never cites the newcomers)
    val segs = SegmentedIndex.describe(spark, path, "graph")
    assert(segs.map(_._1) == Seq(0, 1))
    assert(segs(0)._2 == 4L && segs(1)._2 == 4L,
      s"merge segment must be changed-only, got $segs")

    // retract 4: its own row dies; 0 and 1 (which cite it) repair; the
    // live graph equals a fresh build over the survivors
    VectorFunctions.retractKnnGraph(spark, path,
      Seq(4L).toDF("id"), all, "id", "vec", k = 2)
    val after = VectorFunctions.knnGraphEdges(spark, path)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    val freshAfter = VectorFunctions.knnGraph(all.filter($"id" =!= 4L),
        "id", "vec", k = 2)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(after == freshAfter)
    assert(!after.exists(e => e._1 == 4L || e._2 == 4L))
    // r13: purge + repair commit as ONE combined segment — the two
    // citing lists re-ingest (replacement rows) and the tombstones
    // cover the dead id plus both replaced lists
    val segs2 = SegmentedIndex.describe(spark, path, "graph")
    assert(segs2.map(_._2) == Seq(4L, 4L, 2L), s"got $segs2")
    assert(segs2.last._3 == 3L,
      s"combined purge segment must tombstone dead+affected, got $segs2")
    // time travel: an asOf pin at the pre-retraction segment still
    // replays the merged graph — the retraction can't reach back
    val pinned = VectorFunctions.knnGraphEdges(spark, path, asOf = 1)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(pinned == fresh, "asOf read must replay the pre-retraction graph")
  }

  test("blocklistHits: token-boundary phrase match, mixed lengths, case-blind") {
    val docs = Seq(
      (1L, "intro bad phrase here outro"),       // 2-token hit
      (2L, "the badly phrased one"),              // substring but NOT token-boundary
      (3L, "BAD   PHRASE"),                       // exact doc == phrase, odd case/ws
      (4L, "a very bad thing happened today ok"), // 3-token hit
      (5L, "nothing to see"),
      (6L, "bad phrase and very bad thing twice") // both phrases, once each pair
    ).toDF("doc_id", "text")
    val out = Curation.blocklistHits(docs, "doc_id", "text",
        Seq("bad phrase", "very bad thing"))
      .as[(Long, String)].collect().toSet
    assert(out == Set(
      (1L, "bad phrase"), (3L, "bad phrase"), (4L, "very bad thing"),
      (6L, "bad phrase"), (6L, "very bad thing")), s"got $out")
    // duplicate occurrences collapse to one (doc, phrase) row
    val dup = Curation.blocklistHits(
        Seq((9L, "bad phrase mid bad phrase")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("bad phrase"))
      .as[(Long, String)].collect().toSeq
    assert(dup == Seq((9L, "bad phrase")))
    intercept[IllegalArgumentException] {
      Curation.blocklistHits(docs, "doc_id", "text", Seq.empty)
    }

    // enforcement half: all occurrences cut, overlapping/nested matches
    // merge into one cut, flanks survive, clean docs normalize only
    val removed = Curation.blocklistRemove(docs, "doc_id", "text",
        Seq("bad phrase", "very bad thing"))
      .as[(Long, String)].collect().toMap
    assert(removed(1L) == "intro here outro")
    assert(removed(2L) == "the badly phrased one")   // substring not touched
    assert(removed(3L) == "")                         // doc == phrase
    assert(removed(4L) == "a happened today ok")
    assert(removed(6L) == "and twice")
    // overlap: "bad phrase" (0-1) and a phrase covering (1-2) merge
    val ov = Curation.blocklistRemove(
        Seq((1L, "bad phrase thing tail")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("bad phrase", "phrase thing"))
      .as[(Long, String)].collect().toMap
    assert(ov(1L) == "tail", s"got $ov")
    // nested: a 2-gram inside an already-covered 3-gram can't split the span
    val nest = Curation.blocklistRemove(
        Seq((1L, "x aa bb cc y")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("aa bb cc", "aa bb"))
      .as[(Long, String)].collect().toMap
    assert(nest(1L) == "x y", s"got $nest")
  }

  test("collocations: bound pairs outrank chance pairs; minCount floors hapax") {
    // "new york" always adjacent (strong collocation); "the" pairs with
    // everything (chance-level PMI); "rara avis" appears once (floored)
    val docs = Seq(
      (1L, "the new york office and the new york team"),
      (2L, "new york is the city the team likes"),
      (3L, "the city and the office and the team"),
      (4L, "rara avis")
    ).toDF("doc_id", "text")
    val out = Curation.collocations(docs, "text", minCount = 2L, k = 5)
      .as[(String, String, Long, Double)].collect()
    assert(out.head._1 == "new" && out.head._2 == "york" && out.head._3 == 3L,
      s"'new york' must top the PMI ranking, got ${out.toSeq}")
    assert(!out.exists(p => p._1 == "rara" || p._1 == "avis"),
      "hapax pairs below minCount must be floored")
    assert(out.map(_._4).toSeq == out.map(_._4).sortBy(-_).toSeq)
    assert(out.length <= 5)
    // margins come from the pair table: 'the' is high-frequency on the
    // left, so any surviving 'the *' pair scores below 'new york'
    assert(out.filter(_._1 == "the").forall(_._4 < out.head._4))
    // partitioning-invariant: same answers from a repartitioned corpus
    val rep = Curation.collocations(docs.repartition(7), "text",
        minCount = 2L, k = 5)
      .as[(String, String, Long, Double)].collect()
    assert(rep.toSeq == out.toSeq)
  }

  test("hashedLinearScore: bucket-sum margin, bias, determinism") {
    val docs = Seq((1L, "aa bb aa"), (2L, ""), (3L, "  AA  ")).toDF("doc_id", "text")
    // all-zero weights → margin is exactly the bias (empty text included)
    val zero = docs.select($"doc_id",
        TextFunctions.hashedLinearScore($"text", Seq.fill(8)(0.0), bias = 2.5).as("m"))
      .as[(Long, Double)].collect().toMap
    assert(zero.values.forall(_ == 2.5))
    // token repetition sums its weight twice; case-insensitive hashing
    val w = TextFunctions.pseudoWeights(8)
    val m = docs.select($"doc_id",
        TextFunctions.hashedLinearScore($"text", w).as("m"))
      .as[(Long, Double)].collect().toMap
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"feat:$t".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(8), 16) % 8).toInt
    }
    assert(math.abs(m(1L) - (2 * w(bucket("aa")) + w(bucket("bb")))) < 1e-12)
    assert(m(2L) == 0.0) // no tokens → bias only
    assert(m(3L) == w(bucket("aa"))) // trimmed + lowercased
    // deterministic across evaluations
    val again = docs.select($"doc_id",
        TextFunctions.hashedLinearScore($"text", w).as("m"))
      .as[(Long, Double)].collect().toMap
    assert(again == m)
  }

  test("repetition signals: top-token and duplicate-bigram fractions") {
    val df = Seq(
      (1L, "spam spam spam spam eggs"),        // 4/5 top token; bigrams: 3×"spam spam" +1 → dup 2/4
      (2L, "all words here are unique tokens"),
      (3L, "")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      TextFunctions.topTokenFraction(col("text")).as("top"),
      TextFunctions.dupNgramFraction(col("text"), 2).as("dup"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((0.8, 0.5)))
    assert(out(2L)._1 < 0.2 && out(2L)._2 == 0.0)
    assert(out(3L)._2 == 0.0) // empty text → no NaN, no crash
  }

  test("simhash: near-identical docs differ in few bits") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely unrelated content about other things")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      DedupFunctions.simhash(TextFunctions.tokens(col("text")), 16).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(2L)) <= ham(out(1L), out(3L)))
  }

  test("vector: cosine + brute force vs lsh topk plumbing") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(-1f, 0f, 0f, 0f))
    ).toDF("id", "vec")
    val q = vecs.filter($"id" === 0).select($"id".as("q_id"), $"vec".as("q_vec"))
    val c = vecs.select($"id".as("c_id"), $"vec".as("c_vec"))
    val top = VectorFunctions.bruteForceTopK(q, c, "q_id", "c_id", "q_vec", "c_vec", 2)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L))

    val lsh = VectorFunctions.lshTopK(q, c, "q_id", "c_id", "q_vec", "c_vec", k = 2, bits = 4)
      .select("c_id").as[Long].collect().toSet
    assert(lsh.contains(1L))   // same sign bucket
    assert(!lsh.contains(3L))  // opposite sign bucket pruned
  }

  test("simhashHammingPairs: pigeonhole ≡ brute-force Hamming ball") {
    // near-dup texts (1-2 token edits) + unrelated background — the
    // pigeonhole blocking must recover EXACTLY the brute-force pair
    // set (zero false negatives is a theorem; false positives are
    // verified out by the exact bit_count)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta nu iota"),
      (4L, "one two three four five six seven eight"),
      (5L, "one two three four five six seven nine"),
      (6L, "totally unrelated content about something else entirely xx")
    ).toDF("doc_id", "text")
    val elems = TextFunctions.tokens(lower(col("text")))
    val got = DedupFunctions.simhashHammingPairs(docs, "doc_id", elems,
        bits = 32, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val sh = docs.select(col("doc_id"),
        DedupFunctions.simhash(elems, 32).cast("long").as("sh"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute, s"pigeonhole $got != brute $brute")
    // distance column is the true Hamming distance
    got.foreach { case (a, b, h) =>
      assert(h == java.lang.Long.bitCount(sh(a) ^ sh(b)))
    }
    // guards: indivisible block split and degenerate radius
    intercept[IllegalArgumentException] {
      DedupFunctions.simhashHammingPairs(docs, "doc_id", elems, 32, 4)
    }
    intercept[IllegalArgumentException] {
      DedupFunctions.simhashHammingPairs(docs, "doc_id", elems, 32, 0)
    }
  }

  test("knnGraph + knnGraphBlocked: exact graph, cell-confined recall") {
    // two tight clusters around the x and y axes
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.95f, 0.05f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0.05f, 0.95f, 0f, 0f)),
      (5L, Array(0.1f, 0.9f, 0f, 0f))
    ).toDF("id", "vec")
    val g = VectorFunctions.knnGraph(vecs, "id", "vec", k = 2)
      .select("q_id", "c_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    // every vector gets exactly k neighbors; nearest of 0 is 1 (closer
    // than 2), nearest of 3 is 4
    assert(g.length == 12)
    assert(g.count(_._1 == 0L) == 2)
    assert(g.contains((0L, 1L, 1L)) && g.contains((3L, 4L, 1L)))
    // in-cluster neighbors outrank the other cluster everywhere
    assert(g.filter(_._2 <= 2L).map(_._1).forall(_ <= 2L))

    // blocked with 2 cells, nprobe=1: the clusters separate, so the
    // home cell already contains every true neighbor -> recall 1.0
    val blocked = VectorFunctions.knnGraphBlocked(vecs, "id", "vec",
        k = 2, clusters = 2, iters = 3, nprobe = 1)
      .select("q_id", "c_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(blocked.toSet == g.toSet,
      s"blocked ${blocked.sorted} != exact ${g.sorted}")
    // nprobe = clusters degenerates to the exact graph by construction
    val full = VectorFunctions.knnGraphBlocked(vecs, "id", "vec",
        k = 2, clusters = 2, iters = 3, nprobe = 2)
      .select("q_id", "c_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(full.toSet == g.toSet)
    // partitioning-invariant
    val rep = VectorFunctions.knnGraph(vecs.repartition(5), "id", "vec", k = 2)
      .select("q_id", "c_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rep.toSet == g.toSet)
    intercept[IllegalArgumentException] {
      VectorFunctions.knnGraphBlocked(vecs, "id", "vec", k = 2,
        clusters = 2, iters = 3, nprobe = 3)
    }
  }

  test("crossTopKBlocked: cell-confined cross retrieval, full-probe ≡ brute") {
    // queries on the x-cluster, corpus spanning both clusters
    val qs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))
    ).toDF("q_id", "qv")
    val cs = Seq(
      (10L, Array(0.95f, 0.05f, 0f, 0f)),
      (11L, Array(0.9f, 0.1f, 0f, 0f)),
      (12L, Array(0.05f, 0.95f, 0f, 0f)),
      (13L, Array(0.1f, 0.9f, 0f, 0f))
    ).toDF("c_id", "cv")
    val union = qs.select(col("q_id").as("id"), col("qv").as("v"))
      .unionByName(cs.select(col("c_id").as("id"), col("cv").as("v")))
    val cents = VectorFunctions.kmeansCentroids(union, "id", "v",
      k = 2, iters = 3)
    val brute = VectorFunctions.bruteForceTopK(qs, cs,
        "q_id", "c_id", "qv", "cv", 2)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    // nprobe=1: the clusters separate cleanly, so each query's home
    // cell already holds its true top-2 -> identical to brute
    val b1 = VectorFunctions.crossTopKBlocked(qs, cs,
        "q_id", "c_id", "qv", "cv", k = 2, cents, nprobe = 1)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(b1 == brute, s"$b1 != $brute")
    // nprobe = clusters degenerates to brute by construction
    val b2 = VectorFunctions.crossTopKBlocked(qs, cs,
        "q_id", "c_id", "qv", "cv", k = 2, cents, nprobe = 2)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(b2 == brute)
    // queries never appear as candidates (cross, not self-join)
    assert(b2.forall(_._2 >= 10L))
    intercept[IllegalArgumentException] {
      VectorFunctions.crossTopKBlocked(qs, cs, "q_id", "c_id", "qv", "cv",
        k = 2, cents, nprobe = 0)
    }
  }

  test("knnGraphMergeDelta: merge chain equals fresh rebuild, displacement included") {
    val all = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f)),
      // delta: 4 lands between 0 and 1 (displaces an old edge), 5 is
      // a new far-away vector that must still get a full list
      (4L, Array(0.99f, 0.01f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f))
    ).toDF("id", "vec")
    val corpus = all.filter($"id" <= 3)
    val delta = all.filter($"id" >= 4)
    val base = VectorFunctions.knnGraph(corpus, "id", "vec", k = 2)
    val inc = VectorFunctions.knnGraphMergeDelta(base, corpus, delta,
        "id", "vec", k = 2)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    val fresh = VectorFunctions.knnGraph(all, "id", "vec", k = 2)
      .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(inc == fresh, s"merged $inc != fresh $fresh")
    // the displacement actually happened: 4 is now 0's nearest
    assert(fresh.contains((0L, 4L, 1L)))
    // and delta vectors carry full lists
    assert(inc.count(_._1 == 4L) == 2 && inc.count(_._1 == 5L) == 2)
  }

  test("curation: keep/drop decision with reason precedence") {
    val good = "the cat and the dog sat of the mat in a house that is big " * 8
    val docs = Seq(
      (1L, good),                   // keep
      (2L, good),                   // exact dup of 1 → exact_dup
      (3L, "der hund und die katze von dem haus mit einem garten zu gehen " * 8), // de → keep
      (4L, "zz xx qq ww"),          // no stopword hits → 'und' → lang
      (5L, "the ############################") // en but punct-heavy + tiny → quality
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, "doc_id", "text", Seq("de", "en", "es", "fr"), 0.5)
      .select("doc_id", "keep", "drop_reason")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)))).toMap
    assert(out(1L) == (true, None))
    assert(out(2L) == (false, Some("exact_dup")))
    assert(out(3L) == (true, None))
    assert(out(4L) == (false, Some("lang")))
    assert(out(5L) == (false, Some("quality")))
  }

  test("curation: sharded budget packing fills contiguously per shard") {
    val docs = Seq(
      (1L, 0L, 1000L), (2L, 0L, 1000L), (3L, 0L, 1000L), // shard 0: cum 1000,2000,3000
      (4L, 1L, 2500L), (5L, 1L, 100L)                    // shard 1: oversized doc then small
    ).toDF("doc_id", "shard", "n_tokens")
    val packs = Curation.packByBudget(docs, "shard", "doc_id", "n_tokens", budget = 2048L)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(packs(1L) == 0L) // starts at 0
    assert(packs(2L) == 0L) // starts at 1000
    assert(packs(3L) == 0L) // starts at 2000 — still inside pack 0's window
    assert(packs(4L) == 0L) // oversized doc starts pack 0, spills past it
    assert(packs(5L) == 1L) // starts at 2500 → pack 1
  }

  test("pii: scrub replaces emails, ips, phones; counts match") {
    val df = Seq(
      (1L, "write to a.user+tag@sub.example.com or 192.168.0.1 tel 555-1234 done"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io and z@w.org plus 10.0.0.1")
    ).toDF("id", "text")
    val out = df.select(col("id"),
        TextFunctions.scrubPii(col("text")).as("clean"),
        TextFunctions.piiCounts(col("text")).as("c"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("clean") ==
      "write to <EMAIL> or <IP> tel <PHONE> done")
    assert(out(0).getStruct(2).getLong(0) == 1L) // emails
    assert(out(0).getStruct(2).getLong(1) == 1L) // ips
    assert(out(0).getStruct(2).getLong(2) == 1L) // phones
    assert(out(1).getAs[String]("clean") == "no pii here at all")
    assert(out(2).getAs[String]("clean") == "two mails <EMAIL> and <EMAIL> plus <IP>")
  }

  test("segments: literal split keeps trailing empties, filter by word count") {
    val df = Seq(
      (1L, "one two three four five the short the six seven eight nine ten")
    ).toDF("id", "text")
    val r = df.select(
      Curation.segments(col("text"), " the ").as("segs"),
      Curation.keepSegments(col("text"), " the ", 5).as("kept")).collect()(0)
    assert(r.getSeq[String](0) ==
      Seq("one two three four five", "short", "six seven eight nine ten"))
    assert(r.getSeq[String](1) ==
      Seq("one two three four five", "six seven eight nine ten"))
  }

  test("dropDuplicateSegments: first occurrence kept in order, rejoined") {
    val df = Seq(
      (1L, "alpha beta. gamma delta. alpha beta. epsilon"),
      (2L, "one. one. one"),
      (3L, "no dups here at all")
    ).toDF("id", "text")
    val out = df.select(col("id"),
        Curation.dropDuplicateSegments(col("text"), ". ").as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha beta. gamma delta. epsilon")
    assert(out(2L) == "one")
    assert(out(3L) == "no dups here at all")
  }

  test("dedupSegmentsAcross: global first occurrence wins; later docs lose their copies") {
    val df = Seq(
      (1L, "shared boiler plate. unique one here. repeat me twice. repeat me twice"),
      (2L, "shared boiler plate. unique two here"),
      (3L, "shared boiler plate"),                 // everything is a dup → empty rebuild
      (4L, "tiny. unique four here"),              // "tiny" dies to minWords, idx re-packs
      (5L, null.asInstanceOf[String])              // null text → absent from output
    ).toDF("doc_id", "text")
    val out = Curation.dedupSegmentsAcross(df, "doc_id", "text", ". ", minWords = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // doc 1 owns the first copy of everything it says; its own second
    // "repeat me twice" drops (intra-doc dup through the same rank)
    assert(out(1L) == ((4L, 3L,
      "shared boiler plate. unique one here. repeat me twice")))
    // doc 2 loses the boilerplate to doc 1, keeps its unique segment
    assert(out(2L) == ((2L, 1L, "unique two here")))
    // doc 3 loses everything
    assert(out(3L) == ((1L, 0L, "")))
    // doc 4: minWords drops "tiny" BEFORE positions are assigned
    assert(out(4L) == ((1L, 1L, "unique four here")))
    // deterministic under repartitioning (total order on (id, idx))
    val out2 = Curation.dedupSegmentsAcross(df.repartition(7), "doc_id", "text",
        ". ", minWords = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out2 == out)
  }

  test("spanContainment: planted shared passage found; boilerplate dropped") {
    val passage = "the quick brown fox jumped over the extremely lazy dog today"
    val boiler  = "standard footer text appearing on every single page here"
    val docs = Seq(
      (1L, s"unique alpha content one. $passage and then some more words"),
      (2L, s"totally different beta opening here. $passage closing words differ"),
      (3L, s"nothing in common with anyone at all zebra xylophone"),
      (4L, s"fourth doc $boiler"),
      (5L, s"fifth doc $boiler"),
      (6L, s"sixth doc $boiler")
    ).toDF("doc_id", "text")
    // maxDf = 2: the boilerplate span (in 3 docs) must be dropped; the
    // passage (in 2 docs) must survive and link docs 1-2
    val pairs = DedupFunctions.spanContainment(docs, "doc_id", "text",
        k = 6, w = 4, maxDf = 2, minShared = 2L)
      .as[(Long, Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 2L),
      s"planted passage pair (1,2) missing from ${pairs.toSeq}")
    val boilerPairs = pairs.filter(p => p._1 >= 4L)
    assert(boilerPairs.isEmpty,
      s"boilerplate trio should be stop-span-pruned, got ${boilerPairs.toSeq}")
    // identical docs → containment 1.0
    val twins = Seq((10L, "exactly the same text content"),
      (11L, "exactly the same text content")).toDF("doc_id", "text")
    val tp = DedupFunctions.spanContainment(twins, "doc_id", "text",
        k = 6, w = 4, maxDf = 5, minShared = 1L)
      .as[(Long, Long, Long, Double)].collect()
    assert(tp.length == 1 && tp.head._4 == 1.0)
  }

  test("rarityStats: OOV fraction vs top-K vocab, mean corpus frequency") {
    val docs = Seq(
      (1L, "the the cat"),   // 'the' freq 4, 'cat' freq 1
      (2L, "the the dog"),   // 'dog' freq 1
      (3L, "zyx")            // singleton OOV-ish token
    ).toDF("doc_id", "text")
    // vocabK = 1 → vocabulary is just 'the' (freq 4 beats all)
    val out = Curation.rarityStats(docs, "doc_id", "text", vocabK = 1)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 3L)                       // n_tok
    assert(out(1L)._3 == 0.333333)                 // 1 of 3 tokens OOV
    assert(out(1L)._4 == 3.0)                      // (4+4+1)/3
    assert(out(3L)._3 == 1.0 && out(3L)._4 == 1.0) // fully OOV singleton
  }

  test("incremental dedup: exact digests and near-dup band index") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "totally different text here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta"),   // exact dup of corpus 1
      (11L, "brand new never seen")      // fresh
    ).toDF("doc_id", "text")
    val flags = DedupFunctions.incrementalExactDup(corpus, batch, "doc_id", "text")
      .as[(Long, Boolean)].collect().toMap
    assert(flags(10L) && !flags(11L))

    // near-dup: batch doc shares 3 of 4 words with corpus doc 1 →
    // some MinHash band must collide; the fresh doc collides nowhere
    val elems = org.apache.spark.sql.functions.split(col("text"), " ")
    val index = DedupFunctions.bandIndex(corpus, "doc_id", elems, k = 16, bands = 8)
    val nearBatch = Seq(
      (20L, "alpha beta gamma epsilon"),
      (21L, "qq ww ee rr")
    ).toDF("doc_id", "text")
    val cands = DedupFunctions.incrementalNearDupCandidates(
        index, nearBatch, "doc_id", elems, k = 16, bands = 8)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((20L, 1L)), s"expected (20,1) candidate in $cands")
    assert(!cands.exists(_._1 == 21L), s"fresh doc must not collide: $cands")
  }

  test("corpus dedup: docs already in the corpus digest index are dropped") {
    val docs = Seq((1L, "already ingested content"), (2L, "genuinely new content"),
      (3L, "also already present"), (4L, "fresh again")).toDF("doc_id", "text")
    val corpus = Seq("already ingested content", "also already present")
      .toDF("text").select(md5(col("text")).as("digest"))
    val kept = DedupFunctions.dedupAgainstCorpus(docs, "text", corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), s"expected corpus dups dropped, got $kept")
  }

  test("IVF drift retrain hook: no-op below threshold, corpus-pass retrain above") {
    import graft.functions.{SegmentedIndex, VectorFunctions}
    def vec(i: Int) = Array.tabulate(8) { d =>
      val base = if (d == (i % 4) * 2) 10.0f else 0.0f
      base + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val base = (0 until 100).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("ivfdrift")
    VectorFunctions.saveIvfIndex(base, "vec_id", "embedding", s"$dir/idx",
      clusters = 4, iters = 2)
    val delta = (100 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    VectorFunctions.mergeIvfDelta(delta, "vec_id", "embedding", s"$dir/idx")
    val corpus = (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    // ~17% delta share: below a 0.3 threshold the decision is footer
    // arithmetic only and the tree is untouched
    assert(!VectorFunctions.retrainIvfIfDrifted(corpus, "vec_id", "embedding",
      s"$dir/idx", threshold = 0.3, clusters = 4, iters = 2))
    assert(SegmentedIndex.segmentDirs(spark, s"$dir/idx").map(_._1) == Seq(0, 1))
    // above it (threshold 0.1) the index re-trains to one fresh segment
    // covering the whole corpus
    assert(VectorFunctions.retrainIvfIfDrifted(corpus, "vec_id", "embedding",
      s"$dir/idx", threshold = 0.1, clusters = 4, iters = 2))
    assert(SegmentedIndex.segmentDirs(spark, s"$dir/idx").map(_._1) == Seq(0))
    assert(VectorFunctions.ivfCells(spark, s"$dir/idx").count() == 120L)
    assert(SegmentedIndex.deltaFraction(spark, s"$dir/idx", "cells") == 0.0)
  }

  test("trainHashedLinearWeights separates a planted vocabulary, deterministically") {
    import graft.functions.{TextFunctions => T}
    // class-1 docs draw from vocab A, class-0 from vocab B; a linear
    // model over hashed bag-of-words must separate them
    val docs = (0 until 200).map { i =>
      val en = i % 2 == 0
      val words = if (en) Seq("alpha", "bravo", "charlie")
                  else Seq("xray", "yankee", "zulu")
      (i.toLong, (0 until 5).map(j => words((i + j) % 3)).mkString(" "),
        if (en) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    val label = when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))
    val w = T.trainHashedLinearWeights(docs, "doc_id", "text", label,
      dims = 64, lr = 0.5, iters = 4)
    assert(w.length == 64)
    // scoring with the TRAINED weights separates the classes cleanly
    val scored = docs
      .select(col("lang"), T.hashedLinearScore(col("text"), w).as("m"))
      .as[(String, Double)].collect()
    val enMin = scored.filter(_._1 == "en").map(_._2).min
    val deMax = scored.filter(_._1 == "de").map(_._2).max
    assert(enMin > deMax,
      s"trained margins must separate classes: en min $enMin vs de max $deMax")
    assert(enMin > 0, s"positive-class margins must be positive, got $enMin")
    // deterministic: identical weights on a re-train over a different partitioning
    val w2 = T.trainHashedLinearWeights(docs.repartition(7), "doc_id", "text",
      label, dims = 64, lr = 0.5, iters = 4)
    assert(w == w2, "training must be partitioning-invariant")
  }

  test("bigramLmScore: fluent docs outscore scrambled ones; short docs omitted; deterministic") {
    import graft.functions.{TextFunctions => T}
    // a corpus dominated by one phrase: its bigrams become high-prob;
    // a doc of the same TOKENS in scrambled order shares the unigram
    // stats but hits unseen bigrams — the signal unigram scoring misses
    val fluent = "the cat sat on the mat"
    val docs = ((0 until 30).map(i => (i.toLong, fluent)) ++ Seq(
      (100L, "mat the on sat cat the"), // scrambled (same unigrams)
      (101L, "onetoken"),               // < 2 tokens: omitted
      (102L, ""),                       // no tokens: omitted
      (103L, null: String)              // null text: omitted
    )).toDF("doc_id", "text")
    val out = T.bigramLmScore(docs, "doc_id", "text", vocabK = 8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!out.contains(101L) && !out.contains(102L) && !out.contains(103L))
    val (nF, sF) = out(0L)
    val (nS, sS) = out(100L)
    assert(nF == 5L && nS == 5L)
    assert(sF > sS,
      s"fluent doc must outscore scrambled same-unigram doc: $sF vs $sS")
    // deterministic under repartitioning (literal tables, scan-side fold)
    val out2 = T.bigramLmScore(docs.repartition(7), "doc_id", "text", vocabK = 8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == out2)
    // the true CCNet shape: train on a reference slice, score everything
    // against it — the scrambled doc's unseen-bigram fallbacks fire
    // (out-of-domain contexts score through the ctx/unseen tables)
    val target = T.bigramLmScore(docs, "doc_id", "text", vocabK = 8,
        trainFilter = col("doc_id") < 30)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(target(0L) > target(100L),
      "reference-domain doc must outscore the out-of-domain one")
    // every doc still gets a defined score under the target-trained LM
    assert(target.keySet == out.keySet)
    // the vocabK guard is literal-map-honest: the implementation ships
    // the bigram table as typedLit maps, so vocabularies beyond the cap
    // must be rejected loudly (the broadcast-join shape is a different
    // function), not silently planned as a multi-million-entry literal
    val big = intercept[IllegalArgumentException] {
      T.bigramLmScore(docs, "doc_id", "text", vocabK = 4097)
    }
    assert(big.getMessage.contains("4096"))
    assert(T.bigramLmScore(docs, "doc_id", "text", vocabK = 4096).count() > 0)
    // the JOIN-shaped sibling: same training semantics, order-free
    // decimal fold — on this corpus every per-doc sum is a small exact
    // decimal total, so the two variants must agree entry for entry
    val joined = T.bigramLmScoreJoined(docs, "doc_id", "text", vocabK = 8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(joined == out, s"joined variant diverged:\n $joined\n vs $out")
    // and it accepts a vocabulary far past the literal-map cap
    assert(T.bigramLmScoreJoined(docs, "doc_id", "text", vocabK = 100000)
      .count() > 0)
    val joinedT = T.bigramLmScoreJoined(docs.repartition(5), "doc_id", "text",
        vocabK = 8, trainFilter = col("doc_id") < 30)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(joinedT(0L) > joinedT(100L),
      "reference-domain doc must outscore the out-of-domain one (joined)")
  }

  test("persisted dedup indexes: merge replaces, null content deletes, retract purges") {
    import graft.functions.SegmentedIndex
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota"), (4L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val toks = array_distinct(graft.functions.TextFunctions.tokens(lower(col("text"))))

    // digest index: build, then a delta that replaces 2 and deletes 3
    val dg = tmpDir("dgidx")
    DedupFunctions.saveDigestIndex(docs, "doc_id", "text", dg)
    DedupFunctions.mergeDigestDelta(
      Seq((2L, "totally new text"), (3L, null)).toDF("doc_id", "text"),
      "doc_id", "text", dg)
    def hits(text: String) = DedupFunctions.digestHitsFromIndex(dg,
        Seq((99L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .select("corpus_id").as[Long].collect().toSet
    assert(hits("delta epsilon zeta").isEmpty, "old version of 2 must be dead")
    assert(hits("totally new text") == Set(2L))
    assert(hits("eta theta iota").isEmpty, "deleted 3 must be gone")
    assert(hits("alpha beta gamma") == Set(1L, 4L))
    // retract 4: its digest row dies, 1 still answers
    SegmentedIndex.retract(spark, dg, Seq(4L).toDF("id"), Seq("digests"))
    assert(hits("alpha beta gamma") == Set(1L))
    // compaction folds without changing answers
    SegmentedIndex.compactIndex(spark, dg, "digests")
    assert(new java.io.File(s"$dg/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq == Seq("00000"))
    assert(hits("alpha beta gamma") == Set(1L))

    // band index: candidates vanish for a retracted near-dup partner
    val bd = tmpDir("bdidx")
    DedupFunctions.saveBandIndexPersisted(docs, "doc_id", toks, bd, k = 4, bands = 2)
    val probe = Seq((99L, "alpha beta gamma")).toDF("doc_id", "text")
    def bandCands() = DedupFunctions.incrementalNearDupCandidates(
        DedupFunctions.bandIndexLive(spark, bd), probe, "doc_id", toks,
        k = 4, bands = 2)
      .select("corpus_id").as[Long].collect().toSet
    assert(bandCands() == Set(1L, 4L))
    SegmentedIndex.retract(spark, bd, Seq(1L).toDF("id"), Seq("bands"))
    assert(bandCands() == Set(4L), "retracted doc must leave the candidate set")

    // winnow index: span partners of a retracted doc disappear
    val wn = tmpDir("wnidx")
    DedupFunctions.saveWinnowIndexPersisted(docs, "doc_id", "text", wn, k = 5, w = 4)
    def spanPartners() = DedupFunctions.probeSpanHits(
        DedupFunctions.winnowIndexLive(spark, wn),
        DedupFunctions.winnowIndex(probe, "doc_id", "text", k = 5, w = 4),
        maxDf = 50, minShared = 2L)
      .select("corpus_id").as[Long].collect().toSet
    assert(spanPartners() == Set(1L, 4L))
    SegmentedIndex.retract(spark, wn, Seq(4L).toDF("id"), Seq("hashes"))
    assert(spanPartners() == Set(1L))
  }

  test("bm25: tf monotonicity, rare-term idf dominance, absent term scores nothing") {
    val docs = Seq(
      (1L, "spark spark spark filler filler filler"),
      (2L, "spark filler filler filler filler filler"),
      (3L, "needle filler filler filler filler filler"),
      (4L, "filler filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val res = Curation.bm25TopK(docs, "doc_id", "text",
        queries = Seq(0L -> Seq("spark"), 1L -> Seq("needle", "spark")),
        k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._4).toSeq }
    // q0: doc1 (tf=3) outranks doc2 (tf=1); docs 3,4 never appear
    assert(res(0L).map(_._2) == Seq(1L, 2L))
    assert(res(0L).head._3 > res(0L)(1)._3)
    // q1: "needle" (df=1) is rarer than "spark" (df=2) at equal tf, so
    // doc3 outranks doc2; doc1's triple tf still can't beat the idf gap
    assert(res(1L).map(_._2).take(1) == Seq(3L))
    assert(res(1L).map(_._2).toSet == Set(1L, 2L, 3L))
  }

  test("bm25 is deterministic across partitionings (decimal term sums)") {
    val docs = (1L to 200L)
      .map(i => (i, s"w${i % 7} w${i % 13} w${i % 7} filler common common"))
      .toDF("doc_id", "text")
    val qs = Seq(0L -> Seq("w1", "w12"), 1L -> Seq("common", "w3"))
    def run(parts: Int) =
      Curation.bm25TopK(docs.repartition(parts), "doc_id", "text", qs, k = 7)
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(run(1) == run(13))
  }

  // executedPlan with AQE is an AdaptiveSparkPlanExec shell — descend
  // into the materialized inner plan or node collects are vacuous
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val self = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        // materialized stages are leaves — the real subtree hangs off .plan
        q +: allNodes(q.plan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(allNodes) ++ p.subqueries.flatMap(allNodes)
  }

  test("bm25 persisted index equals train-per-call, scan prunes by token filter") {
    val docs = (1L to 300L)
      .map(i => (i, s"w${i % 11} w${i % 5} w${i % 11} filler common text"))
      .toDF("doc_id", "text")
    val qs = Seq(0L -> Seq("w1", "w10"), 1L -> Seq("common", "w4"))
    val path = tmpDir("bm25idx")
    Curation.saveBm25Index(docs, "doc_id", "text", path)
    val fromIdx = Curation.bm25TopKFromIndex(spark, path, qs, k = 6)
    val direct = Curation.bm25TopK(docs, "doc_id", "text", qs, k = 6)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(fromIdx.as[(Long, Long, Double, Long)].collect().toSet == direct)
    // the vocab IN predicate must reach the postings parquet scan
    val scans = allNodes(fromIdx.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.getOrElse("Location", "").contains("postings") => s }
    assert(scans.nonEmpty, "no postings scan found")
    assert(scans.head.metadata.getOrElse("PushedFilters", "").contains("In(token"),
      s"vocab filter not pushed: ${scans.head.metadata.get("PushedFilters")}")
  }

  test("corpus snapshot manifest pins every index; asOf reads replay the pinned instant") {
    import graft.functions.{CorpusSnapshot, SegmentedIndex}
    val root = tmpDir("snap")
    val docs = (1L to 60L).map(i => (i, s"tok${i % 7} body $i"))
      .toDF("doc_id", "text")
    Curation.saveBm25Index(docs, "doc_id", "text", s"$root/bm25")
    graft.functions.DedupFunctions.saveDigestIndex(
      docs, "doc_id", "text", s"$root/digests")
    // pin the run: both indexes at their newest committed segment
    CorpusSnapshot.write(spark, s"$root/run1.json",
      Map("bm25" -> s"$root/bm25", "digests" -> s"$root/digests"))
    val pinnedBm25 = SegmentedIndex.liveRows(spark, s"$root/bm25", "doclen")
      .count()
    val pinnedDig = SegmentedIndex.liveRows(spark, s"$root/digests", "digests")
      .as[(Long, String)].collect().toSet
    // both indexes move on: adds + a replacement each
    Curation.mergeBm25Delta(
      (61L to 80L).map(i => (i, s"tok${i % 7} later $i")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/bm25")
    graft.functions.DedupFunctions.mergeDigestDelta(
      Seq((1L, "rewritten"), (61L, "new")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/digests")
    // replaying through the manifest recovers the pinned instant for
    // EVERY index, while unpinned reads see the moved-on state
    val pins = CorpusSnapshot.verify(spark, s"$root/run1.json")
    assert(pins.keySet == Set("bm25", "digests"))
    val (bmPath, bmSeg) = pins("bm25")
    assert(SegmentedIndex.liveRows(spark, bmPath, "doclen", bmSeg).count()
      == pinnedBm25)
    assert(SegmentedIndex.liveRows(spark, bmPath, "doclen").count()
      == pinnedBm25 + 20)
    val (dgPath, dgSeg) = pins("digests")
    assert(SegmentedIndex.liveRows(spark, dgPath, "digests", dgSeg)
      .as[(Long, String)].collect().toSet == pinnedDig)
    assert(SegmentedIndex.liveRows(spark, dgPath, "digests")
      .as[(Long, String)].collect().toSet != pinnedDig)
    // manifest rewrite is atomic-replace: a second snapshot of the
    // moved-on state overwrites and reads back the new pins
    CorpusSnapshot.write(spark, s"$root/run1.json",
      Map("bm25" -> s"$root/bm25", "digests" -> s"$root/digests"))
    assert(CorpusSnapshot.read(spark, s"$root/run1.json")("bm25")._2 == 1)
    // an empty/unbuilt index cannot be pinned
    intercept[IllegalArgumentException] {
      CorpusSnapshot.write(spark, s"$root/bad.json",
        Map("nope" -> s"$root/missing"))
    }
    // a truncated manifest must fail loudly, not verify with pins
    // silently missing (regex extraction skips malformed entries)
    val mf = new java.io.File(s"$root/run1.json")
    val full = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    val cut = full.substring(0, full.length - 15) // mangle the last entry
    val crc = new java.io.File(s"$root/.run1.json.crc")
    def rawWrite(c: String): Unit = { // bypass+drop the hadoop checksum
      new java.io.PrintWriter(mf) { write(c); close() }
      if (crc.exists()) assert(crc.delete())
    }
    rawWrite(cut)
    val mangled = intercept[IllegalArgumentException] {
      CorpusSnapshot.read(spark, s"$root/run1.json")
    }
    assert(mangled.getMessage.contains("malformed"))
    rawWrite(full) // restore
    // compaction restarts segment numbering under a NEW tree identity:
    // the stale pin is refused instead of silently reading segment 0
    // of the collapsed tree as if it were the pinned history
    Curation.compactBm25Index(spark, s"$root/bm25")
    val stale = intercept[IllegalStateException] {
      CorpusSnapshot.verify(spark, s"$root/run1.json")
    }
    assert(stale.getMessage.contains("bm25") &&
      stale.getMessage.contains("stale"))
  }

  test("compaction retention guard: a live snapshot pin blocks compaction until retired") {
    import graft.functions.{CorpusSnapshot, SegmentedIndex}
    val root = tmpDir("pinguard")
    val docs = (1L to 40L).map(i => (i, s"tok${i % 5} body $i"))
      .toDF("doc_id", "text")
    Curation.saveBm25Index(docs, "doc_id", "text", s"$root/bm25")
    Curation.mergeBm25Delta(
      (41L to 50L).map(i => (i, s"tok${i % 5} later $i")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/bm25")
    val qs = Seq(0L -> Seq("tok1"), 1L -> Seq("later"))
    val pinnedSeg = SegmentedIndex.currentSegment(spark, s"$root/bm25")
    val pinnedRead = Curation
      .bm25TopKFromIndex(spark, s"$root/bm25", qs, k = 5, asOf = pinnedSeg)
      .as[(Long, Long, Double, Long)].collect().toSet
    // two run manifests pin the index; a manifest for a DIFFERENT
    // index in the same run-log dir must not block this one
    val pins = s"$root/pins"
    new java.io.File(pins).mkdirs()
    CorpusSnapshot.write(spark, s"$pins/run1.json",
      Map("bm25" -> s"$root/bm25"))
    CorpusSnapshot.write(spark, s"$pins/run2.json",
      Map("bm25" -> s"$root/bm25"))
    graft.functions.DedupFunctions.saveDigestIndex(
      docs, "doc_id", "text", s"$root/digests")
    CorpusSnapshot.write(spark, s"$pins/other.json",
      Map("digests" -> s"$root/digests"))
    val e = intercept[IllegalStateException] {
      Curation.compactBm25Index(spark, s"$root/bm25", pinnedBy = Some(pins))
    }
    assert(e.getMessage.contains("refusing to compact"), e.getMessage)
    // the guard refused, so the pinned asOf read still replays bit for bit
    assert(Curation
      .bm25TopKFromIndex(spark, s"$root/bm25", qs, k = 5, asOf = pinnedSeg)
      .as[(Long, Long, Double, Long)].collect().toSet == pinnedRead)
    // one retired pin is not enough — run2 still holds
    assert(new java.io.File(s"$pins/run1.json").delete())
    intercept[IllegalStateException] {
      Curation.compactBm25Index(spark, s"$root/bm25", pinnedBy = Some(pins))
    }
    // the other-index pin alone never blocked; all pins retired → folds
    assert(new java.io.File(s"$pins/run2.json").delete())
    Curation.compactBm25Index(spark, s"$root/bm25", pinnedBy = Some(pins))
    assert(SegmentedIndex.segmentDirs(spark, s"$root/bm25").map(_._1) == Seq(0))
    // other.json now pins a tree id the compacted bm25 never had —
    // stale-by-tree pins don't resurrect the guard
    Curation.mergeBm25Delta(
      Seq((51L, "tok1 post")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/bm25")
    Curation.compactBm25Index(spark, s"$root/bm25", pinnedBy = Some(pins))
    // the guarded digest index still refuses while other.json lives
    // (single-segment trees are a no-op, so grow it to two first)
    graft.functions.DedupFunctions.mergeDigestDelta(
      Seq((41L, "fresh")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/digests")
    intercept[IllegalStateException] {
      SegmentedIndex.compactIndex(spark, s"$root/digests", "digests",
        pinnedBy = Some(pins))
    }
  }

  test("snapshot preserve: clone pinned history aside, then compact the live tree") {
    import graft.functions.{CorpusSnapshot, SegmentedIndex}
    val root = tmpDir("snappres")
    val docs = (1L to 40L).map(i => (i, s"tok${i % 5} body $i"))
      .toDF("doc_id", "text")
    Curation.saveBm25Index(docs, "doc_id", "text", s"$root/bm25")
    val pinsDir = s"$root/pins"
    new java.io.File(pinsDir).mkdirs()
    CorpusSnapshot.write(spark, s"$pinsDir/run.json",
      Map("bm25" -> s"$root/bm25"))
    val qs = Seq(0L -> Seq("tok1"), 1L -> Seq("tok3"))
    val pinnedRead = Curation
      .bm25TopKFromIndex(spark, s"$root/bm25", qs, k = 5, asOf = 0)
      .as[(Long, Long, Double, Long)].collect().toSet
    // the index moves on past the pin
    Curation.mergeBm25Delta(
      (41L to 60L).map(i => (i, s"tok${i % 5} later $i")).toDF("doc_id", "text"),
      "doc_id", "text", s"$root/bm25")
    // preserve the pinned history aside; the original pin then retires
    val preserved = CorpusSnapshot.preserve(
      spark, s"$pinsDir/run.json", s"$root/preserved")
    assert(new java.io.File(s"$pinsDir/run.json").delete())
    // live tree compacts now that no live pin references it
    Curation.compactBm25Index(spark, s"$root/bm25", pinnedBy = Some(pinsDir))
    assert(SegmentedIndex.segmentDirs(spark, s"$root/bm25").map(_._1) == Seq(0))
    // the preserved manifest still verifies (tree id rode along) and
    // the cloned asOf read replays the pinned ranking bit for bit
    val pins2 = CorpusSnapshot.verify(spark, preserved)
    val (clonePath, cloneSeg) = pins2("bm25")
    assert(Curation
      .bm25TopKFromIndex(spark, clonePath, qs, k = 5, asOf = cloneSeg)
      .as[(Long, Long, Double, Long)].collect().toSet == pinnedRead)
    // clone-onto-existing refuses; stale pins refuse to clone
    intercept[IllegalArgumentException] {
      CorpusSnapshot.preserve(spark, preserved, s"$root/preserved")
    }
  }

  test("snapshot preserve clones sibling parameter tables (IVF centroids)") {
    import graft.functions.{CorpusSnapshot, SegmentedIndex, VectorFunctions => V}
    val root = tmpDir("snapivf")
    def vec(i: Int) = Array.tabulate(8) { d =>
      (if (d == (i % 4) * 2) 10.0f else 0.0f) + ((i * 31 + d * 7) % 5) * 0.1f
    }
    val base = (0 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    V.saveIvfIndex(base, "vec_id", "embedding", s"$root/ivf",
      clusters = 4, iters = 2)
    CorpusSnapshot.write(spark, s"$root/run.json", Map("ivf" -> s"$root/ivf"))
    val pinned = V.ivfTopKFromIndex(s"$root/ivf", base, "vec_id", "embedding",
        col("vec_id") < 5, k = 3, asOf = 0)
      .as[(Long, Long, Double, Long)].collect().toSet
    V.mergeIvfDelta((60 until 80).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", s"$root/ivf")
    val preserved = CorpusSnapshot.preserve(
      spark, s"$root/run.json", s"$root/kept")
    // the clone carries the frozen centroids, so the pinned probe
    // answers from the clone alone, bit for bit
    val (clonePath, cloneSeg) = CorpusSnapshot.verify(spark, preserved)("ivf")
    assert(new java.io.File(s"$clonePath/centroids").exists(),
      "sibling parameter table must ride along")
    assert(V.ivfTopKFromIndex(clonePath, base, "vec_id", "embedding",
        col("vec_id") < 5, k = 3, asOf = cloneSeg)
      .as[(Long, Long, Double, Long)].collect().toSet == pinned)
    // a PARTIAL dest left by a crashed earlier preserve (stray sibling
    // dir, no segments tree) must refuse — FileUtil.copy would nest
    // centroids into dest/centroids/centroids and clone inconsistently
    val stray = s"$root/crashed"
    new java.io.File(s"$stray/centroids").mkdirs()
    val e = intercept[IllegalArgumentException] {
      SegmentedIndex.cloneAt(spark, s"$root/ivf", stray, asOf = 0)
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("changedBetween: net add/replace/delete across merge chains; transients omitted") {
    import graft.functions.{DedupFunctions => DD, SegmentedIndex}
    val root = tmpDir("chlog") + "/idx"
    def docsOf(rows: (Long, String)*) = rows.toSeq.toDF("id", "t")
    DD.saveDigestIndex(
      docsOf((1L to 10L).map(i => i -> s"v0-$i"): _*), "id", "t", root)
    // delta 1: add 11 and 20, replace 5 and 6, delete 7 and 8
    DD.mergeDigestDelta(docsOf(11L -> "new", 20L -> "transient",
      5L -> "v1-5", 6L -> "v1-6", 7L -> null, 8L -> null), "id", "t", root)
    // delta 2: add 12, re-add 8, delete the transient 20 and the just-replaced 6
    DD.mergeDigestDelta(docsOf(12L -> "new2", 8L -> "back",
      20L -> null, 6L -> null), "id", "t", root)
    val ch = SegmentedIndex.changedBetween(spark, root, "digests", 0, 2)
      .as[(Long, String)].collect().toMap
    assert(ch == Map(
      11L -> "added", 12L -> "added",
      5L -> "replaced",            // replaced in delta 1, untouched after
      8L -> "replaced",            // deleted then re-added: live at A and B
      6L -> "deleted",             // replaced then deleted: net gone
      7L -> "deleted"),
      s"got $ch")                  // 20 (added+deleted inside range) omitted
    // a sub-range sees only its own transitions
    val ch2 = SegmentedIndex.changedBetween(spark, root, "digests", 1, 2)
      .as[(Long, String)].collect().toMap
    assert(ch2 == Map(12L -> "added", 8L -> "added",
      20L -> "deleted", 6L -> "deleted"), s"got $ch2")
    // (8 counts as ADDED here: at snapshot 1 it stood deleted, so the
    // re-add is a fresh appearance relative to that pin)
    intercept[IllegalArgumentException] {
      SegmentedIndex.changedBetween(spark, root, "digests", 2, 2)
    }
    // fromSeg = -1 diffs against the empty index: every live id is an
    // addition and the set equals the live set at toSeg
    val boot = SegmentedIndex.changedBetween(spark, root, "digests", -1, 2)
      .as[(Long, String)].collect().toMap
    val liveNow = SegmentedIndex.liveRows(spark, root, "digests")
      .select("id").as[Long].collect().toSet
    assert(boot.values.forall(_ == "added") && boot.keySet == liveNow)
  }

  test("bm25 asOf snapshot replays the pre-merge ranking; later deletes can't reach back") {
    def baseText(i: Long) = s"w${i % 11} w${i % 5} base text"
    val base = (1L to 200L).filterNot(_ % 3 == 0)
      .map(i => (i, baseText(i))).toDF("doc_id", "text")
    val qs = Seq(0L -> Seq("w1", "base"), 1L -> Seq("w4", "w10"))
    val path = tmpDir("bm25asof")
    Curation.saveBm25Index(base, "doc_id", "text", path)
    // the answer a live reader saw at v0, captured BEFORE any merge
    val v0Live = Curation.bm25TopKFromIndex(spark, path, qs, k = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    // delta: new %3 docs, replaced %5 docs, and DELETED %7 docs
    val delta = (1L to 200L)
      .filter(i => i % 3 == 0 || i % 5 == 0 || (i % 7 == 0 && i % 3 != 0))
      .map(i => (i,
        if (i % 7 == 0) null
        else if (i % 5 == 0) baseText(i) + " zzasof"
        else baseText(i)))
      .toDF("doc_id", "text")
    Curation.mergeBm25Delta(delta, "doc_id", "text", path)
    // asOf=0 is bit-identical to the pre-merge live read — membership,
    // scores (stats snapshot), and ranks; deletes in segment 1 must not
    // mask v0 rows
    val v0AsOf = Curation.bm25TopKFromIndex(spark, path, qs, k = 8, asOf = 0)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(v0AsOf == v0Live)
    // the current read differs (deleted docs gone) — history is real
    val cur = Curation.bm25TopKFromIndex(spark, path, qs, k = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(cur != v0Live)
    val deleted = (1L to 200L).filter(i =>
      (i % 3 == 0 || i % 5 == 0 || i % 7 == 0) && i % 7 == 0).toSet
    assert(cur.forall { case (_, id, _, _) => !deleted.contains(id) })
    // asOf past the newest segment behaves like the default read;
    // asOf before the first segment fails loudly
    assert(Curation.bm25TopKFromIndex(spark, path, qs, k = 8, asOf = 99)
      .as[(Long, Long, Double, Long)].collect().toSet == cur)
    intercept[IllegalArgumentException] {
      Curation.bm25TopKFromIndex(spark, path, qs, k = 8, asOf = -1)
    }
  }

  test("bm25 segmented merge: adds + replacements equal a fresh index; compaction preserves") {
    def baseText(i: Long) = s"w${i % 11} w${i % 5} base text"
    val base = (1L to 200L).filterNot(_ % 3 == 0)
      .map(i => (i, baseText(i))).toDF("doc_id", "text")
    // the corpus after the merge: every id present, %5 ids re-ingested
    // with changed text (replacement path), %3 ids newly added
    val eff = (1L to 200L).map(i =>
      (i, if (i % 5 == 0) baseText(i) + " zzmerged" else baseText(i)))
    val delta = eff.filter { case (i, _) => i % 3 == 0 || i % 5 == 0 }
      .toDF("doc_id", "text")
    val qs = Seq(0L -> Seq("zzmerged", "w4"), 1L -> Seq("w1", "base"))
    val path = tmpDir("bm25seg")
    Curation.saveBm25Index(base, "doc_id", "text", path)
    Curation.mergeBm25Delta(delta, "doc_id", "text", path)
    val fresh = Curation.bm25TopK(eff.toDF("doc_id", "text"),
        "doc_id", "text", qs, k = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    val merged = Curation.bm25TopKFromIndex(spark, path, qs, k = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(merged == fresh)
    assert(new java.io.File(s"$path/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq ==
      Seq("00000", "00001"))
    Curation.compactBm25Index(spark, path)
    val compacted = Curation.bm25TopKFromIndex(spark, path, qs, k = 8)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(compacted == fresh)
    assert(new java.io.File(s"$path/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq ==
      Seq("00000"), "compaction must fold to a single segment")
  }

  test("bm25 merge chain: a twice re-ingested id serves only its latest version") {
    val path = tmpDir("bm25chain")
    Curation.saveBm25Index(
      Seq((1L, "alpha alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    Curation.mergeBm25Delta(Seq((1L, "gamma")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    Curation.mergeBm25Delta(Seq((1L, "delta epsilon")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val qs = Seq(0L -> Seq("alpha"), 1L -> Seq("gamma"), 2L -> Seq("delta"))
    val got = Curation.bm25TopKFromIndex(spark, path, qs, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val fresh = Curation.bm25TopK(
        Seq((1L, "delta epsilon"), (2L, "beta")).toDF("doc_id", "text"),
        "doc_id", "text", qs, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == fresh)
    assert(got.map(_._1) == Set(2L), "only the latest version's tokens hit")
  }

  test("bm25 merge: two versions of one id inside a single delta are rejected") {
    val path = tmpDir("bm25dup")
    Curation.saveBm25Index(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // CDC-style batch carrying two versions of doc 1: without the
    // assert both would stay live (tombstones only mask EARLIER
    // segments) and n_docs/sum_dl would double-count the doc
    val bad = Seq((1L, "gamma"), (1L, "gamma delta"), (3L, "zeta"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.mergeBm25Delta(bad, "doc_id", "text", path)
    }
    assert(e.getMessage.contains("multiple rows"), e.getMessage)
    // the failed merge must not have committed anything
    assert(new java.io.File(s"$path/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq ==
      Seq("00000"))
  }

  test("bm25 merge: null-text rows are deletions — retracted doc gone, stats match a rebuild") {
    val path = tmpDir("bm25del")
    val base = Seq((1L, "alpha beta"), (2L, "alpha gamma"), (3L, "alpha"))
      .toDF("doc_id", "text")
    Curation.saveBm25Index(base, "doc_id", "text", path)
    // retract doc 2 (null text), re-ingest doc 3, delete a non-live id
    // (9 — must be a no-op)
    Curation.mergeBm25Delta(
      Seq((2L, null), (3L, "alpha delta"), (9L, null))
        .toDF("doc_id", "text"),
      "doc_id", "text", path)
    val qs = Seq(0L -> Seq("alpha"), 1L -> Seq("gamma"))
    val got = Curation.bm25TopKFromIndex(spark, path, qs, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    // scores must equal a FRESH index over the post-retraction corpus:
    // identical hits AND identical n_docs/avgdl arithmetic
    val fresh = Curation.bm25TopK(
        Seq((1L, "alpha beta"), (3L, "alpha delta")).toDF("doc_id", "text"),
        "doc_id", "text", qs, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == fresh)
    assert(!got.exists(_._2 == 2L), "retracted doc must not score")
    assert(got.exists(_._1 == 0L), "surviving docs still hit")
  }

  test("bm25 commit: rename onto an existing segment fails loudly, orphan tmp swept") {
    val path = tmpDir("bm25race")
    Curation.saveBm25Index(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    // simulate a crashed writer: an orphan half-written tmp tree
    val orphan = new java.io.File(s"$path/segments/__tmp_00001")
    assert(orphan.mkdirs())
    new java.io.PrintWriter(new java.io.File(orphan, "junk")) { write("x"); close() }
    // readers never see it (the \d{5} listing filter)
    val qs = Seq(0L -> Seq("alpha"))
    assert(Curation.bm25TopKFromIndex(spark, path, qs, k = 2)
      .collect().length == 1)
    // the next merge sweeps the orphan and commits normally
    Curation.mergeBm25Delta(Seq((3L, "alpha zeta")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(!orphan.exists(), "orphan tmp tree must be swept by the next write")
    assert(new java.io.File(s"$path/segments").list().filter(_.matches("\\d{5}")).sorted.toSeq ==
      Seq("00000", "00001"))
    // a segment landing on an ALREADY-COMMITTED number (the concurrent
    // second writer both computing n = max+1) must fail loudly instead
    // of nesting the tree inside the existing directory
    val seg1 = new java.io.File(s"$path/segments/00001")
    val before = seg1.list().sorted.toSeq
    val e = intercept[IllegalStateException] {
      graft.functions.SegmentedIndex.commitSegment(spark, s"$path/segments", 1) {
        tmp => Seq((9L, "x")).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$tmp/postings")
      }
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(seg1.list().sorted.toSeq == before,
      "failed commit must leave the committed segment untouched")
  }

  test("bm25 readers see a committed tree during merge/compaction — old or new, never partial") {
    val path = tmpDir("bm25concur")
    val base = (1L to 60L).map(i => (i, s"w${i % 7} base")).toDF("doc_id", "text")
    Curation.saveBm25Index(base, "doc_id", "text", path)
    val qs = Seq(0L -> Seq("base"))
    val oldRows = Curation.bm25TopKFromIndex(spark, path, qs, k = 60)
      .as[(Long, Long, Double, Long)].collect().toSet
    // a QUERY planned while a merge is mid-flight (tmp tree present but
    // not yet renamed) must answer from the OLD committed tree
    val midTmp = new java.io.File(s"$path/segments/__tmp_00001/postings")
    assert(midTmp.mkdirs())
    base.limit(1).select(col("doc_id").as("id"), lit("w0").as("token"),
        lit(1L).as("tf"))
      .write.mode("overwrite").parquet(midTmp.getAbsolutePath)
    val during = Curation.bm25TopKFromIndex(spark, path, qs, k = 60)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(during == oldRows, "mid-merge reader must see the old tree")
    // drop the simulated in-flight tree (next writer would sweep it too)
    graft.functions.SegmentedIndex.sweepOrphanTmp(
      graft.functions.SegmentedIndex.hfs(spark, s"$path/segments")._1,
      new org.apache.hadoop.fs.Path(s"$path/segments"))
    // after a real merge + compaction, readers see the new tree and the
    // compaction swap never leaves a window with no committed segments
    Curation.mergeBm25Delta(Seq((61L, "base w1")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    Curation.compactBm25Index(spark, path)
    val after = Curation.bm25TopKFromIndex(spark, path, qs, k = 61)
      .as[(Long, Long, Double, Long)].collect()
    assert(after.length == 61, "post-compaction tree must serve all live docs")
  }

  test("bm25 plan: no window sort, query-side tables broadcast") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val df = Curation.bm25TopK(docs, "doc_id", "text", Seq(0L -> Seq("b")), k = 3)
    df.collect() // materialize the adaptive plan before walking it
    val nodes = allNodes(df.queryExecution.executedPlan)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "ranking must use the bounded top-k aggregate")
    val s = nodes.map(_.nodeName).mkString(",")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"))
  }

  test("learnBpeMerges: planted corpus learns the hand-computed merges in order") {
    import spark.implicits._
    // words: low×3, lower×2, newest×1
    // step 1: (l,o) and (o,w) tie at 5 → lex tie-break picks (l,o)
    // step 2: (lo,w) at 5
    // step 3: (e,r) and (low,e) tie at 2 → (e,r)
    val docs = Seq("low low low", "lower lower newest").toDF("text")
    val merges = graft.functions.TextFunctions.learnBpeMerges(docs, "text", 3)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(merges == Seq((1L, "l", "o", 5L), (2L, "lo", "w", 5L),
      (3L, "e", "r", 2L)))
    // fewer pairs than iters: training stops when the vocab is merged out
    val tiny = Seq("ab ab").toDF("text")
    val m2 = graft.functions.TextFunctions.learnBpeMerges(tiny, "text", 5)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(m2 == Seq((1L, "a", "b", 2L)))
  }

  test("chunkByTokens: sliding windows overlap by window-stride, tail chunk is partial") {
    import spark.implicits._
    val doc = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val chunks = graft.functions.Curation.chunkByTokens(
        Seq((1L, doc), (2L, "solo")).toDF("id", "text"),
        "id", "text", window = 4, stride = 3)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // starts 0,3,6,9: full windows then the 1-token tail
    assert(chunks(1L).map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0L, 4L, "t1 t2 t3 t4"), (1L, 4L, "t4 t5 t6 t7"),
      (2L, 4L, "t7 t8 t9 t10"), (3L, 1L, "t10")))
    assert(chunks(2L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0L, 1L, "solo")))
    // every adjacent pair overlaps by exactly window - stride tokens
    val texts = chunks(1L).map(_._4.split(" ").toSeq)
    texts.zip(texts.tail).foreach { case (a, b) =>
      assert(a.takeRight(1) == b.take(1))
    }
  }

  test("sourceOverlap: exact type Jaccard in ppm, ordered pairs, zero-pairs absent") {
    val docs = Seq(
      (1L, "a", "w1 w2 w3 w4"),          // a: {w1..w4}
      (2L, "b", "w1 w2 x1 x2"),          // b: {w1,w2,x1,x2} — |∩a|=2, |∪|=6
      (3L, "c", "w1 w2 w3 w4"),          // c == a exactly → jaccard 1
      (4L, "d", "z1 z2")                 // d disjoint from everyone
    ).toDF("doc_id", "source", "text")
    val got = Curation.sourceOverlap(docs, "source", "text")
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // a<b: shared 2 of union 6 → 333333 ppm (half-up of 1/3)
    assert(got(("a", "b")) == ((4L, 4L, 2L, 333333L)))
    assert(got(("a", "c")) == ((4L, 4L, 4L, 1000000L)))
    assert(got(("b", "c")) == ((4L, 4L, 2L, 333333L)))
    // d shares nothing — no rows for it; pairs only in a<b order
    assert(!got.keys.exists(p => p._1 == "d" || p._2 == "d"))
    assert(got.keys.forall(p => p._1 < p._2) && got.size == 3)
  }

  test("vocab type maintenance: merge chain == fresh; types die with their last doc") {
    val docs = Seq(
      (1L, "a", "w1 w2 shared"), (2L, "a", "w3 shared"),
      (3L, "b", "w1 only here")
    ).toDF("doc_id", "source", "text")
    val delta = Seq((4L, "b", "w2 late arrival")).toDF("doc_id", "source", "text")
    val dead = docs.filter($"doc_id" === 2L)   // removes a's w3; 'shared' survives via doc 1
    val merged = Curation.vocabTypeMerge(
      Curation.vocabTypePartial(docs, "source", "text"),
      Curation.vocabTypePartial(delta, "source", "text"),
      Curation.vocabTypePartial(dead, "source", "text", sign = -1))
    val live = docs.filter($"doc_id" =!= 2L).union(delta)
    val fresh = Curation.vocabTypePartial(live, "source", "text")
    // live type table identical to a fresh build (counts included)
    assert(merged.collect().toSet == fresh.collect().toSet)
    val types = merged.select("__g", "__t").as[(String, String)].collect().toSet
    assert(types.contains(("a", "shared")) && !types.contains(("a", "w3")))
    // and the overlap matrix from the maintained table == direct compute
    val viaVocab = Curation.sourceOverlapFromVocab(merged).collect().toSet
    val direct = Curation.sourceOverlap(live, "source", "text").collect().toSet
    assert(viaVocab == direct)
  }

  test("sourceOverlapMinhash: 1.0 on identical vocab, ~0 on disjoint, tracks exact") {
    val mk = (g: String, base: Int, n: Int, off: Int) =>
      (1 to 8).map(i => (s"$g$i", g,
        ((off until off + n).map(j => s"tok${base + j}")).mkString(" ")))
    // a and c share ALL tokens; d is fully disjoint; b half-overlaps a
    val docs = (mk("a", 0, 40, 0) ++ mk("c", 0, 40, 0) ++
      mk("b", 0, 40, 20) ++ mk("d", 5000, 40, 0))
      .toDF("doc_id", "source", "text")
    val est = Curation.sourceOverlapMinhash(docs, "source", "text", k = 64)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(est(("a", "c")) == 1000000L)          // identical token sets
    assert(est(("a", "d")) < 150000L)            // disjoint: ~0 agreement
    // half overlap (jaccard 1/3): within sketch error of 333333 at k=64
    assert(math.abs(est(("a", "b")) - 333333L) < 200000L, s"got ${est(("a", "b"))}")
    // all C(4,2) pairs present, a<b ordered
    assert(est.size == 6 && est.keys.forall(p => p._1 < p._2))
    // deterministic
    val again = Curation.sourceOverlapMinhash(docs, "source", "text", k = 64)
      .as[(String, String, Long, Long)].collect().map(r => (r._1, r._2) -> r._4).toMap
    assert(again == est)
  }

  test("scrubContaminated: eval-colliding spans cut, islands merge, clean docs verbatim") {
    val train = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),         // 'bb cc dd ee ff' collides
      (2L, "xx yy zz ww vv"),                  // clean — verbatim (lowered)
      (3L, "bb cc dd ee ff cc dd ee ff gg hh") // overlapping hits merge
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "bb cc dd ee ff"), (101L, "cc dd ee ff gg"))
      .toDF("doc_id", "text")
    val out = Curation.scrubContaminated(train, eval_, "doc_id", "text", n = 5)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // doc 1: 'bb cc dd ee ff' covers [1,6) and 'cc dd ee ff gg' covers
    // [2,7) — the islands merge to [1,7), leaving 'aa hh'
    assert(out(0) == ((1L, "aa hh")), s"got ${out(0)}")
    assert(out(1) == ((2L, "xx yy zz ww vv")), s"got ${out(1)}")
    assert(out(2)._1 == 3L && !out(2)._2.contains("bb cc dd ee ff"),
      s"got ${out(2)}")
    // a doc wholly made of eval text scrubs to ''
    val all = Seq((9L, "bb cc dd ee ff")).toDF("doc_id", "text")
    assert(Curation.scrubContaminated(all, eval_, "doc_id", "text", 5)
      .as[(Long, String)].collect().head == ((9L, "")))
  }

  test("dedupKeepBest: highest score survives per exact-text group, min-id tiebreak") {
    val df = Seq(
      (1L, "same text", 0.2), (2L, "same text", 0.9), (3L, "same text", 0.9),
      (4L, "unique", 0.1)
    ).toDF("doc_id", "text", "q")
    val out = DedupFunctions.dedupKeepBest(df, "doc_id", "text", col("q"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    // score 0.9 beats 0.2; tie between ids 2 and 3 -> min id 2 wins
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true), s"got $out")
    // NULL text: returned (not silently dropped through the digest
    // join) and never a survivor
    val withNull = Seq((1L, Option("x"), 0.5), (2L, Option.empty[String], 0.9))
      .toDF("doc_id", "text", "q")
    val out2 = DedupFunctions.dedupKeepBest(withNull, "doc_id", "text", col("q"))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out2 == Map(1L -> true, 2L -> false), s"got $out2")
  }

  test("removeFrequentSegments: df-threshold boilerplate drops from EVERY doc, keep-none") {
    val df = Seq(
      (1L, "unique one. COOKIES. alpha"),
      (2L, "COOKIES. unique two"),
      (3L, "COOKIES"),                    // all-boilerplate doc
      (4L, "solo content. kept pair"),
      (5L, "kept pair. other")            // 'kept pair' df=2 < 3 stays
    ).toDF("doc_id", "text")
    val out = Curation.removeFrequentSegments(df, "doc_id", "text", ". ", minDocs = 3L)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 2L, "unique one. alpha"),   // COOKIES (df=3) drops everywhere
      (2L, 2L, 1L, "unique two"),
      (3L, 1L, 0L, ""),                    // keeps its row, empty rebuild
      (4L, 2L, 2L, "solo content. kept pair"),
      (5L, 2L, 2L, "kept pair. other")), s"got $out")
    // df counts DISTINCT docs: a doc repeating the line 5x alone can't
    // push it over the threshold
    val rep = Seq((1L, "x. x. x. x. x"), (2L, "y")).toDF("doc_id", "text")
    val out2 = Curation.removeFrequentSegments(rep, "doc_id", "text", ". ", minDocs = 2L)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out2.head == ((1L, 5L, 5L, "x. x. x. x. x")), s"got $out2")
    intercept[IllegalArgumentException] {
      Curation.removeFrequentSegments(df, "doc_id", "text", ". ", minDocs = 1L)
    }
  }

  test("sourceOverlapMinhash: empty/whitespace docs don't poison their group's signature") {
    // each group carries one token-less doc; its k×"" signature would
    // win every string-min and force 16/16 agreement between any two
    // such groups regardless of true overlap
    val docs = Seq(
      ("a1", "a", "alpha beta gamma delta"), ("a2", "a", "   "),
      ("b1", "b", "epsilon zeta eta theta"), ("b2", "b", "")
    ).toDF("doc_id", "source", "text")
    val est = Curation.sourceOverlapMinhash(docs, "source", "text", k = 16)
      .as[(String, String, Long, Long)].collect()
    assert(est.length == 1)
    val (_, _, agree, ppm) = est.head
    assert(agree < 16L, s"empty docs forced full agreement: $agree/16")
    assert(ppm < 1000000L)
    // a group made ONLY of token-less docs drops from the table
    val only = Seq(("x1", "x", "  "), ("y1", "y", "tok1 tok2"))
      .toDF("doc_id", "source", "text")
    assert(Curation.sourceOverlapMinhash(only, "source", "text", k = 16).isEmpty)
  }

  test("zipfSlope: ~-1 on a 1/rank corpus, 0 on uniform, deterministic") {
    // zipf source: token t_r appears round(600/r) times, r = 1..30
    val zipfDocs = (1 to 30).flatMap { r =>
      val n = math.round(600.0 / r).toInt
      Seq.fill(n)(s"t${"%02d".format(r)}")
    }.grouped(40).zipWithIndex
      .map { case (ts, i) => (i.toLong, "zipf", ts.mkString(" ")) }.toSeq
    // uniform source: 20 tokens, 10 occurrences each → slope exactly 0
    val uniDocs = (1 to 20).flatMap(r => Seq.fill(10)(s"u${"%02d".format(r)}"))
      .grouped(40).zipWithIndex
      .map { case (ts, i) => (100L + i, "uniform", ts.mkString(" ")) }.toSeq
    val docs = (zipfDocs ++ uniDocs).toDF("doc_id", "source", "text")
    val got = TextFunctions.zipfSlope(docs, "source", "text", topN = 100)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("zipf")._1 == 30L && got("uniform")._1 == 20L)
    assert(math.abs(got("zipf")._2 + 1.0) < 0.05,
      s"zipf slope ${got("zipf")._2} not near -1")
    assert(got("uniform")._2 == 0.0)
    // deterministic across evaluations (ordered 6-dp folds)
    val again = TextFunctions.zipfSlope(docs, "source", "text", topN = 100)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(again("zipf") == got("zipf")._2)
  }
}
