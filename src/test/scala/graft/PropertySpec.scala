package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{DedupFunctions, TextFunctions}
import graft.operators.{RangeJoin, Upsert}

/** Property-based invariants (SURVEY §5 test plan item b). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sampling bridge (scalatestplus bridge unavailable
    * offline): draw `n` seeded samples from a generator.
    */
  private def forSamples[T](gen: Gen[T], n: Int = 10)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val intervalGen = for {
    chrom <- Gen.oneOf("1", "2")
    start <- Gen.choose(0L, 500L)
    len   <- Gen.choose(0L, 120L)
  } yield (chrom, start, start + len)

  test("property: binned overlap == broadcast overlap for random intervals") {
    val caseGen = for {
      ls  <- Gen.listOfN(25, intervalGen)
      rs  <- Gen.listOfN(12, intervalGen)
      bin <- Gen.oneOf(16L, 64L, 257L)
    } yield (ls, rs, bin)
    forSamples(caseGen) { case (ls, rs, bin) =>
      val l = ls.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i) }
        .toDF("chrom", "l_start", "l_end", "l_id")
      val r = rs.zipWithIndex.map { case ((c, s, e), i) => (c, s, e, i) }
        .toDF("chrom", "r_start", "r_end", "r_id")
      val binned = RangeJoin.binnedOverlap(l, r, "chrom", "l_start", "l_end",
        "r_start", "r_end", bin).select("l_id", "r_id")
        .as[(Int, Int)].collect().sorted.toSeq
      val bcast = RangeJoin.broadcastOverlap(l, r, "chrom", "l_start", "l_end",
        "r_start", "r_end").select("l_id", "r_id")
        .as[(Int, Int)].collect().sorted.toSeq
      assert(binned == bcast)
    }
  }

  private val rowGen = Gen.listOfN(20, for {
    id <- Gen.choose(0, 12)
    v  <- Gen.alphaNumStr.map(_.take(4))
  } yield (id, v))

  test("property: upsert merge contains exactly the incoming PKs (allowDelete)") {
    forSamples(Gen.zip(rowGen, rowGen)) { case (inc, ex) =>
      val incoming = inc.distinctBy(_._1).toDF("id", "v")
      val existing = ex.distinctBy(_._1).toDF("id", "v")
      val d = Upsert.diff(incoming, existing, Seq("id"))
      val incIds = inc.distinctBy(_._1).map(_._1).toSet
      val exIds  = ex.distinctBy(_._1).map(_._1).toSet
      assert(d.appends.select("id").as[Int].collect().toSet == incIds.diff(exIds))
      assert(d.deletes.select("id").as[Int].collect().toSet == exIds.diff(incIds))
      val merged = Upsert.merge(incoming, existing, Seq("id"), allowDelete = false)
        .select("id").as[Int].collect().toSet
      assert(merged == incIds.union(exIds))
    }
  }

  private val textGen = Gen.listOfN(12,
    Gen.oneOf("alpha", "beta", "gamma", "delta", "zeta")).map(_.mkString(" "))

  test("property: jaccard bounds, symmetry, and self-similarity") {
    forSamples(Gen.zip(textGen, textGen)) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val Seq(shA, shB) = Seq("a", "b").map(c => TextFunctions.shingles(col(c), 2))
      val r = df.select(
        DedupFunctions.jaccard(shA, shB).as("ab"),
        DedupFunctions.jaccard(shB, shA).as("ba"),
        DedupFunctions.jaccard(shA, shA).as("aa")).collect()(0)
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("property: identical token multisets share minhash signatures") {
    forSamples(textGen) { a =>
      val shuffled = scala.util.Random.shuffle(a.split(" ").toList).mkString(" ")
      val df = Seq((a, shuffled)).toDF("a", "b")
      val r = df.select(
        graft.plans.MinHashSignature.signature(array_distinct(TextFunctions.tokens(col("a"))), 6).as("sa"),
        graft.plans.MinHashSignature.signature(array_distinct(TextFunctions.tokens(col("b"))), 6).as("sb"))
        .collect()(0)
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("property: banded candidates ⊇ every single-band's candidates") {
    import graft.functions.VectorFunctions
    val vecGen = Gen.listOfN(30, Gen.listOfN(8, Gen.choose(-5, 5)))
    forSamples(vecGen, n = 5) { vecs =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(x => x.toFloat + 0.1f).toArray) }
        .toDF("vec_id", "embedding")
      val banded = VectorFunctions
        .bandedNearDup(df, "vec_id", "embedding", bands = 2, bitsPerBand = 4, minCos = -1.0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // per-band candidate sets computed naively from the key arrays
      val keyed = df.select(col("vec_id"),
        VectorFunctions.bandedSignBuckets(col("embedding"), 2, 4).as("ks"))
        .as[(Long, Seq[Long])].collect()
      (0 until 2).foreach { b =>
        val byBucket = keyed.toSeq.groupBy(_._2(b)).values
        val expected = byBucket.flatMap { grp =>
          val ids = grp.map(_._1).sorted.toList
          for (i <- ids; j <- ids if i < j) yield (i, j)
        }.toSet
        assert(expected.subsetOf(banded), s"band $b candidates missing")
      }
    }
  }

  test("property: packing is contiguous and pack windows never skip") {
    import graft.functions.Curation
    val tokGen = Gen.listOfN(40, Gen.choose(1L, 900L))
    forSamples(tokGen, n = 5) { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, i.toLong % 4, t) }
        .toDF("doc_id", "shard", "n_tokens")
      val packed = Curation.packByBudget(df, "shard", "doc_id", "n_tokens", budget = 1000L)
        .select("shard", "doc_id", "pack_id").as[(Long, Long, Long)].collect()
        .groupBy(_._1)
      packed.values.foreach { rows =>
        val ids = rows.sortBy(_._2).map(_._3)
        // pack ids start at 0 per shard and are non-decreasing in doc order
        assert(ids.head == 0L)
        assert(ids.zip(ids.tail).forall { case (a, b) => b >= a })
      }
    }
  }

  test("property: SCD2 invariants — one open row per live pk, none for retired") {
    import graft.operators.Scd2
    val caseGen = for {
      existingPks <- Gen.listOfN(20, Gen.choose(1L, 12L)).map(_.distinct)
      snapshotPks <- Gen.listOfN(20, Gen.choose(1L, 15L)).map(_.distinct)
      changed     <- Gen.listOfN(6, Gen.choose(1L, 15L)).map(_.toSet)
    } yield (existingPks, snapshotPks, changed)
    forSamples(caseGen, n = 8) { case (ePks, sPks, changed) =>
      val nullTo: Option[Long] = None
      val existing = ePks.map(p => (p, s"v$p", 0L, nullTo))
        .toDF("pk", "attr", "valid_from", "valid_to")
      val incoming = sPks.map(p =>
        (p, if (changed(p)) s"c$p" else s"v$p")).toDF("pk", "attr")
      val out = Scd2.merge(existing, incoming, Seq("pk"), Seq("attr"), ts = 5L)
        .as[(Long, String, Long, Option[Long])].collect()
      val open = out.filter(_._4.isEmpty)
      // exactly one open row per snapshot pk, carrying the snapshot attr
      assert(open.map(_._1).sorted.toSeq == sPks.sorted)
      open.foreach { case (p, a, _, _) =>
        assert(a == (if (changed(p)) s"c$p" else s"v$p"))
      }
      // retired pks (existing but not in snapshot) have ONLY closed rows
      val retired = ePks.toSet -- sPks.toSet
      retired.foreach { p =>
        val rows = out.filter(_._1 == p)
        assert(rows.nonEmpty && rows.forall(_._4.contains(5L)))
      }
    }
  }

  test("property: bounded top-k equals sort-and-take on random scores") {
    import graft.plans.TopKAggregate
    val rowGen = Gen.listOfN(60, for {
      g <- Gen.oneOf("a", "b", "c")
      s <- Gen.choose(0, 9).map(_.toDouble) // coarse scores force ties
    } yield (g, s))
    forSamples(rowGen, n = 6) { rows =>
      val df = rows.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
        .toDF("grp", "score", "id")
      val got = TopKAggregate.topKExploded(df, Seq("grp"), col("score"), col("id"), k = 4)
        .select("grp", "id", "rank").as[(String, Long, Long)].collect().toSet
      val want = rows.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
        .groupBy(_._1).flatMap { case (g, rs) =>
          rs.sortBy { case (_, s, i) => (-s, i) }.take(4).zipWithIndex
            .map { case ((_, _, i), r) => (g, i, (r + 1).toLong) }
        }.toSet
      assert(got == want)
    }
  }

  // random ASCII text with the whitespace shapes that stress Java-split
  // edge semantics (leading runs, tabs/newlines, empty, repeats)
  private val asciiTextGen: Gen[String] = for {
    n     <- Gen.choose(0, 12)
    words <- Gen.listOfN(n, Gen.oneOf(
      Gen.stringOfN(3, Gen.alphaChar), Gen.oneOf("a", "BB", "x1", "##", "..."),
      Gen.stringOfN(1, Gen.numChar)))
    seps  <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  ", "\t", "\n", " \t "))
    lead  <- Gen.oneOf("", " ", "\t", "  ")
    trail <- Gen.oneOf("", " ", "\n ")
  } yield lead + words.zipAll(seps, "", "").map { case (w, s) => w + s }.mkString + trail

  // non-ASCII words that stress Unicode lowering: bicameral scripts
  // (Greek incl. final sigma, Cyrillic), combining-mark producers
  // (İ → i + U+0307 under Java full lowering), caseless scripts (CJK),
  // and Latin with diacritics
  private val unicodeTextGen: Gen[String] = for {
    n     <- Gen.choose(0, 10)
    words <- Gen.listOfN(n, Gen.oneOf(
      Gen.oneOf("Ärger", "ÖL", "ΣΟΦΟΣ", "ΑΣ", "МОСКВА", "İstanbul", "ß",
        "日本語", "naïve", "ÉLÈVE", "ĞÜŞ", "ǅungla"),
      Gen.stringOfN(3, Gen.alphaChar),
      Gen.oneOf("a", "BB", "##", "...")))
    seps  <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  ", "\t", "\n"))
    lead  <- Gen.oneOf("", " ", "\t")
    trail <- Gen.oneOf("", " ", "\n ")
  } yield lead + words.zipAll(seps, "", "").map { case (w, s) => w + s }.mkString + trail

  private val mixedTextGen: Gen[String] = Gen.oneOf(asciiTextGen, unicodeTextGen)

  test("property: ShingleHashExpr set size == string shingle set size") {
    forSamples(Gen.listOfN(12, mixedTextGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      for (n <- Seq(2, 3, 5)) {
        val bad = df.select(
          size(graft.plans.ShingleHashExpr.shingleHashes(col("text"), n)).as("h"),
          size(array_distinct(TextFunctions.shingles(col("text"), n))).as("s"))
          .filter(col("h") =!= col("s")).count()
        assert(bad == 0, s"n=$n diverged on $texts")
      }
    }
  }

  test("property: token stats + token hashes match composed forms on Unicode text") {
    forSamples(Gen.listOfN(12, mixedTextGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val st = graft.plans.TokenGramStatsExpr.stats(col("text"), 2)
      val toks = TextFunctions.tokens(lower(col("text")))
      val bad = df.select(
        st.getField("n_tok").as("nt"),
        size(toks).cast("long").as("ht"),
        st.getField("sum_tok_len").as("nl"),
        aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _).as("hl"),
        st.getField("n_alpha_words").as("na"),
        size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("ha"),
        st.getField("n_alpha_space_chars").as("nas"),
        length(regexp_replace(col("text"), "[^A-Za-z ]", "")).cast("long").as("has"),
        // n=1 shingle hashes ≡ the distinct lowered-token set
        size(graft.plans.ShingleHashExpr.shingleHashes(col("text"), 1)).as("nsh"),
        size(array_distinct(toks)).as("hsh"))
        .filter(col("nt") =!= col("ht") || col("nl") =!= col("hl") ||
          col("na") =!= col("ha") || col("nas") =!= col("has") ||
          col("nsh") =!= col("hsh")).count()
      assert(bad == 0, s"diverged on $texts")
    }
  }

  test("property: TokenGramStatsExpr matches the HOF repetition forms") {
    // the replaced HOF implementations, inlined as the reference
    def hofTopTokenFraction(text: org.apache.spark.sql.Column) = {
      val toks = TextFunctions.tokens(lower(text))
      val maxCnt = array_max(transform(array_distinct(toks),
        x => size(filter(toks, t => t === x))))
      round(coalesce(maxCnt.cast("double"), lit(0.0)) /
        greatest(size(toks), lit(1)).cast("double"), 6)
    }
    def hofDupNgramFraction(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = TextFunctions.tokens(lower(text))
      val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
      val grams = when(size(toks) >= n,
        transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
      round(when(size(grams) === 0, lit(0.0))
        .otherwise(lit(1.0) -
          size(array_distinct(grams)).cast("double") / size(grams).cast("double")), 6)
    }
    forSamples(Gen.listOfN(12, mixedTextGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val bad = df.select(
        TextFunctions.topTokenFraction(col("text")).as("nt"),
        hofTopTokenFraction(col("text")).as("ht"),
        TextFunctions.dupNgramFraction(col("text"), 2).as("nd"),
        hofDupNgramFraction(col("text"), 2).as("hd"))
        .filter(col("nt") =!= col("ht") || col("nd") =!= col("hd")).count()
      assert(bad == 0, s"diverged on $texts")
    }
  }

  test("property: AdcDistance matches the interpreted HOF lookup-sum bit-for-bit") {
    // same playbook as DotProduct: the native codegen'd lookup-sum must
    // equal the higher-order-function formulation exactly (same subspace
    // accumulation order, same doubles), on random dense tables
    val caseGen = for {
      m    <- Gen.choose(1, 8)
      ksub <- Gen.choose(1, 16)
      rows <- Gen.listOfN(20, for {
        codes <- Gen.listOfN(m, Gen.choose(0, ksub - 1))
        dtab  <- Gen.listOfN(m * ksub, Gen.choose(-1e6, 1e6))
      } yield (codes, dtab))
    } yield (m, ksub, rows)
    forSamples(caseGen) { case (m, ksub, rows) =>
      val df = rows.zipWithIndex.map { case ((c, d), i) => (i, c, d) }
        .toDF("id", "codes", "dtab")
      val native = graft.plans.AdcDistance.adc(col("codes"), col("dtab"))
      // interpreted reference: element_at is 1-based; walk subs in order
      val hof = aggregate(
        transform(sequence(lit(0), lit(m - 1)),
          sub => element_at(col("dtab"), sub * ksub + element_at(col("codes"), sub + 1) + 1)),
        lit(0.0), (acc, x) => acc + x)
      val out = df.select($"id", native.as("n"), hof.as("h"))
        .as[(Int, Double, Double)].collect()
      out.foreach { case (id, n, h) =>
        assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h),
          s"row $id: native $n != HOF $h")
      }
    }
  }

  test("property: zorderKey2 matches the scalar Morton reference on random coords") {
    def morton(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x & 0xFFFFL) >> i) & 1L) << (2 * i) |
          (((y & 0xFFFFL) >> i) & 1L) << (2 * i + 1)
      z
    }
    val coordGen = Gen.listOfN(50, for {
      x <- Gen.choose(Long.MinValue, Long.MaxValue)
      y <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (x, y))
    forSamples(coordGen, n = 5) { coords =>
      val got = coords.toDF("x", "y")
        .select(graft.sources.Layout.zorderKey2(col("x"), col("y")).as("z"))
        .as[Long].collect().toSeq
      assert(got == coords.map { case (x, y) => morton(x, y) })
    }
  }

  test("property: SimHashExpr matches the md5 hex-digit vote fold") {
    val highNibbles = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    def hofSimhash(elems: org.apache.spark.sql.Column, bits: Int) = {
      val hashed = transform(array_distinct(elems), e => md5(e))
      val zeros = array_repeat(lit(0L), bits)
      val votes = aggregate(hashed, zeros,
        (acc, h) => zip_with(acc, sequence(lit(1), lit(bits)),
          (a, i) => a + when(h.substr(i, lit(1)).isInCollection(highNibbles), lit(1L))
            .otherwise(lit(-1L))))
      val weights = array((0 until bits).map(i => lit(1L << i)): _*)
      aggregate(zip_with(votes, weights, (v, w) => when(v > 0, w).otherwise(lit(0L))),
        lit(0L), _ + _)
    }
    val tokensGen = Gen.listOfN(8, Gen.oneOf(
      Gen.stringOfN(4, Gen.alphaNumChar), Gen.const(""), Gen.const("dup"),
      Gen.stringOfN(2, Gen.asciiPrintableChar)))
    forSamples(Gen.listOfN(10, tokensGen)) { lists =>
      val df = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "toks")
      for (bits <- Seq(8, 16, 32)) {
        val bad = df.select(
          graft.plans.SimHashExpr.simhash(col("toks"), bits).as("n"),
          hofSimhash(col("toks"), bits).as("h"))
          .filter(col("n") =!= col("h")).count()
        assert(bad == 0, s"bits=$bits diverged on $lists")
      }
    }
  }

  test("property: normalize_text is idempotent and encoding-invariant") {
    import graft.plans.NormalizeTextExpr
    // random mixtures of case, accents (composed AND decomposed),
    // punctuation runs, and whitespace runs
    val piece = Gen.oneOf("Café", "Café", "HELLO", "world", "  ",
      "\t", "a-b", "!!", "x.y,z", "À", "À", "42")
    val textGen = Gen.listOfN(8, piece).map(_.mkString(""))
    forSamples(Gen.listOfN(20, textGen)) { texts =>
      texts.foreach { t =>
        def n(s: String, strip: Boolean = true): String =
          NormalizeTextExpr.compute(
            org.apache.spark.unsafe.types.UTF8String.fromString(s), strip).toString
        // idempotent: a canonical key re-canonicalizes to itself
        assert(n(n(t)) == n(t), s"not idempotent on ${t.map(_.toInt)}")
        assert(n(n(t, strip = false), strip = false) == n(t, strip = false))
        // NFC/NFD encodings of the same glyphs canonicalize identically
        val nfd = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFD)
        assert(n(nfd) == n(t), s"NFD diverged on ${t.map(_.toInt)}")
        // output never holds a whitespace run, leading/trailing space,
        // or (strip mode) any ASCII punctuation
        assert(!n(t).matches(".*\\s\\s.*") && n(t) == n(t).trim)
        assert(!n(t).exists(c => c < 128 && !c.isLetterOrDigit && c != ' '))
      }
    }
  }

  test("property: Int8CodesExpr matches the HOF normalize+quantize bit-for-bit") {
    import graft.functions.VectorFunctions
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-5.0f, 5.0f))
    forSamples(Gen.listOfN(12, vecGen)) { vecs =>
      val df = (vecs :+ List.fill(16)(0.0f)).zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }.toDF("id", "v")
      val bad = df.select(
          graft.plans.Int8CodesExpr.int8Codes(col("v")).as("native"),
          VectorFunctions.quantizeInt8(VectorFunctions.l2normalize(col("v")))
            .getField("q").cast("array<double>").as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(bad == 0)
    }
  }

  test("property: CorpusSnapshot manifest round-trips labels/paths with hostile characters") {
    // the manifest writer/parser are hand-rolled (no JSON lib in the
    // engine); quotes, backslashes, control chars, and unicode in
    // labels must survive a write -> read round trip byte for byte
    val hostile = Gen.listOfN(8, Gen.frequency(
      6 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('"', '\\', '\t', '\n'),
      1 -> Gen.oneOf('\u00e9', '\u4e2d', ' ', ':')
    )).map(_.mkString)
    forSamples(Gen.listOfN(3, hostile), n = 12) { labels0 =>
      val labels = labels0.distinct.filter(_.nonEmpty)
      if (labels.nonEmpty) {
        val root = tmpDir("snapprop")
        // one real index reused under every label (identity comes from
        // the manifest entries, not the tree)
        graft.functions.DedupFunctions.saveDigestIndex(
          Seq((1L, "a"), (2L, "b")).toDF("id", "t"), "id", "t", s"$root/idx")
        val pins = labels.map(_ -> s"$root/idx").toMap
        graft.functions.CorpusSnapshot.write(spark, s"$root/m.json", pins)
        val back = graft.functions.CorpusSnapshot.read(spark, s"$root/m.json")
        assert(back.keySet == pins.keySet,
          s"labels mangled: wrote ${pins.keySet}, read ${back.keySet}")
        assert(back.values.forall { case (p, seg, _) =>
          p == s"$root/idx" && seg == 0 })
        // verify() accepts the fresh pins and rejects them after rebuild
        assert(graft.functions.CorpusSnapshot
          .verify(spark, s"$root/m.json").keySet == pins.keySet)
      }
    }
  }

  test("property: perceptual hashes are re-encode invariant") {
    import graft.multimodal.{AudioFixture, ImageFixture, Multimodal}
    (0L until 12L).foreach { id =>
      // PNG bytes re-encoded through a decode→encode round trip hash
      // identically (lossless pixels → identical aHash)
      val png = ImageFixture.build(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      assert(Multimodal.ImageCodec.perceptualHash(bos.toByteArray) ==
        Multimodal.ImageCodec.perceptualHash(png), s"img id=$id")
      // WAV re-written through the sound API fingerprints identically
      val wav = AudioFixture.build(id)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val bos2 = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos2)
      assert(Multimodal.AudioCodec.fingerprint64(bos2.toByteArray) ==
        Multimodal.AudioCodec.fingerprint64(wav), s"wav id=$id")
    }
  }

  test("property: bigramLmScore equals a direct reference implementation") {
    // random corpora over a tiny word alphabet, including empty and
    // 1-token docs and a train/score split — the engine's literal-map
    // plumbing (vocab tie-breaks, fallback chain, fold order, 6-dp
    // rounding) must reproduce a straight Scala computation exactly
    val words = Vector("aa", "bb", "cc", "dd", "ee")
    val docGen = for {
      n  <- Gen.choose(0, 6)
      ws <- Gen.listOfN(n, Gen.oneOf(words))
    } yield ws.mkString(" ")
    val corpusGen = for {
      docs   <- Gen.listOfN(14, docGen)
      vocabK <- Gen.oneOf(2, 3, 8)
      split  <- Gen.choose(2, 13) // ids < split train; all score
    } yield (docs, vocabK, split)
    def lp6(num: Double, den: Double): Double =
      BigDecimal(math.log(num / den))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    forSamples(corpusGen) { case (docs, vocabK, split) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = TextFunctions.bigramLmScore(df, "doc_id", "text",
          vocabK = vocabK, alpha = 0.5,
          trainFilter = col("doc_id") < split)
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // ---- reference ----
      def toks(t: String) = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val trainToks = docs.zipWithIndex.filter(_._2 < split).map(d => toks(d._1))
      val uni = trainToks.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val vocab = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(vocabK)
        .map(_._1).toSet
      def mapped(ts: Seq[String]) = ts.map(w => if (vocab(w)) w else "<unk>")
      val trainPairs = trainToks.map(mapped).filter(_.size >= 2)
        .flatMap(m => m.zip(m.tail))
      val bg = trainPairs.groupBy(identity).view.mapValues(_.size).toMap
      val ctx = trainPairs.groupBy(_._1).view.mapValues(_.size).toMap
      val denomK = 0.5 * (vocabK + 1)
      val expect = docs.zipWithIndex.flatMap { case (t, i) =>
        val m = mapped(toks(t))
        if (m.size < 2) None
        else {
          val lps = m.zip(m.tail).map { p =>
            bg.get(p).map(c => lp6(c + 0.5, ctx(p._1) + denomK))
              .orElse(ctx.get(p._1).map(cc => lp6(0.5, cc + denomK)))
              .getOrElse(lp6(0.5, denomK))
          }
          val sum = lps.foldLeft(0.0)(_ + _) // engine fold order
          Some(i.toLong -> ((lps.size.toLong,
            BigDecimal(sum / lps.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        }
      }.toMap
      assert(got == expect,
        s"vocabK=$vocabK split=$split\n got=$got\n exp=$expect")
    }
  }

  test("property: longFloorDiv/longDivHalfUp are exact integer division") {
    import graft.functions.Sampling
    // the integer-contract primitives (mixture rate_ppm, acceptance
    // thresholds) must equal BigInt arithmetic for every in-bound
    // input — including the knife-edge shapes: exact multiples,
    // one-off-from-multiple, den=1, and the want·2³² magnitude ceiling
    val pairGen = for {
      n0 <- Gen.oneOf(
        Gen.choose(0L, 1L << 51),
        Gen.choose(0L, 1000L),
        Gen.const(60000L * 4294967296L), // the export threshold ceiling
        // decimal internals: exact for ANY Long num, incl. past 2^53
        // (the old double-trick ceiling) and near Long.MaxValue where
        // the old 2n+d form wrapped silently
        // -1 headroom: the multiple+1 boundary mutation below must not
        // wrap past Long.MaxValue
        Gen.choose(1L << 53, Long.MaxValue - 1L),
        Gen.const(Long.MaxValue - 1L))
      d <- Gen.oneOf(Gen.choose(1L, 1L << 30), Gen.const(1L),
        Gen.choose(1L, 7L), Gen.choose(1L, Long.MaxValue))
      // bias onto boundaries: exact multiple and multiple±1
      n <- Gen.oneOf(n0, (n0 / d) * d,
        math.max(0L, (n0 / d) * d - 1L), (n0 / d) * d + 1L)
    } yield (n, d)
    forSamples(Gen.listOfN(40, pairGen), n = 25) { pairs =>
      val df = pairs.toDF("n", "d")
        .select(col("n"), col("d"),
          Sampling.longFloorDiv(col("n"), col("d")).as("fd"),
          Sampling.longDivHalfUp(col("n"), col("d")).as("hu"))
      df.collect().foreach { r =>
        val (n, d) = (BigInt(r.getLong(0)), BigInt(r.getLong(1)))
        assert(BigInt(r.getLong(2)) == n / d, s"floorDiv($n, $d)")
        assert(BigInt(r.getLong(3)) == (n * 2 + d) / (d * 2),
          s"halfUpDiv($n, $d)")
      }
    }
    // ppmHalfUp keeps the ·10⁶ scaling out of Long: a 100 TB-scale char
    // sum (~10¹³) would wrap in `sum * 1000000L` but is exact here
    val big = Seq((20_000_000_000_000L, 7_000_000_000_000L),
      (Long.MaxValue / 2, Long.MaxValue / 3), (1L, 3L), (0L, 5L))
    val got = big.toDF("n", "d")
      .select(Sampling.ppmHalfUp(col("n"), col("d")).as("ppm"))
      .collect().map(_.getLong(0)).toSeq
    val exp = big.map { case (n, d) =>
      ((BigInt(n) * 1000000 * 2 + d) / (BigInt(d) * 2)).toLong }
    assert(got == exp, s"ppmHalfUp: got $got expected $exp")
    // and a ppm that does NOT fit in Long fails LOUDLY (ANSI decimal→
    // long cast overflow), never wraps silently — the overflow contract
    val loud = intercept[Exception] {
      Seq((Long.MaxValue / 2, 3L)).toDF("n", "d")
        .select(Sampling.ppmHalfUp(col("n"), col("d")).as("ppm")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(loud).exists(_.contains("CAST_OVERFLOW")), loud.getMessage)
  }

  test("property: repeatedSpans invariants on random small-vocab corpora") {
    // random 1-4 letter words over a 6-word vocab: repeats are dense and
    // adversarial for the island fold
    val docGen = Gen.listOfN(12,
      Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")).map(_.mkString(" "))
    forSamples(Gen.listOfN(6, docGen), n = 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val stats = DedupFunctions.repeatedSpanStats(docs, "doc_id", "text",
          n = 3, minCount = 2L)
        .as[(Long, Long, Long, Long, Long)].collect()
      stats.foreach { case (id, nSpans, covered, maxSpan, nTok) =>
        assert(nSpans >= 1 && maxSpan >= 3 && maxSpan <= covered,
          s"doc $id: spans=$nSpans max=$maxSpan covered=$covered")
        assert(covered <= nTok, s"doc $id covers $covered of $nTok tokens")
      }
      // removal is consistent with the audit: tokens kept + covered = total
      val kept = DedupFunctions.removeRepeatedSpans(docs, "doc_id", "text",
          n = 3, minCount = 2L)
        .select(col("doc_id"),
          when(col("clean_text") === "", lit(0))
            .otherwise(size(split(col("clean_text"), " "))).as("k"))
        .as[(Long, Long)].collect().toMap
      val coveredBy = stats.map(s => s._1 -> s._3).toMap
      docs.select("doc_id").as[Long].collect().foreach { id =>
        assert(kept(id) + coveredBy.getOrElse(id, 0L) == 12L,
          s"doc $id: kept ${kept(id)} + covered ${coveredBy.getOrElse(id, 0L)} != 12")
      }
    }
  }

  test("property: knnGraph edges are k-bounded, self-free, rank-consistent") {
    import graft.functions.VectorFunctions
    val vecGen = Gen.listOfN(6, Gen.choose(-5, 5).map(_.toFloat))
    forSamples(Gen.listOfN(12, vecGen), n = 6) { vs =>
      val df = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, (v :+ 1.0f).toArray) } // +1 dim kills zero vectors
        .toDF("id", "vec")
      val g = VectorFunctions.knnGraph(df, "id", "vec", k = 3)
        .select("q_id", "c_id", "rank").as[(Long, Long, Long)].collect()
      val byQ = g.groupBy(_._1)
      assert(byQ.size == 12)
      byQ.foreach { case (q, rows) =>
        assert(rows.length == 3 && rows.map(_._3).sorted.sameElements(Seq(1L, 2L, 3L)))
        assert(!rows.exists(_._2 == q), s"self edge at $q")
        assert(rows.map(_._2).distinct.length == 3, s"dup neighbor at $q")
      }
    }
  }
}
