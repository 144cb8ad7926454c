package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bloom-filter decontamination: one-sided error (no false negatives
  * vs the exact shingle intersection), deterministic false positives,
  * and a scoring plan with zero joins/exchanges on the corpus side.
  */
class BloomDecontamSpec extends SparkSpec {
  import spark.implicits._

  // 60 train docs; docs 1-10 each share their full 5-gram tail with an
  // eval doc (true contamination), the rest are clean junk
  private def corpus = {
    val contaminated = (1L to 10L).map(i =>
      (i, s"alpha bravo charlie delta echo shared$i tail$i"))
    val clean = (11L to 60L).map(i =>
      (i, s"unique$i token$i stream$i words$i here$i end$i"))
    (contaminated ++ clean).toDF("doc_id", "text")
  }
  private def eval = (1L to 10L).map(i =>
    (1000L + i, s"charlie delta echo shared$i tail$i padding"))
    .toDF("doc_id", "text")

  test("bloomDecontaminate: zero false negatives vs exact intersection") {
    val res = DedupFunctions.bloomDecontaminate(
      corpus, eval, "doc_id", "text", n = 5, seeds = 3, mBits = 1 << 14)
    // exact ground truth: docs sharing any distinct 5-gram string
    val sh = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("doc_id"), explode(
        DedupFunctions.textShingles(col("text"), 5)).as("sh"))
    val truth = sh(corpus).join(sh(eval).select("sh").distinct(), Seq("sh"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(truth == (1L to 10L).toSet, s"ground truth wrong: $truth")
    val flagged = res.filter(col("flagged")).select("doc_id")
      .as[Long].collect().toSet
    // every truly contaminated doc is flagged — the Bloom guarantee
    assert(truth.subsetOf(flagged), s"false negatives: ${truth.diff(flagged)}")
    // at this fill rate (≤ 90 eval positions in 2^14 bits) false
    // positives should be rare: nothing beyond the true set here
    assert(flagged == truth, s"unexpected FPs: ${flagged.diff(truth)}")
  }

  test("bloomDecontaminate: false positives are deterministic and replayable") {
    // tiny filter (2^6 bits) forced into heavy collision: FPs abound,
    // but re-running yields the IDENTICAL flag set (salted-md5 bits)
    val r1 = DedupFunctions.bloomDecontaminate(
      corpus, eval, "doc_id", "text", n = 5, seeds = 2, mBits = 64)
    val r2 = DedupFunctions.bloomDecontaminate(
      corpus, eval, "doc_id", "text", n = 5, seeds = 2, mBits = 64)
    assert(r1.collect().toSet == r2.collect().toSet)
    val flagged = r1.filter(col("flagged")).count()
    assert(flagged > 10, s"expected collision FPs at 64 bits, got $flagged")
  }

  test("bloomContains agrees with the position-set definition") {
    val seeds = 3; val m = 1 << 10
    val keys = (1 to 200).map(i => s"gram$i").toDF("k")
    val evalKeys = (1 to 50).map(i => s"gram$i").toDF("k")
    val words = DedupFunctions.bloomBitsetFromEval(
      evalKeys.withColumnRenamed("k", "text"), "text", 1, seeds, m)
    val bits = typedLit(words.toIndexedSeq)
    // independent JVM-side reimplementation of the position hash:
    // double hashing over one md5 — (h1 + s·h2) mod m with h1/h2 the
    // first/second 8 hex chars of md5(key)
    def jvmPos(key: String, seed: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      def hex8(off: Int) = java.lang.Long.parseLong(
        d.slice(off, off + 4).map("%02x".format(_)).mkString, 16)
      (hex8(0) + seed * hex8(4)) % m
    }
    val posSet = (1 to 50).flatMap(i =>
      (0 until seeds).map(s => jvmPos(s"gram$i", s))).toSet
    val got = keys.select(col("k"),
        DedupFunctions.bloomContains(bits, col("k"), seeds, m).as("hit"))
      .as[(String, Boolean)].collect()
    got.foreach { case (k, hit) =>
      val expect = (0 until seeds).forall(s => posSet.contains(jvmPos(k, s)))
      assert(hit == expect, s"key $k: got $hit expected $expect")
    }
    // word packing sanity: set-bit count == |position set|
    assert(words.map(java.lang.Long.bitCount).sum == posSet.size)
  }

  test("native fused expression ≡ composed HOF form, unicode and edges included") {
    val tricky = Seq(
      (200L, "  leading and trailing  "), (201L, ""), (202L, "one"),
      (203L, "tab\tand\nnewline separated tokens here now"),
      (204L, "ΑΣ ΒΗΤΑ Γάμμα δέλτα ΕΨΙΛΟΝ ζήτα"),   // greek incl. final sigma
      (205L, "MiXeD CaSe Repeat repeat REPEAT repeat mixed case"),
      (206L, "exact dup gram exact dup gram exact dup gram pad")
    ).toDF("doc_id", "text")
    val docs = corpus.union(tricky)
    for (mBits <- Seq(64, 1 << 14); seeds <- Seq(1, 3)) {
      val native = DedupFunctions.bloomDecontaminate(
        docs, eval, "doc_id", "text", n = 5, seeds = seeds, mBits = mBits)
      val composed = BloomDecontamSpec.bloomDecontaminateComposed(
        docs, eval, "doc_id", "text", n = 5, seeds = seeds, mBits = mBits)
      assert(native.collect().toSet == composed.collect().toSet,
        s"native != composed at mBits=$mBits seeds=$seeds")
    }
  }

  test("scoring plan is scan-only: no join, no exchange on the corpus side") {
    val res = DedupFunctions.bloomDecontaminate(
      corpus, eval, "doc_id", "text", n = 5, seeds = 3, mBits = 1 << 14)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("join"), s"unexpected join:\n$plan")
  }

  test("guards: mBits must be a 64-multiple power of two dividing 2^32") {
    intercept[IllegalArgumentException] {
      DedupFunctions.bloomBitsetFromEval(eval, "text", 5, 3, 100)
    }
    intercept[IllegalArgumentException] {
      DedupFunctions.bloomBitsetFromEval(eval, "text", 5, 3, 3 * 64)
    }
    intercept[IllegalArgumentException] {
      DedupFunctions.bloomBitsetFromEval(eval, "text", 5, 0, 64)
    }
  }
}

object BloomDecontamSpec {

  /** The composed-HOF reference form of
    * [[DedupFunctions.bloomDecontaminate]] (shingle array → digest array
    * → literal-bitset membership filter): the spec's equivalence anchor
    * for the native expression, and the shape to read for the
    * semantics. Same output, interpreted lambdas.
    */
  def bloomDecontaminateComposed(train: org.apache.spark.sql.DataFrame,
                                 eval: org.apache.spark.sql.DataFrame,
                                 idCol: String, textCol: String, n: Int,
                                 seeds: Int, mBits: Int): org.apache.spark.sql.DataFrame = {
    import DedupFunctions.{bloomBitsetFromEval, bloomContainsDigest, textShingles}
    val words = bloomBitsetFromEval(eval, textCol, n, seeds, mBits)
    val bits = typedLit(words.toIndexedSeq)
    val shs = textShingles(col(textCol), n)
    train
      .select(col(idCol), shs.as("__shs"))
      .select(col(idCol),
        size(col("__shs")).cast("long").as("n_shingles"),
        size(filter(transform(col("__shs"), sh => md5(sh)),
          d => bloomContainsDigest(bits, d, seeds, mBits))).cast("long")
          .as("n_hit"))
      .withColumn("flagged", col("n_hit") > 0L)
  }
}
