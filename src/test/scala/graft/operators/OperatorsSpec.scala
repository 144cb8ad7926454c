package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("S12: upsert diff classifies append/update/delete") {
    val existing = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val incoming = Seq((2, "b"), (3, "C"), (4, "d")).toDF("id", "v")
    val d = Upsert.diff(incoming, existing, Seq("id"))
    assert(d.appends.select("id").as[Int].collect().toSeq == Seq(4))
    assert(d.updates.select("id").as[Int].collect().toSeq == Seq(3))
    assert(d.deletes.select("id").as[Int].collect().toSeq == Seq(1))

    val merged = Upsert.merge(incoming, existing, Seq("id"), allowDelete = false)
    assert(merged.orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "C"), (4, "d")))
  }

  test("S12: kindCounts matches diff in one pass and keeps zero kinds") {
    val existing = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val incoming = Seq((2, "b"), (3, "C"), (4, "d")).toDF("id", "v")
    val counts = Upsert.kindCounts(incoming, existing, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(counts == Map("append" -> 1L, "update" -> 1L, "delete" -> 1L))
    // zero kinds stay present (a groupBy would drop them)
    val same = Upsert.kindCounts(existing, existing, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(same == Map("append" -> 0L, "update" -> 0L, "delete" -> 0L))
  }

  test("S12: null-safe compare treats null==null as unchanged") {
    val existing = Seq((1, Option.empty[String])).toDF("id", "v")
    val incoming = Seq((1, Option.empty[String])).toDF("id", "v")
    assert(Upsert.diff(incoming, existing, Seq("id")).updates.count() == 0)
  }

  test("J6: binned overlap equals broadcast overlap") {
    val intervals = Seq(("1", 0L, 150L, "p1"), ("1", 140L, 260L, "p2"), ("2", 0L, 99L, "p3"))
      .toDF("chrom", "r_start", "r_end", "panel")
    val points = Seq(("1", 100L, 100L, "v1"), ("1", 145L, 150L, "v2"),
      ("2", 100L, 100L, "v3"), ("1", 500L, 501L, "v4"))
      .toDF("chrom", "v_start", "v_end", "variant")

    val binned = RangeJoin.binnedOverlap(points, intervals, "chrom",
      "v_start", "v_end", "r_start", "r_end", binSize = 64L)
      .select("variant", "panel").as[(String, String)].collect().toSet
    val bcast = RangeJoin.broadcastOverlap(points, intervals, "chrom",
      "v_start", "v_end", "r_start", "r_end")
      .select("variant", "panel").as[(String, String)].collect().toSet

    assert(binned == bcast)
    assert(binned == Set(("v1", "p1"), ("v2", "p1"), ("v2", "p2")))
  }

  test("W1: adjacent deltas + cis flag reproduce merge-check criteria") {
    // sample with two variants 3bp apart, VAF delta 0.01 → flagged;
    // third variant 100bp away → not flagged
    val mafLike = Seq(
      ("S1", "1", 100L, 0.30), ("S1", "1", 103L, 0.31), ("S1", "1", 203L, 0.30),
      ("S2", "1", 100L, 0.30), ("S2", "1", 104L, 0.45) // VAF delta too large
    ).toDF("sample", "chrom", "pos", "vaf")
    val d = WindowOps.adjacentDeltas(mafLike, Seq("sample", "chrom"), Seq("pos"), Seq("pos", "vaf"))
    val flagged = d.filter(WindowOps.cisFlag(col("pos_delta"), col("vaf_delta"), lit(null)))
      .select("sample", "pos").as[(String, Long)].collect().toSet
    assert(flagged == Set(("S1", 103L)))
  }

  test("W2: latestPerGroup is deterministic under ties") {
    val df = Seq((1, 10L, "a"), (1, 10L, "b"), (2, 5L, "c"))
      .toDF("k", "ts", "tag")
    val latest = WindowOps.latestPerGroup(df, Seq("k"), Seq("ts", "tag"))
      .select("k", "tag").as[(Int, String)].collect().toSet
    assert(latest == Set((1, "b"), (2, "c")))
  }

  test("sessionize: gap break, 1-based per-key index, exact-gap stays") {
    val df = Seq(
      ("u1", 1L, 0L), ("u1", 2L, 100L),   // session 1
      ("u1", 3L, 400L),                    // gap 300 > 200 → session 2
      ("u1", 4L, 600L),                    // gap 200 == gap → stays in 2
      ("u2", 5L, 50L)                      // separate key restarts at 1
    ).toDF("user", "id", "ts")
    val got = WindowOps.sessionize(df, Seq("user"), "ts", Seq("ts", "id"), gap = 200L)
      .select("id", "session_idx").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("scd2: unchanged passes, changed closes+reopens, retired closes, new opens") {
    val nullTo: Option[Long] = None
    val existing = Seq(
      // closed history row must pass through untouched
      (1L, "old-a", -5L, Some(0L)),
      (1L, "a", 0L, nullTo),  // unchanged in snapshot
      (2L, "b", 0L, nullTo),  // changed to b2
      (3L, "c", 0L, nullTo)   // retired (absent from snapshot)
    ).toDF("pk", "attr", "valid_from", "valid_to")
    val incoming = Seq((1L, "a"), (2L, "b2"), (4L, "d"))
      .toDF("pk", "attr")
    val got = Scd2.merge(existing, incoming, Seq("pk"), Seq("attr"), ts = 7L)
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(got == Set(
      (1L, "old-a", -5L, Some(0L)),
      (1L, "a", 0L, nullTo),
      (2L, "b", 0L, Some(7L)), (2L, "b2", 7L, nullTo),
      (3L, "c", 0L, Some(7L)),
      (4L, "d", 7L, nullTo)))
  }

  test("scd2: plan joins only the current slice — one join, closed history union-only") {
    val nullTo: Option[Long] = None
    val existing = (1L to 100L).flatMap(i => Seq(
      (i, s"v$i", -5L, Some(0L)),      // closed history
      (i, s"w$i", 0L, nullTo)))        // current
      .toDF("pk", "attr", "valid_from", "valid_to")
    val incoming = (1L to 120L).map(i => (i, s"x$i")).toDF("pk", "attr")
    val merged = Scd2.merge(existing, incoming, Seq("pk"), Seq("attr"), ts = 9L)
    val plan = merged.queryExecution.optimizedPlan.toString
    val joins = "(?i)join".r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly one join (current vs snapshot):\n$plan")
    assert(plan.contains("Union"), "closed history must union through, not join")
  }

  test("scd2ApplyBatch: dimension history accumulates across snapshots") {
    // snapshot at ts 10 initializes; at ts 11 pk 2 changes, pk 3
    // retires, pk 4 is new
    val t0 = Scd2.scd2ApplyBatch(None, Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("pk", "attr"), Seq("pk"), Seq("attr"), ts = 10L)
    val hist = Scd2.scd2ApplyBatch(Some(t0), Seq((1L, "a"), (2L, "b2"), (4L, "d"))
      .toDF("pk", "attr"), Seq("pk"), Seq("attr"), ts = 11L)
      .select("pk", "attr", "valid_from", "valid_to")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(hist == Set(
      (1L, "a", 10L, None),                    // unchanged, still open
      (2L, "b", 10L, Some(11L)),               // closed at the second ts
      (2L, "b2", 11L, None),                   // reopened with new attr
      (3L, "c", 10L, Some(11L)),               // retired
      (4L, "d", 11L, None)))                   // new key
  }

  test("aggmaintain: merged partials equal from-scratch aggregate; negative delta retracts") {
    val base  = Seq(("x", 1.0), ("x", 2.0), ("y", 5.0)).toDF("k", "v")
    val delta = Seq(("x", 3.0), ("z", 1.5)).toDF("k", "v")
    val sums = Map("v" -> "sum_v")
    val merged = AggMaintain.merge(
        Seq(AggMaintain.partial(base, Seq("k"), sums, "cnt"),
          AggMaintain.partial(delta, Seq("k"), sums, "cnt")),
        Seq("k"), Seq("cnt", "sum_v"))
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(merged == Set(("x", 3L, 6.0), ("y", 1L, 5.0), ("z", 1L, 1.5)))
    // retraction: re-feed a delta row with negated measures and count
    val retract = AggMaintain.partial(delta, Seq("k"), sums, "cnt")
      .select(col("k"), (-col("cnt")).as("cnt"), (-col("sum_v")).as("sum_v"))
    val back = AggMaintain.merge(
        Seq(AggMaintain.partial(base, Seq("k"), sums, "cnt"),
          AggMaintain.partial(delta, Seq("k"), sums, "cnt"), retract),
        Seq("k"), Seq("cnt", "sum_v"))
      .filter(col("cnt") =!= 0)
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(back == Set(("x", 2L, 3.0), ("y", 1L, 5.0)))
  }

  test("aggmaintain distinct: delta-merged HLL sketch equals from-scratch sketch") {
    // overlapping values across base/delta — a scalar count would
    // double-count; the register-max merge must not
    val base  = (1 to 3000).map(i => ("a", i % 700)) ++ (1 to 500).map(i => ("b", i))
    val delta = (1 to 2000).map(i => ("a", i % 900)) ++ (1 to 50).map(i => ("c", i))
    val (bdf, ddf) = (base.toDF("k", "v"), delta.toDF("k", "v"))
    val merged = AggMaintain.estimateDistinct(
      AggMaintain.mergeDistinct(
        Seq(AggMaintain.partialDistinct(bdf, Seq("k"), "v", "sk"),
          AggMaintain.partialDistinct(ddf, Seq("k"), "v", "sk")),
        Seq("k"), "sk"),
      "sk", "est")
    val scratch = AggMaintain.estimateDistinct(
      AggMaintain.mergeDistinct(
        Seq(AggMaintain.partialDistinct(bdf.unionByName(ddf), Seq("k"), "v", "sk")),
        Seq("k"), "sk"),
      "sk", "est")
    val m = merged.select("k", "est").as[(String, Long)].collect().toMap
    val s = scratch.select("k", "est").as[(String, Long)].collect().toMap
    assert(m == s, "incremental merge must be estimate-identical to a rebuild")
    // estimates are close to truth at lgK=12 (exact regime ≤ a few k)
    val exact = Map("a" -> 900L, "b" -> 500L, "c" -> 50L)
    exact.foreach { case (k, n) =>
      assert(math.abs(m(k) - n) <= math.max(2L, n / 50), s"$k: ${m(k)} vs $n")
    }
    // keys absent from the delta pass through unchanged
    assert(m.keySet == Set("a", "b", "c"))
  }

  test("aggmaintain sample: bottom-k reservoir merges exactly with set semantics") {
    val base = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 9L)).toDF("k", "v")
    val delta = Seq(("a", 3L), ("a", 4L), ("b", 9L)).toDF("k", "v") // re-ingests
    def sample(dfs: Seq[org.apache.spark.sql.DataFrame]): Seq[(String, Long)] =
      AggMaintain.mergeSamples(
          dfs.map(d => AggMaintain.partialSample(d, Seq("k"), "v", 2)),
          Seq("k"), "v", 2)
        .select("k", "v").as[(String, Long)].collect().toSeq.sorted
    val incr = sample(Seq(base, delta))
    val scratch = sample(Seq(base.unionByName(delta)))
    assert(incr == scratch, "delta merge must equal the from-scratch sample")
    // set semantics: values 3 and 9 arrived twice, sample holds each once
    assert(incr.distinct == incr)
    assert(incr.count(_._1 == "a") == 2 && incr.count(_._1 == "b") == 1)
    // the sample is the hash-bottom-2 of the DISTINCT values per key
    def h(v: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"sample:$v".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    val expectA = Seq(1L, 2L, 3L, 4L).sortBy(v => (h(v), v)).take(2).sorted
    assert(incr.filter(_._1 == "a").map(_._2).sorted == expectA)
  }

  test("aggmaintain distinct: dense-mode merges are partition-invariant") {
    // 30k distinct values — well past the lgK=12 sparse→dense promotion
    // where the order-dependent HIP estimator would diverge; any split
    // of the facts must merge to the same composite estimate
    val vals = (1 to 30000).map(i => ("k", i))
    val byRange = Seq(vals.filter(_._2 <= 11111), vals.filter(_._2 > 11111))
    val byMod = Seq(vals.filter(_._2 % 3 == 0), vals.filter(_._2 % 3 != 0))
    def est(split: Seq[Seq[(String, Int)]]): Long =
      AggMaintain.estimateDistinct(
        AggMaintain.mergeDistinct(
          split.map(part =>
            AggMaintain.partialDistinct(part.toDF("k", "v"), Seq("k"), "v", "sk")),
          Seq("k"), "sk"),
        "sk", "est").select("est").as[Long].head()
    val (a, b) = (est(byRange), est(byMod))
    assert(a == b, s"partition-variant estimates: $a vs $b")
    assert(math.abs(a - 30000L) <= 30000L / 20)
  }
}
